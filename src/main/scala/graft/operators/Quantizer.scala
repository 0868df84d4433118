package graft.operators

import graft.functions.FastVec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The similarity family's seeded vector quantizer: one determinism
  * contract that every IVF codebook, PQ codebook, hyperplane draw and
  * ScaleProbe ANN leg calls, so a query and its probe cannot drift apart.
  *
  *  - The DRAW: seeds, hyperplanes and sub-centroids are the rows with
  *    the smallest `md5(vec_id)`, `vec_id` breaking ties — a fixed
  *    pseudo-random sample that both engines reproduce and that no
  *    partitioning can perturb (an `orderBy(vec_id)` draw is degenerate
  *    under inflation: the first ids are copies of one vector).
  *  - The ARGMIN: a vector's cell is the centroid with the smallest
  *    `(d2, centroid id)`, one `row_number` window per vector (or per
  *    (vector, subspace)), keeping rank 1 in `rn`.
  *  - The LLOYD STEP: the mean is computed over INTEGER-QUANTIZED
  *    components (`round(x · 2^20)` summed as longs): long sums are exact
  *    and order-independent, so Spark's parallel partial aggregation and
  *    DuckDB's sequential scan produce bit-identical centroids — the
  *    float-sum nondeterminism trap (SURVEY §7.3.1) applied to k-means.
  *    2^20 quantization on unit-scale embeddings keeps ~6 significant
  *    digits, far inside what centroid assignment can distinguish.
  *
  * At 100 TB this is the real recipe: sample seeds, one or two Lloyd
  * sweeps (each = broadcast centroids + one argmin window + one
  * map-side-combinable sum), freeze the codebook, bucket-prune queries.
  * Hyperplane LSH draws its planes the same way ([[signSketch]]).
  * The SQL oracles spell the same contract independently; they are the
  * reference this object is checked against.
  */
object Quantizer {

  /** The Lloyd step's quantization scale, 2^20. */
  val Q20: Double = (1L << 20).toDouble

  private def drawOrder: Seq[Column] =
    Seq(md5(col("vec_id").cast("string")), col("vec_id"))

  /** The first `k` rows of `df` in draw order — a distributed
    * TakeOrderedAndProject, nothing single-partition.
    */
  def draw(df: DataFrame, k: Int): DataFrame = df.orderBy(drawOrder: _*).limit(k)

  /** 0-based position of a row in draw order. The window is unpartitioned
    * BY DESIGN: select it only over a [[draw]] result, so it ranks the `k`
    * drawn rows, never the corpus.
    */
  def drawIndex: Column = row_number().over(Window.orderBy(drawOrder: _*)) - 1

  /** Random-hyperplane sign quantization: each row's `nPlanes`-bit
    * sketch (vec_id, sketch), bit j set when `v` has a non-negative dot
    * with the j-th drawn vector. One broadcast of the planes into one
    * map-side-combinable sum; the dot is a sequential fold, so the sign
    * bits are exact on both engines.
    */
  def signSketch(emb: DataFrame, nPlanes: Int): DataFrame = {
    val planes = draw(emb, nPlanes).select(drawIndex.as("j"), col("v").as("h"))
    emb.crossJoin(broadcast(planes))
      .select(col("vec_id"),
        when(FastVec.dot(col("v"), col("h")) >= 0,
          expr("shiftleft(CAST(1 AS BIGINT), j)")).otherwise(lit(0L)).as("bit"))
      .groupBy("vec_id")
      .agg(sum(col("bit")).as("sketch"))
  }

  /** The first `k` rows of every `by` group in draw order, ranked 1..k in
    * `rankCol`.
    */
  def drawPer(df: DataFrame, by: String, k: Int, rankCol: String): DataFrame =
    df.withColumn(rankCol, row_number().over(Window.partitionBy(by).orderBy(drawOrder: _*)))
      .filter(col(rankCol) <= k)

  /** Every row of the distance table `dists` ranked in `rn` by
    * `(d2, id)` within its `by` group — rank 1 is the argmin, ranks
    * 1..n the n nearest centroids.
    */
  def ranked(dists: DataFrame, id: String = "cid",
      by: Seq[String] = Seq("vec_id")): DataFrame =
    dists.withColumn("rn",
      row_number().over(Window.partitionBy(by.map(col): _*).orderBy(col("d2"), col(id))))

  /** The nearest-centroid row of every `by` group (`rn` = 1). */
  def argmin(dists: DataFrame, id: String = "cid",
      by: Seq[String] = Seq("vec_id")): DataFrame =
    ranked(dists, id, by).filter(col("rn") === 1)

  /** One Lloyd step: the quantized component mean of the `vec` arrays
    * assigned to each `(groups…, cid)`, as `(groups…, cid, cv)`.
    */
  def lloyd(assigned: DataFrame, vec: String, groups: Seq[String] = Nil): DataFrame = {
    val keys = (groups :+ "cid").map(col)
    assigned
      .select(keys :+ posexplode(col(vec)).as(Seq("i", "x")): _*)
      .groupBy(keys :+ col("i"): _*)
      .agg((sum(round(col("x") * Q20).cast("long")).cast("double") /
        (lit(Q20) * count(lit(1)))).as("cx"))
      .groupBy(keys: _*)
      .agg(transform(array_sort(collect_list(struct(col("i"), col("cx")))),
        e => e("cx")).as("cv"))
  }

  /** Product-quantizer train and encode over the per-subspace table
    * `subv` (vec_id, carry…, m, sv): K seed ids drawn from `seedFrom`,
    * seeded per-subspace argmin, one Lloyd step, then every subvector
    * encoded to its nearest learned center. Returns the codebook
    * (m, cid, cv) and the codes (vec_id, carry…, m, cid).
    */
  def pq(subv: DataFrame, seedFrom: DataFrame, K: Int,
      carry: Seq[String] = Nil): (DataFrame, DataFrame) = {
    val byVecM = Seq("vec_id", "m")
    val seedIds = draw(seedFrom, K).select(col("vec_id").as("cid"))
    val seeds = subv.join(broadcast(seedIds), col("vec_id") === col("cid"))
      .select(col("cid"), col("m"), col("sv").as("cv"))
    val a0 = argmin(subv.join(broadcast(seeds), Seq("m"))
        .select(col("vec_id"), col("m"), col("sv"), col("cid"),
          FastVec.l2sq(col("sv"), col("cv")).as("d2")), by = byVecM)
      .select("vec_id", "m", "sv", "cid")
    val cent = lloyd(a0, "sv", Seq("m"))
    val codeCols = (("vec_id" +: carry) ++ Seq("m", "cid")).map(col)
    val enc = argmin(subv.join(broadcast(cent), Seq("m"))
        .select(codeCols :+ FastVec.l2sq(col("sv"), col("cv")).as("d2"): _*), by = byVecM)
      .select(codeCols: _*)
    (cent, enc)
  }
}
