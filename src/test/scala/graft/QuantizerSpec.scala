package graft

import graft.operators.Quantizer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `operators/Quantizer`'s determinism contract under repartitioning and
  * row order — the oracles check one partitioning only.
  */
class QuantizerSpec extends SparkSpec {
  import spark.implicits._

  /** `df` as one partition and as eight partitions of its reversed rows. */
  private def shuffled(df: DataFrame): (DataFrame, DataFrame) = {
    val rows = df.collect().toSeq
    val schema = df.schema
    (spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema),
      spark.createDataFrame(spark.sparkContext.parallelize(rows.reverse, 8), schema))
  }

  private def bits(cv: Seq[Double]) = cv.map(java.lang.Double.doubleToRawLongBits)

  test("the Lloyd centroids are bit-identical across 1 vs 8 partitions and " +
    "reversed rows") {
    val rnd = new scala.util.Random(11)
    // Mixed magnitudes: a plain double sum of these depends on its order.
    val assigned = (0 until 600).map { r =>
      (r % 3, r % 7, Seq.fill(12)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3)))
    }.toDF("m", "cid", "sv")
    val (one, eight) = shuffled(assigned)
    def centroids(df: DataFrame) = Quantizer.lloyd(df, "sv", Seq("m"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), bits(r.getSeq[Double](2)))).toMap
    val a = centroids(one)
    val b = centroids(eight)
    assert(a.size == 21 && a.values.forall(_.size == 12))
    assert(a == b, "a Lloyd mean depends on partitioning or row order")
    // components stay in subspace order: the mean of one group is exact
    val g = assigned.collect().filter(r => r.getInt(0) == 0 && r.getInt(1) == 0)
      .map(_.getSeq[Double](2))
    val want = (0 until 12).map { i =>
      g.map(v => math.round(v(i) * Quantizer.Q20)).sum.toDouble / (Quantizer.Q20 * g.length)
    }
    assert(a((0, 0)) == bits(want))
  }

  test("the md5 draw returns the same ids in the same order under any " +
    "partitioning, and is not the first ids") {
    val corpus = spark.range(2000).select(col("id").as("vec_id"), (col("id") * 3).as("v"))
    val (one, eight) = shuffled(corpus)
    def drawn(df: DataFrame) = Quantizer.draw(df, 16)
      .select(Quantizer.drawIndex.as("j"), col("vec_id"))
      .as[(Int, Long)].collect().toSeq.sorted
    val a = drawn(one)
    assert(a == drawn(eight) && a == drawn(corpus.repartition(5)))
    assert(a.map(_._1) == (0 until 16))
    assert(a.map(_._2).toSet != (0L until 16L).toSet, "the draw degenerated to orderBy(vec_id)")
    // per-group draws agree with the global draw restricted to the group
    def perGroup(df: DataFrame) = Quantizer.drawPer(df.withColumn("g", col("vec_id") % 4),
      "g", 4, "srn").select("g", "srn", "vec_id").as[(Long, Int, Long)].collect().toSet
    val groups = perGroup(one)
    assert(groups == perGroup(eight) && groups.size == 16)
    (0L until 4L).foreach { g =>
      val want = Quantizer.draw(corpus.filter(col("vec_id") % 4 === g), 4)
        .select("vec_id").as[Long].collect().toSeq
      assert(groups.filter(_._1 == g).toSeq.sortBy(_._2).map(_._3) == want)
    }
  }

  test("an argmin tie resolves to the smaller centroid id, per vector and " +
    "per (vector, subspace)") {
    val dists = Seq(
      (1L, 0, 7L, 1.0), (1L, 0, 3L, 1.0), (1L, 0, 5L, 2.0),
      (1L, 1, 9L, 0.5), (1L, 1, 2L, 0.5), (1L, 1, 4L, 0.5),
      (2L, 0, 6L, 0.25), (2L, 0, 1L, 0.75)).toDF("vec_id", "m", "cid", "d2")
    val (one, eight) = shuffled(dists)
    Seq(dists, one, eight).foreach { df =>
      val perVec = Quantizer.argmin(df).select("vec_id", "cid", "rn")
        .as[(Long, Long, Int)].collect().toSet
      assert(perVec == Set((1L, 2L, 1), (2L, 6L, 1)))
      val perSub = Quantizer.argmin(df, by = Seq("vec_id", "m")).select("vec_id", "m", "cid")
        .as[(Long, Int, Long)].collect().toSet
      assert(perSub == Set((1L, 0, 3L), (1L, 1, 2L), (2L, 0, 6L)))
    }
    val ranks = Quantizer.ranked(dists.withColumnRenamed("cid", "ccid"), "ccid",
      Seq("vec_id", "m")).filter(col("vec_id") === 1 && col("m") === 1)
      .select("ccid", "rn").as[(Long, Int)].collect().toSet
    assert(ranks == Set((2L, 1), (4L, 2), (9L, 3)))
  }

  test("pq encodes every (vector, subspace) once against a K-center " +
    "codebook and carries the extra columns") {
    graft.functions.FastVec.register(spark)
    val rnd = new scala.util.Random(5)
    val emb = (0L until 60L).map(i => (i, i % 3, Seq.fill(8)(rnd.nextDouble())))
      .toDF("vec_id", "cell", "v")
    val subv = emb.select(col("vec_id"), col("cell"),
        explode(sequence(lit(0), lit(1))).as("m"), col("v"))
      .select(col("vec_id"), col("cell"), col("m"), expr("slice(v, m * 4 + 1, 4)").as("sv"))
    val (cent, enc) = Quantizer.pq(subv, emb, 4, carry = Seq("cell"))
    assert(cent.columns.toSeq == Seq("m", "cid", "cv"))
    assert(enc.columns.toSeq == Seq("vec_id", "cell", "m", "cid"))
    assert(cent.count() <= 8 && cent.select("cid").distinct().count() <= 4)
    val codes = enc.collect()
    assert(codes.length == 120)
    assert(codes.map(r => (r.getLong(0), r.getInt(2))).distinct.length == 120)
    assert(codes.forall(r => r.getLong(1) == r.getLong(0) % 3))
    val seeds = Quantizer.draw(emb, 4).select("vec_id").as[Long].collect().toSet
    assert(codes.map(_.getLong(3)).toSet.subsetOf(seeds))
  }
}
