package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.queries.{Aggregates, Joins, Relational, TimeSeries, WindowQueries}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** `Tables.table`: each file version's schema is inferred once per session
  * (one Spark job), and every later load of it launches no job.
  */
class TablesSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** Writes `df` as the single parquet file `target`, replacing it. */
  private def writeFile(df: DataFrame, target: Path): Unit = {
    val stage = Files.createTempDirectory("tables-spec-stage")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(stage.resolve("out").toString)
      val part = Files.list(stage.resolve("out")).toArray.map(_.asInstanceOf[Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
    } finally FileUtils.deleteQuietly(stage.toFile)
  }

  private def withTempDir[T](body: Path => T): T = {
    val dir = Files.createTempDirectory("tables-spec")
    try body(dir) finally FileUtils.deleteQuietly(dir.toFile)
  }

  test("a second load of a table launches no Spark job; each session infers its own") {
    Memo.reset(spark)
    val (first, j1) = jobsLaunchedBy(Tables.table(spark, sf, "lineitem"))
    assert(j1 == 1, s"the first load infers the schema in one job, launched $j1")
    val (second, j2) = jobsLaunchedBy(Tables.table(spark, sf, "lineitem"))
    assert(j2 == 0, s"the second load must reuse the schema, launched $j2 jobs")
    assert(second.schema == first.schema)
    val other = spark.newSession()
    val (_, j3) = jobsLaunchedBy(Tables.table(other, sf, "lineitem"))
    assert(j3 == 1, s"a new session infers its own schema, launched $j3 jobs")
    Memo.reset(spark)
  }

  test("Memo.reset drops the schema: the next load infers it again") {
    Memo.reset(spark)
    jobsLaunchedBy(Tables.table(spark, sf, "orders"))
    Memo.reset(spark)
    val (_, n) = jobsLaunchedBy(Tables.table(spark, sf, "orders"))
    assert(n == 1, s"after a reset the load must infer again, launched $n jobs")
    Memo.reset(spark)
  }

  test("a rewritten file is a new version: its new schema is inferred") {
    withTempDir { dir =>
      val file = dir.resolve("lineitem.parquet")
      Files.copy(java.nio.file.Paths.get(s"$sf/lineitem.parquet"), file)
      val before = Tables.table(spark, dir.toString, "lineitem")
      val dropped = before.columns.last
      val rows = before.count()
      writeFile(before.drop(dropped), file)
      val (after, n) = jobsLaunchedBy(Tables.table(spark, dir.toString, "lineitem"))
      assert(n == 1, s"the rewritten file must be inferred again, launched $n jobs")
      assert(after.columns.toSeq == before.columns.toSeq.filterNot(_ == dropped))
      assert(after.count() == rows)
    }
    Memo.reset(spark)
  }

  test("events.ts is a TIMESTAMP whether the file stores it as NTZ micros or as nano longs") {
    val tsType = (dir: String) =>
      spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val stored = Tables.table(spark, sf, "events")
    assert(tsType(sf) == TimestampNTZType, "sf0.001 stores ts as TIMESTAMP(MICROS) without zone")
    assert(stored.schema("ts").dataType == TimestampType)
    withTempDir { dir =>
      writeFile(spark.read.parquet(s"$sf/events.parquet")
        .withColumn("ts", expr("unix_micros(cast(ts AS timestamp)) * 1000")),
        dir.resolve("events.parquet"))
      assert(tsType(dir.toString) == LongType, "the copy stores ts as a plain long")
      val nanos = Tables.table(spark, dir.toString, "events")
      assert(nanos.schema("ts").dataType == TimestampType)
      val key = Seq(col("event_id"), col("ts"))
      assert(nanos.select(key: _*).exceptAll(stored.select(key: _*)).isEmpty,
        "epoch-nano longs must read back as the same timestamps")
      assert(nanos.count() == stored.count())
    }
    Memo.reset(spark)
  }

  test("building the 57 relational benchmark queries twice: the second pass " +
    "launches only the jobs j11 and a22 start themselves") {
    val picked = Seq(Relational.all, Joins.all, Aggregates.all, WindowQueries.all, TimeSeries.all)
      .flatMap(_.zipWithIndex.collect { case (q, i) if i % 2 == 0 => q })
    assert(picked.size == 57)
    Memo.reset(spark)
    def pass(): Map[String, Int] =
      picked.map(q => q.name -> jobsLaunchedBy(q.fn(spark, sf))._2).toMap
    val first = pass()
    val second = pass()
    Memo.reset(spark)
    val own = Map("j11_bloom_semi_join" -> 2, "a22_count_min" -> 3)
    assert(second.filter(_._2 > 0) == own,
      s"only j11's bloom filter and a22's count-min pin may launch jobs: $second")
    val inferred = first.values.sum - second.values.sum
    assert(inferred == 9, s"one inference job per distinct table (9), got $inferred")
  }
}
