package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The events.ts convention: whatever physical timestamp type the fixture
  * generation shipped (TIMESTAMP(NANOS) read as a long, or TIMESTAMP(MICROS)
  * read as TIMESTAMP_NTZ), Tables.df presents a nanosecond-epoch LONG so all
  * query time math stays on integer epochs (`ts DIV 1000` == DuckDB
  * `epoch_us(ts)`). A fixture regeneration that flips the type again must not
  * change any query result. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("events.ts is normalized to a nanosecond-epoch long") {
    val ev = Tables.df(spark, SparkTestBase.sf, "events")
    assert(ev.schema("ts").dataType == LongType)
    // sanity: epochs land in a plausible century (1990..2100), not 1970±ε
    val (lo, hi) = ev.agg(min($"ts"), max($"ts")).as[(Long, Long)].head()
    val y1990 = 631152000000000000L // 1990-01-01 in ns
    val y2100 = 4102444800000000000L
    assert(lo >= y1990 && hi <= y2100, s"ts range [$lo,$hi] outside 1990..2100")
  }

  test("normalizeEventTs is a no-op on an already-long ts and converts timestamps") {
    val asLong = Seq((1L, 1700000000000000000L)).toDF("event_id", "ts")
    assert(Tables.normalizeEventTs(asLong).schema("ts").dataType == LongType)
    assert(Tables.normalizeEventTs(asLong).select("ts").as[Long].head() ==
      1700000000000000000L)

    // TIMESTAMP_NTZ input (what the MICROS parquet generation reads as):
    // wall-clock interpreted in the session zone (UTC) —
    // 2023-11-14 22:13:20 UTC == 1700000000 epoch seconds
    val asTs = Seq(Tuple1(1L)).toDF("event_id")
      .withColumn("ts", expr("to_timestamp_ntz('2023-11-14 22:13:20')"))
    val norm = Tables.normalizeEventTs(asTs)
    assert(norm.schema("ts").dataType == LongType)
    assert(norm.select("ts").as[Long].head() == 1700000000000000000L)
  }

  // ---- the parquet resolver: one schema inference per session and listing

  test("resolved schemas equal the inferred ones for every fixture table; events.ts stays a long") {
    Tables.names.foreach { t =>
      val path = s"${SparkTestBase.sf}/$t.parquet"
      Tables.df(spark, SparkTestBase.sf, t)
      assert(Tables.schemaOf(spark, path) == spark.read.parquet(path).schema, t)
    }
    assert(Tables.df(spark, SparkTestBase.sf, "events").schema("ts").dataType == LongType)
  }

  test("a second Tables.df on an unchanged table runs no Spark job") {
    Tables.df(spark, SparkTestBase.sf, "lineitem")
    assert(SparkTestBase.jobsDuring(Tables.df(spark, SparkTestBase.sf, "lineitem")) == 0)
  }

  test("a table rewritten in place is re-resolved: new schema, new rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables").toString
    Seq((1L, "a")).toDF("k", "v").write.parquet(s"$dir/t.parquet")
    val before = Tables.df(spark, dir, "t")
    assert(before.columns.toSeq == Seq("k", "v"))
    assert(before.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    Seq((2L, 3.5, true)).toDF("k", "x", "flag").write.mode("overwrite").parquet(s"$dir/t.parquet")
    val after = Tables.df(spark, dir, "t")
    assert(after.columns.toSeq == Seq("k", "x", "flag"))
    assert(after.as[(Long, Double, Boolean)].collect().toSeq == Seq((2L, 3.5, true)))
  }

  test("two sessions never share resolved schemas") {
    Tables.df(spark, SparkTestBase.sf, "nation")
    val other = spark.newSession()
    assert(SparkTestBase.jobsDuring(Tables.df(other, SparkTestBase.sf, "nation")) > 0,
      "a second session must infer the schema itself, not reuse the first one's")
    assert(SparkTestBase.jobsDuring(Tables.df(other, SparkTestBase.sf, "nation")) == 0)
  }
}
