package graft

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The cheap evidence suites of [[Bench]] at sf0.001 with one timed run:
  * each yields exactly one parseable JSON line with the keys its report has
  * always carried. */
class BenchSuitesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def keys(report: JsonNode): Set[String] = report.fieldNames.asScala.toSet

  test("file suite reports its keys") {
    assert(keys(BenchSuitesSpec.fileReport) ===
      Set("metric", "value", "unit", "queries", "sql_dir", "sf"))
  }

  test("prepared suite reports its keys") {
    assert(keys(BenchSuitesSpec.preparedReport) ===
      Set("metric", "value", "unit", "queries", "plan_cache_hits", "plan_cache_misses",
        "plan_cache_hit_rate", "results_match", "comparisons", "runs", "sf"))
  }

  test("ivm suite reports its keys") {
    assert(keys(SparkTestBase.jsonLine(Bench.ivm(spark, sf))) ===
      Set("metric", "unit", "base_rows", "delta_rows", "build_sec", "incremental_maintain_sec",
        "full_refresh_sec", "speedup_vs_refresh", "sf"))
  }

  test("semi-reduce suite checks and times all six naive/reduced pairs") {
    val report = SparkTestBase.jsonLine(Bench.semiReduce(spark, sf, runs = 1))
    assert(keys(report) === Set("metric", "unit", "sf", "queries"))
    val queries = report.get("queries")
    assert(keys(queries) === Bench.semiReduceNaive.keySet)
    queries.elements.asScala.foreach { q =>
      assert(keys(q) === Set("naive_sec", "reduced_sec", "speedup"))
    }
  }

  test("tpcc suite reports its keys") {
    val report = SparkTestBase.jsonLine(Bench.tpcc(spark, sf, txns = 5, clients = 1))
    assert(keys(report) ===
      Set("metric", "value", "unit", "committed", "wall_sec", "clients", "txns_per_client", "sf"))
    assert(report.get("committed").asInt === 5)
  }

  test("an unknown suite name fails with the list of valid names") {
    val e = intercept[IllegalArgumentException](Bench.main(Array("no-such-suite")))
    Seq("ann-append", "ann-index", "bucketed", "file", "ivm", "layout", "prepared",
      "semi-reduce", "stream", "tpcc", "zorder").foreach(n => assert(e.getMessage.contains(n)))
  }
}

object BenchSuitesSpec {
  /** The `file` and `prepared` reports, run once per test JVM and shared with
    * [[BenchFileSpec]] and [[BenchPreparedSpec]], which check their contents. */
  lazy val fileReport: JsonNode = SparkTestBase.jsonLine(
    Bench.file(SparkTestBase.spark, "bench_queries", SparkTestBase.sf, runs = 1))
  lazy val preparedReport: JsonNode = SparkTestBase.jsonLine(
    Bench.prepared(SparkTestBase.spark, SparkTestBase.sf, runs = 1))
}
