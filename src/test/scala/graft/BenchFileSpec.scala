package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** File-based benchmark suite (reference: file_based_benchmark.cpp): every
  * .sql file in the shipped bench_queries/ dir — plain SELECTs, window
  * queries and a multi-statement transaction script — must run green through
  * the Pipeline and report a positive wall time. */
class BenchFileSpec extends AnyFunSuite {
  test("shipped bench_queries items all run and time") {
    val queries = BenchSuitesSpec.fileReport.get("queries")
    assert(queries.fieldNames.asScala.toSet ===
      Set("revenue_by_nation", "top_orders_window", "txn_update_script"))
    assert(queries.elements.asScala.forall(_.asDouble > 0.0))
  }
}
