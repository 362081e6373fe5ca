package graft.operators

import graft.{Bench, Q, SparkTestBase}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The q5/q7/q8 semi-join pre-reduction (reference:
  * src/lib/optimizer/strategy/semi_join_reduction_rule.cpp) is a pure plan
  * rewrite — these tests pin the semantics by comparing each rewritten query
  * against the naive join order it replaced ([[Bench.semiReduceNaive]], the
  * `semi-reduce` suite's counterfactual), row for row. The DuckDB oracle
  * gates the same queries at sf0.01; this spec keeps the equivalence local
  * and fast so a future re-ordering can't silently change results.
  */
class SemiJoinReductionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf

  private def naive(q: Q): DataFrame = Bench.semiReduceNaive(q.name)(spark, sf)

  private def assertSameRows(name: String, got: DataFrame, want: DataFrame): Unit = {
    val g = got.collect().map(_.toSeq).sortBy(_.mkString("|"))
    val w = want.collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(g.toSeq == w.toSeq, s"$name: reduced plan diverges from naive join order")
    assert(got.columns.toSeq == want.columns.toSeq, s"$name: schema drift")
  }

  test("q5: pre-reduced plan matches the naive join order") {
    val reduced = TpchQueries.q5LocalSupplier.run(spark, sf)
    assert(reduced.count() > 0, "q5 must be non-vacuous at sf0.001")
    assertSameRows("q5", reduced, naive(TpchQueries.q5LocalSupplier))
  }

  test("q7: pre-reduced plan matches the naive join order") {
    val reduced = TpchFullQueries.q7VolumeShipping.run(spark, sf)
    assertSameRows("q7", reduced, naive(TpchFullQueries.q7VolumeShipping))
  }

  test("q8: pre-reduced plan matches the naive join order") {
    val reduced = TpchFullQueries.q8MarketShare.run(spark, sf)
    assert(reduced.count() > 0, "q8 must be non-vacuous at sf0.001")
    assertSameRows("q8", reduced, naive(TpchFullQueries.q8MarketShare))
  }

  test("q9: part-filter-first plan matches the naive orders-first join order") {
    val reduced = TpchFullQueries.q9ProductProfit.run(spark, sf)
    assert(reduced.count() > 0, "q9 must be non-vacuous at sf0.001")
    assertSameRows("q9", reduced, naive(TpchFullQueries.q9ProductProfit))
  }

  test("q17: semi-reduced per-part average matches the full-fact aggregate") {
    val reduced = TpchFullQueries.q17SmallQuantity.run(spark, sf)
    assertSameRows("q17", reduced, naive(TpchFullQueries.q17SmallQuantity))
  }

  test("q21: single-pass per-order stats match the EXISTS/NOT-EXISTS join pair") {
    val reduced = TpchFullQueries.q21WaitingSuppliers.run(spark, sf)
    assert(reduced.count() > 0, "q21 must be non-vacuous at sf0.001")
    assertSameRows("q21", reduced, naive(TpchFullQueries.q21WaitingSuppliers))
  }
}
