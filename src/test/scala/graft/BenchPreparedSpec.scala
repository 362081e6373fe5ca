package graft

import org.scalatest.funsuite.AnyFunSuite

/** Prepared-statement bench suite (reference: tpch_benchmark.cpp:57
  * `--use_prepared_statements`): every headline template PREPAREs, every
  * binding EXECUTEs to the same rows as the literal-inlined SQL on a raw
  * session, and re-execution is served from the GDFS plan cache. */
class BenchPreparedSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("every item prepares and every EXECUTE matches direct SQL") {
    val report = BenchSuitesSpec.preparedReport
    val bindings = Bench.preparedItems.map(_._3.size).sum
    assert(report.get("comparisons").asInt === bindings)
    assert(report.get("results_match").asInt === bindings)
  }

  test("re-binding the same parameters is a plan-cache hit, new parameters a miss") {
    val p = Bench.fixturePipeline(spark, SparkTestBase.sf)
    val (name, tpl, bindings) = Bench.preparedItems.head
    p.run(s"PREPARE $name AS ${tpl.replaceAll("\\s+", " ")}")
    val exec0 = s"EXECUTE $name (${bindings(0).mkString(", ")})"
    p.run(exec0)
    val (h0, m0) = p.planCacheStats
    assert(h0 == 0 && m0 == 1)
    p.run(exec0) // same binding → same bound text → hit
    val (h1, m1) = p.planCacheStats
    assert(h1 == 1 && m1 == 1)
    p.run(s"EXECUTE $name (${bindings(1).mkString(", ")})") // new binding → miss
    val (h2, m2) = p.planCacheStats
    assert(h2 == 1 && m2 == 2)
  }
}
