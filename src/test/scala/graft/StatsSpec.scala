package graft

import org.scalatest.funsuite.AnyFunSuite

/** CBO is real only if ANALYZE-computed statistics change plans: a
  * deliberately mis-ordered 3-way join must be reordered by
  * CostBasedJoinReorder using row counts (the functional counterpart of the
  * reference's join_ordering_rule + cardinality_estimator). */
class StatsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def setup(): Unit = Stats.register(spark, SparkTestBase.sf)

  test("ANALYZE gives the optimizer exact row counts and column stats") {
    setup()
    val expected = Tables.df(spark, SparkTestBase.sf, "nation").count()
    assert(Stats.rowCount(spark, "nation").contains(BigInt(expected)))
    val desc = spark.sql("DESC EXTENDED lineitem l_orderkey").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("distinct_count").toLong > 0, s"NDV must be computed: $desc")
  }

  test("CBO reorders a mis-ordered lineitem-first join to start from the small side") {
    setup()
    // Syntactic order pairs lineitem (largest) first; with stats the reorderer
    // must start from orders ⋈ customer (intermediate |orders| rows) and join
    // lineitem last.
    val df = spark.sql(
      """SELECT c.c_name, SUM(l.l_quantity) AS q
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |               JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_name""".stripMargin)
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val optimized = df.queryExecution.optimizedPlan
    val joins = optimized.collect { case j: Join => j }
    assert(joins.nonEmpty)
    // the innermost join (no Join children) must NOT involve lineitem
    val innermost = joins.filter(j => j.children.forall(c => c.collect { case x: Join => x }.isEmpty))
    assert(innermost.nonEmpty)
    innermost.foreach { j =>
      assert(!j.toString.contains("lineitem"),
        s"stats-driven reorder must join orders⋈customer first:\n$optimized")
    }
  }

  import org.apache.spark.sql.catalyst.plans.logical.Join

  /** Tables referenced by the leaf side of each innermost join (joins with no
    * Join descendants) of the optimized plan of `sql`. */
  private def innermostJoins(sql: String): Seq[Join] = {
    val optimized = spark.sql(sql).queryExecution.optimizedPlan
    val joins = optimized.collect { case j: Join => j }
    joins.filter(j => j.children.forall(c => c.collect { case x: Join => x }.isEmpty))
  }

  test("histogram statistics: skewed-column selectivity estimates from bins, not uniform NDV (r14)") {
    setup()
    assert(spark.conf.get("spark.sql.statistics.histogram.enabled") === "true")
    // 90% of rows on one hot key, tail spread over 100 singleton keys: a
    // uniform-NDV model estimates k=1 at rows/ndv ≈ 1000/101 ≈ 10 rows; the
    // equi-height histogram sees the hot key's mass (~900)
    import spark.implicits._
    val rows = Seq.fill(900)(1L) ++ (1 to 100).map(i => 100L + i)
    rows.toDF("k").write.mode("overwrite").parquet("/tmp/graft_stats_skew")
    spark.sql("DROP TABLE IF EXISTS skewt")
    spark.catalog.createTable("skewt", "/tmp/graft_stats_skew", "parquet")
    spark.sql("ANALYZE TABLE skewt COMPUTE STATISTICS FOR ALL COLUMNS")
    val est = spark.sql("SELECT * FROM skewt WHERE k = 1")
      .queryExecution.optimizedPlan.stats.rowCount
    assert(est.exists(_ >= BigInt(400)),
      s"histogram must see the hot key (~900 rows); uniform NDV would say ~10: got $est")
  }

  test("JOB cycle 20a-class: CBO must not start from the fact-fact slice pair") {
    setup()
    // declared order pairs the two lineitem slices first; with exact stats the
    // reorderer must instead start from the filtered slice ⋈ orders
    val inner = innermostJoins(
      """SELECT o_orderpriority, COUNT(*) AS n
        |FROM lineitem a
        |JOIN lineitem b ON a.l_orderkey = b.l_orderkey
        |JOIN orders ON a.l_orderkey = o_orderkey AND b.l_orderkey = o_orderkey
        |WHERE a.l_linenumber = 1 AND b.l_returnflag = 'R' AND b.l_linestatus = 'F'
        |GROUP BY o_orderpriority""".stripMargin)
    assert(inner.nonEmpty)
    inner.foreach { j =>
      val s = j.toString
      assert(s.contains("orders"),
        s"innermost join must route through orders, not lineitem⋈lineitem:\n$j")
    }
  }

  test("JOB nation-closure cycle: CBO refuses the customer⋈supplier blowup first") {
    setup()
    val inner = innermostJoins(
      """SELECT n_name, COUNT(*) AS n
        |FROM region
        |JOIN nation ON n_regionkey = r_regionkey
        |JOIN customer ON c_nationkey = n_nationkey
        |JOIN supplier ON s_nationkey = c_nationkey
        |JOIN lineitem ON l_suppkey = s_suppkey
        |JOIN orders ON l_orderkey = o_orderkey AND o_custkey = c_custkey
        |WHERE r_name = 'EUROPE' AND o_orderpriority = '1-URGENT'
        |GROUP BY n_name""".stripMargin)
    assert(inner.nonEmpty)
    inner.foreach { j =>
      val s = j.toString
      assert(!(s.contains("customer") && s.contains("supplier")),
        s"the weak same-nation edge must not be the innermost join:\n$j")
    }
  }

  test("JOB theta residual: equi key drives the join, predicate stays residual") {
    setup()
    val df = spark.sql(
      """SELECT n_name, COUNT(*) AS n_pairs
        |FROM supplier
        |JOIN customer ON c_nationkey = s_nationkey AND c_acctbal > s_acctbal
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE s_acctbal > 0
        |GROUP BY n_name""".stripMargin)
    val physical = df.queryExecution.executedPlan.toString
    assert(!physical.contains("CartesianProduct") &&
      !physical.contains("BroadcastNestedLoopJoin"),
      s"theta residual must ride the nationkey hash join:\n$physical")
  }

  test("JOB 28-class double snowflake: CBO must not start from the m:n hub fan-out") {
    setup()
    // second fact spine: events needs catalog stats too
    Stats.register(spark, SparkTestBase.sf, Seq("events"))
    // the declared order fans lineitem × events out through the customer hub
    // before any selective dim shrinks either side; with exact stats the
    // reorderer must start each spine from a selective leaf edge instead —
    // no innermost join may pair the two facts
    val inner = innermostJoins(
      """SELECT nc.n_name AS hub_nation, COUNT(*) AS n_paths
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN events e ON e.user_id = c.c_custkey
        |JOIN nation nc ON c.c_nationkey = nc.n_nationkey
        |JOIN region rc ON nc.n_regionkey = rc.r_regionkey
        |JOIN part p ON l.l_partkey = p.p_partkey
        |JOIN supplier su ON l.l_suppkey = su.s_suppkey
        |JOIN nation ns ON su.s_nationkey = ns.n_nationkey
        |JOIN region rs ON ns.n_regionkey = rs.r_regionkey
        |WHERE rc.r_name = 'ASIA' AND rs.r_name = 'EUROPE'
        |  AND p.p_type = 'STANDARD' AND e.event_type = 'purchase'
        |GROUP BY nc.n_name""".stripMargin)
    assert(inner.nonEmpty)
    inner.foreach { j =>
      val s = j.toString
      assert(!(s.contains("lineitem") && s.contains("events")),
        s"the two fact spines must not meet before their dims shrink them:\n$j")
    }
  }

  test("histogram policy follows declared constraints, not name suffixes; conf restored (r15)") {
    import spark.implicits._
    val d = java.nio.file.Files.createTempDirectory("graft-stats-constr").toString
    // join key named `id` (no *key suffix), data column named `weekey` — the
    // exact two shapes the name heuristic gets wrong (r14 advice)
    (1 to 500).map(i => (i.toLong, (i % 7).toLong)).toDF("id", "weekey")
      .write.mode("overwrite").parquet(s"$d/constrt.parquet")
    graft.plans.ConstraintRegistry.put("constrt",
      Seq(graft.plans.KeyConstraint("constrt", "PRIMARY KEY", Seq("id"))))
    val histConf = "spark.sql.statistics.histogram.enabled"
    val before = spark.conf.get(histConf)
    try {
      spark.conf.set(histConf, "false") // caller's setting must survive register
      Stats.register(spark, d, Seq("constrt"))
      assert(spark.conf.get(histConf) === "false",
        "register must restore the caller's histogram conf, not clobber it")
      def hist(colName: String): String = spark.sql(s"DESC EXTENDED constrt $colName")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
        .getOrElse("histogram", "NULL")
      assert(hist("id") === "NULL",
        "declared PK column must keep ndv-only stats (no histogram) despite not ending in *key")
      assert(hist("weekey") !== "NULL",
        "an undeclared data column must get its histogram even with a *key-suffixed name")
    } finally {
      spark.conf.set(histConf, before)
      graft.plans.ConstraintRegistry.drop("constrt")
      spark.sql("DROP TABLE IF EXISTS constrt")
    }
  }
}
