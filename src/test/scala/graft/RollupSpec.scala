package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Rollups]] — the durable-rollup layout family: the persisted IVM state
  * must answer exactly what the from-scratch aggregation answers, the
  * O(delta) refresh must equal a full rebuild over the grown fact, and the
  * q11 body must transparently pick the state up from a layout dir. */
class RollupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val sf = SparkTestBase.sf
  private val name = Rollups.LineitemByPartkey

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  /** A dataset dir that shares the fixture's facts but owns its _rollup. */
  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-rollup").toString
    Seq("lineitem", "part").foreach { t =>
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$d/$t.parquet"),
        java.nio.file.Paths.get(s"$sf/$t.parquet").toAbsolutePath)
    }
    Rollups.build(spark, d, Rollups.ValueByTypeBrand)
    Rollups.build(spark, d, name)
    d
  }

  private def direct(of: DataFrame): DataFrame =
    of.groupBy("l_partkey").agg(
      sum(expr("CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"))
        .as("value_dec"))

  test("persisted state answers the from-scratch aggregation exactly") {
    val viaState = Rollups.visibleDf(spark, dir, name).get
    assert(canon(viaState) === canon(direct(Tables.df(spark, sf, "lineitem"))))
  }

  test("O(delta) refresh == full rebuild over the grown fact (IVM)") {
    val base = Tables.df(spark, sf, "lineitem")
    val delta = base.filter(col("l_partkey") % 7 === 0)
      .withColumn("l_orderkey", col("l_orderkey") + lit(10000000L))
    val grown = java.nio.file.Files.createTempDirectory("graft-rollup-grown").toString
    java.nio.file.Files.createSymbolicLink(
      java.nio.file.Paths.get(s"$grown/lineitem.parquet"),
      java.nio.file.Paths.get(s"$sf/lineitem.parquet").toAbsolutePath)
    Rollups.build(spark, grown, name)
    Rollups.refresh(spark, grown, name, delta)
    val viaRefresh = Rollups.visibleDf(spark, grown, name).get
    assert(canon(viaRefresh) === canon(direct(base.unionByName(delta))))
    // and a signed delete-delta takes the state back to the base
    Rollups.refresh(spark, grown, name, delta, sign = -1)
    assert(canon(Rollups.visibleDf(spark, grown, name).get) === canon(direct(base)))
  }

  test("q11 body picks the rollup up from a layout dir and answers identically") {
    val viaRollup = operators.TpchFullQueries.q11ImportantParts.run(spark, dir)
    val recompute = operators.TpchFullQueries.q11ImportantParts.run(spark, sf)
    // the rollup path must actually be taken: every scan reads _rollup state
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scanned = viaRollup.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains("_rollup")),
      s"q11 on a rollup-carrying dir must read only the rollup state, got: $scanned")
    assert(viaRollup.collect().toSeq === recompute.collect().toSeq)
  }

  test("q67's finest lattice level re-aggregates from the rollup state identically") {
    // decimal sums associate: per-(type,brand) over the per-part state must
    // equal per-(type,brand) over the raw fact — rows, types and rank ties
    val viaRollup = operators.TpcdsQueries.q67TopkRollup.run(spark, dir)
    val recompute = operators.TpcdsQueries.q67TopkRollup.run(spark, sf)
    assert(viaRollup.schema === recompute.schema)
    assert(viaRollup.collect().toSeq === recompute.collect().toSeq)
  }

  // ------------------------------------------------------------- r15 tier:
  // versioned atomic swap + fingerprint-pinned freshness

  /** A dataset dir with REAL COPIES of the named fixture tables (mutable —
    * staleness tests touch the base files, which symlinks must never do). */
  private def copyDir(tables: String*): String = {
    val d = java.nio.file.Files.createTempDirectory("graft-rollup-copy").toString
    tables.foreach { t =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sf/$t.parquet"),
        java.nio.file.Paths.get(s"$d/$t.parquet"))
    }
    d
  }

  test("stale state is REFUSED: a base rewrite without refresh falls through to recompute") {
    val d = copyDir("lineitem")
    Rollups.build(spark, d, name)
    assert(Rollups.visibleDf(spark, d, name).isDefined, "fresh state must serve")
    // mutate the base without refreshing the state (mtime moves — any real
    // rewrite changes at least size or mtime of some file)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$d/lineitem.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    assert(Rollups.visibleDf(spark, d, name).isEmpty,
      "a fingerprint mismatch must refuse the state, not serve it silently")
  }

  test("legacy un-pinned state (pre-r15 flat layout) is refused, then rebuilt in place") {
    val d = copyDir("lineitem")
    // fake a pre-r15 layout: parquet files at the state root, no manifest
    val root = java.nio.file.Paths.get(s"$d/_rollup/$name")
    Tables.df(spark, d, "lineitem").groupBy("l_partkey").count()
      .write.mode("overwrite").parquet(root.toString)
    assert(Rollups.visibleDf(spark, d, name).isEmpty, "no manifest -> refuse")
    // build() upgrades the dir: versioned state + manifest, legacy files gone
    Rollups.build(spark, d, name)
    assert(Rollups.visibleDf(spark, d, name).isDefined)
    val stray = java.nio.file.Files.list(root)
    try assert(stray.filter(java.nio.file.Files.isRegularFile(_))
        .allMatch(p => p.getFileName.toString == "manifest.json"),
      "legacy flat-layout files must be retired by the rebuild")
    finally stray.close()
  }

  test("refresh is atomic to readers: a read loop across a refresh never errors, sees old-or-new only") {
    val d = copyDir("lineitem")
    Rollups.build(spark, d, name)
    val oldCount = Rollups.visibleDf(spark, d, name).get.count()
    val delta = Tables.df(spark, sf, "lineitem")
      .filter(col("l_partkey") % 3 === 0)
      .withColumn("l_orderkey", col("l_orderkey") + lit(20000000L))
      .withColumn("l_partkey", col("l_partkey") + lit(90000000L)) // new groups
    val newCount = oldCount + delta.select("l_partkey").distinct().count()
    @volatile var failure: Option[Throwable] = None
    @volatile var stop = false
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty) {
        try seen.add(Rollups.visibleDf(spark, d, name).get.count())
        catch { case t: Throwable => failure = Some(t) }
      }
    })
    reader.start()
    try {
      Rollups.refresh(spark, d, name, delta)
      Thread.sleep(200)
    } finally { stop = true; reader.join(30000) }
    assert(failure.isEmpty, s"reader failed across refresh: ${failure.map(_.toString)}")
    assert(!seen.isEmpty)
    seen.forEach(c => assert(c == oldCount || c == newCount,
      s"reader saw a state that is neither old ($oldCount) nor new ($newCount): $c"))
    assert(Rollups.visibleDf(spark, d, name).get.count() === newCount)
  }

  test("no-join refresh == full rebuild, both signs (q13 state)") {
    Seq((Rollups.OrderCountByCust, "orders", "o_orderkey"))
      .foreach { case (n, table, keyCol) =>
        val d = copyDir(table)
        Rollups.build(spark, d, n)
        val base = Tables.df(spark, sf, table)
        val delta = base.filter(col(keyCol) % 11 === 0)
          .withColumn(keyCol, col(keyCol) + lit(30000000L))
        Rollups.refresh(spark, d, n, delta)
        val def_ = Rollups.definition(n)
        def direct(of: DataFrame) = MatViews.visible(def_, MatViews.deltaState(def_, of))
        assert(canon(Rollups.visibleDf(spark, d, n).get) ===
          canon(direct(base.unionByName(delta))), s"$n insert-delta")
        Rollups.refresh(spark, d, n, delta, sign = -1)
        assert(canon(Rollups.visibleDf(spark, d, n).get) === canon(direct(base)),
          s"$n delete-delta")
      }
  }

  test("join-definition refresh == full rebuild over the grown fact, both signs (q23 states)") {
    val d = copyDir("lineitem", "orders", "part", "customer", "supplier")
    Seq(Rollups.QtyByCustkey, Rollups.Dates1997ByPartkey, Rollups.ProfitByBrandChannel,
      Rollups.QtyByPartBrandFlags, Rollups.RRevByCust,
      Rollups.RevByChannelPriority, Rollups.LateCountsByStatus, Rollups.PromoRevByShipday,
      Rollups.SignedByBrandYear, Rollups.SsbRevByNationsYearmo,
      Rollups.ProfitBlueByNationYear, Rollups.QtyDecByOrder,
      Rollups.RevBuildingUnshipped, Rollups.Price9801ByPartCust)
      .foreach { n =>
        Rollups.build(spark, d, n)
        val delta = Tables.df(spark, sf, "lineitem")
          .filter(col("l_partkey") % 5 === 0) // joins to existing dims
        Rollups.refresh(spark, d, n, delta)
        val def_ = Rollups.definition(n)
        // the def's own join chain, with the grown fact substituted in
        def joined(rows: DataFrame) = MatViews.joinedRows(
          def_, t => Tables.df(spark, sf, t), "lineitem", rows)
        val direct = MatViews.visible(def_, MatViews.deltaState(def_,
          joined(Tables.df(spark, sf, "lineitem").unionByName(delta))))
        assert(canon(Rollups.visibleDf(spark, d, n).get) === canon(direct), s"$n insert-delta")
        // the signed delete-delta takes it back to the base
        Rollups.refresh(spark, d, n, delta, sign = -1)
        val directBase = MatViews.visible(def_, MatViews.deltaState(def_,
          joined(Tables.df(spark, sf, "lineitem"))))
        assert(canon(Rollups.visibleDf(spark, d, n).get) === canon(directBase), s"$n delete-delta")
      }
  }

  test("min/max states (tpch q1/q21): insert refresh == rebuild; delete-delta refused") {
    val d = copyDir("lineitem", "orders")
    Seq(Rollups.PricingByFlagStatusDay, Rollups.LateByOrderSupp).foreach { n =>
      Rollups.build(spark, d, n)
      val base = Tables.df(spark, sf, "lineitem")
      val delta = base.filter(col("l_partkey") % 9 === 0) // joins existing orders
      Rollups.refresh(spark, d, n, delta)
      val def_ = Rollups.definition(n)
      val rows = MatViews.joinedRows(def_, t => Tables.df(spark, sf, t),
        "lineitem", base.unionByName(delta))
      val direct = MatViews.visible(def_, MatViews.deltaState(def_, rows))
      assert(canon(Rollups.visibleDf(spark, d, n).get) === canon(direct), n)
      // MIN/MAX components cannot un-see a deleted row — the signed path refuses
      val e = intercept[IllegalArgumentException] {
        Rollups.refresh(spark, d, n, delta, sign = -1)
      }
      assert(e.getMessage.toUpperCase.contains("MIN/MAX"), n)
    }
  }

  test("a changed DEFINITION refuses the stored state (defsha pin)") {
    val n = Rollups.QtyDecByOrder
    val d = copyDir("lineitem", "orders", "customer")
    Rollups.build(spark, d, n)
    assert(Rollups.visibleDf(spark, d, n).isDefined)
    // simulate a def edit: rewrite the manifest with a different defsha
    val p = java.nio.file.Paths.get(s"$d/_rollup/$n/manifest.json")
    val json = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    java.nio.file.Files.write(p, json.replaceAll(
      """"defsha":"[0-9a-f]+"""", """"defsha":"000000000000"""").getBytes("UTF-8"))
    assert(Rollups.visibleDf(spark, d, n).isEmpty,
      "a state built for another definition must be refused, not served")
    val e = intercept[Exception] {
      Rollups.refresh(spark, d, n, Tables.df(spark, sf, "lineitem").limit(1))
    }
    assert(e.getMessage.contains("different definition"))
  }

  test("q18 state is written ordered by the quantity component (row-group skip layout)") {
    val d = copyDir("lineitem", "orders", "customer")
    Rollups.build(spark, d, Rollups.QtyDecByOrder)
    // per-file value ranges from a sorted write must not overlap (beyond a
    // shared boundary value) — exactly the property parquet min/max skipping
    // needs for the >250 HAVING filter
    val root = s"$d/_rollup/${Rollups.QtyDecByOrder}/v1"
    val ranges = spark.read.parquet(root)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("__s_qty_dec")).as("lo"), max(col("__s_qty_dec")).as("hi"))
      .collect()
      .map(r => (r.getDecimal(1), r.getDecimal(2)))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a._2.compareTo(b._1) <= 0,
        s"state files carry overlapping qty ranges (unsorted write): $a vs $b")
      case _ => ()
    }
    // and the q18 body's HAVING filter reaches the state scan, where those
    // min/max stats actually skip
    val plan = operators.TpchQueries.q18LargeVolume.run(spark, d)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("_rollup"), "q18 on a layout dir must read the state")
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(__s_qty_dec"),
      s"the qty filter must be pushed into the state scan:\n$plan")
  }

  test("q78/q23/q75/q14/q80 bodies pick their rollups up from a layout dir and answer identically") {
    val d = copyDir("lineitem", "orders", "part", "customer", "supplier",
      "nation", "region")
    Seq(Rollups.CentsByCustStatus, Rollups.QtyByCustkey,
      Rollups.Dates1997ByPartkey, Rollups.SignedByBrandYear,
      Rollups.QtyByPartBrandFlags, Rollups.ProfitByBrandChannel,
      Rollups.PricingByFlagStatusDay, Rollups.LateCountsByStatus,
      Rollups.PromoRevByShipday, Rollups.RevByChannelPriority,
      Rollups.QtyDecByOrder, Rollups.OrderCountByCust,
      Rollups.RRevByCust, Rollups.LateByOrderSupp,
      Rollups.ValueByTypeBrand, Rollups.SsbRevByYearBrandType,
      Rollups.SsbRevByNationsYearmo, Rollups.SsbProfitByNationsYearType,
      Rollups.RevByNationsShipYear, Rollups.ProfitBlueByNationYear,
      Rollups.RevBuildingUnshipped, Rollups.Price9801ByPartCust)
      .foreach(Rollups.build(spark, d, _))
    Seq(operators.TpchQueries.q3ShippingPriority,
      operators.TpcdsQueries.q78ChannelRatio,
      operators.TpcdsQueries.q23FrequentBest,
      operators.TpcdsQueries.q75ChannelDelta,
      operators.TpcdsQueries.q14CrossChannel,
      operators.TpcdsQueries.q80ChannelProfitRollup,
      operators.TpcdsQueries.q5RollupChannels,
      operators.TpcdsQueries.q67TopkRollup,
      operators.RelationalQueries.aggPricingSummary,
      operators.TpchFullQueries.q12LatePriority,
      operators.TpchFullQueries.q13CustomerDistribution,
      operators.TpchFullQueries.q21WaitingSuppliers,
      operators.TpchQueries.q10ReturnedItems,
      operators.TpchQueries.q14PromoEffect,
      operators.TpchQueries.q18LargeVolume,
      operators.TpchQueries.q5LocalSupplier,
      operators.TpchFullQueries.q7VolumeShipping,
      operators.TpchFullQueries.q8MarketShare,
      operators.TpchFullQueries.q9ProductProfit,
      operators.SsbQueries.q2_1, operators.SsbQueries.q2_2,
      operators.SsbQueries.q3_1, operators.SsbQueries.q3_4,
      operators.SsbQueries.q4_1, operators.SsbQueries.q4_2,
      operators.SsbQueries.q4_3).foreach { q =>
      val viaState = q.run(spark, d)
      val recompute = q.run(spark, sf)
      assert(viaState.schema === recompute.schema, q.name)
      assert(viaState.collect().toSeq === recompute.collect().toSeq, q.name)
    }
    // and q78 on the layout dir must not scan the raw fact at all
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scanned = operators.TpcdsQueries.q78ChannelRatio.run(spark, d)
      .queryExecution.analyzed.collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty[String]
        }
      }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains("_rollup")),
      s"q78 on a rollup-carrying dir must read only the rollup state, got: $scanned")
  }

  test("durable rollups attach as catalog MVs: user SQL rewrites onto the state") {
    val d = copyDir("lineitem", "orders", "customer")
    Rollups.build(spark, d, Rollups.PricingByFlagStatusDay)
    Rollups.build(spark, d, Rollups.QtyDecByOrder)
    val cat = new Catalog(spark)
    cat.register("lineitem", Tables.df(spark, d, "lineitem"))
    cat.register("orders", Tables.df(spark, d, "orders"))
    val attached = cat.attachLayoutRollups(d)
    assert(attached.contains(Rollups.PricingByFlagStatusDay))
    assert(attached.contains(Rollups.QtyDecByOrder))
    // transformed (anti-join) defs must never be rewrite-eligible
    assert(!attached.contains(Rollups.CentsByCustStatus))
    // rollup-descent: coarser keys + key-only WHERE over the finest level
    val via = cat.answerFromMatView(
      "SELECT l_returnflag, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sq " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag")
    assert(via.isDefined, "user SQL must rewrite onto the attached durable state")
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val scanned = via.get.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains("_rollup")),
      s"the rewritten plan must read only the durable state, got: $scanned")
    val direct = Tables.df(spark, d, "lineitem")
      .filter(col("l_shipdate") <= "1998-09-02 00:00:00")
      .groupBy("l_returnflag")
      .agg(sum(expr("CAST(l_quantity AS DECIMAL(18,2))")).as("sq"))
    assert(canon(via.get) === canon(direct))
    // and the SQL surface: ATTACH ROLLUPS through the Pipeline
    val cat2 = new Catalog(spark)
    cat2.register("lineitem", Tables.df(spark, d, "lineitem"))
    cat2.register("orders", Tables.df(spark, d, "orders"))
    val res = new Pipeline(cat2).run(s"ATTACH ROLLUPS '$d'")
    assert(res.head.df.get.collect().map(_.getString(0))
      .contains(Rollups.QtyDecByOrder))
  }

  test("anti-join rollup (q78): closed-group delta maintained exactly; overlapping delta refused") {
    val n = Rollups.CentsByCustStatus
    val li = Tables.df(spark, sf, "lineitem")
    val ord = Tables.df(spark, sf, "orders")
    val maxOk = li.agg(max(col("l_orderkey"))).head.getLong(0)
    // dataset dir: lineitem copy + orders grown by ONE new order the delta
    // lines will land on (written as a dir so the layout reader sees it)
    val d = java.nio.file.Files.createTempDirectory("graft-rollup-anti").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/lineitem.parquet"),
      java.nio.file.Paths.get(s"$d/lineitem.parquet"))
    ord.unionByName(ord.limit(1).withColumn("o_orderkey", lit(maxOk + 1L)))
      .coalesce(1).write.parquet(s"$d/orders.parquet")
    Rollups.build(spark, d, n)
    // closed-group delta at a wholly-new orderkey with DUPLICATE
    // (orderkey, linenumber) keys of mixed flags: linenumber 0 carries an 'R'
    // (its 'N' siblings must be EVICTED — the shape no row-local predicate
    // gets right), linenumber 1 is clean and stays
    val idc = monotonically_increasing_id()
    val delta = li.coalesce(1).limit(6)
      .withColumn("l_orderkey", lit(maxOk + 1L))
      .withColumn("l_linenumber", (idc % 2).cast(li.schema("l_linenumber").dataType))
      .withColumn("l_returnflag", when(idc === 0, lit("R")).otherwise(lit("N")))
    Rollups.refresh(spark, d, n, delta)
    val def_ = Rollups.definition(n)
    val ordersOnDisk = spark.read.parquet(s"$d/orders.parquet")
    val grown = li.unionByName(delta)
    def agg(of: DataFrame) = MatViews.visible(def_, MatViews.deltaState(def_,
      of.join(ordersOnDisk, col("l_orderkey") === col("o_orderkey"))))
    val direct = agg(Rollups.keepNonReturned(grown))
    assert(canon(Rollups.visibleDf(spark, d, n).get) === canon(direct),
      "incremental anti-join state must equal the from-scratch anti-join")
    // non-vacuous: the row-local predicate form DIFFERS on this data
    assert(canon(direct) !== canon(agg(grown.filter(col("l_returnflag") =!= "R"))),
      "fixture must exercise mixed-flag duplicate keys (eviction shape)")
    // an insert-delta at an EXISTING orderkey could retract earlier keeps —
    // the high-water-mark guard must refuse it
    val bad = li.coalesce(1).limit(2)
    val e = intercept[IllegalArgumentException] { Rollups.refresh(spark, d, n, bad) }
    assert(e.getMessage.contains("high-water mark"))
  }

  // ------------------------------------------------------------- r16 tier:
  // FK-elision guard — q18/q80 drop a row-preserving spec join; a dir whose
  // data violates that FK must fail LOUDLY at ingest, never serve a state
  // that silently answers differently from the declared SQL.

  test("FK-elision guard: q18 build REFUSES a dir where orders.o_custkey has no customer") {
    val d = copyDir("lineitem", "orders", "customer")
    // corrupt the FK: one order points at a customer key that does not exist
    val o = spark.read.parquet(s"$d/orders.parquet")
    val corrupted = o.withColumn("o_custkey",
      when(col("o_orderkey") === o.agg(min(col("o_orderkey"))).head.getLong(0),
        lit(999999999L)).otherwise(col("o_custkey")))
      .cache()
    corrupted.count() // materialize before overwriting the source file
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$d/orders.parquet"))
    corrupted.coalesce(1).write.parquet(s"$d/orders.parquet")
    corrupted.unpersist()
    val e = intercept[IllegalArgumentException] {
      Rollups.build(spark, d, Rollups.QtyDecByOrder)
    }
    assert(e.getMessage.contains("FK elision violated"))
    assert(Rollups.visibleDf(spark, d, Rollups.QtyDecByOrder).isEmpty,
      "a refused build must publish nothing")
    // and the q18 body still answers the declared SQL exactly on that dir
    // (inline fallback is spec-exact: the customer semi join drops the orphan)
    val got = operators.TpchQueries.q18LargeVolume.run(spark, d)
    Tables.df(spark, d, "orders").createOrReplaceTempView("fk_o")
    Tables.df(spark, d, "lineitem").createOrReplaceTempView("fk_l")
    Tables.df(spark, d, "customer").createOrReplaceTempView("fk_c")
    val want = spark.sql(
      """SELECT c_custkey, o_orderkey,
        |  date_format(o_orderdate, 'yyyy-MM-dd') AS orderdate,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM fk_o JOIN fk_l ON o_orderkey = l_orderkey
        |JOIN fk_c ON c_custkey = o_custkey
        |GROUP BY c_custkey, o_orderkey, o_orderdate
        |HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 250
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin)
    assert(canon(got) === canon(want))
  }

  test("FK-elision guard: a refresh delta with orphan child keys is refused before any write") {
    val d = copyDir("lineitem", "orders", "customer")
    Rollups.build(spark, d, Rollups.QtyDecByOrder)
    val v1 = Rollups.visibleDf(spark, d, Rollups.QtyDecByOrder)
    assert(v1.isDefined, "valid-FK dir must build and serve")
    val maxOk = Tables.df(spark, d, "orders").agg(max(col("o_orderkey"))).head.getLong(0)
    val badOrders = Tables.df(spark, d, "orders").limit(1)
      .withColumn("o_orderkey", lit(maxOk + 1L))
      .withColumn("o_custkey", lit(999999999L))
    val e = intercept[IllegalArgumentException] {
      Rollups.refresh(spark, d, Rollups.QtyDecByOrder, badOrders, changed = "orders")
    }
    assert(e.getMessage.contains("FK elision violated"))
  }

  test("FK-elision pin: rewriting the ELIDED parent table refuses the stored state") {
    val d = copyDir("lineitem", "orders", "customer")
    Rollups.build(spark, d, Rollups.QtyDecByOrder)
    assert(Rollups.visibleDf(spark, d, Rollups.QtyDecByOrder).isDefined)
    // customer is NOT in the definition's FROM, but the spec joins it — a
    // rewrite must refuse the state (the pinned parent fingerprint moved)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$d/customer.parquet"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 60000))
    assert(Rollups.visibleDf(spark, d, Rollups.QtyDecByOrder).isEmpty,
      "a parent rewrite after build must refuse the state, not serve it silently")
  }

  test("FK-elision refresh: a parent rewrite that breaks the FK is caught by a valid child delta's refresh") {
    val d = copyDir("lineitem", "orders", "customer")
    Rollups.build(spark, d, Rollups.QtyDecByOrder)
    // out of band: drop a customer that existing orders reference
    val orders = Tables.df(spark, d, "orders")
    val dropped = orders.agg(min(col("o_custkey"))).head.getLong(0)
    val kept = spark.read.parquet(s"$d/customer.parquet").filter(col("c_custkey") =!= dropped).cache()
    kept.count()
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$d/customer.parquet"))
    kept.coalesce(1).write.parquet(s"$d/customer.parquet")
    kept.unpersist()
    // the delta itself is FK-clean: a new order of a surviving customer
    val maxKey = orders.agg(max(col("o_orderkey"))).head.getLong(0)
    val delta = orders.filter(col("o_custkey") =!= dropped).limit(1)
      .withColumn("o_orderkey", lit(maxKey + 1L))
    val e = intercept[IllegalArgumentException] {
      Rollups.refresh(spark, d, Rollups.QtyDecByOrder, delta, changed = "orders")
    }
    assert(e.getMessage.contains("FK elision violated"))
    assert(Rollups.visibleDf(spark, d, Rollups.QtyDecByOrder).isEmpty,
      "the refused refresh must not re-pin the rewritten parent")
  }

  test("FK-elision refresh: naming the ELIDED parent as the changed table is rejected") {
    val d = copyDir("lineitem", "orders", "customer")
    Rollups.build(spark, d, Rollups.QtyDecByOrder)
    val e = intercept[IllegalArgumentException] {
      Rollups.refresh(spark, d, Rollups.QtyDecByOrder,
        Tables.df(spark, d, "customer").limit(1), changed = "customer")
    }
    assert(e.getMessage.contains("FK-elided parent"))
  }
}
