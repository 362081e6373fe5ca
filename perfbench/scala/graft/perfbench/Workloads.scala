package graft.perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{Catalog, Pipeline, Q, SparkEntry, Tables, Verify}

/** The shape of [[graft.Bench]]: the 19 headline queries, one client, each
  * pass in the seeded order given in `passes.txt`, each query driven to
  * completion with the `noop` sink. Queries resolve from the per-family
  * registries, so nothing here touches the corpus-backed
  * `SparkEntry.queries`. */
final class OlapHeadline(dir: String, inputs: Path) extends Workload {
  private val registry: Map[String, Q] = (
    graft.operators.RelationalQueries.all ++ graft.operators.TpchQueries.all ++
      graft.operators.EventsQueries.all ++ graft.operators.SsbQueries.all ++
      graft.operators.TpcdsQueries.all ++ graft.functions.DedupQueries.all ++
      graft.functions.CurationQueries.all).map(q => q.name -> q).toMap
  val names: Seq[String] = SparkEntry.benchNames
  private val queries: Map[String, Q] = names.map { n =>
    val q = registry.getOrElse(n, sys.error(s"headline query $n is in no family registry"))
    require(q.oracle.isDefined, s"headline query $n has no DuckDB oracle")
    n -> q
  }.toMap
  private val passes: Seq[Seq[String]] =
    Harness.lines(inputs.resolve("passes.txt")).map(_.split(" ").toSeq)
  passes.foreach(p => require(p.sorted == names.sorted, s"pass is not a permutation of the headline set: $p"))
  private var nextPass = 0
  private val schemas = mutable.Map.empty[String, StructType]
  private val warmupErrors = mutable.Buffer.empty[String]

  def setup(spark: SparkSession, tracer: Tracer): Unit = ()

  /** One run of every query, its result written for the DuckDB comparison.
    * Runs on `cores` threads: it is JIT and codegen warm-up, not a measurement. */
  def warmup(spark: SparkSession, tracer: Tracer, out: Path): Unit = {
    val pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    names.foreach { n =>
      pool.submit(new Runnable {
        def run(): Unit =
          try {
            val schema = Harness.writeResult(queries(n).run(spark, dir), out.resolve("olap_results").resolve(n))
            schemas.synchronized(schemas(n) = schema)
          } catch { case e: Throwable =>
            warmupErrors.synchronized(warmupErrors += s"$n: ${e.getMessage}")
          }
      })
    }
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)
  }

  def window(spark: SparkSession, tracer: Tracer, seconds: Double): WindowResult = {
    val errors = mutable.Buffer.empty[String]
    val samples = mutable.Buffer.empty[OpSample]
    val t0 = System.nanoTime()
    var hygiene = 0L
    var first = true
    // whole passes, each timing every headline query once, until
    // --seconds have passed
    while (first || (System.nanoTime() - t0 - hygiene) / 1e9 < seconds) {
      first = false
      passes(nextPass % passes.size).foreach { n =>
        samples += Harness.timedOp(tracer, n, errors) {
          val df = tracer.span("build", n)(queries(n).run(spark, dir))
          tracer.span("action", n)(df.write.format("noop").mode("overwrite").save())
          true
        }
        // between queries, as Bench does in shuffled mode, a full GC and a
        // pause for Spark's ContextCleaner, so a query does not pay for its
        // predecessor's garbage; the window's wall time leaves these out
        val g0 = System.nanoTime()
        Harness.settle()
        hygiene += System.nanoTime() - g0
      }
      nextPass += 1
    }
    WindowResult((System.nanoTime() - t0 - hygiene) / 1e9, samples.toSeq, 0, 0, 0, errors.toSeq)
  }

  def check(spark: SparkSession, outDir: Path): Seq[Check] = {
    val oracle = names.map(n => n -> Verify.canonOracle(queries(n).oracle.get, schemas.get(n)))
    Files.createDirectories(outDir.resolve("olap_results"))
    Files.writeString(outDir.resolve("olap_results").resolve("oracle_sql.json"), Json(oracle.toMap))
    warmupErrors.toSeq.map(e => Check("warmup", ok = false, e)) ++
      names.filterNot(schemas.contains).map(n => Check(n, ok = false, "no result written"))
  }
}

/** The TpccBench 45/43/4/4/4 NewOrder/Payment/OrderStatus/Delivery/
  * StockLevel mix through Pipeline BEGIN/DML/COMMIT on per-client working
  * tables, compacted every 5 transactions, with one materialized view over
  * the history table read by OrderStatus. Transactions run TpccBench's
  * statements. A plain in-memory model of the three tables predicts every
  * read and the final state; a read that disagrees with it is a wrong
  * answer. */
final class TxnMixed(dir: String, inputs: Path) extends Workload {
  private val txns: IndexedSeq[(String, Long)] = Harness.lines(inputs.resolve("txns.txt")).map { l =>
    val Array(p, k) = l.split(" "); (p, k.toLong)
  }.toIndexedSeq
  /** Transactions between lineage compactions. TpccBench compacts every 10;
    * 5 makes the 25-transaction block a whole number of cycles. NewOrder's
    * `INSERT .. SELECT .. FROM` the table itself deepens the table's plan
    * until the next compaction, so a cycle's cost follows how many NewOrders
    * it holds, and only whole blocks cost the same. */
  private val CompactEvery = 5
  private val Period = 25
  private var cat: Catalog = _
  private var client: Client = _
  private var pos = 0

  def setup(spark: SparkSession, tracer: Tracer): Unit = {
    cat = new Catalog(spark)
    val ord = tracer.span("tables")(Tables.df(spark, dir, "orders"))
    val cust = tracer.span("tables")(Tables.df(spark, dir, "customer"))
    tracer.span("register") {
      cat.register("src_ord", ord)
      cat.register("src_cust", cust)
    }
    client = new Client(spark, "0", tracer)
  }

  /** One transaction of the stream; compacts after every CompactEvery-th. */
  private def step(tracer: Tracer, errors: mutable.Buffer[String]): OpSample = {
    val (proc, k) = txns(pos % txns.size)
    pos += 1
    val s = Harness.timedOp(tracer, proc, errors)(client.run(proc, k))
    if (pos % CompactEvery == 0) tracer.span("compact")(client.compact())
    s
  }

  /** The stream's first compaction cycle, untimed; the window starts on the
    * next cycle. */
  def warmup(spark: SparkSession, tracer: Tracer, out: Path): Unit = {
    val errors = mutable.Buffer.empty[String]
    val wrong = (1 to CompactEvery).map(_ => step(tracer, errors)).filterNot(_.ok).map(_.label)
    require(wrong.isEmpty, s"warmup failed: ${(errors ++ wrong).mkString("; ")}")
  }

  def window(spark: SparkSession, tracer: Tracer, seconds: Double): WindowResult = {
    val errors = mutable.Buffer.empty[String]
    val samples = mutable.Buffer.empty[OpSample]
    val conflicts0 = client.conflicts
    val memo0 = client.memoStats
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole blocks until --seconds have passed
    do {
      (1 to Period).foreach(_ => samples += step(tracer, errors))
    } while (elapsed < seconds)
    val (hits, misses) = client.memoStats
    WindowResult(elapsed, samples.toSeq, hits - memo0._1, misses - memo0._2,
      client.conflicts - conflicts0, errors.toSeq)
  }

  def check(spark: SparkSession, outDir: Path): Seq[Check] = client.finalChecks()

  /** One client's working tables, pipeline and model. */
  private final class Client(spark: SparkSession, id: String, tracer: Tracer) {
    val (ord, cust, hist, mv) = (s"ord_$id", s"cust_$id", s"hist_$id", s"hist_mv_$id")
    private val p = new Pipeline(cat)
    var conflicts = 0L
    def memoStats: (Long, Long) = p.planCacheStats
    private def stmt(span: String, sql: String) = tracer.span(span)(p.sql(sql))
    private def read(sql: String): Array[Row] = {
      val df = stmt("pipeline.select", sql)
      tracer.span("action")(df.collect())
    }

    stmt("pipeline.ddl", s"CREATE TABLE $ord AS SELECT o_orderkey, o_custkey, o_orderstatus FROM src_ord WHERE o_custkey < 200")
    stmt("pipeline.ddl", s"CREATE TABLE $cust AS SELECT c_custkey, c_acctbal FROM src_cust WHERE c_custkey < 200")
    stmt("pipeline.ddl", s"CREATE TABLE $hist AS SELECT CAST(0 AS BIGINT) AS h_custkey, CAST(0.0 AS DOUBLE) AS h_amount WHERE false")
    stmt("pipeline.ddl", s"CREATE MATERIALIZED VIEW $mv AS SELECT h_custkey, SUM(h_amount) AS total, COUNT(*) AS n FROM $hist GROUP BY h_custkey")

    // ---- model (amounts in cents)
    private val status = mutable.Map.empty[Long, (Long, String)] // order -> (customer, status)
    private val open = Array.fill(10)(new java.util.TreeSet[java.lang.Long]())
    private val maxByCust = mutable.Map.empty[Long, Long]
    private val openByCust = mutable.Map.empty[Long, Int].withDefaultValue(0)
    private val balance = mutable.Map.empty[Long, Long]
    private val histRows = mutable.Map.empty[(Long, Long), Long].withDefaultValue(0L)
    private var maxKey = -1L
    private def cents(d: Double): Long = Math.round(d * 100)
    private def addOrder(key: Long, c: Long, st: String): Unit = {
      status(key) = (c, st)
      maxKey = maxKey.max(key)
      maxByCust(c) = maxByCust.getOrElse(c, -1L).max(key)
      if (st == "O") { open((c % 10).toInt).add(key); openByCust(c) += 1 }
    }
    spark.table(ord).collect().foreach(r => addOrder(r.getLong(0), r.getLong(1), r.getString(2)))
    spark.table(cust).collect().foreach(r => balance(r.getLong(0)) = cents(r.getDouble(1)))

    private def commit(): Unit =
      try stmt("pipeline.commit", "COMMIT")
      catch { case e: IllegalArgumentException if String.valueOf(e.getMessage).contains("conflict") =>
        conflicts += 1; throw e
      }

    /** Run one transaction; false = a read disagreed with the model. */
    def run(proc: String, k: Long): Boolean =
      try proc match {
        case "new_order" =>
          stmt("pipeline.begin", "BEGIN")
          stmt("pipeline.dml", s"INSERT INTO $ord SELECT MAX(o_orderkey) + 1, $k, 'O' FROM $ord")
          // read-your-writes: the history row keys on the staged max order key
          stmt("pipeline.dml", s"INSERT INTO $hist SELECT MAX(o_orderkey), 61.0 FROM $ord")
          commit()
          histRows((maxKey + 1, 6100L)) += 1
          addOrder(maxKey + 1, k, "O")
          true
        case "payment" =>
          stmt("pipeline.begin", "BEGIN")
          stmt("pipeline.dml", s"UPDATE $cust SET c_acctbal = c_acctbal - 15.0 WHERE c_custkey = $k")
          stmt("pipeline.dml", s"INSERT INTO $hist VALUES ($k, 15.0)")
          commit()
          balance(k) = balance(k) - 1500
          histRows((k, 1500L)) += 1
          true
        case "order_status" =>
          val latest = read(s"SELECT MAX(o_orderkey) AS latest FROM $ord WHERE o_custkey = $k")(0)
          val agg = tracer.span("matview_read")(
            read(s"SELECT total, n FROM $mv WHERE h_custkey = $k"))
          val want = histRows.toSeq.collect { case ((c, a), n) if c == k => (a * n, n) }
          val (sum, n) = (want.map(_._1).sum, want.map(_._2).sum)
          val latestOk = if (latest.isNullAt(0)) !maxByCust.contains(k) else maxByCust.get(k).contains(latest.getLong(0))
          val aggOk = if (n == 0) agg.isEmpty
            else agg.length == 1 && cents(agg(0).getDouble(0)) == sum && agg(0).getLong(1) == n
          latestOk && aggOk
        case "delivery" =>
          stmt("pipeline.begin", "BEGIN")
          val delivered = (0 until 3).map { d =>
            val m = read(s"SELECT MIN(o_orderkey) AS m FROM $ord WHERE o_orderstatus = 'O' AND o_custkey % 10 = $d")(0)
            val expected = if (open(d).isEmpty) None else Some(open(d).first().longValue)
            val got = if (m.isNullAt(0)) None else Some(m.getLong(0))
            got.foreach { oid =>
              stmt("pipeline.dml", s"UPDATE $ord SET o_orderstatus = 'F' WHERE o_orderkey = $oid")
              val ck = read(s"SELECT o_custkey FROM $ord WHERE o_orderkey = $oid")(0).getLong(0)
              stmt("pipeline.dml", s"UPDATE $cust SET c_acctbal = c_acctbal + 10.0 WHERE c_custkey = $ck")
            }
            (expected, got)
          }
          commit()
          delivered.foreach { case (_, got) =>
            got.foreach { oid =>
              val (c, _) = status(oid)
              status(oid) = (c, "F")
              open((c % 10).toInt).remove(oid)
              openByCust(c) -= 1
              balance(c) = balance(c) + 1000
            }
          }
          delivered.forall { case (e, g) => e == g }
        case "stock_level" =>
          val n = read(s"SELECT COUNT(DISTINCT o_custkey) AS n FROM $ord WHERE o_orderstatus = 'O' AND o_custkey % 10 < 2")(0).getLong(0)
          n == openByCust.count { case (c, m) => m > 0 && c % 10 < 2 }
      } catch { case e: Throwable =>
        if (p.inTransaction) p.sql("ROLLBACK")
        throw e
      }

    /** Lineage compaction, as TpccBench does between transactions. */
    def compact(): Unit =
      Seq(ord, cust, hist).foreach(n => cat.register(n, cat.table(n).localCheckpoint()))

    def finalChecks(): Seq[Check] = {
      val ordRows = spark.table(ord).collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
      val custRows = spark.table(cust).collect().map(r => r.getLong(0) -> cents(r.getDouble(1))).toMap
      val histGot = spark.table(hist).collect().groupBy(r => (r.getLong(0), cents(r.getDouble(1))))
        .map { case (key, rs) => key -> rs.length.toLong }
      val histWant = histRows.filter(_._2 > 0).toMap
      val mvGot = spark.table(mv).collect().map(r => r.getLong(0) -> (cents(r.getDouble(1)), r.getLong(2))).toMap
      val recompute = spark.sql(s"SELECT h_custkey, SUM(h_amount), COUNT(*) FROM $hist GROUP BY h_custkey")
        .collect().map(r => r.getLong(0) -> (cents(r.getDouble(1)), r.getLong(2))).toMap
      val mvWant = histWant.toSeq.groupBy(_._1._1).map { case (c, xs) =>
        c -> (xs.map { case ((_, a), n) => a * n }.sum, xs.map(_._2).sum)
      }
      def diff[K, V](name: String, got: Map[K, V], want: Map[K, V]): Check = {
        val bad = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
        Check(name, bad.isEmpty,
          if (bad.isEmpty) s"${got.size} rows" else
            s"${bad.size} keys differ, e.g. ${bad.take(3).map(k => s"$k: ${got.get(k)} vs ${want.get(k)}").mkString("; ")}")
      }
      Seq(
        Check("history_rows", histGot.values.sum == histWant.values.sum,
          s"${histGot.values.sum} rows, model ${histWant.values.sum}"),
        diff("history_content", histGot, histWant),
        diff("acct_balances", custRows, balance.toMap),
        diff("orders", ordRows, status.toMap),
        diff("matview_vs_recompute", mvGot, recompute),
        diff("matview_vs_model", mvGot, mvWant))
    }
  }
}
