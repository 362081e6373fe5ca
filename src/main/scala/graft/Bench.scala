package graft

import graft.functions.AnnIndex
import graft.streaming.{DocStreams, EventStreams}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** Benchmark runner (driver contract): times the headline queries on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line. Mirrors the reference's
  * benchmark runner shape — named items, per-item runtimes and items/s, JSON
  * report, ordered and shuffled execution modes (reference:
  * src/benchmarklib/benchmark_runner.hpp:37-46,71-80 and the mode flags in
  * src/benchmarklib/cli_config_parser.cpp:54-68).
  *
  * Env knobs (all optional):
  *  - SPARK_GRAFT_SF_DIR   dataset dir (default sf0.1)
  *  - SPARK_GRAFT_CPUS     local[] threads = shuffle partitions (default 32)
  *  - SPARK_GRAFT_BENCH_MODE  "ordered" (default) | "shuffled" — shuffled
  *    permutes query order per round with a fixed seed, the reference's
  *    shuffled mode that defeats cross-query cache ordering effects
  *  - SPARK_GRAFT_BENCH_RUNS  timed runs per query (default 2, best-of)
  *  - SPARK_GRAFT_BENCH_CLIENTS  concurrent query streams (default 1) — the
  *    reference's --clients multi-stream mode (cli_config_parser.cpp:54-68):
  *    N threads each run the full headline set (per-client shuffled order)
  *    against the shared session; reported as aggregate queries/sec. Spark's
  *    FAIR scheduler pool shares the cluster between streams the way the
  *    reference's scheduler shares its workers between clients.
  *
  * Each query gets one untimed warmup (JIT + parquet footer cache, like the
  * reference's --warmup); the reported time is the best of the timed runs.
  *
  * Evidence suites: `runMain graft.Bench <suite> [args]` runs one named suite
  * instead of the headline set — the reference's TPC-H, TPC-C and file-based
  * binaries likewise share one runner. Every suite runs in the same session
  * build (local[SPARK_GRAFT_CPUS], FAIR when SPARK_GRAFT_BENCH_CLIENTS > 1)
  * and prints ONE JSON line. Bench-evidence tooling, outside the headline
  * contract.
  *
  * | suite         | was               | args                         | default SPARK_GRAFT_SF_DIR |
  * |---------------|-------------------|------------------------------|----------------------------|
  * | `ann-append`  | `BenchAnnAppend`  | `[indexDir]`                 | sf0.1 (MUTATED: use a copy) |
  * | `ann-index`   | `BenchAnnIndex`   | `[indexDir]`                 | sf0.1                      |
  * | `bucketed`    | `BenchBucketed`   | `<srcSfDir> <dstDir> [buckets=32]` | —                    |
  * | `file`        | `BenchFile`       | — (SPARK_GRAFT_SQL_DIR, default bench_queries) | sf0.01   |
  * | `ivm`         | `BenchIvm`        | —                            | sf0.1                      |
  * | `layout`      | `BenchLayout`     | `<srcSfDir> <dstDir> [files=8]` | —                       |
  * | `prepared`    | `BenchPrepared`   | —                            | sf0.1                      |
  * | `semi-reduce` | `BenchSemiReduce` | —                            | sf0.1                      |
  * | `stream`      | `BenchStream`     | —                            | sf0.1                      |
  * | `tpcc`        | `TpccBench`       | — (SPARK_GRAFT_TPCC_TXNS, default 25) | sf0.01            |
  * | `zorder`      | `BenchZorder`     | —                            | sf0.1                      |
  */
object Bench {
  private def env(key: String, default: String): String = sys.env.getOrElse(key, default)
  private def dataDir(default: String = "/root/testdata/sf0.1"): String =
    env("SPARK_GRAFT_SF_DIR", default)
  private def runs: Int = env("SPARK_GRAFT_BENCH_RUNS", "2").toInt
  private def cpus: Int = env("SPARK_GRAFT_CPUS", "32").toInt
  private def clients: Int = env("SPARK_GRAFT_BENCH_CLIENTS", "1").toInt

  /** Suite name → body, given the suite's own command-line arguments. */
  private val suites: ListMap[String, (SparkSession, Seq[String]) => String] = ListMap(
    "ann-append" -> ((s, a) => annAppend(s, dataDir(), a.headOption.getOrElse(AnnIndex.defaultDir(dataDir())))),
    "ann-index" -> ((s, a) => annIndex(s, dataDir(), runs, a.headOption.getOrElse(AnnIndex.defaultDir(dataDir())))),
    "bucketed" -> ((s, a) => bucketed(s, a(0), a(1), a.lift(2).fold(32)(_.toInt), runs)),
    "file" -> ((s, _) => file(s, env("SPARK_GRAFT_SQL_DIR", "bench_queries"), dataDir("/root/testdata/sf0.01"), runs)),
    "ivm" -> ((s, _) => ivm(s, dataDir())),
    "layout" -> ((s, a) => layout(s, a(0), a(1), a.lift(2).fold(8)(_.toInt))),
    "prepared" -> ((s, _) => prepared(s, dataDir(), runs)),
    "semi-reduce" -> ((s, _) => semiReduce(s, dataDir(), runs)),
    "stream" -> ((s, _) => stream(s, dataDir())),
    "tpcc" -> ((s, _) => tpcc(s, dataDir("/root/testdata/sf0.01"), env("SPARK_GRAFT_TPCC_TXNS", "25").toInt, clients)),
    "zorder" -> ((s, _) => zorder(s, dataDir())))

  def main(args: Array[String]): Unit = {
    val suite = args.headOption.map { name =>
      suites.getOrElse(name, throw new IllegalArgumentException(
        s"unknown suite '$name'; valid suites: ${suites.keys.mkString(", ")}"))
    }
    val spark = args.toSeq match {
      // point reads and writes: wide shuffles never help TPC-C
      case Seq("tpcc", _*) => session(8)
      // bucketed's catalog tables live beside its output
      case Seq("bucketed", _, dst, _*) => session(cpus, "spark.sql.warehouse.dir" -> s"$dst/warehouse")
      case _ => session(cpus)
    }
    try println(suite.fold(headline(spark))(_(spark, args.toSeq.tail)))
    finally spark.stop()
  }

  /** The one session build: local[SPARK_GRAFT_CPUS] with `partitions`
    * shuffle partitions; FAIR round-robins stage slots between concurrent
    * client streams (default FIFO would serialize them head-of-line). */
  private def session(partitions: Int, confs: (String, String)*): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName("graft-bench")
      .config("spark.scheduler.mode", if (clients > 1) "FAIR" else "FIFO")
    val spark = GraftSession.tuned(confs.foldLeft(b) { case (b, (k, v)) => b.config(k, v) },
      shufflePartitions = partitions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Seconds `f` takes. */
  private def secs(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Drives `df` to completion into the no-op sink: the timed action of every DataFrame item. */
  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One untimed warm-up of `f`, then the best of `runs` timed runs. */
  private def best(runs: Int)(f: => Unit): Double = {
    f
    (1 to runs).map(_ => secs(f)).min
  }

  /** The one JSON writer: `fields` in order as an object. A `Map` nests an
    * object (a `ListMap` keeps its order), any other `Seq` is an array, a
    * non-finite double is `null`. */
  private def json(fields: (String, Any)*): String = render(ListMap(fields: _*))

  private def render(v: Any): String = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => Verify.jsonString(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case s: String => Verify.jsonString(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case x => x.toString
  }

  /** Runs `f(0)`, …, `f(n - 1)` on `n` threads at once. */
  private def concurrently[T](n: Int)(f: Int => T): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse((0 until n).toList)(c => Future(f(c))), Duration.Inf)
    finally pool.shutdown()
  }

  /** A [[Pipeline]] over a fresh [[Catalog]] holding every fixture table of `sfDir`. */
  def fixturePipeline(spark: SparkSession, sfDir: String): Pipeline = {
    val cat = new Catalog(spark)
    Tables.names.foreach(n => cat.register(n, Tables.df(spark, sfDir, n)))
    new Pipeline(cat)
  }

  /** The headline run: the contract's timed set and JSON line. */
  private def headline(spark: SparkSession): String = {
    val sfDir = dataDir()
    val mode = env("SPARK_GRAFT_BENCH_MODE", "ordered")

    // SPARK_GRAFT_BENCH_GC=1|0: per-item hygiene OUTSIDE the timed window.
    // Spark's ContextCleaner only deletes finished queries' shuffle files and
    // broadcasts when their references get collected — on a large heap GC may
    // not run for the whole suite, so a long sequence ACCUMULATES every
    // item's shuffle scratch on disk (the 1000×-corpus ENOSPC) and its
    // old-gen debt in the heap (SF100 shuffled: q18 240 s mid-suite vs
    // 91.9 s ordered on IDENTICAL plans — the r12 verdict's 2.6×
    // degradation). Two GC passes with a short gap let the first collection
    // enqueue reference-tracked cleanups and the ContextCleaner drain them
    // before the second pass returns the heap. Default ON for shuffled mode
    // (that is where adjacency stacks the heavy items); default OFF for
    // ordered so official numbers stay comparable with prior rounds.
    val gcEachItem = sys.env.get("SPARK_GRAFT_BENCH_GC")
      .map(_ == "1").getOrElse(mode == "shuffled")
    def hygiene(): Unit = {
      System.gc()
      Thread.sleep(200) // let ContextCleaner process the reference queue
      System.gc()
      // r14: drain WRITEBACK outside the timed window too. A heavy item's
      // shuffle scratch sits as dirty page cache (vm.dirty_ratio on a big-RAM
      // box admits tens of GB) and the kernel flushes it lazily DURING the
      // next item's timed run — measured: q12 in-suite 50.6 s vs 17.3 s solo
      // with GC hygiene alone (vmstat: zero reads, 170 MB/s writeback bursts
      // at 90 % kernel CPU inside the neighbor's window). The 300 ms gap
      // first lets ContextCleaner finish DELETING the previous item's files
      // (deleted-before-flush dirty pages are simply dropped), then sync
      // flushes whatever legitimately remains.
      Thread.sleep(300)
      try new ProcessBuilder("sync").start().waitFor()
      catch { case _: Throwable => () }
    }
    val queries = SparkEntry.queries
    def once(name: String): Double = {
      val dt = secs(noop(queries(name)(spark, sfDir)))
      if (gcEachItem) hygiene()
      dt
    }

    // SPARK_GRAFT_BENCH_NAMES: comma-separated item override — the
    // reference CLI's item filter (cli_config_parser.cpp lets a run pick
    // single benchmark items); default = the headline set.
    val names = sys.env.get("SPARK_GRAFT_BENCH_NAMES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(SparkEntry.benchNames)
    // warmup pass, in declared order (SPARK_GRAFT_BENCH_WARMUP=0 skips it —
    // for single-shot evidence runs of heavy items where a warmup execution
    // would double the run's cost without changing the reported best-of)
    if (!sys.env.get("SPARK_GRAFT_BENCH_WARMUP").contains("0"))
      names.foreach(n => try once(n) catch { case _: Throwable => () })

    // timed rounds; shuffled mode permutes each round deterministically
    val rng = new scala.util.Random(42)
    val times = scala.collection.mutable.Map.empty[String, List[Double]].withDefaultValue(Nil)
    (1 to runs).foreach { _ =>
      val order = if (mode == "shuffled") rng.shuffle(names) else names
      order.foreach { n =>
        val t = try once(n) catch { case _: Throwable => -1.0 }
        times(n) = t :: times(n)
      }
    }

    val results = names.map { n =>
      val ok = times(n).filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    val ips = results.map { case (k, v) => k -> (if (v > 0) 1.0 / v else 0.0) }
    val total = results.map(_._2).filter(_ >= 0).sum

    // multi-stream phase: N clients run the whole set concurrently; the
    // metric is aggregate throughput, not per-query latency
    val multi = if (clients <= 1) Nil else {
      val wall = secs(concurrently(clients) { c =>
        val order = new scala.util.Random(c).shuffle(names)
        order.foreach(n => try once(n) catch { case _: Throwable => () })
      })
      Seq("clients" -> clients, "multi_stream_wall_sec" -> wall,
        "multi_stream_queries_per_sec" -> clients * names.size / wall)
    }
    // like-for-like subtotal vs the round-1 BASELINE.md number (7.27 s):
    // the full-set total grows every round as more queries are benched, so
    // cross-round comparison uses the fixed 11-query subset
    val base11 = results.collect {
      case (n, v) if v >= 0 && SparkEntry.baseline11.contains(n) => v
    }.sum
    json(Seq("metric" -> "total", "value" -> total, "unit" -> "sec", "baseline11_sec" -> base11,
      "queries" -> ListMap(results: _*), "items_per_sec" -> ListMap(ips: _*), "mode" -> mode,
      "runs" -> runs, "sf" -> sfDir) ++ multi: _*)
  }

  // ---------------------------------------------------------------- suites

  /** `ann-append`: append-vs-rebuild for the ANN index
    * ([[functions.AnnIndex.appendIvfScaled]]). Builds the scaled IVF index
    * on the store, grows the corpus IN PLACE by ~10 % (so point
    * SPARK_GRAFT_SF_DIR at a scratch copy, e.g. a [[ScaleUpCorpus]] output),
    * APPENDs the delta (assign-only, fixed centroids) and compares the append
    * cost against the full build it replaces — the FAISS add-vs-train split,
    * measured. Also re-probes the appended index and reports the scaled
    * tier's recall over the grown corpus (strict + tie-aware, same scoring
    * as [[AnnRecall]]) so "recall unchanged" is a number, not a claim. */
  def annAppend(spark: SparkSession, sfDir: String, indexDir: String): String = {
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val baseRows = base.count()
    val buildSec = secs(AnnIndex.buildAll(spark, sfDir, indexDir))

    // grow the corpus in place by ~10%: every 10th base vector re-enters
    // under a fresh id (vectors reused — the identity under test is the
    // assignment, which is id-blind; near-duplicate mass is also exactly
    // what a production ingest adds)
    val maxId = base.agg(max(col("vec_id").cast("long"))).head.getLong(0)
    val delta = base.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id").cast("long") + maxId + 1L)
    delta.write.mode("append").parquet(s"$sfDir/embeddings.parquet")

    val appendSec = secs(AnnIndex.appendIvfScaled(spark, sfDir, indexDir, delta))
    val (trainedRows, appendedRows) = AnnIndex.appendState(indexDir)
    val retrain = AnnIndex.retrainRecommended(indexDir)

    // ensure() must be a no-op on the re-pinned manifest (probe-path cost)
    val ensureSec = secs(AnnIndex.ensure(spark, sfDir, indexDir))

    // recall of the appended index over the GROWN corpus, scored exactly
    // like AnnRecall: strict set intersection + tie-aware band vs exact
    // cosine ground truth
    val probe = AnnIndex.probeIvfScaled(spark, sfDir, indexDir)
      .select(col("q_id").cast("long"), col("n_id").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val exact = SparkEntry.queries("ann_brute_force_topk")(spark, sfDir)
      .select(col("q_id").cast("long"), col("n_id").cast("long"),
        (lit(1.0) - col("sim")).as("d")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val truth = exact.map(t => (t._1, t._2)).toSet
    val strict = (probe.toSet & truth).size.toDouble / truth.size
    val kth = exact.groupBy(_._1).map { case (q, ts) => q -> ts.map(_._3).max }
    // tie-aware: a retrieved neighbor whose true distance is within 1% of
    // the k-th true distance counts (AnnRecall's TIE_REL discipline)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"), col("embedding").as("qv"))
    val gotDf = spark.createDataFrame(probe.toSeq).toDF("q_id", "n_id")
    val trueD = gotDf.join(e.select(col("vec_id").as("n_id"), col("embedding").as("nv")), "n_id")
      .join(broadcast(q), "q_id")
      .select(col("q_id"),
        (lit(1.0) - expr("graft_vec_dot(qv, nv)") /
          (sqrt(expr("graft_vec_dot(qv, qv)")) * sqrt(expr("graft_vec_dot(nv, nv)")))).as("td"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val tie = trueD.count { case (qq, td) =>
      kth.get(qq).exists(dk => td <= dk * 1.01 + 1e-9)
    }.toDouble / truth.size

    json("metric" -> "ann_append", "unit" -> "sec", "base_rows" -> baseRows,
      "build_sec" -> buildSec, "append_rows" -> appendedRows, "append_sec" -> appendSec,
      "ensure_noop_sec" -> ensureSec, "trained_rows" -> trainedRows,
      "retrain_recommended" -> retrain,
      "scaled_recall_after_append" -> strict, "scaled_tie_recall_after_append" -> tie,
      "sf" -> sfDir)
  }

  /** `ann-index`: train-once/probe-many. Times the one-time index build
    * ([[functions.AnnIndex.buildAll]]) and each PROBE-ONLY query against the
    * persisted index, next to the exact brute-force baseline and the inline
    * (retrain-per-query) variants it replaces — the measured answer to r9's
    * finding that an index retrained per query loses to linear scan
    * (IVF k-means 45.7 s inline vs exact 2.4 s at the 2M store). */
  def annIndex(spark: SparkSession, sfDir: String, runs: Int, indexDir: String): String = {
    val storeRows = Tables.df(spark, sfDir, "embeddings").count()
    val buildSec = secs(AnnIndex.buildAll(spark, sfDir, indexDir))

    // adaptive probe: stats travel with the result (no shared mutable state)
    var adaptiveCells: Map[Long, Int] = Map.empty
    def adaptiveProbe(): DataFrame = {
      val (df, cells) = AnnIndex.probeIvfScaledAdaptiveWithStats(spark, sfDir, indexDir)
      adaptiveCells = cells
      df
    }
    val probes = Seq(
      "probe_ivf_topk" -> (() => AnnIndex.probeIvf(spark, sfDir, indexDir)),
      "probe_ivf_scaled_topk" -> (() => AnnIndex.probeIvfScaled(spark, sfDir, indexDir)),
      "probe_ivf_scaled_adaptive_topk" -> (() => adaptiveProbe()),
      "probe_ivfpq_topk" -> (() => AnnIndex.probeIvfPq(spark, sfDir, indexDir)),
      "probe_sq8_topk" -> (() => AnnIndex.probeSq8(spark, sfDir, indexDir)))
    val inlines = Seq(
      "inline_ivf_kmeans_topk" -> "ann_ivf_kmeans_topk",
      "inline_ivfpq_topk" -> "ann_ivfpq_topk",
      "inline_sq8_topk" -> "emb_sq8_topk",
      "exact_cosine" -> "ann_brute_force_topk")

    val entries =
      probes.map { case (n, f) => n -> best(runs)(noop(f())) } ++
        inlines.map { case (n, q) => n -> best(runs)(noop(SparkEntry.queries(q)(spark, sfDir))) }
    val adaptive =
      if (adaptiveCells.isEmpty) Nil
      else Seq(
        "adaptive_cells_probed_avg" -> adaptiveCells.values.sum.toDouble / adaptiveCells.size,
        "adaptive_cells_probed_max" -> adaptiveCells.values.max)
    json(Seq("metric" -> "ann_index_build_probe", "unit" -> "sec", "store_rows" -> storeRows,
      "build_sec" -> buildSec) ++ adaptive ++
      Seq("queries" -> ListMap(entries: _*), "sf" -> sfDir): _*)
  }

  /** `bucketed`: the headline fact⋈fact queries q4 and q18, as shipped in the
    * registry, on the flat `src` dir and on a copy of its facts in `dst`
    * bucketed by the production [[ScaleUpLayout.bucketFacts]] (which
    * [[Tables.df]] picks up through `_layout/`).
    *
    * Both facts bucketed the same way join with ZERO exchange (the SMJ reads
    * buckets pairwise), and the per-order aggregation reuses the same
    * partitioning (HashPartitioning on a subset of the grouping keys
    * satisfies the clustered distribution). The bucketing write pays one
    * shuffle ONCE, amortized across every later orderkey join — at 100 TB
    * the difference between re-shuffling the fact table per query and never
    * shuffling it. The reference's counterpart is its radix-partitioned hash
    * join, which re-partitions per execution (reference:
    * src/lib/operators/join_hash_steps.hpp); a lakehouse makes the
    * partitioning durable instead. Reports per-query seconds, the one-time
    * bucketing cost, the exchange counts of both plans and q18's result
    * parity. */
  def bucketed(spark: SparkSession, src: String, dst: String, buckets: Int, runs: Int): String = {
    import java.nio.file.{Files, Paths}
    require(Seq("_layout", "_rollup").forall(d => !Files.exists(Paths.get(src, d))),
      s"$src must be a flat dir: it carries a bucketed layout or rollup states")
    Seq("customer", "orders", "lineitem").foreach { t =>
      Tables.df(spark, src, t).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    }
    // bucketFacts reports to stdout; keep stdout to the one JSON line
    val layoutSec = secs(scala.Console.withOut(System.err)(ScaleUpLayout.bucketFacts(spark, dst, buckets)))

    val q4 = SparkEntry.queries("tpch_q4_order_priority")
    val q18 = SparkEntry.queries("tpch_q18_large_volume")
    def exchanges(df: DataFrame): Int =
      "Exchange hashpartitioning".r.findAllIn(df.queryExecution.executedPlan.toString).length
    // result parity: the layout must not change the answer
    val parity = q18(spark, dst).exceptAll(q18(spark, src)).isEmpty &&
      q18(spark, src).exceptAll(q18(spark, dst)).isEmpty

    json("metric" -> "bucketed_vs_flat", "unit" -> "sec", "buckets" -> buckets,
      "layout_write_sec" -> layoutSec,
      "q4_flat" -> best(runs)(noop(q4(spark, src))), "q4_bucketed" -> best(runs)(noop(q4(spark, dst))),
      "q18_flat" -> best(runs)(noop(q18(spark, src))), "q18_bucketed" -> best(runs)(noop(q18(spark, dst))),
      "exchanges" -> ListMap(
        "q4_flat" -> exchanges(q4(spark, src)), "q4_bucketed" -> exchanges(q4(spark, dst)),
        "q18_flat" -> exchanges(q18(spark, src)), "q18_bucketed" -> exchanges(q18(spark, dst))),
      "result_parity" -> parity, "sf" -> src)
  }

  /** `file`: the counterpart of the reference's hyriseBenchmarkFileBased
    * (reference: src/benchmark/file_based_benchmark.cpp: point it at a
    * directory of `.sql` files; each file is one named benchmark item run
    * through SQLPipeline). Every file may hold a multi-statement script (DDL,
    * DML, transactions, SELECTs — the full [[Pipeline]] surface); the
    * per-file wall time is the item's score. */
  def file(spark: SparkSession, sqlDir: String, sfDir: String, runs: Int): String = {
    val files = Option(new java.io.File(sqlDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".sql")).sortBy(_.getName)
    require(files.nonEmpty, s"no .sql files in $sqlDir")
    val times = files.toSeq.map { f =>
      val script = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      f.getName.stripSuffix(".sql") -> best(runs) {
        // a fresh catalog per run: files may CREATE/DROP/overwrite tables
        val p = fixturePipeline(spark, sfDir)
        p.run(script).foreach { r =>
          require(r.status == p.Ok, s"${f.getName}: ${r.sql} → ${r.status}")
          r.df.foreach(noop)
        }
      }
    }
    json("metric" -> "file_based_total", "value" -> times.map(_._2).sum, "unit" -> "sec",
      "queries" -> ListMap(times: _*), "sql_dir" -> sqlDir, "sf" -> sfDir)
  }

  /** `ivm`: materialized-view maintenance — initial build vs O(delta)
    * incremental maintenance vs full REFRESH on the lineitem table. Once the
    * base is large, a DML statement's maintenance cost must track the DELTA
    * size, not the base size; all three are printed so the gap is a recorded
    * number, not a claim. */
  def ivm(spark: SparkSession, sfDir: String): String = {
    val cat = new Catalog(spark)
    cat.register("li_ivm", Tables.df(spark, sfDir, "lineitem"))
    val p = new Pipeline(cat)

    val baseRows = cat.table("li_ivm").count()
    // high-cardinality key: maintenance is O(delta + |state|) while REFRESH
    // is O(base) — the gap the feature exists for (a returnflag rollup has 4
    // groups and its refresh is so cheap the fixed costs dominate both paths)
    val build = secs(p.run(
      """CREATE MATERIALIZED VIEW li_mv AS
        |  SELECT l_suppkey, COUNT(*) AS n, SUM(l_quantity) AS q
        |  FROM li_ivm GROUP BY l_suppkey""".stripMargin))

    // delta: 1000 rows re-inserted from the base (values irrelevant, size is)
    val delta = cat.table("li_ivm").limit(1000).localCheckpoint()
    val maintain = secs(cat.insert("li_ivm", delta))
    val refresh = secs(p.run("REFRESH MATERIALIZED VIEW li_mv"))
    // maintained view must equal the just-refreshed recompute
    val n = cat.table("li_mv").agg(sum("n")).head.getLong(0)
    require(n == baseRows + 1000, s"view count $n != ${baseRows + 1000}")

    json("metric" -> "matview", "unit" -> "sec", "base_rows" -> baseRows, "delta_rows" -> 1000,
      "build_sec" -> build, "incremental_maintain_sec" -> maintain, "full_refresh_sec" -> refresh,
      "speedup_vs_refresh" -> refresh / maintain, "sf" -> sfDir)
  }

  /** `layout`: materialize `src` as the PRODUCTION layout the engine is
    * designed around in `dst`, so the headline run can scan real multi-file
    * data instead of the fixtures' single-row-group files:
    *
    *  - `lineitem` hive-partitioned by `l_returnflag`, `orders` by
    *    `o_orderpriority` (low-cardinality flags → static partition pruning
    *    and PartitionFilters on every returnflag/priority predicate);
    *  - every other table written as `files` parquet files (scan tasks
    *    parallelize from the first stage, no dfSpread crutch needed; the
    *    core-scaling probe needs every fact scan to open as ≥32 independent
    *    tasks so an 8-vs-32-core bench can discriminate).
    *
    * Then `SPARK_GRAFT_SF_DIR=<dstDir> runMain graft.Bench`. Reports the scan
    * lines of a returnflag-filtered bench query against the new layout so
    * the PartitionFilters evidence is capturable. */
  def layout(spark: SparkSession, src: String, dst: String, files: Int): String = {
    val partCols = Map("lineitem" -> "l_returnflag", "orders" -> "o_orderpriority")
    val singleFile = Set("region", "nation") // tiny dims: splitting buys nothing
    Tables.names.foreach { t =>
      val df = Tables.df(spark, src, t)
      val out = s"$dst/$t.parquet"
      partCols.get(t) match {
        // round-robin spread BEFORE the hive write: each of the N tasks
        // emits one file per partition value, so the fact lands as
        // N × |values| splittable files instead of one per value
        case Some(c) => Layout.writePartitioned(df.repartition(math.max(1, files / 2)), out, c)
        case None if singleFile(t) => df.coalesce(1).write.mode("overwrite").parquet(out)
        case None => df.repartition(files).write.mode("overwrite").parquet(out)
      }
    }
    val plan = SparkEntry.queries("tpch_q10_returned_items")(spark, dst)
      .queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val evidence = plan.linesIterator.filter(l => l.contains("PartitionFilters") ||
      l.contains("Scan parquet") || l.contains("PushedFilters")).map(_.trim).toSeq
    json("metric" -> "production_layout", "files" -> files, "dst" -> dst,
      "tpch_q10_scan_evidence" -> evidence, "sf" -> src)
  }

  /** (item, template with ?-placeholders, parameter bindings) of the
    * `prepared` suite. Shapes mirror the TPC-H headline set on the fixture
    * schema; bindings play the role of the reference runner's per-run random
    * substitutions (tpch_benchmark_item_runner.cpp draws them per execution)
    * with a deterministic set so runs are reproducible. */
  val preparedItems: Seq[(String, String, Seq[Seq[String]])] = Seq(
    ("q1_pricing",
      """SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,
        |SUM(l_extendedprice) AS sum_base, AVG(l_discount) AS avg_disc, COUNT(*) AS cnt
        |FROM lineitem WHERE l_shipdate <= date_sub(date '1998-12-01', ?)
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,
      Seq(Seq("60"), Seq("90"), Seq("120"))),
    ("q3_shipping",
      """SELECT o_orderkey, o_orderdate, SUM(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = ? AND o_orderdate < timestamp ? AND l_shipdate > timestamp ?
        |GROUP BY o_orderkey, o_orderdate ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,
      Seq(Seq("'BUILDING'", "'1995-03-15'", "'1995-03-15'"),
        Seq("'AUTOMOBILE'", "'1995-06-01'", "'1995-06-01'"),
        Seq("'MACHINERY'", "'1994-12-01'", "'1994-12-01'"))),
    ("q4_priority",
      """SELECT o_orderpriority, COUNT(*) AS order_count FROM orders
        |WHERE o_orderdate >= timestamp ? AND o_orderdate < timestamp ? + INTERVAL 3 MONTH
        |AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
      Seq(Seq("'1995-01-01'", "'1995-01-01'"),
        Seq("'1995-07-01'", "'1995-07-01'"),
        Seq("'1996-01-01'", "'1996-01-01'"))),
    ("q5_local_supplier",
      """SELECT n_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = ? AND o_orderdate >= timestamp ? AND o_orderdate < timestamp ? + INTERVAL 1 YEAR
        |GROUP BY n_name ORDER BY revenue DESC""".stripMargin,
      Seq(Seq("'ASIA'", "'1995-01-01'", "'1995-01-01'"),
        Seq("'EUROPE'", "'1996-01-01'", "'1996-01-01'"),
        Seq("'AMERICA'", "'1995-01-01'", "'1995-01-01'"))),
    ("q6_forecast",
      """SELECT SUM(l_extendedprice * l_discount) AS revenue FROM lineitem
        |WHERE l_shipdate >= timestamp ? AND l_shipdate < timestamp ? + INTERVAL 1 YEAR
        |AND l_discount BETWEEN ? - 0.01 AND ? + 0.01 AND l_quantity < ?""".stripMargin,
      Seq(Seq("'1995-01-01'", "'1995-01-01'", "0.05", "0.05", "24"),
        Seq("'1996-01-01'", "'1996-01-01'", "0.07", "0.07", "25"),
        Seq("'1995-01-01'", "'1995-01-01'", "0.03", "0.03", "24"))),
    ("q10_returned",
      """SELECT c_custkey, c_name, SUM(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderdate >= timestamp ? AND o_orderdate < timestamp ? + INTERVAL 3 MONTH
        |AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
      Seq(Seq("'1995-01-01'", "'1995-01-01'"),
        Seq("'1995-10-01'", "'1995-10-01'"),
        Seq("'1996-04-01'", "'1996-04-01'"))),
    ("q14_promo",
      """SELECT 100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |/ SUM(l_extendedprice * (1 - l_discount)) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= timestamp ? AND l_shipdate < timestamp ? + INTERVAL 1 MONTH""".stripMargin,
      Seq(Seq("'1995-09-01'", "'1995-09-01'"),
        Seq("'1995-03-01'", "'1995-03-01'"),
        Seq("'1996-06-01'", "'1996-06-01'"))),
    ("q18_large_volume",
      """SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice, SUM(l_quantity) AS total_qty
        |FROM customer JOIN orders ON c_custkey = o_custkey JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > ?)
        |GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
      Seq(Seq("210"), Seq("220"), Seq("200"))))

  /** Inline a binding into the template the same way Pipeline's EXECUTE does
    * (left-to-right `?` substitution) — used for the direct-mode twin. */
  private def bind(template: String, args: Seq[String]): String =
    args.foldLeft(template)((t, a) =>
      t.replaceFirst("\\?", java.util.regex.Matcher.quoteReplacement(a.trim)))

  /** `prepared`: the counterpart of the reference's
    * `--use_prepared_statements` flag (reference: src/benchmark/tpch_benchmark
    * .cpp:57,144-206 and src/benchmarklib/tpch/tpch_benchmark_item_runner.cpp):
    * each item is PREPAREd once with `?` placeholders, then every timed run
    * EXECUTEs it with a parameter binding, exercising the [[Pipeline]] plan
    * cache instead of cold SQL strings. Reported alongside the per-item
    * times (best over every binding):
    *  - plan-cache hits / misses / hit rate ([[Pipeline.planCacheStats]] over
    *    the GDFS cache — the reference's SQLPhysicalPlanCache counters)
    *  - `results_match` of `comparisons`: every (item, binding) EXECUTE
    *    compared row-for-row against the same SQL with literals inlined run
    *    on the raw session (no pipeline, no plan cache). */
  def prepared(spark: SparkSession, sfDir: String, runs: Int): String = {
    val p = fixturePipeline(spark, sfDir)
    def execute(name: String, binding: Seq[String]): DataFrame = {
      val stmt = s"EXECUTE $name (${binding.mkString(", ")})"
      val r = p.run(stmt).head
      require(r.status == p.Ok, s"$stmt → ${r.status}")
      r.df.getOrElse(sys.error(s"$stmt returned no result"))
    }
    def fingerprint(df: DataFrame): String = df.collect().map(_.toString).sorted.mkString("\n")

    preparedItems.foreach { case (name, tpl, _) =>
      val r = p.run(s"PREPARE $name AS ${tpl.replaceAll("\\s+", " ")}").head
      require(r.status == p.Ok, s"PREPARE $name → ${r.status}")
    }
    val checks = for ((name, tpl, bindings) <- preparedItems; b <- bindings) yield {
      val same = fingerprint(execute(name, b)) == fingerprint(spark.sql(bind(tpl, b)))
      if (!same) System.err.println(s"MISMATCH $name $b")
      same
    }
    val times = preparedItems.map { case (name, _, bindings) =>
      name -> bindings.map(b => best(runs)(noop(execute(name, b)))).min
    }

    val (hits, misses) = p.planCacheStats
    val hitRate = if (hits + misses == 0) 0.0 else hits.toDouble / (hits + misses)
    json("metric" -> "prepared_total", "value" -> times.map(_._2).sum, "unit" -> "sec",
      "queries" -> ListMap(times: _*), "plan_cache_hits" -> hits, "plan_cache_misses" -> misses,
      "plan_cache_hit_rate" -> hitRate, "results_match" -> checks.count(identity),
      "comparisons" -> checks.size, "runs" -> runs, "sf" -> sfDir)
  }

  /** The NAIVE join orders of the `semi-reduce` suite's six queries, keyed by
    * the registry name of the shipping, pre-reduced query. */
  val semiReduceNaive: ListMap[String, (SparkSession, String) => DataFrame] = {
    import Det._
    def net = dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount")))

    // q5: facts first, geography joined after
    def q5(s: SparkSession, dir: String): DataFrame = {
      def t(n: String) = Tables.df(s, dir, n)
      val c = t("customer")
      val o = t("orders")
        .filter(col("o_orderdate") >= "1996-01-01 00:00:00" && col("o_orderdate") < "1998-01-01 00:00:00")
      val l = t("lineitem")
      val sup = t("supplier")
      val n = t("nation")
      val r = t("region").filter(col("r_name") === "ASIA")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(sup), l("l_suppkey") === sup("s_suppkey") && c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("n_name")
        .agg(asDouble(sum(net)).as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }

    // q7: full customer and supplier joined before the nation filter
    def q7(s: SparkSession, dir: String): DataFrame = {
      def t(n: String) = Tables.df(s, dir, n)
      val n1 = t("nation").select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
      val n2 = t("nation").select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
      val l = t("lineitem")
        .filter(col("l_shipdate") >= "1996-01-01 00:00:00" && col("l_shipdate") < "1998-01-01 00:00:00")
      l.join(t("orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t("customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t("supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
        .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2")
          || (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"), year(col("l_shipdate")).as("l_year"))
        .agg(asDouble(sum(net)).as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }

    // q8: every region's customers ride the fact shuffles
    def q8(s: SparkSession, dir: String): DataFrame = {
      def t(n: String) = Tables.df(s, dir, n)
      val p = t("part").filter(col("p_type") === "STANDARD")
      val n1 = t("nation").select(col("n_nationkey").as("n1_key"), col("n_regionkey").as("n1_region"))
      val n2 = t("nation").select(col("n_nationkey").as("n2_key"), col("n_name").as("nation"))
      val r = t("region").filter(col("r_name") === "ASIA")
      val o = t("orders")
        .filter(col("o_orderdate") >= "1996-01-01 00:00:00" && col("o_orderdate") < "1998-01-01 00:00:00")
      t("lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(t("customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(t("supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("c_nationkey") === col("n1_key"))
        .join(broadcast(r), col("n1_region") === col("r_regionkey"))
        .join(broadcast(n2), col("s_nationkey") === col("n2_key"))
        .select(year(col("o_orderdate")).as("o_year"), net.as("volume"), col("nation"))
        .groupBy("o_year")
        .agg((asDouble(sum(when(col("nation") === "NATION_5", col("volume"))
            .otherwise(lit(0).cast("decimal(28,4)"))))
          / asDouble(sum(col("volume")))).as("mkt_share"))
        .orderBy("o_year")
    }

    // q9: the fact–fact orders join runs BEFORE the selective part filter,
    // so the full lineitem rides the shuffle (~25× the reduced rows)
    def q9(s: SparkSession, dir: String): DataFrame = {
      def t(n: String) = Tables.df(s, dir, n)
      val p = t("part").filter(col("p_name").like("%blue%"))
      val amount = net -
        lit(0.1).cast("decimal(2,1)") * dec(col("p_retailprice")) * dec(col("l_quantity"))
      t("lineitem")
        .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(t("supplier")), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(t("nation")), col("s_nationkey") === col("n_nationkey"))
        .select(col("n_name").as("nation"), year(col("o_orderdate")).as("o_year"), amount.as("amount"))
        .groupBy("nation", "o_year")
        .agg(asDouble(sum(col("amount"))).as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    }

    // q17: the correlated per-part average aggregates the WHOLE fact (a
    // full-fact shuffle) though only ~1/(25·50) parts are ever probed
    def q17(s: SparkSession, dir: String): DataFrame = {
      def t(n: String) = Tables.df(s, dir, n)
      val p = t("part").filter(col("p_brand") === "Brand#3" && col("p_size") === 5)
      val l = t("lineitem")
      val avgQty = l.groupBy(col("l_partkey").as("aq_partkey"))
        .agg((lit(0.2) * avg(col("l_quantity"))).as("qty_threshold"))
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(avgQty, col("l_partkey") === col("aq_partkey"))
        .filter(col("l_quantity") < col("qty_threshold"))
        .agg((asDouble(sum(dec(col("l_extendedprice")))) / lit(7.0)).as("avg_yearly"))
    }

    // q21: EXISTS / NOT EXISTS decorrelated into a semi + anti join —
    // lineitem scanned three times and shuffled three times
    def q21(s: SparkSession, dir: String): DataFrame = {
      def t(n: String) = Tables.df(s, dir, n)
      val n = t("nation").filter(col("n_name") === "NATION_3")
      val sup = t("supplier")
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name")
      val o = t("orders").filter(col("o_orderstatus") === "F")
        .select("o_orderkey", "o_orderdate")
      val late = col("l_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS")
      val l1 = t("lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .filter(late)
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      val l2 = t("lineitem")
        .select(col("l_orderkey").as("l2_orderkey"), col("l_suppkey").as("l2_suppkey"))
      val l3 = t("lineitem")
        .select(col("l_orderkey").as("l3_orderkey"), col("l_suppkey").as("l3_suppkey"),
          col("l_shipdate").as("l3_shipdate"))
      l1.join(l2, col("l_orderkey") === col("l2_orderkey")
          && col("l2_suppkey") =!= col("l_suppkey"), "left_semi")
        .join(l3, col("l_orderkey") === col("l3_orderkey")
          && col("l3_suppkey") =!= col("l_suppkey")
          && col("l3_shipdate") >= col("o_orderdate") + expr("INTERVAL 60 DAYS"), "left_anti")
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    }

    ListMap(
      "tpch_q5_local_supplier" -> (q5 _),
      "tpch_q7_volume_shipping" -> (q7 _),
      "tpch_q8_market_share" -> (q8 _),
      "tpch_q9_product_profit" -> (q9 _),
      "tpch_q17_small_quantity" -> (q17 _),
      "tpch_q21_waiting_suppliers" -> (q21 _))
  }

  /** `semi-reduce`: the measured counterpart of the reference's
    * SemiJoinReductionRule (reference:
    * src/lib/optimizer/strategy/semi_join_reduction_rule.cpp), which plants
    * a semi-join that shrinks a join input by the OTHER side's selective
    * predicate before the expensive join runs.
    *
    * The rewrite is ADOPTED in the shipping q5/q7/q8/q9/q17/q21
    * (`TpchQueries`, `TpchFullQueries`); [[semiReduceNaive]] keeps the NAIVE
    * join orders they replaced (pinned row-for-row by
    * `SemiJoinReductionSpec`) as the measured counterfactual, so the win can
    * be re-quantified at any scale — the reduction matters more each decade
    * because the naive variant's fact–fact shuffle grows linearly while the
    * reduced one carries only region-surviving rows (~1/5 for q5/q8, ~2/25
    * for q7). Each pair first passes a value-identity check: the rewrite
    * must be an equivalence, not a tweak. */
  def semiReduce(spark: SparkSession, sfDir: String, runs: Int): String = {
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    val entries = semiReduceNaive.toSeq.map { case (name, naive) =>
      val reduced = SparkEntry.queries(name)
      val (bv, rv) = (canon(naive(spark, sfDir)), canon(reduced(spark, sfDir)))
      require(bv == rv, s"$name: reduced variant changed the result!\n$bv\nvs\n$rv")
      val b = best(runs)(noop(naive(spark, sfDir)))
      val r = best(runs)(noop(reduced(spark, sfDir)))
      name -> ListMap("naive_sec" -> b, "reduced_sec" -> r, "speedup" -> b / r)
    }
    json("metric" -> "semijoin_prereduction", "unit" -> "sec", "sf" -> sfDir,
      "queries" -> ListMap(entries: _*))
  }

  /** `stream`: wall-clocks `processAllAvailable` over the fixture-backed file
    * streams and reports rows/sec per pipeline — whether the ingest-time
    * operators (map-only curation, bounded-state dedup, watermarked windowed
    * aggregation, CEP state machines) keep up with a production landing
    * rate. Batch==stream CORRECTNESS is StreamingSpec's job; this measures
    * cost. */
  def stream(spark: SparkSession, sfDir: String): String = {
    def timeStream(s: Dataset[_], mode: String = "append"): Double = {
      val q = s.writeStream.outputMode(mode).format("noop").start()
      secs(try q.processAllAvailable() finally q.stop())
    }
    val hasEvents = new java.io.File(s"$sfDir/events.parquet").exists()
    val nDocs = Tables.df(spark, sfDir, "documents").count()
    def docsSrc: DataFrame = DocStreams.source(spark, sfDir)
    def eventsSrc: DataFrame = EventStreams.source(spark, sfDir)

    val docResults = Seq(
      ("doc_curation", nDocs, timeStream(DocStreams.curated(docsSrc))),
      ("doc_dedup_bounded", nDocs, timeStream(DocStreams.dedupedByFingerprintBounded(docsSrc))))
    val results = if (!hasEvents) docResults else {
      val nEvents = Tables.df(spark, sfDir, "events").count()
      docResults ++ Seq(
        ("events_hourly", nEvents, timeStream(EventStreams.hourlyCounts(eventsSrc), mode = "update")),
        ("events_cep_patterns", nEvents, timeStream(EventStreams.patternFlags(spark, eventsSrc))))
    }
    val pipelines = results.map { case (n, rows, sec) =>
      n -> ListMap("rows" -> rows, "sec" -> sec, "rows_per_sec" -> (rows / sec).toLong)
    }
    json(Seq("metric" -> "stream_throughput", "unit" -> "rows_per_sec") ++ pipelines ++
      Seq("sf" -> sfDir): _*)
  }

  /** `tpcc`: TPC-C throughput — the OLTP counterpart of the headline run
    * (reference: src/benchmark/tpcc_benchmark.cpp runs the 5-procedure mix
    * and reports throughput; src/benchmarklib/tpcc/
    * tpcc_benchmark_item_runner.cpp:35-60 draws procedures with the spec's
    * 45/43/4/4/4 weights), in committed transactions/sec.
    *
    * Each of `clients` clients runs `txns` transactions through its own
    * [[Catalog]]+[[Pipeline]] over per-client working tables (the TPC-C
    * warehouse axis — clients are home-warehouse-disjoint by construction,
    * like the spec's 85%+ home-warehouse traffic), sharing one SparkSession.
    * The mix is the spec's ratio at small scale: per 25-txn block, 11
    * NewOrder, 11 Payment, 1 OrderStatus, 1 Delivery, 1 StockLevel.
    *
    * Because every committed write swaps an immutable DataFrame binding, plan
    * lineage deepens with each transaction; each working table is compacted
    * with `localCheckpoint` every 10 committed transactions — the Spark
    * counterpart of the reference's MVCC cleanup (reference:
    * src/lib/concurrency/commit_context.hpp + chunk compression jobs), and
    * the knob a long-running OLTP deployment of this engine would tune. */
  def tpcc(spark: SparkSession, sfDir: String, txns: Int, clients: Int): String = {
    val compactEvery = 10 // committed txns between lineage compactions
    // deterministic 25-txn mix block at the spec's 45/43/4/4/4 weights
    val block: Seq[String] =
      Seq.fill(11)("new_order") ++ Seq.fill(11)("payment") ++
        Seq("order_status", "delivery", "stock_level")

    def runClient(c: Int): Long = {
      val cat = new Catalog(spark)
      cat.register(s"src_ord_$c", Tables.df(spark, sfDir, "orders"))
      cat.register(s"src_cust_$c", Tables.df(spark, sfDir, "customer"))
      val p = new Pipeline(cat)
      def ok(sql: String) = p.sql(sql)
      ok(s"CREATE TABLE ord_$c AS SELECT o_orderkey, o_custkey, o_orderstatus FROM src_ord_$c WHERE o_custkey < 200")
      ok(s"CREATE TABLE cust_$c AS SELECT c_custkey, c_acctbal FROM src_cust_$c WHERE c_custkey < 200")
      ok(s"CREATE TABLE hist_$c AS SELECT CAST(0 AS BIGINT) AS h_custkey, CAST(0.0 AS DOUBLE) AS h_amount WHERE false")
      var committed = 0L
      var sinceCompact = 0L
      var i = 0
      while (committed < txns) {
        val proc = block(i % block.size); i += 1
        val k = 7 + (i * 13) % 190 // deterministic "random" customer
        proc match {
          case "new_order" =>
            ok("BEGIN")
            ok(s"INSERT INTO ord_$c SELECT MAX(o_orderkey) + 1, $k, 'O' FROM ord_$c")
            // read-your-writes: the line rows key on the STAGED max orderkey
            ok(s"INSERT INTO hist_$c SELECT MAX(o_orderkey), 61.0 FROM ord_$c")
            ok("COMMIT")
          case "payment" =>
            ok("BEGIN")
            ok(s"UPDATE cust_$c SET c_acctbal = c_acctbal - 15.0 WHERE c_custkey = $k")
            ok(s"INSERT INTO hist_$c VALUES ($k, 15.0)")
            ok("COMMIT")
          case "order_status" =>
            ok(s"SELECT MAX(o_orderkey) AS latest FROM ord_$c WHERE o_custkey = $k").collect()
          case "delivery" =>
            ok("BEGIN")
            (0 until 3).foreach { d => // 3 districts of the 10-district loop (bench-scaled)
              val m = ok(s"SELECT MIN(o_orderkey) AS m FROM ord_$c WHERE o_orderstatus = 'O' AND o_custkey % 10 = $d").collect()(0)
              if (!m.isNullAt(0)) {
                val oid = m.getLong(0)
                ok(s"UPDATE ord_$c SET o_orderstatus = 'F' WHERE o_orderkey = $oid")
                val ck = ok(s"SELECT o_custkey FROM ord_$c WHERE o_orderkey = $oid").collect()(0).getLong(0)
                ok(s"UPDATE cust_$c SET c_acctbal = c_acctbal + 10.0 WHERE c_custkey = $ck")
              }
            }
            ok("COMMIT")
          case "stock_level" =>
            ok(s"SELECT COUNT(DISTINCT o_custkey) AS n FROM ord_$c WHERE o_orderstatus = 'O' AND o_custkey % 10 < 2").collect()
        }
        committed += 1
        sinceCompact += 1
        if (sinceCompact >= compactEvery) {
          sinceCompact = 0
          Seq(s"ord_$c", s"cust_$c", s"hist_$c").foreach { n =>
            cat.register(n, cat.table(n).localCheckpoint())
          }
        }
      }
      committed
    }

    runClient(99) // one untimed warmup client exercises JIT + parquet footers
    var committed = Seq.empty[Long]
    val wall = secs { committed = concurrently(clients)(runClient) }
    val total = committed.sum
    json("metric" -> "tpcc_tx_per_sec", "value" -> total / wall, "unit" -> "tx/sec",
      "committed" -> total, "wall_sec" -> wall, "clients" -> clients,
      "txns_per_client" -> txns, "sf" -> sfDir)
  }

  /** `zorder`: what Z-ORDER clustering ([[Layout.writeZOrdered]]) buys. The
    * same selective 2-D predicate is timed against three physical layouts of
    * the same lineitem rows — unsorted, 1-D sorted (l_partkey), and z-ordered
    * (l_partkey, l_suppkey), 64 files each. With parquet filter pushdown,
    * row groups whose min/max rectangle misses the predicate are never
    * decompressed, so clustering quality IS scan cost: 1-D sort wins on its
    * own column and degenerates on the other; z-order stays tight on both.
    * Reports per-layout times for the 2-D predicate and each single-column
    * predicate. */
  def zorder(spark: SparkSession, sfDir: String): String = {
    val files = 64
    val li = Tables.df(spark, sfDir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice")
    val (pMin, pMax, sMin, sMax) = {
      val r = li.agg(min("l_partkey"), max("l_partkey"), min("l_suppkey"), max("l_suppkey")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // ~1% selectivity per dimension
    def band(lo: Long, hi: Long): (Long, Long) = {
      val w = math.max(1L, (hi - lo) / 100); val a = lo + (hi - lo) / 3; (a, a + w)
    }
    val (pa, pb) = band(pMin, pMax); val (sa, sb) = band(sMin, sMax)

    val base = java.nio.file.Files.createTempDirectory("graft_zbench").toString
    li.repartition(files).write.mode("overwrite").parquet(s"$base/unsorted")
    li.repartitionByRange(files, col("l_partkey")).sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$base/sorted1d")
    Layout.writeZOrdered(li, s"$base/zorder", "l_partkey", "l_suppkey", files)

    def timeQ(path: String, pred: Column): Double =
      secs(spark.read.parquet(path).filter(pred).agg(sum("l_quantity"), sum("l_extendedprice")).collect())
    val p2d = col("l_partkey").between(pa, pb) && col("l_suppkey").between(sa, sb)
    val pP = col("l_partkey").between(pa, pb)
    val pS = col("l_suppkey").between(sa, sb)
    val layouts = Seq("unsorted", "sorted1d", "zorder")
    // warm the page cache evenly, then time
    layouts.foreach(l => timeQ(s"$base/$l", p2d))
    val out = layouts.map { l =>
      val d = s"$base/$l"
      l -> ListMap("both_cols" -> timeQ(d, p2d), "partkey_only" -> timeQ(d, pP),
        "suppkey_only" -> timeQ(d, pS))
    }
    json(Seq("metric" -> "zorder_skipping", "unit" -> "sec", "rows" -> li.count(), "files" -> files) ++
      out ++ Seq("sf" -> sfDir): _*)
  }
}
