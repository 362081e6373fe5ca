package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftSession

/** One measured operation: what ran, its wall time and whether it succeeded. */
final case class OpSample(label: String, seconds: Double, ok: Boolean)

/** What one timed window produced. */
final case class WindowResult(wall: Double, samples: Seq[OpSample], memoHits: Long,
    memoMisses: Long, conflicts: Long, errors: Seq[String])

/** One correctness verdict, made outside the timed window. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A workload: set-up on a fresh session, a closed-loop timed window, and
  * correctness checks on the final state. */
trait Workload {
  /** Resolve and register tables on a fresh session; once per set-up iteration. */
  def setup(spark: SparkSession, tracer: Tracer): Unit
  /** JIT warm-up on the last session, once per process. */
  def warmup(spark: SparkSession, tracer: Tracer, out: Path): Unit
  def window(spark: SparkSession, tracer: Tracer, seconds: Double): WindowResult
  /** In-process checks; results that DuckDB must confirm are written under
    * `outDir` with an `oracle_sql.json` for tools/check.py. */
  def check(spark: SparkSession, outDir: Path): Seq[Check]
}

/** Benchmark harness: builds the engine's session the way its entry points
  * do, runs one workload's set-up several times and its warm-up once, then
  * an untraced timed window (with `--trace 1` followed by a traced window,
  * with spans and listeners on), measures
  * retained heap, checks correctness and writes everything to
  * `<out>/result.json` and `<out>/spans.jsonl`. perfbench/run.py computes
  * the statistics.
  *
  * Arguments: --workload W --data DIR --inputs DIR --seconds S --trace 0|1
  * --out DIR --cores N. */
object Harness {
  /** Set-up iterations per run; `setup_s` takes their median. */
  private val Setups = 3

  def main(args: Array[String]): Unit = {
    val mainEntry = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val out = Paths.get(opt("out"))
    Files.createDirectories(out)
    val overrides = sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted
    require(overrides.isEmpty, s"refusing ambient engine overrides: ${overrides.mkString(", ")}")
    val dataDir = opt("data")
    Seq("_layout", "_rollup").foreach { d =>
      require(!Files.exists(Paths.get(dataDir, d)),
        s"refusing $dataDir: it carries $d/, so numbers would not be FLAT numbers")
    }
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val inputs = Paths.get(opt("inputs"))
    val workload: Workload = opt("workload") match {
      case "olap_headline" => new OlapHeadline(dataDir, inputs)
      case "txn_mixed" => new TxnMixed(dataDir, inputs)
      case w => sys.error(s"unknown workload $w")
    }

    val tracer = new Tracer
    val sparkCounters = new SparkCounters
    val planCounters = new PlanCounters
    tracer.on = traced
    sparkCounters.active = traced
    planCounters.active = traced

    def newSession(): SparkSession = {
      val spark = tracer.span("session") {
        GraftSession.tuned(
          SparkSession.builder().master(s"local[$cores]").appName("perfbench")
            .config("spark.local.dir", out.resolve("spark-local").toAbsolutePath.toString)
            .config("spark.sql.warehouse.dir", out.resolve("warehouse").toAbsolutePath.toString),
          shufflePartitions = cores).getOrCreate()
      }
      spark.sparkContext.setLogLevel("ERROR")
      tracer.sc = spark.sparkContext
      if (traced) {
        spark.sparkContext.addSparkListener(sparkCounters)
        spark.listenerManager.register(planCounters)
      }
      spark
    }
    def stop(spark: SparkSession): Unit = {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    def drain(spark: SparkSession): Unit = BenchBus.drain(spark.sparkContext)

    // ---- set-up: session build + table registration, Setups times; then warmup
    val setups = mutable.Buffer.empty[Map[String, Double]]
    var spark: SparkSession = null
    (1 to Setups).foreach { i =>
      if (spark != null) stop(spark)
      val before = if (traced) sparkCounters.snapshot() else Map.empty[String, Map[String, Double]]
      val t0 = if (i == 1) mainEntry else System.nanoTime()
      val s0 = System.nanoTime()
      var s1 = 0L
      tracer.span("setup", s"setup$i") {
        spark = newSession()
        s1 = System.nanoTime()
        workload.setup(spark, tracer)
      }
      val t1 = System.nanoTime()
      val jobs = if (!traced) 0.0 else {
        drain(spark)
        val after = sparkCounters.snapshot()
        after.get("tables").map(_("jobs")).getOrElse(0.0) -
          before.get("tables").map(_("jobs")).getOrElse(0.0)
      }
      setups += Map("total_s" -> (t1 - t0) / 1e9, "session_s" -> (s1 - s0) / 1e9,
        "table_resolve_jobs" -> jobs)
    }
    val w0 = System.nanoTime()
    tracer.span("setup", "warmup")(workload.warmup(spark, tracer, out))
    val warmupSeconds = (System.nanoTime() - w0) / 1e9

    // ---- untraced timed window (end-to-end numbers come from here)
    tracer.on = false
    sparkCounters.active = false
    planCounters.active = false
    val gcBefore = gcSeconds()
    val plain = workload.window(spark, tracer, seconds)
    val plainGc = gcSeconds() - gcBefore
    val heapMb = retainedHeapMb()

    // ---- traced window
    val tracedOut = if (!traced) None else {
      drain(spark)
      val sc0 = sparkCounters.snapshot()
      val pc0 = planCounters.snapshot()
      tracer.stage = "window"
      tracer.on = true
      sparkCounters.active = true
      planCounters.active = true
      val g0 = gcSeconds()
      val w = workload.window(spark, tracer, seconds)
      val gc = gcSeconds() - g0
      tracer.on = false
      drain(spark)
      sparkCounters.active = false
      planCounters.active = false
      val sc1 = sparkCounters.snapshot()
      val pc1 = planCounters.snapshot()
      val spark1 = sc1.map { case (p, m) =>
        p -> m.map { case (k, v) => k -> (v - sc0.get(p).flatMap(_.get(k)).getOrElse(0.0)) }
      }
      val plan1 = pc1.map { case (k, v) => k -> (v - pc0.getOrElse(k, 0.0)) }
      val jobsByOp = sparkCounters.jobsPerOp().toSeq.collect {
        case ((op, phase), n) if op != 0 => Map("op" -> op, "phase" -> phase, "jobs" -> n)
      }
      Some((w, gc, spark1, plan1, jobsByOp))
    }

    // ---- correctness, outside every timed window
    val checks = workload.check(spark, out)
    val env = envInfo(spark, cores)

    val spanLines = tracer.recorded.map { s =>
      Json(Map("id" -> s.id, "name" -> s.name, "label" -> s.label, "start" -> s.start,
        "end" -> s.end, "parent" -> s.parent, "op" -> s.op, "stage" -> s.stage))
    }
    Files.write(out.resolve("spans.jsonl"), spanLines.asJava, UTF_8)
    def windowJson(w: WindowResult, gc: Double): Map[String, Any] = Map(
      "wall_s" -> w.wall, "gc_s" -> gc, "memo_hits" -> w.memoHits, "memo_misses" -> w.memoMisses,
      "conflicts" -> w.conflicts, "errors" -> w.errors.take(5),
      "samples" -> w.samples.map(s => Seq(s.label, s.seconds, s.ok)))
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> opt("workload"), "env" -> env, "setups" -> setups.toSeq,
      "warmup_s" -> warmupSeconds, "heap_mb" -> heapMb,
      "untraced" -> windowJson(plain, plainGc),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)))
    tracedOut.foreach { case (w, gc, sp, plan, jobsByOp) =>
      result("traced") = windowJson(w, gc) ++ Map("spark" -> sp, "plan" -> plan, "jobs_by_op" -> jobsByOp)
    }
    Files.writeString(out.resolve("result.json"), Json(result))
    // Spark leaves non-daemon threads behind; exiting runs its shutdown hook,
    // which stops the session
    System.exit(0)
  }

  private def collectorSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  @volatile private var settleGc = 0.0

  /** Driver GC time so far, leaving out the collections [[settle]] forces. */
  def gcSeconds(): Double = collectorSeconds() - settleGc

  /** A full GC, then a pause in which Spark's ContextCleaner drops the
    * shuffles and broadcasts the collection released. */
  def settle(): Unit = {
    val g0 = collectorSeconds()
    System.gc()
    settleGc += collectorSeconds() - g0
    Thread.sleep(100)
  }

  /** Driver heap still in use after full collections. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach(_ => settle())
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private def envInfo(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "cores" -> cores,
    "default_parallelism" -> spark.sparkContext.defaultParallelism,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "spark_version" -> spark.version,
    "java_version" -> System.getProperty("java.version"),
    "conf" -> spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
      .toMap)

  /** Time `body` as one op; failures are counted, never thrown. */
  def timedOp(tracer: Tracer, label: String, errors: mutable.Buffer[String])(body: => Boolean): OpSample = {
    val id = tracer.newOpId()
    val t0 = System.nanoTime()
    val ok =
      try tracer.op(id, label)(body)
      catch { case e: Throwable =>
        errors.synchronized { if (errors.size < 20) errors += s"$label: ${e.getMessage}" }
        false
      }
    OpSample(label, (System.nanoTime() - t0) / 1e9, ok)
  }

  def lines(p: Path): Seq[String] =
    Files.readAllLines(p, UTF_8).asScala.toSeq.map(_.trim).filter(_.nonEmpty)

  /** Canonical result form for the DuckDB comparison: decimals as doubles,
    * one parquet file (tools/check.py reads the first file of each dir). */
  def writeResult(df: DataFrame, path: Path): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val canon = df.select(df.schema.fields.toSeq.map { f =>
      if (f.dataType.isInstanceOf[DecimalType]) col(s"`${f.name}`").cast(DoubleType).as(f.name)
      else col(s"`${f.name}`")
    }: _*)
    canon.coalesce(1).write.mode("overwrite").parquet(path.toString)
    canon.schema
  }
}
