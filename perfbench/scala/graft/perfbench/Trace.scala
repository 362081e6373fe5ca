package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. `parent` is the enclosing span (0 = none),
  * `op` the benchmark operation it belongs to (0 = set-up), `label` names
  * what ran (query, statement template or transaction type). */
final case class Span(id: Long, name: String, label: String, start: Long, end: Long,
    parent: Long, op: Long, stage: String)

/** In-memory span recorder around the harness's calls into each layer.
  *
  * While `on`, [[span]] records a [[Span]] and tags every Spark job the call
  * launches with the span's name (the `perfbench.phase` local property) and
  * the current op id (`perfbench.op`), so [[SparkCounters]] can attribute
  * jobs, stages and tasks to layers. While off, [[span]] only runs its body. */
final class Tracer {
  @volatile var on = false
  @volatile var stage = "setup"
  @volatile var sc: SparkContext = _
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  private val currentOp = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  def newOpId(): Long = ids.incrementAndGet()

  /** Run `body` as operation `opId`: a root span named "op". */
  def op[T](opId: Long, label: String)(body: => T): T = {
    currentOp.set(opId)
    try span("op", label)(body) finally currentOp.set(0L)
  }

  def span[T](name: String, label: String = "")(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val op = currentOp.get.longValue
      stack.set((id, name) :: outer)
      setPhase(name, op)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        setPhase(outer.headOption.map(_._2).orNull, op)
        spans.add(Span(id, name, label, t0, t1, outer.headOption.map(_._1).getOrElse(0L), op, stage))
      }
    }

  private def setPhase(name: String, op: Long): Unit =
    if (sc != null) {
      sc.setLocalProperty("perfbench.phase", name)
      sc.setLocalProperty("perfbench.op", if (name == null) null else op.toString)
    }

  def recorded: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Per-layer Spark execution counts from the public listener hook. Jobs
  * carry the phase/op the [[Tracer]] set when they started; a stage counts
  * towards the phase of the job that submitted it. Counts accumulate while
  * `active`; callers drain the bus and take [[snapshot]] deltas. */
final class SparkCounters extends SparkListener {
  @volatile var active = false
  private val stagePhase = mutable.Map.empty[Int, String]
  private val byPhase = mutable.Map.empty[String, Array[Double]]
  private val jobsByOp = mutable.Map.empty[(Long, String), Long]

  // jobs, stages, tasks, run_s, cpu_s, gc_s, input_b, shuffle_w_b, shuffle_r_b, spill_b
  val fields: Seq[String] = Seq("jobs", "stages", "tasks", "task_run_s", "task_cpu_s",
    "task_gc_s", "input_b", "shuffle_write_b", "shuffle_read_b", "spill_b")

  private def acc(phase: String): Array[Double] =
    byPhase.getOrElseUpdate(phase, new Array[Double](fields.size))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    val props = Option(e.properties)
    val phase = props.flatMap(p => Option(p.getProperty("perfbench.phase"))).getOrElse("other")
    val op = props.flatMap(p => Option(p.getProperty("perfbench.op"))).map(_.toLong).getOrElse(0L)
    acc(phase)(0) += 1
    jobsByOp((op, phase)) = jobsByOp.getOrElse((op, phase), 0L) + 1
    e.stageInfos.foreach(s => stagePhase(s.stageId) = phase)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) synchronized {
    val info = e.stageInfo
    val a = acc(stagePhase.remove(info.stageId).getOrElse("other"))
    a(1) += 1
    a(2) += info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      a(3) += m.executorRunTime / 1e3
      a(4) += m.executorCpuTime / 1e9
      a(5) += m.jvmGCTime / 1e3
      a(6) += m.inputMetrics.bytesRead
      a(7) += m.shuffleWriteMetrics.bytesWritten
      a(8) += m.shuffleReadMetrics.totalBytesRead
      a(9) += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot(): Map[String, Map[String, Double]] = synchronized {
    byPhase.map { case (p, a) => p -> fields.zip(a).toMap }.toMap
  }

  def jobsPerOp(): Map[(Long, String), Long] = synchronized(jobsByOp.toMap)
}

/** Catalyst phase times and graft rule activity per planned query, from the
  * public QueryExecutionListener hook. A plan reused from the Pipeline's memo
  * reports its original tracker again; each tracker is counted once. */
final class PlanCounters extends QueryExecutionListener {
  @volatile var active = false
  private val seen = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryPlanningTracker, java.lang.Boolean]())
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def record(qe: QueryExecution): Unit = if (active) synchronized {
    val t = qe.tracker
    if (seen.add(t)) {
      t.phases.foreach { case (phase, s) => totals(s"${phase}_s") += s.durationMs / 1e3 }
      t.rules.foreach { case (rule, s) =>
        if (rule.startsWith("graft.")) {
          totals("graft_rules_invoked") += s.numInvocations
          totals("graft_rules_effective") += s.numEffectiveInvocations
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  def snapshot(): Map[String, Double] = synchronized(totals.toMap)
}

/** Minimal JSON rendering for the harness's result file. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b @ (_: Boolean | _: Int | _: Long) => b.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(String.valueOf(other))
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
