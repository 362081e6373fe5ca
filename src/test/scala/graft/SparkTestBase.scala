package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (SURVEY §5 → one fixture
  * session like the reference's BaseTest). */
object SparkTestBase {
  lazy val spark: SparkSession = GraftSession.create("local[4]", shufflePartitions = 4)
  val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs started while `f` runs. The listener bus is drained before
    * the listener is attached and again before it is read, so the count
    * holds exactly the jobs `f` launched. */
  def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.TestBus.drain(sc) }
    finally sc.removeSparkListener(listener)
    jobs.get
  }

  /** The JSON report a [[Bench]] suite body returns, which must be its only
    * output: nothing else on stdout and exactly one line. */
  def jsonLine(run: => String): com.fasterxml.jackson.databind.JsonNode = {
    val out = new java.io.ByteArrayOutputStream
    val line = scala.Console.withOut(out)(run)
    assert(out.size == 0, s"printed besides the JSON line: $out")
    assert(!line.contains('\n'), s"not one line: $line")
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
  }
}
