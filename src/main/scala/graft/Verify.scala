package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** DuckDB cast target that makes the oracle's pandas dtype match the Spark
    * parquet dtype for the driver's hash compare. Only numeric types need
    * this: DuckDB SUM(INTEGER/BIGINT) returns HUGEINT, which pandas converts
    * to float64 — so a Spark bigint 1158 hashes against a DuckDB 1158.0 and
    * the driver records hash_match=false even though check.py's float-coerced
    * compare passes (round-2 failure class: cte, project_json_extract,
    * corpus_l124, ...). Decimal sums similarly surface as Decimal-vs-float.
    * Non-numeric types (strings, dates, timestamps, booleans, arrays) pass
    * through untouched — casting them could change formatting.
    * FloatType is also left alone: a float32↔float64 round-trip would change
    * the printed repr on exactly one side. */
  private def duckCast(dt: DataType): Option[String] = dt match {
    case LongType | IntegerType | ShortType | ByteType => Some("BIGINT")
    case DoubleType => Some("DOUBLE")
    // Decimal outputs are canonicalized to DOUBLE on the Spark side below
    // (DuckDB's pandas bridge renders DECIMAL as float64, so a Spark
    // Decimal("52.00") vs DuckDB 52.0 would hash-mismatch); mirror that here.
    case _: DecimalType => Some("DOUBLE")
    // date_trunc and date arithmetic return TIMESTAMP in DuckDB where Spark
    // declares DATE; cast back so pandas sees datetime.date on both sides.
    case DateType => Some("DATE")
    case _ => None
  }

  private def quoteIdent(s: String): String = "\"" + s.replace("\"", "\"\"") + "\""

  /** Split a (possibly multi-statement) oracle script at top-level semicolons,
    * respecting single-quoted strings ('' escape) and double-quoted idents,
    * and return (preamble-incl-semicolon, final statement). */
  private[graft] def splitLastStatement(sql: String): (String, String) = {
    // a ';' terminates the script (is NOT a split point) when only whitespace
    // and `--` line comments follow — "SELECT 1; -- done" has no next statement
    def hasStatementAfter(idx: Int): Boolean = {
      var j = idx
      while (j < sql.length) {
        val c = sql.charAt(j)
        if (c.isWhitespace) j += 1
        else if (c == '-' && j + 1 < sql.length && sql.charAt(j + 1) == '-') {
          while (j < sql.length && sql.charAt(j) != '\n') j += 1
        } else return true
      }
      false
    }
    var inStr = false; var inIdent = false; var last = -1; var i = 0
    while (i < sql.length) {
      val c = sql.charAt(i)
      if (inStr) { if (c == '\'') { if (i + 1 < sql.length && sql.charAt(i + 1) == '\'') i += 1 else inStr = false } }
      else if (inIdent) { if (c == '"') inIdent = false }
      else c match {
        case '\'' => inStr = true
        case '"'  => inIdent = true
        // `--` comment: skip to end-of-line so a `;` inside it is not a split
        case '-' if i + 1 < sql.length && sql.charAt(i + 1) == '-' =>
          while (i < sql.length && sql.charAt(i) != '\n') i += 1
        case ';' if hasStatementAfter(i + 1) => last = i
        case _ => ()
      }
      i += 1
    }
    if (last < 0) ("", sql) else (sql.substring(0, last + 1), sql.substring(last + 1))
  }

  /** Truncate a final statement at its terminating ';' so it can be wrapped as
    * a subquery. Any top-level ';' inside the final statement is by
    * construction (splitLastStatement) followed only by whitespace and `--`
    * comments, so cutting at the first one drops exactly the trailer —
    * "SELECT n FROM t; -- done" → "SELECT n FROM t". */
  private[graft] def stripTerminator(stmt: String): String = {
    var inStr = false; var inIdent = false; var i = 0
    while (i < stmt.length) {
      val c = stmt.charAt(i)
      if (inStr) { if (c == '\'') { if (i + 1 < stmt.length && stmt.charAt(i + 1) == '\'') i += 1 else inStr = false } }
      else if (inIdent) { if (c == '"') inIdent = false }
      else c match {
        case '\'' => inStr = true
        case '"'  => inIdent = true
        case '-' if i + 1 < stmt.length && stmt.charAt(i + 1) == '-' =>
          while (i < stmt.length && stmt.charAt(i) != '\n') i += 1
        case ';' => return stmt.substring(0, i)
        case _ => ()
      }
      i += 1
    }
    stmt
  }

  /** Wrap the oracle's final statement so every numeric output column is cast
    * to the Spark result's type. Leaves the oracle unchanged when no column
    * needs a cast (most queries) or when the Spark schema is unknown. */
  private[graft] def canonOracle(sql: String, schema: Option[StructType]): String =
    schema match {
      // duplicate output names would make the wrapping SELECT a binder error
      // in DuckDB — fall back to the unwrapped SQL rather than break a
      // previously-working oracle
      case Some(st) if st.fields.exists(f => duckCast(f.dataType).isDefined)
          && st.fieldNames.distinct.length == st.fieldNames.length =>
        val items = st.fields.map { f =>
          val id = quoteIdent(f.name)
          duckCast(f.dataType) match {
            case Some(t) => s"CAST($id AS $t) AS $id"
            case None => id
          }
        }
        val (pre, fin) = splitLastStatement(sql)
        // a trailing `;` (even one followed by a -- comment) would end the
        // subquery early — strip it with quote-awareness
        s"$pre SELECT ${items.mkString(", ")} FROM (${stripTerminator(fin).trim}) __typed"
      case _ => sql
    }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in query SQL would otherwise make a JSON reader
    * such as Python's json.load fail on the whole file. */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: only run queries whose name starts with this prefix
    // (local iteration aid; the driver always calls with 2 args = run all)
    val prefix = if (args.length > 2) args(2) else ""
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.tuned(
      SparkSession.builder().master(s"local[$cpus]").appName("graft-verify"),
      shufflePartitions = cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val schemas = scala.collection.mutable.Map.empty[String, StructType]
    SparkEntry.queries.filter(_._1.startsWith(prefix)).foreach { case (name, fn) =>
      try {
        val raw = fn(spark, sfDir)
        // Canonicalize decimal outputs to double so both engines' pandas
        // dtype agree (both sides round the same exact decimal → same bits).
        val df =
          if (!raw.schema.exists(_.dataType.isInstanceOf[DecimalType])) raw
          else raw.select(raw.schema.fields.map { f =>
            if (f.dataType.isInstanceOf[DecimalType])
              org.apache.spark.sql.functions.col(s"`${f.name}`").cast(DoubleType).as(f.name)
            else org.apache.spark.sql.functions.col(s"`${f.name}`")
          }.toIndexedSeq: _*)
        schemas(name) = df.schema
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter(_._1.startsWith(prefix))
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(canonOracle(v, schemas.get(k)))}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    println(s"[verify] ${operators.CorpusQueries.notRun} corpus entries not run")
    spark.stop()
  }
}
