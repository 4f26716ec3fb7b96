package graft

import java.io.{BufferedReader, InputStreamReader, PrintStream}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.sources.Tables

/** Interactive SQL entry point — the reference engine's primary UX
  * (`/root/reference/src/query_engine/src/cli.rs:1-158` is a readline
  * loop over its SQL executor). graft is a library; this main closes
  * the same loop over `spark.sql` with every table registered and the
  * graft extension functions installed, so a user can type the
  * reference's slt-style statements interactively.
  *
  * One statement per line (a trailing `;` is fine): any Spark SQL;
  * `explain <query>` renders the formatted physical plan (the q27
  * renderer); `COPY t FROM 'f.csv' (DELIMITER '|', HEADER false)`
  * and `COPY t|(query) TO 'path'` (see [[execCopy]]);
  * `quit`/`exit`/EOF ends the session.
  *
  * `sbt "runMain graft.Shell [sfDir]"`
  */
object Shell {

  val MaxRows = 100

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"))
    val cpus = Env.num("SPARK_GRAFT_CPUS", "4")(_.toInt)
    val spark = graft.api.GraftSession
      .builder("graft-shell", s"local[$cpus]", Some(cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Tables.registerAll(spark, sfDir)
    repl(spark, new BufferedReader(new InputStreamReader(System.in)), System.out)
    spark.stop()
  }

  /** Read-eval-print one statement per line until EOF or quit.
    * Separated from [[main]] so specs drive it with scripted input. */
  def repl(spark: SparkSession, in: BufferedReader, out: PrintStream): Unit = {
    out.print("graft> ")
    out.flush()
    var line: String = null
    while ({ line = in.readLine(); line != null }) {
      val stmt = line.trim.stripSuffix(";").trim
      val lower = stmt.toLowerCase
      if (lower == "quit" || lower == "exit") return
      else if (stmt.nonEmpty) {
        try {
          if (lower.startsWith("explain ")) {
            out.println(spark.sql(stmt.substring("explain ".length))
              .queryExecution.explainString(FormattedMode))
          } else if (lower.startsWith("copy ")) {
            out.println(execCopy(spark, stmt))
          } else {
            val df = spark.sql(stmt)
            val rows = df.take(MaxRows + 1)
            out.println(df.columns.mkString("\t"))
            rows.take(MaxRows).foreach { r =>
              out.println((0 until r.length)
                .map(i => String.valueOf(r.get(i))).mkString("\t"))
            }
            if (rows.length > MaxRows)
              out.println(s"... (truncated at $MaxRows rows)")
          }
        } catch {
          case e: Exception =>
            out.println("error: " + Option(e.getMessage).getOrElse(e.toString)
              .linesIterator.take(5).mkString("\n"))
        }
      }
      out.print("graft> ")
      out.flush()
    }
  }

  private val CopyRe =
    """(?is)copy\s+(\(.+\)|[\w.]+)\s*(?:\(([\w\s,]+)\))?\s+(from|to)\s+'([^']+)'\s*(?:\((.*)\))?\s*""".r

  /** `COPY` statement — the reference desugars `COPY t FROM 'f.csv'
    * (DELIMITER '|', HEADER false)` into
    * `INSERT INTO t SELECT * FROM read_csv('f.csv', ...)`
    * (`query_engine/src/planner/binder/statement/bind_copy.rs:10-64`)
    * and rejects `COPY ... TO`. graft does the same desugar — the CSV
    * is read through the distributed [[graft.sources.CsvSource]]
    * scan, parsed directly into the TARGET table's declared schema
    * (the reference's read path does the same via the bound insert
    * cast), and inserted via Spark SQL — and additionally supports
    * the export direction: `COPY t TO 'dir'` / `COPY (query) TO
    * 'dir'` as a distributed csv/parquet directory write (format by
    * extension or `FORMAT x` option; a driver-side single-file write
    * would not survive a large result). */
  def execCopy(spark: SparkSession, stmt: String): String = stmt.trim
    .stripSuffix(";") match {
    case CopyRe(src, cols, dirn, path, opts) =>
      val o = Option(opts).getOrElse("").split(",").map(_.trim)
        .filter(_.nonEmpty).map { t =>
          val kv = t.split("\\s+", 2)
          kv(0).toUpperCase -> (if (kv.length > 1) kv(1).trim else "")
        }.toMap
      val delim = o.get("DELIMITER").map(_.stripPrefix("'").stripSuffix("'"))
        .getOrElse(",")
      val header = o.get("HEADER").forall(v => v.isEmpty || v.toBoolean)
      if (dirn.equalsIgnoreCase("from")) {
        val colList = Option(cols).map(_.split(",").map(_.trim).toSeq)
        val src0 = spark.read
          .option("header", header.toString).option("sep", delim)
          .schema(colList match {
            case None => spark.table(src).schema
            case Some(cs) =>
              org.apache.spark.sql.types.StructType(
                spark.table(src).schema.filter(f => cs.contains(f.name)))
          })
          .csv(path)
        // one scan per COPY: the "COPY n" echo rides the INSERT's own
        // scan as a CollectMetrics observation instead of a separate
        // count() pass — at 100 TB the old shape read the source twice
        val obs = org.apache.spark.sql.Observation()
        src0.observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"))
          .createOrReplaceTempView("graft_copy_src")
        spark.sql(s"INSERT INTO $src" +
          colList.map(_.mkString("(", ",", ")")).getOrElse("") +
          " SELECT * FROM graft_copy_src")
        s"COPY ${obs.get("n")}"
      } else {
        val df = if (src.startsWith("("))
          spark.sql(src.stripPrefix("(").stripSuffix(")"))
        else spark.table(src)
        val fmt = o.get("FORMAT").map(_.toLowerCase).getOrElse(
          if (path.endsWith(".parquet")) "parquet" else "csv")
        // same single-pass contract as FROM: the count observes the
        // export write itself rather than recomputing the query
        val obs = org.apache.spark.sql.Observation()
        val w = df.observe(obs, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n")).write.mode("overwrite")
        (if (fmt == "csv")
          w.option("header", header.toString).option("sep", delim)
        else w).format(fmt).save(path)
        s"COPY ${obs.get("n")}"
      }
    case _ => "error: cannot parse COPY statement (expected " +
      "COPY t [(cols)] FROM 'file' [(opts)] | COPY t|(query) TO 'path' [(opts)])"
  }
}
