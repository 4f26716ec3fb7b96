package graftbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._

import graft.kv.{KVLog, KVTable, Wal}

/** The write workload: a KV log under `root`, driven in cycles of one
  * seeded append, point gets that favour recent keys, one range scan,
  * and a compaction every `CompactEvery` appends.
  *
  * Keys are Zipf-skewed over a seeded key permutation, so later
  * batches overwrite and tombstone earlier keys. An in-memory model of
  * latest-value-per-key checks every get and scan. Compaction writes
  * the merged table as a new base directory beside the log and removes
  * the runs it folded in, so reads list one base plus the runs
  * appended since. */
final class KvIngest(spark: SparkSession, root: String, seed: Long) {
  import KvIngest._

  private val rng = new java.util.Random(seed)
  private val keyOfRank: Array[Long] = {
    val ks = Array.tabulate(KeySpace)(_.toLong)
    for (i <- ks.indices.reverse) {
      val j = rng.nextInt(i + 1); val t = ks(i); ks(i) = ks(j); ks(j) = t
    }
    ks
  }
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(KeySpace)(r => 1.0 / math.pow(r + 1, 1.1))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }
  private def zipfKey(): Long = {
    val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
    keyOfRank(math.min(if (i >= 0) i else -i - 1, KeySpace - 1))
  }

  val log: KVLog = KVLog(s"$root/log", "key", "seq", "tombstone")
  private var base: Option[String] = None
  private var compactions = 0
  private var appendsSinceCompact = 0
  private var seq = 0L
  private var lastBatchKeys: Array[Long] = Array.empty
  private var knownRuns: Set[String] = Set.empty
  /** latest (seq, tombstone, v) per key over every acknowledged append */
  val model = mutable.HashMap[Long, (Long, Boolean, Double)]()

  var rowsAppended = 0L
  var bytesWritten = 0L
  var compactBytes = 0L
  val appendedRecords = mutable.ArrayBuffer[Wal.Record]()

  /** One cycle's op sequence; the caller times each step. */
  def cycle(): Seq[(String, Step)] = {
    val steps = mutable.ArrayBuffer[(String, Step)]("append" -> appendStep())
    (1 to GetsPerCycle).foreach { _ =>
      val key = if (rng.nextDouble() < 0.7 && lastBatchKeys.nonEmpty)
        lastBatchKeys(rng.nextInt(lastBatchKeys.length)) else zipfKey()
      steps += "get" -> getStep(key)
    }
    val lo = rng.nextInt(KeySpace - ScanWidth).toLong
    steps += "scan" -> scanStep(lo, lo + ScanWidth - 1)
    if (appendsSinceCompact + 1 >= CompactEvery) steps += "compact" -> compactStep()
    steps.toSeq
  }

  private def appendStep(): Step = {
    val rows = (0 until BatchRows).map { _ =>
      seq += 1
      Row(zipfKey(), seq, rng.nextDouble() < 0.1, math.floor(rng.nextDouble() * 1e6) / 100)
    }
    Step(
      build = () => spark.createDataFrame(rows.asJava, Schema),
      run = df => log.append(df),
      check = _ => {
        val runs = log.committedRuns
        bytesWritten += runs.filterNot(knownRuns).map(p => dirBytes(new File(p))).sum
        knownRuns = runs.toSet
        rows.foreach { r =>
          val rec = (r.getLong(1), r.getBoolean(2), r.getDouble(3))
          model(r.getLong(0)) = rec
          appendedRecords += Wal.Record(r.getLong(0), rec._1, rec._2, rec._3)
        }
        rowsAppended += rows.size
        lastBatchKeys = rows.map(_.getLong(0)).toArray
        appendsSinceCompact += 1
        true
      })
  }

  private def expected(key: Long): Option[(Long, Long, Double)] =
    model.get(key).collect { case (s, false, v) => (key, s, v) }

  private def getStep(key: Long): Step = Step(
    build = () => table().get(lit(key)),
    run = _.collect(),
    check = rows => rowsOf(rows) == expected(key).toSeq)

  private def scanStep(lo: Long, hi: Long): Step = Step(
    build = () => table().range(lit(lo), lit(hi)),
    run = _.collect(),
    check = rows => rowsOf(rows) == (lo to hi).flatMap(expected))

  private def compactStep(): Step = {
    var folded: Seq[String] = Nil
    val out = s"$root/base_${compactions + 1}"
    Step(
      build = () => { folded = log.committedRuns; null },
      run = _ => {
        table(folded).compactTo(out, 4)
        (base.toSeq ++ folded).foreach(p => graft.sources.LocalDir.deleteRecursively(new File(p)))
      },
      check = _ => {
        compactions += 1
        val written = dirBytes(new File(out))
        bytesWritten += written
        compactBytes += written
        base = Some(out)
        knownRuns = log.committedRuns.toSet
        appendsSinceCompact = 0
        true
      })
  }

  /** Live table: the base (if any) plus the log's committed runs. */
  def table(runs: Seq[String] = log.committedRuns): KVTable =
    KvIngest.open(spark, log, base, runs)

  def liveRuns: Int = log.committedRuns.size + base.size

  /** Reopen from the directory alone (a fresh KVLog, the base found by
    * listing) and check that every acknowledged append is readable:
    * the merged table must equal the model's live keys. */
  def reopenCheck(): Boolean = {
    val fresh = KVLog(s"$root/log", "key", "seq", "tombstone")
    val bases = Option(new File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("base_")).map(_.getPath).toSeq
    if (bases.size > 1) return false
    val got = KvIngest.open(spark, fresh, bases.headOption, fresh.committedRuns)
      .merged().collect().map(rowOf).sortBy(_._1).toSeq
    got == model.keys.toSeq.sorted.flatMap(expected)
  }

  def liveBytes: Long = model.values.count(!_._2) * Wal.PayloadBytes.toLong

  def diskBytes: Long = dirBytes(new File(root))
}

object KvIngest {
  val BatchRows = 4000
  val KeySpace = 50000
  val GetsPerCycle = 4
  val ScanWidth = 200
  val CompactEvery = 6

  /** One op: `build` constructs its DataFrame (null when the op has no
    * query plan of its own) and `run` executes it; both are timed.
    * `check` then validates the result against the model and does the
    * bookkeeping, untimed. */
  final case class Step(build: () => DataFrame, run: DataFrame => Any,
                        check: Any => Boolean)

  val Schema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("tombstone", BooleanType, nullable = false),
    StructField("v", DoubleType, nullable = false)))

  private def rowOf(r: Row): (Long, Long, Double) =
    (r.getAs[Long]("key"), r.getAs[Long]("seq"), r.getAs[Double]("v"))

  private def rowsOf(rows: Any): Seq[(Long, Long, Double)] =
    rows.asInstanceOf[Array[Row]].toSeq.map(rowOf)

  def open(spark: SparkSession, log: KVLog, base: Option[String],
           runs: Seq[String]): KVTable = {
    val baseDf = base.map(b => spark.read.parquet(b).withColumn("tombstone", lit(false)))
    val runDf = if (runs.isEmpty) None else Some(spark.read.parquet(runs: _*))
    val all = (baseDf.toSeq ++ runDf).reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(java.util.List.of[Row](), Schema))
    KVTable(all, log.keyCol, log.seqCol, log.tombstoneCol)
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()
}
