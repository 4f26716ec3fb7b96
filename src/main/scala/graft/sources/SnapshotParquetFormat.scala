package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** The Parquet format [[Tables]] builds its relations with: Spark's
  * own `ParquetFileFormat`, except that the reader function
  * `buildReaderWithPartitionValues` returns is memoized per scan shape.
  *
  * Spark calls that method once per scan node of every planned query,
  * and each call broadcasts the whole Hadoop conf (~1,100 keys,
  * ~113 KB serialized, ~13 ms on a 4-core host) for the tasks to read.
  * The returned function depends only on the method's inputs, so an
  * identical scan planned again can take the function, and the
  * broadcast it closes over, from the last time. Scans, filters,
  * row-group pruning and the vectorized/row choice are exactly Spark's.
  *
  * The key is every input the method reads, compared exactly (see
  * [[SnapshotParquetFormat.ReaderKey]]). Entries live in an LRU of
  * [[SnapshotParquetFormat.MaxReaders]]; an evicted entry only loses
  * its reference, and ContextCleaner frees its broadcast once no plan
  * holds the function either. A broadcast is never destroyed here: a
  * running query may still hold the reader.
  *
  * Identity: `ParquetFileFormat.equals` accepts any `ParquetFileFormat`,
  * so a plan rewrite that swapped this class in would be dropped as
  * unchanged. Relations are therefore built with this class from the
  * start (`spark.read.format(classOf[SnapshotParquetFormat].getName)`),
  * and it equals only itself. `toString` and `shortName` are
  * inherited, so explain still prints `Format: Parquet` and
  * `Relation [...] parquet`.
  */
class SnapshotParquetFormat extends ParquetFileFormat {
  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    // the key is read before super runs: super adds the read schema
    // and pushdown settings to `hadoopConf` in place
    val key = SnapshotParquetFormat.ReaderKey(sparkSession, dataSchema,
      partitionSchema, requiredSchema, filters, options,
      SnapshotParquetFormat.contentOf(hadoopConf),
      sparkSession.sessionState.conf.getAllConfs)
    SnapshotParquetFormat.reader(key, super.buildReaderWithPartitionValues(
      sparkSession, dataSchema, partitionSchema, requiredSchema, filters,
      options, hadoopConf))
  }

  override def equals(other: Any): Boolean = other.isInstanceOf[SnapshotParquetFormat]

  override def hashCode(): Int = classOf[SnapshotParquetFormat].hashCode
}

object SnapshotParquetFormat {
  /** LRU bound on memoized readers: a `dashboard` round plans 18 Parquet
    * scans of ~15 shapes, so 64 keeps a working set several times that. */
  val MaxReaders = 64

  /** Every input `ParquetFileFormat.buildReaderWithPartitionValues`
    * reads (Spark 4.1.2, checked in its bytecode): the session (for
    * the broadcast's SparkContext), the three schemas, the pushed
    * filters, the options, the Hadoop conf it broadcasts, and the SQL
    * conf it reads — `sparkSession.sessionState.conf` of the session
    * passed in, which `FileSourceScanExec` takes from the relation
    * (`relation.sparkSession`), not from the executing session.
    * Compared with `==` field by field; the session compares by
    * identity. A hash alone would not do: a collision would hand one
    * scan another scan's reader. */
  final case class ReaderKey(
      session: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: java.util.Map[String, String],
      sqlConf: Map[String, String])

  private type Reader = PartitionedFile => Iterator[InternalRow]

  private val readers = new java.util.LinkedHashMap[ReaderKey, Reader](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[ReaderKey, Reader]): Boolean =
      size() > MaxReaders
  }
  private val built = new java.util.concurrent.atomic.AtomicLong()

  /** The memoized reader for `key`, else `build`'s, remembered. Two
    * threads missing on one key both build; the later one is kept. */
  private def reader(key: ReaderKey, build: => Reader): Reader = {
    val hit = readers.synchronized(readers.get(key))
    if (hit != null) hit
    else {
      val r = build
      built.incrementAndGet()
      readers.synchronized(readers.put(key, r))
      r
    }
  }

  private def contentOf(conf: Configuration): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String](conf.size() * 2)
    conf.iterator().forEachRemaining(e => m.put(e.getKey, e.getValue))
    m
  }

  /** Readers held now (at most [[MaxReaders]]). */
  private[graft] def entries: Int = readers.synchronized(readers.size())

  /** Readers built since the JVM started: one per memo miss. */
  private[graft] def readersBuilt: Long = built.get()
}
