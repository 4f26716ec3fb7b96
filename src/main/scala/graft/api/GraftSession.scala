package graft.api

import org.apache.spark.sql.SparkSession

/** Entry point for the graft engine: a tuned SparkSession factory.
  *
  * Replaces the reference's `main_entry/db.rs` + `client_context.rs`
  * (TemplateDB's DatabaseInstance/ClientContext): where the reference
  * hand-builds a volcano pipeline per query, graft declares plans on a
  * SparkSession and lets Catalyst/Tungsten choose physical execution.
  *
  * Scale notes (100 TB target): AQE on (runtime re-plan, skew-join
  * splitting, partition coalescing), broadcast threshold raised so all
  * TPC-H-style dims broadcast, shuffle partitions from the
  * `shufflePartitions` argument, else 32 (on a real cluster this is
  * set to ~2-3x total cores or left to AQE).
  *
  * Every value the builder sets is a constant here; the builder reads
  * no environment. A caller overrides any of them with its own
  * `.config` on the returned builder, and an operator that needs other
  * confs gets them on a session derived by `graft.operators.Tuned`.
  *
  * Codegen cache: every op runs as Janino-compiled whole-stage code,
  * and Spark keeps compiled classes in one JVM-wide cache sized by the
  * static conf `spark.sql.codegen.cache.maxEntries` (default 100; read
  * once per JVM, at the first compile, so set it on the builder). It
  * is a Guava LRU with 4 segments, so it evicts at about a quarter of
  * the cap per segment, and its key is (thread context class loader,
  * source): the same source compiled on the driver and in a task may
  * take two entries. A round over the benchmark's 12 dashboard ops
  * compiles ~129 classes, so at the default every round evicts its own
  * working set and recompiles all of it. The measured loss is task
  * CPU, more than the compile time alone (likely because a class
  * defined again starts again in the JVM interpreter).
  * [[CodegenCacheEntries]] keeps that working set
  * resident with ample room per segment. `graft.plans.ParamLiterals`
  * keeps per-key KV reads from filling the larger cache with
  * single-use classes.
  */
object GraftSession {
  /** `spark.sql.codegen.cache.maxEntries` for every graft session:
    * ~15x the measured per-round working set of ~129 classes, so no
    * segment of the 4-way LRU fills during a round. */
  val CodegenCacheEntries: Int = 2000

  def builder(appName: String = "graft", master: String = "local[32]",
              shufflePartitions: Option[Int] = None): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(master)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(32).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      // Scan-split sizing (SURVEY §6/§8: size file partitions to the
      // data). Spark's defaults are the right call at the 100 TB
      // target (~128 MB splits over thousands of files).
      .config("spark.sql.files.maxPartitionBytes", (128L << 20).toString)
      .config("spark.sql.files.openCostInBytes", (4L << 20).toString)
      // Larger parquet reader batches amortize per-batch dispatch in
      // scan-bound aggregates (r9 lab: q1_agg −8%, measured at sf0.1).
      // 16k rows × 8 B × ~16 cols ≈ 2 MB per open batch — negligible
      // against executor memory at any scale.
      .config("spark.sql.parquet.columnarReaderBatchSize", "16384")
      .config("spark.sql.session.timeZone", "UTC")
      // Parquet timestamp posture, pinned ONCE at session build (not
      // per-load — a loader mutating session confs is action-at-a-
      // distance for unrelated reads): NTZ inference off so naive
      // micros read as TimestampType (exact under the UTC pin, no
      // post-scan cast blocking pushdown); legacy nanos surface as
      // long for graft.sources.Tables' integer-div truncation.
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")

  def getOrCreate(): SparkSession = {
    val s = builder().getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One-call open — the equivalent of the reference's "connect to
    * the database" entry (`main_entry/db.rs`): a tuned session with
    * the star schema registered as views and the graft functions
    * injected, so `GraftSession.open(dir).sql("...")` runs any query
    * in this library's surface, custom expressions included. */
  def open(dataDir: String): SparkSession = {
    val s = getOrCreate()
    graft.sources.Tables.registerAll(s, dataDir)
    s
  }
}
