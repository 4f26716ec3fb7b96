package graft.operators

import org.apache.spark.sql.SparkSession

/** Per-operator scheduling pin for FIXED-SHAPE, BOUNDED-OUTPUT
  * queries (r12): under AQE every shuffle stage materializes as its
  * own scheduler job — measured 30-50 ms of driver/scheduler constant
  * per job at sf0.1 (PROFILE job timelines), which dominates
  * dashboard-sized queries whose entire task time is <200 ms. For an
  * op whose reduce side is provably bounded (a ≤|groups|-row
  * aggregate behind Bounded.ordered), AQE's only remaining service —
  * post-shuffle coalescing — is a no-op the plan already encodes, so
  * the op runs on a derived session with AQE off and a small static
  * shuffle-partition count: the whole query becomes ONE scheduler job
  * (all stages submitted together), saving one job handoff + one AQE
  * re-optimization per shuffle.
  *
  * NOT for corpus-sized shuffles: there AQE's runtime re-planning
  * (skew splits, join-strategy switches, right-sizing) is the 100 TB
  * safety net — those ops keep the parent session. This is the same
  * measured-pin discipline as largeSmallStar's loop (r11/r12) and the
  * q65 isolated-session precedent.
  *
  * The derived session is memoized per parent (same pattern and
  * lifetime as [[graft.sources.Tables]]' plan cache): one
  * SessionState per JVM, Tables' per-session relation cache stays
  * warm, and NOTHING on the caller's session is mutated — a
  * concurrent caller keeps AQE (the ADVICE r11 isolation rule).
  */
object Tuned {
  // Keyed on the parent SparkSession OBJECT (r13, ADVICE r12):
  // SparkSession does not override equals, so map equality is
  // identity — collision-free, unlike the identityHashCode int key
  // under which two live parents colliding would share a derived
  // session (wrong conf) silently.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private val cacheMin =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, SparkSession]()
  private val cacheSized =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, Int), SparkSession]()

  /** Shuffle-partition target for [[sizedOneJob]]: the same
    * 64 MB/partition advisory AQE coalesces toward — the static
    * sizing reproduces AQE's outcome without AQE's per-stage jobs. */
  private val SizedPartitionBytes = BigInt(64L << 20)

  /** AQE-off one-job session with SIZE-DERIVED static shuffle
    * partitions (r12, VERDICT r11 task 1's "measured per-query
    * AQE-off pin" with largeSmallStar's plan-side sizing): under AQE
    * every exchange materializes as its own scheduler job plus a
    * driver-side re-optimization — a measured 25-50 ms/job constant
    * at sf0.1 (PROFILE job timelines) that dominates queries whose
    * total task time is <300 ms. With AQE off the whole query is ONE
    * scheduler job (all stages submitted together, broadcast builds
    * overlap the map stages on the exchange thread pool).
    *
    * What AQE would have provided is re-derived statically:
    *  - partition sizing: `spark.sql.shuffle.partitions` is computed
    *    from the ANALYZED plan's size estimate of the op's input
    *    frames (file sizes folded through the plan, <1 ms, no job —
    *    the Bounded gate's machinery) times the parquet
    *    decompression factor, at AQE's own 64 MB/partition advisory
    *    target, floored at min([[PinnedShufflePartitions]] = 8,
    *    defaultParallelism) in the default overload (see the local-
    *    floor comment in the body: a core-count fan-out on sub-MB
    *    shuffles just multiplies task-launch constants) — callers
    *    whose post-shuffle per-row work needs the full spread pass
    *    `minPartitions = cores` explicitly — and rounded up to a
    *    power of two (so the memoized-session set stays bounded).
    *    At 100 TB inputs it derives thousands of partitions,
    *    exactly what AQE's coalescing would produce.
    *    NOT a local[32] constant (the r12 rule): the count scales
    *    with the input estimate and the harness core count.
    *  - join strategy: the ops pinned here either hint their joins
    *    (shuffle_hash for corpus-sized banded sides) or join
    *    broadcast-safe dims; the static planner keeps the
    *    estimate-driven broadcast threshold, and at sizes past it
    *    degrades to the sort-merge default — the pre-AQE posture
    *    every production Spark 2.x cluster ran.
    *  - what is genuinely LOST is runtime skew-splitting; callers
    *    must be ops whose shuffle keys are structurally low-skew
    *    (time bins, uniform synthetic ids, banded signatures) —
    *    documented per call site.
    *
    * Derived-session isolation (ADVICE r11): parent session is never
    * mutated; memoized per (parent, partition count) so the Tables
    * relation cache stays warm across bench repetitions. */
  def sizedOneJob(parent: SparkSession,
                  inputs: org.apache.spark.sql.DataFrame*): SparkSession =
    sizedOneJob(parent, PinnedShufflePartitions, inputs: _*)

  /** [[sizedOneJob]] with an explicit local partition floor — pass
    * the session core count when the pinned op's post-shuffle
    * per-row work is heavy enough that a reduced local fan-out would
    * serialize it (the Tuned.parallelCoalesce class of stages). */
  def sizedOneJob(parent: SparkSession, minPartitions: Int,
                  inputs: org.apache.spark.sql.DataFrame*): SparkSession = {
    val bytes = inputs
      .map(_.queryExecution.analyzed.stats.sizeInBytes *
        Bounded.DecompressionFactor).sum
    val need = ((bytes + SizedPartitionBytes - 1) / SizedPartitionBytes)
      .min(BigInt(1 << 20)).max(BigInt(1)).toInt
    // local floor: [[PinnedShufflePartitions]], NOT the core count —
    // on dashboard-scale shuffles (the only place the floor binds;
    // the size term dominates past 8·64 MB of input) a full
    // core-count fan-out just multiplies per-task launch constants
    // onto sub-MB stages, the exact overhead AQE's coalescing
    // removes (measured: q30 0.54 → 0.73 s with a 32-task floor on
    // tiny bin shuffles). Callers whose per-row work is heavy enough
    // to need the full fan-out pass `minPartitions = cores`.
    val raw = math.max(math.min(minPartitions,
      parent.sparkContext.defaultParallelism), need)
    // round UP to a power of two: bounds the distinct memoized
    // sessions (log2 many) while never undershooting the size target
    val n = Integer.highestOneBit(raw) match {
      case h if h == raw => raw
      case h => h << 1
    }
    cacheSized.computeIfAbsent((parent, n), _ => {
      val s = parent.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.shuffle.partitions", n.toString)
      s
    })
  }

  /** AQE kept fully on, but the post-shuffle COALESCE floor lowered
    * from Spark's 1 MB default to 64 KB: with parallelismFirst
    * coalescing (the default), AQE targets
    * max(totalBytes/parallelism, minPartitionSize) — a 2-3 MB
    * dashboard-scale shuffle coalesces to 1-2 partitions under the
    * 1 MB floor, serializing a window/agg stage 32 cores could run in
    * parallel. At cluster scale totalBytes/parallelism dwarfs either
    * floor, so the knob only affects small shuffles (scale-neutral by
    * construction). Derived-session isolation as [[boundedReduce]]. */
  def parallelCoalesce(parent: SparkSession): SparkSession =
    cacheMin.computeIfAbsent(parent, _ => {
      val s = parent.newSession()
      s.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "65536")
      s
    })

  /** Shuffle partitions for the pinned ops: enough to spread a
    * bounded reduce, few enough that task-launch overhead stays
    * under one job handoff even on a 32-core local harness. */
  val PinnedShufflePartitions = 8

  def boundedReduce(parent: SparkSession): SparkSession =
    cache.computeIfAbsent(parent, _ => {
      val s = parent.newSession()
      s.conf.set("spark.sql.adaptive.enabled", "false")
      s.conf.set("spark.sql.shuffle.partitions",
        PinnedShufflePartitions.toString)
      s
    })
}
