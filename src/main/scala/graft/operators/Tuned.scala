package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.State

/** The one place an operator gets a session with confs of its own.
  *
  * [[derive]] is the mechanism: a child of the caller's session with
  * the caller's runtime SQL confs and the given confs on top, memoized
  * per (parent, conf set). Nothing on the caller's session is ever
  * mutated, so a concurrent caller keeps its own confs (the ADVICE r11
  * isolation rule), and one conf set on one parent is one SessionState
  * per JVM, so [[graft.sources.Tables]]' per-session relations stay
  * warm across calls, conf changes included. Operators never call
  * `newSession` themselves.
  *
  * [[sizedOneJob]] is the one scheduling policy on top of it: AQE off
  * and a static shuffle-partition count derived from the op's input-
  * size estimate. Ops whose shape needs other confs (q65's runtime
  * bloom filter, dedup_embedding's coalesce floor) pass them to
  * [[derive]] at their call site, with the measurement that chose
  * them.
  *
  * Lifetime: the memo holds its parents strongly, as Tables' relations
  * do; weak keys would free nothing while those pin the same sessions.
  */
object Tuned {
  // keyed on the parent session (by identity) and the conf set
  private val derived =
    new State.Memo[(SparkSession, Map[String, String]), Unit, SparkSession]

  /** A child session of `parent` with `parent`'s runtime SQL confs and
    * `confs` on top, memoized per (parent, conf set). `newSession`
    * starts from the context's conf, so the parent's modifiable confs
    * are copied (static and core confs cannot be set on a session and
    * are the context's anyway) on every call. The child is kept, not
    * replaced (a fresh one's table loads start a job, so `graft.Op`
    * would not prepare the rebuilt plan), and ops sharing it see the
    * parent's confs of the latest call: `graft.Op` rebuilds a plan
    * whose session's confs moved. A returned DataFrame reads the
    * child's confs when it executes, as one on the parent does. */
  def derive(parent: SparkSession, confs: (String, String)*): SparkSession = {
    val set = confs.toMap
    val child = derived((parent, set), ())(parent.newSession())
    def modifiable(s: SparkSession) =
      s.conf.getAll.filter { case (k, _) => s.conf.isModifiable(k) }
    val want = modifiable(parent) ++ set
    child.synchronized {
      val have = modifiable(child)
      (have.keySet -- want.keySet).foreach(child.conf.unset)
      want.foreach { case (k, v) => if (!have.get(k).contains(v)) child.conf.set(k, v) }
    }
    child
  }

  /** Shuffle-partition target for [[sizedOneJob]]: the same
    * 64 MB/partition advisory AQE coalesces toward — the static
    * sizing reproduces AQE's outcome without AQE's per-stage jobs. */
  private val SizedPartitionBytes = BigInt(64L << 20)

  /** Local partition floor of [[sizedOneJob]]: enough to spread a
    * bounded reduce, few enough that task-launch overhead stays
    * under one job handoff even on a 32-core local harness. */
  val PinnedShufflePartitions = 8

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
    *    target, floored at min([[PinnedShufflePartitions]],
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
    *  - no inputs: the op's reduce is bounded by construction (q1's
    *    ≤6 groups, a literal 10-key KV range, an hours×types report),
    *    so only the floor applies. Passing such an op's input frames
    *    would size its partition count from the corpus (2^20
    *    partitions for 6 groups at 100 TB), so those ops pass none.
    *  - join strategy: the ops pinned here either hint their joins
    *    (shuffle_hash for corpus-sized banded sides) or join
    *    broadcast-safe dims; the static planner keeps the
    *    estimate-driven broadcast threshold, and at sizes past it
    *    degrades to the sort-merge default — the pre-AQE posture
    *    every production Spark 2.x cluster ran.
    *  - what is genuinely LOST is runtime skew-splitting; callers
    *    must be ops whose shuffle keys are structurally low-skew
    *    (time bins, uniform synthetic ids, banded signatures) —
    *    documented per call site. Corpus-sized shuffles with skew
    *    keep the parent session and AQE, the 100 TB safety net. */
  def sizedOneJob(parent: SparkSession, inputs: DataFrame*): SparkSession =
    sizedOneJob(parent, PinnedShufflePartitions, inputs: _*)

  /** [[sizedOneJob]] with an explicit local partition floor — pass
    * the session core count when the pinned op's post-shuffle
    * per-row work is heavy enough that a reduced local fan-out would
    * serialize it. */
  def sizedOneJob(parent: SparkSession, minPartitions: Int,
                  inputs: DataFrame*): SparkSession = {
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
    derive(parent, "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> n.toString)
  }
}
