package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Global ordering for BOUNDED results — outputs whose row count is
  * capped by a literal predicate or a bounded grouping domain (a KV
  * range read's ≤|range| keys, q1's ≤6 flag×status groups, an hourly
  * dashboard's |hours|×|types| rows), not by corpus size.
  *
  * `orderBy` on such a result plans a RANGE EXCHANGE: one shuffle, one
  * RangePartitioner SAMPLING job, one AQE stage job — ~0.1 s of fixed
  * cost (PROFILE_r08) to sort rows that fit in a single page. Sorting
  * the coalesced single partition instead produces the identical
  * global order (one partition ⇒ within-partition order IS total
  * order) with zero exchanges: the upstream aggregate still reduces
  * map-side in parallel; only the final ≤-thousands-row reduce runs
  * single-task — which is also exactly how a client consumes it.
  *
  * NOT for corpus-sized outputs: those keep `orderBy`'s sampled range
  * sort (a single-partition sort of unbounded data is the anti-shape
  * PlanAuditSpec's global-window sweep exists to catch).
  */
object Bounded {
  def ordered(df: DataFrame, cols: Column*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols: _*)

  /** [[ordered]] gated on the plan's SIZE ESTIMATE (VERDICT r9
    * task 3): API faces like `KVTable.range()`/`multiGet()` take
    * caller-controlled predicates, so boundedness there is a runtime
    * property, not a literal one — an unconditional single-partition
    * sort would let `range(MIN, MAX)` funnel the whole keyspace
    * through one task. When Catalyst's plan stats put the result at
    * or under `maxBytes` the zero-exchange shape applies; anything
    * wider falls back to `orderBy`'s sampled range exchange.
    * The estimate costs no job (it folds scan file sizes through the
    * plan), and size-only estimation is deliberately CONSERVATIVE —
    * a Filter doesn't shrink it, so a huge table stays on the range
    * path even under a narrow-looking predicate.
    *
    * Probed on the ANALYZED plan (r12; was optimizedPlan): the
    * optimizer fixpoint cost 10-75 ms per construction as a pure
    * gate probe — the final frame re-optimizes from scratch anyway —
    * while the analyzed-plan size visitor folds the same file-size
    * estimates in <1 ms; verified byte-equal across all ten gated
    * ops at sf0.1 (q22 differs by 1 B of division rounding). Where
    * they could diverge, analysis-time estimates are the larger
    * (pre-pruning) side, i.e. the conservative direction. */
  def orderedIfSmall(df: DataFrame, maxBytes: Long, cols: Column*): DataFrame =
    if (estimatedSmall(df, maxBytes)) ordered(df, cols: _*)
    else df.orderBy(cols: _*)

  /** Plan-stats size gate shared by the `IfSmall` faces. The raw
    * estimate is scaled by [[DecompressionFactor]] before the
    * comparison: scan estimates fold COMPRESSED parquet file sizes,
    * but what the single sort task must hold is decompressed unsafe
    * rows — parquet commonly expands 3-10x decoded (ADVICE r11), so
    * an unscaled 64 MB gate could funnel several hundred MB through
    * one task before the fallback triggered. */
  def estimatedSmall(df: DataFrame, maxBytes: Long): Boolean =
    decodedBytes(df) <= maxBytes

  /** The plan-stats size estimate scaled to decoded bytes (see
    * [[estimatedSmall]]): what the gate compares, and what
    * `KVLog.append` sizes its files from. */
  def decodedBytes(df: DataFrame): BigInt =
    df.queryExecution.analyzed.stats.sizeInBytes * DecompressionFactor

  /** Parquet-to-unsafe-row expansion applied to size estimates at
    * the gate: 4x sits mid-range of parquet's common 3-10x
    * compression and keeps every sf0.1 bounded tail (all ≤2.7 MB
    * estimated) on the zero-exchange path with 6x headroom. */
  val DecompressionFactor: Int = 4

  /** Default gate for [[orderedIfSmall]]/[[orderedNarrowIfSmall]] at
    * query tails: one sort task over ≤64 MB (the session's broadcast
    * / AQE-advisory sizing) is cheaper than a range exchange plus its
    * RangePartitioner SAMPLING job, and the conservative plan-stats
    * estimate keeps any corpus-scaled frame on the sampled path. */
  val SmallSortBytes: Long = 64L << 20

  /** [[orderedIfSmall]] for frames with NO exchange between the sort
    * and the scan (scan-rooted projections, broadcast-join outputs):
    * there `ordered`'s coalesce(1) would fold the SCAN itself into
    * one task — the q22 lesson (VERDICT r10) — so the small path
    * funnels through a `repartition(1)` SHUFFLE of the
    * estimated-small result instead. The scan/filter stay
    * split-parallel; one tiny exchange replaces the range exchange
    * AND its sampling job. Falls back to the sampled range sort the
    * moment the plan estimate outgrows the gate. */
  def orderedNarrowIfSmall(df: DataFrame, maxBytes: Long, cols: Column*): DataFrame =
    if (estimatedSmall(df, maxBytes))
      df.repartition(1).sortWithinPartitions(cols: _*)
    else df.orderBy(cols: _*)
}
