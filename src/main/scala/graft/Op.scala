package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.graft.Jobs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{CTERelationRef, LeafNode, LocalRelation, LogicalPlan, OneRowRelation, Range}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graft.Datasets
import org.apache.spark.sql.sources.BaseRelation

import graft.sources.Tables

/** One engine capability: a named DataFrame-producing operator plus an
  * optional DuckDB oracle SQL used by the driver's correctness gate.
  * Column names/order and row ordering are part of the contract and
  * must match between `run` and `oracle`.
  *
  * `build` constructs the op's DataFrame; callers call [[run]], which
  * prepares once per table snapshot and executes per call. Its memo
  * holds, per (caller session, dir), the ANALYZED plan a construction
  * returned, with the session it returned (a `Tuned`-derived one, if
  * any), the caller's SQL confs, that session's SQL confs and the
  * stamps of the tables it loaded. A call whose confs and stamps still
  * match gets `Datasets.ofRows(session, analyzed)`: a fresh QueryExecution, so it
  * still optimizes, plans and executes. Nothing executed is ever
  * reused: no RDD, shuffle, broadcast relation or result.
  *
  * A construction is memoized only if it started no Spark job (so an
  * op that writes, probes with `head()` or builds an index does that
  * on every call) and every leaf of its analyzed plan, subqueries
  * included, is a relation that a [[graft.sources.Tables.load]] during
  * that construction returned, a local relation, a range or a CTE
  * reference. KVLog runs, Layout and Similarity state paths, CSV
  * sources and catalog tables therefore construct per call. The stamps
  * are those of every table the construction loaded: the directory
  * mtimes `Tables.load` reads, so the memo sees a rewrite exactly when
  * `Tables.load` does. A changed stamp or conf rebuilds and replaces
  * the entry: one entry per key. Ops can share a derived session that
  * each construction re-syncs to the caller (`Tuned.derive`), hence
  * the session's own confs. Seeds drawn at analysis (`uuid()`,
  * `shuffle()`) repeat across the calls that share a plan.
  *
  * The job check reads the context's global job counter, so a job
  * another thread starts during a construction also keeps that
  * construction from being memoized; it then runs again next call.
  * An op called inside another op's construction builds directly: the
  * outer construction is the one memoized.
  *
  * Lifetime: the memo holds the caller session strongly, as
  * `Tables`' cache and `Tuned`'s do. An entry built before a table was
  * rewritten keeps the replaced relation (and its file index)
  * reachable until this op is called again on that (session, dir).
  */
final case class Op(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String]) {

  private val prepared = new ConcurrentHashMap[(SparkSession, String), Op.Prepared]()

  /** This op's DataFrame over the tables in `dir`, for `spark`. */
  val run: (SparkSession, String) => DataFrame = (spark, dir) =>
    if (Tables.isRecording) build(spark, dir)
    else {
      val confs = spark.conf.getAll
      val p = prepared.get((spark, dir))
      if (p != null && p.confs == confs && p.session.conf.getAll == p.sessionConfs &&
          p.stamps.forall { case (path, m) => Tables.stamp(path) == m })
        Datasets.ofRows(p.session, p.analyzed)
      else prepare(spark, dir, confs)
    }

  private def prepare(spark: SparkSession, dir: String,
                      confs: Map[String, String]): DataFrame = {
    val jobs = Jobs.submitted(spark.sparkContext)
    val (df, loads) = Tables.recording(build(spark, dir))
    val analyzed = df.queryExecution.analyzed
    // a table rewritten mid-construction shows as one path at two stamps
    val stamps = loads.map(l => l.path -> l.stamp).distinct
    if (Jobs.submitted(spark.sparkContext) == jobs &&
        stamps.map(_._1).distinct.size == stamps.size &&
        Op.covered(analyzed, loads.map(_.relation)))
      prepared.put((spark, dir), Op.Prepared(analyzed, df.sparkSession, confs,
        df.sparkSession.conf.getAll, stamps.toMap))
    else prepared.remove((spark, dir))
    df
  }

  /** Whether a prepared plan for (`spark`, `dir`) is held now. */
  private[graft] def isPrepared(spark: SparkSession, dir: String): Boolean =
    prepared.containsKey((spark, dir))
}

object Op {
  def sql(name: String, oracle: String)(build: (SparkSession, String) => DataFrame): Op =
    Op(name, build, Some(oracle))
  def rowsOnly(name: String)(build: (SparkSession, String) => DataFrame): Op =
    Op(name, build, None)

  private final case class Prepared(analyzed: LogicalPlan, session: SparkSession,
                                    confs: Map[String, String], sessionConfs: Map[String, String],
                                    stamps: Map[String, Long])

  /** Whether every leaf of `plan`, subqueries included, is one of the
    * `loaded` relations (compared by identity) or needs no stamp (see
    * [[Op]]). */
  private def covered(plan: LogicalPlan, loaded: Seq[BaseRelation]): Boolean =
    !plan.isStreaming && plan.collectWithSubqueries { case l: LeafNode => l }.forall {
      case l: LogicalRelation => loaded.exists(_ eq l.relation)
      case _: LocalRelation | _: Range | _: OneRowRelation | _: CTERelationRef => true
      case _ => false
    }
}
