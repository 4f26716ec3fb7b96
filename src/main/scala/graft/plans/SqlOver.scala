package graft.plans

import java.util.Locale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{CTESubstitution, UnresolvedRelation}
import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias

/** A SQL text bound to explicit relations, analyzed once.
  *
  * `SqlOver(spark, text, "lineitem" -> df, ...)` parses `text` with
  * the session's parser and replaces every single-part table
  * reference named in the bindings, in subqueries too, with
  * `SubqueryAlias(name, df's analyzed plan)`; the bound plan is then
  * analyzed in one pass. Nothing is registered: the session catalog
  * and its temp views are never read or written, so concurrent
  * callers on one session each see only their own relations.
  *
  * CTEs are substituted first, with the analyzer's own rule, so a
  * reference to a CTE keeps SQL's scoping. Any other table reference
  * that is not bound fails with an error naming it. Names match
  * case-insensitively, as SQL identifiers do.
  *
  * Use nested subqueries, not a CTE, when a size gate
  * ([[graft.operators.Bounded]]) probes the result: a CTE reference
  * in the analyzed plan reports Spark's default size sentinel, which
  * sends the gated tail down its big-input path (measured on q31:
  * one job became two). */
object SqlOver {
  def apply(spark: SparkSession, text: String,
            relations: (String, DataFrame)*): DataFrame = {
    def key(n: String) = n.toLowerCase(Locale.ROOT)
    val bound = relations.map { case (n, df) => key(n) -> df }.toMap
    val plan = CTESubstitution(spark.sessionState.sqlParser.parsePlan(text))
      .transformUpWithSubqueries {
        case UnresolvedRelation(Seq(n), _, _) if bound.contains(key(n)) =>
          SubqueryAlias(n, bound(key(n)).queryExecution.analyzed)
        case r: UnresolvedRelation => throw new IllegalArgumentException(
          s"SqlOver: table `${r.multipartIdentifier.mkString(".")}` is not bound " +
            s"(bound: ${bound.keys.toSeq.sorted.mkString(", ")})")
      }
    org.apache.spark.sql.graft.Datasets.ofRows(spark, plan)
  }
}
