package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Analytics, Dedup, KV, Layout, Multimodal, Pipeline, RangeJoin, Relational, Similarity, Sketches, Streaming, TextAnalysis}

/** Entry-point contract — see SURVEY.md §2 for the inventory. */
object SparkEntry {
  /** All implemented operators, one Op per SURVEY §2 row. */
  def ops: Seq[Op] = Relational.all ++ KV.all ++ Dedup.all ++
    Similarity.all ++ TextAnalysis.all ++ Multimodal.all ++ Streaming.all ++
    RangeJoin.all ++ Sketches.all ++ Pipeline.all ++ Layout.all ++ Analytics.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.map(op => op.name -> op.run).toMap

  /** DuckDB-runnable oracle per query (omitted → rows-only check). */
  def oracleSql: Map[String, String] =
    ops.flatMap(op => op.oracle.map(op.name -> _)).toMap
}
