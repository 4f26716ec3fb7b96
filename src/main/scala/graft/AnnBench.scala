package graft

/** ANN-ladder benchmark: wall time + recall@k vs the brute-force
  * ground truth + bytes-at-rest per vector for every retrieval path
  * the library ships (brute / SQ8 / binary / PQ / IVF / IVF+PQ), at
  * `SPARK_GRAFT_SF_DIR`. The committed artifact (`BENCH_ANN_r*.json`)
  * makes the compression-ladder trade a recorded number instead of a
  * scaladoc claim — the same policy as BENCH_LAYOUT_r07.
  *
  * Times are min-of-2 (the second run reads the per-(dir, mtime)
  * cached index metadata — the steady-state a serving system runs
  * in; training cost is a build-time event, amortized like any index
  * build). Bytes/vector are the at-rest sizes of each path's scan
  * column at Dim=64: 4·64 float, 64 int8 + shared scale, 1 long,
  * 16 4-bit codes.
  */
object AnnBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = Env.num("SPARK_GRAFT_CPUS", "8")(_.toInt)
    val spark = graft.api.GraftSession
      .builder("graft-ann-bench", s"local[$cpus]", Some(cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val paths = Seq(
      ("ann_topk_brute", 256), ("ann_sq8", 65), ("ann_binary", 8),
      ("ann_pq", 8), ("ann_ivf", 256), ("ann_ivfpq", 8))

    def run(name: String): (Double, Set[(Long, Long)]) = {
      var rows: Array[org.apache.spark.sql.Row] = Array.empty
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        rows = SparkEntry.queries(name)(spark, sfDir).collect()
        (System.nanoTime() - t0) / 1e9
      }
      (times.min, rows.map(r => (r.getLong(0), r.getLong(1))).toSet)
    }

    val results = paths.map { case (name, bytes) => (name, bytes, run(name)) }
    val truth = results.find(_._1 == "ann_topk_brute").get._3._2
    val entries = results.map { case (name, bytes, (sec, pairs)) =>
      val recall = (truth & pairs).size.toDouble / truth.size
      f""""$name":{"sec":$sec%.3f,"recall_at_k":$recall%.3f,"bytes_per_vector":$bytes}"""
    }
    println(s"""{"metric":"graft_ann_ladder","sf_dir":"$sfDir","k":${
      graft.operators.Similarity.TopK},"queries":${
      graft.operators.Similarity.NumQueries},${entries.mkString(",")}}""")
    spark.stop()
  }
}
