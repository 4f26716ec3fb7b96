package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Op
import graft.functions.VectorFunctions._
import graft.sources.{State, Tables}

/** §2.3 approximate-nearest-neighbor search over the `embeddings`
  * table (`vec_id`, `embedding: array<float>`, `label`).
  *
  * Scale design (100 TB): the corpus is NEVER self-joined. Brute
  * force broadcasts only the (small) query set against the corpus —
  * one scan, no shuffle of the corpus, map-side top-k via window over
  * the broadcast-joined result. The scale path (`ann_lsh`) buckets
  * both sides by random-hyperplane signature bands, so candidate
  * generation is a join keyed on band hashes: shuffle O(corpus), and
  * ranking happens only within buckets.
  */
object Similarity {

  val TopK = 5
  val NumQueries = 10

  /** Share of the corpus treated as the already-indexed BASE by
    * [[annIvfAppend]] / [[annCentroidDrift]]; the remaining ids are
    * the appended batch. Lives up here with the other constants:
    * operator vals interpolate it into their ORACLE STRINGS at object
    * init, so it must initialize before every op that reads it (a
    * later-positioned val would interpolate as 0.0 — found the hard
    * way in round 9). */
  val AppendFrac = 0.8

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))

  /** Brute-force cosine top-k: broadcast the query set, rank per
    * query. The corpus side stays a single pruned parquet scan. */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = corpus.as("c")
      .join(broadcast(queries.as("q")), col("q.vec_id") =!= col("c.vec_id"))
      .withColumn("cos_raw", cosine(col("q.v"), col("c.v")))
    joined
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q.vec_id"))
          .orderBy(col("cos_raw").desc, col("c.vec_id"))))
      .filter(col("rn") <= k)
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cos"))
  }

  val annTopkBrute: Op = Op.sql("ann_topk_brute",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < $NumQueries)
       |SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
       |       round(list_cosine_similarity(q.v, e.v), 6) AS cos
       |FROM q JOIN e ON q.vec_id <> e.vec_id
       |QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) <= $TopK
       |ORDER BY query_id, neighbor_id""".stripMargin) { (s, dir) =>
    // sized one-job pin: MEASURED NEGATIVE (r12, two interleaved A/B
    // batches, +13%/+41%): the WindowGroupLimit shuffle is ~queries×k
    // rows per map split — AQE coalesces it to one partition for one
    // stage job, cheaper than the static 8-task floor's launch
    // constants. Keep AQE.
    val e = emb(s, dir)
    // queries×k rows — client-sized: single-partition order (Bounded)
    Bounded.ordered(bruteTopK(e, e.filter(col("vec_id") < NumQueries), TopK),
      col("query_id"), col("neighbor_id"))
  }

  /** Hard-negative band: candidates similar enough to be informative
    * but below the near-dup threshold. `HardHi` deliberately equals
    * dedup_embedding's dup cutoff — anything above it is a duplicate
    * to REMOVE, not a negative to train on. */
  val HardLo = 0.1
  val HardHi = 0.4

  /** Hard-negative mining for contrastive training (the
    * triplet/InfoNCE data-prep stage): per anchor query, the top-k
    * most-similar corpus vectors whose cosine falls in
    * [HardLo, HardHi) — near misses, not duplicates and not easy
    * negatives. Same plan as [[bruteTopK]] (broadcast query set, ONE
    * corpus scan, partial top-k per partition); the band predicate
    * runs codegen'd in the join stream BEFORE ranking, so pre-filter
    * semantics hold — a selective band still returns k rows when k
    * candidates exist. At 10 B vectors the candidate stage composes
    * with [[ivfPqTopK]]'s pruned layout exactly like the kNN vote. */
  val annHardNegatives: Op = Op.sql("ann_hard_negatives",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < $NumQueries)
       |SELECT q.vec_id AS query_id, e.vec_id AS negative_id,
       |       round(list_cosine_similarity(q.v, e.v), 6) AS cos
       |FROM q, e
       |WHERE q.vec_id <> e.vec_id
       |  AND list_cosine_similarity(q.v, e.v) >= $HardLo
       |  AND list_cosine_similarity(q.v, e.v) < $HardHi
       |QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) <= $TopK
       |ORDER BY query_id, negative_id""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    val queries = e.filter(col("vec_id") < NumQueries)
    e.as("c")
      .join(broadcast(queries.as("q")), col("q.vec_id") =!= col("c.vec_id"))
      .withColumn("cos_raw", cosine(col("q.v"), col("c.v")))
      .filter(col("cos_raw") >= HardLo && col("cos_raw") < HardHi)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q.vec_id"))
          .orderBy(col("cos_raw").desc, col("c.vec_id"))))
      .filter(col("rn") <= TopK)
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("negative_id"),
        round(col("cos_raw"), 6).as("cos"))
      .orderBy("query_id", "negative_id")
  }

  // ---- random-hyperplane LSH --------------------------------------

  val NumPlanes: Int = graft.functions.VectorKernels.HpNumPlanes
  val SigBands: Int = graft.functions.VectorKernels.HpSigBands
  val PlanesPerBand: Int = NumPlanes / SigBands
  val Dim: Int = graft.functions.VectorKernels.HpDim

  /** The kernel's deterministic hyperplanes (seed 42) — exposed for
    * specs and for generating the DuckDB oracle's plane literals. */
  lazy val planes: Seq[Seq[Double]] =
    graft.functions.VectorKernels.hyperplanes.map(_.toSeq).toSeq

  /** Band signatures of a double-vector column: array<long>, index =
    * band id, value = the band's packed plane-side bits (lossless —
    * the bit pattern is the join key, no hash step). Two vectors at
    * small angle agree on all bits of some band with high
    * probability. Codegen'd kernel; the planes live inside it as a
    * compiled constant, not as plan literals. */
  def hyperplaneBands(v: Column): Column =
    graft.functions.VectorFunctions.hyperplane_bands(v, SigBands)

  private def banded(df: DataFrame): DataFrame =
    df.select(col("vec_id"), col("v"),
      posexplode(hyperplaneBands(col("v"))).as(Seq("band_id", "band_hash")))

  /** DuckDB recomputation of the kernel's signature: bit p =
    * `list_dot_product(v, plane_p) > 0` (same left-to-right double
    * accumulation as the kernel, so the signs agree bit-for-bit).
    * Yields a `bits: BOOLEAN[16]` column on relation `e(vec_id, v)`. */
  def sigSelectSql: String = {
    val bits = planes
      .map(p => s"list_dot_product(v, ${p.mkString("[", ",", "]")}) > 0")
      .mkString("[", ", ", "]")
    s"SELECT vec_id, v, $bits AS bits FROM e"
  }

  /** DuckDB predicate: relations `a` and `b` share at least one full
    * signature band (slice-equality on the bit list — exactly the
    * kernel's packed-bits join key, which is hash-free/lossless). */
  def bandMatchSql(a: String, b: String): String =
    (0 until SigBands).map { j =>
      val lo = j * PlanesPerBand + 1
      val hi = (j + 1) * PlanesPerBand
      s"$a.bits[$lo:$hi] = $b.bits[$lo:$hi]"
    }.mkString("(", " OR ", ")")

  /** LSH-bucketed ANN: candidates = corpus vectors sharing ≥1
    * signature band with the query, ranked by exact cosine within
    * the candidate set only. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val cands = banded(corpus).as("c")
      .join(banded(queries).as("q"),
        col("q.band_id") === col("c.band_id") &&
        col("q.band_hash") === col("c.band_hash") &&
        col("q.vec_id") =!= col("c.vec_id"))
      // score per band-match BEFORE dedup: a pair matching in m bands
      // computes cosine m(≤SigBands) times — cheap codegen'd kernel —
      // so the dedup shuffle carries only (id, id, score) scalars
      // instead of two 64-float vectors per candidate
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        cosine(col("q.v"), col("c.v")).as("cos_raw"))
      // ONE exchange for dedup + ranking (r12, measured): the
      // multi-band dedup keys on (query_id, neighbor_id) and the
      // top-k window on query_id — left to itself Catalyst plans two
      // exchanges. Partitioning by query_id alone satisfies BOTH
      // clustering requirements (same pair ⇒ same query_id), so one
      // explicit repartition serves the aggregate and the window;
      // the rows it moves are the same (id, id, cos) scalars the
      // dedup exchange carried.
      .repartition(col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(first("cos_raw").as("cos_raw"))
    cands
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_raw").desc, col("neighbor_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cos_raw"), 6).as("cos"))
  }

  /** Oracle = the exact same LSH semantics recomputed in DuckDB:
    * candidates by band slice-equality, exact-cosine ranked. A strong
    * check (not just rows>0) because the signature is deterministic
    * and hash-free on both sides. */
  val annLsh: Op = Op.sql("ann_lsh",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS ($sigSelectSql),
       |q AS (SELECT * FROM sig WHERE vec_id < $NumQueries)
       |SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |       round(list_cosine_similarity(q.v, c.v), 6) AS cos
       |FROM q JOIN sig c ON q.vec_id <> c.vec_id AND ${bandMatchSql("q", "c")}
       |QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) <= $TopK
       |ORDER BY query_id, neighbor_id""".stripMargin) { (s0, dir) =>
    // sized one-job pin (r12, measured): 4 AQE stage jobs (two band
    // exchanges + candidate exchange + window/sort) → 1. Partitions
    // derive from the embeddings estimate; shuffle keys are banded
    // signatures and query ids — hash-uniform by construction.
    val s = Tuned.sizedOneJob(s0, emb(s0, dir))
    val e = emb(s, dir)
    Bounded.ordered(lshTopK(e, e.filter(col("vec_id") < NumQueries), TopK),
      col("query_id"), col("neighbor_id"))
  }

  // ---- IVF (inverted-file) ANN ------------------------------------

  val NumCentroids = 16
  val NumProbes = 4

  /** Deterministic IVF centroids: seed on the K lowest-id vectors,
    * refine with one Lloyd iteration (assign all → per-cluster
    * per-dimension mean via posexplode + groupBy — one shuffle of
    * O(n·d) scalars, no driver-side math beyond collecting K·d
    * centroid values, which is what a real IVF index trains once and
    * broadcasts). */
  def ivfCentroids(corpus: DataFrame): Seq[Seq[Double]] = {
    val spark = corpus.sparkSession
    val seeds = typedLit(
      corpus.orderBy("vec_id").limit(NumCentroids)
        .collect().map(_.getSeq[Double](1).toSeq).toSeq)
    val assigned = corpus.withColumn("cluster",
      array_position(
        transform(seeds, c => cosine(col("v"), c)),
        array_max(transform(seeds, c => cosine(col("v"), c)))) - 1)
    // FIXED-POINT means (round 7; was avg(double)): each element is
    // integerized as floor(x·2²⁰ + 0.5) — the power-of-two multiply
    // is EXACT, so the integerization is bit-identical on every
    // engine and the per-cluster sum is an order-free long sum. A
    // float avg's result depends on partition merge order, which
    // made retrains nondeterministic at scale and the centroids
    // unreplayable by the DuckDB oracle; the 2⁻²⁰ quantization
    // (≈1e-6) is far below any clustering-relevant signal. Mean =
    // two IEEE divisions from exact inputs — the repo's standard
    // exact-ints-into-one-float-op pattern (graph_pagerank, q66).
    val means = assigned
      .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cluster", "pos")
      .agg(sum(floor(col("x") * lit(1048576.0) + lit(0.5)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("m", col("s").cast("double") / lit(1048576.0) / col("n"))
      .groupBy("cluster").agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cluster"), transform(col("pm"), e => e.getField("m")).as("centroid"))
      .orderBy("cluster")
      .collect().map(_.getSeq[Double](1).toSeq).toSeq
    means
  }

  /** IVF-bucketed ANN: corpus partitioned into centroid cells
    * (inverted lists); each query probes its `NumProbes` nearest
    * cells and ranks exactly within them. The cell assignment is the
    * shuffle key — candidate volume is (probes/centroids) of the
    * corpus per query, and on a real deployment the inverted lists
    * are the partitioning of the stored corpus, so probing is
    * partition pruning. */
  /** Cell id (nearest centroid by cosine) of `v` under the centroid
    * list literal — the IVF assignment used at build AND probe time. */
  private[graft] def cellExpr(cLit: Column, v: Column): Column =
    array_position(
      transform(cLit, c => cosine(v, c)),
      array_max(transform(cLit, c => cosine(v, c)))) - 1

  /** The `NumProbes` nearest cells of `v`, ranked through the SAME
    * codegen'd cosine kernel as [[cellExpr]] (ties to the smaller
    * cell id, which is also `array_position`'s first-match rule) —
    * every probe path shares this one expression tree with the build
    * assignment, so probe and build can never disagree on a boundary
    * rounding. */
  private[graft] def probeCellsExpr(cLit: Column, v: Column): Column =
    slice(transform(
      array_sort(transform(sequence(lit(0), lit(NumCentroids - 1)),
        i => struct((-cosine(v, element_at(cLit, i + 1))).as("negcos"),
          i.as("cell")))),
      e => e.getField("cell")), 1, NumProbes)

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              centroids: Seq[Seq[Double]]): DataFrame = {
    val cLit = typedLit(centroids)
    val listed = corpus.withColumn("cell", cellExpr(cLit, col("v")))
    // each query probes its NumProbes closest cells
    val probed = queries.withColumn("probe_cells", probeCellsExpr(cLit, col("v")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(col("probe_cells")).as("cell"))
    probed.join(listed, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_raw").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cos"))
  }

  /** The query-probe CTE `(query_id, qv, cell)` shared VERBATIM by
    * every full-vector IVF-probing oracle (ann_ivf, ann_range_search,
    * ann_recall_eval, ann_ivf_append) — one copy of the probe rule,
    * so an edit cannot desynchronize one op's oracle from the shared
    * [[probeCellsExpr]] kernel. (The PQ path keeps its own no-qv
    * variant: its probes deliberately drop the full vector.) */
  def ivfProbesCteSql: String =
    s"""probes AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, q.v AS qv, p.cell
       |  FROM (SELECT * FROM e WHERE vec_id < $NumQueries) q,
       |    LATERAL (SELECT c2.cell FROM cent2 c2
       |             ORDER BY list_cosine_similarity(q.v, c2.cv) DESC, c2.cell ASC
       |             LIMIT $NumProbes) p)""".stripMargin

  /** The WHOLE IVF training pass replayed in the oracle (round 7;
    * rows-only before): seeds = the K lowest-id vectors, assignment =
    * cosine argmax with the first-match tie rule (`array_position`'s
    * rule ≡ ORDER BY cos DESC, c ASC LIMIT 1), means = the op's
    * fixed-point sums (floor(x·2²⁰+0.5) integerization is exact on
    * both engines, long sums are order-free), clusters renumbered
    * densely exactly as the op's `orderBy(cluster).collect` does.
    * `cells` assigns every corpus vector under the REFINED centroids
    * through the same argmax. Shared by ann_ivf and dedup_semantic
    * (which blocks on these cells). */
  def ivfCentroidCteSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |""".stripMargin + ivfTrainCtesSql("e")

  /** The training/assignment CTE chain over an existing relation
    * `$train(vec_id, v)` (and `e` for the full corpus): seeds → one
    * Lloyd pass with fixed-point means → densely renumbered `cent2`
    * centroids → `cells` assigning EVERY corpus vector under them.
    * Parameterized on the training relation so ann_ivf_append can
    * train on the base slice while `cells` still covers base+batch. */
  def ivfTrainCtesSql(train: String, prefix: String = ""): String =
    s"""${prefix}seeds AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v
       |  FROM $train ORDER BY vec_id LIMIT $NumCentroids),
       |${prefix}asg AS MATERIALIZED (
       |  SELECT t.vec_id, t.v,
       |    (SELECT s.c FROM ${prefix}seeds s
       |     ORDER BY list_cosine_similarity(t.v, s.v) DESC, s.c ASC LIMIT 1) AS cluster
       |  FROM $train t),
       |${prefix}msum AS MATERIALIZED (
       |  SELECT cluster, pos,
       |    sum(CAST(floor(x * 1048576.0 + 0.5) AS BIGINT)) AS s, count(*) AS n
       |  FROM (SELECT cluster, unnest(v) AS x, generate_subscripts(v, 1) AS pos
       |        FROM ${prefix}asg)
       |  GROUP BY 1, 2),
       |${prefix}cent2 AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY cluster) - 1 AS cell, cv
       |  FROM (SELECT cluster, list(CAST(s AS DOUBLE) / 1048576.0 / n ORDER BY pos) AS cv
       |        FROM ${prefix}msum GROUP BY cluster)),
       |${prefix}cells AS MATERIALIZED (
       |  SELECT e.vec_id, e.v,
       |    (SELECT c2.cell FROM ${prefix}cent2 c2
       |     ORDER BY list_cosine_similarity(e.v, c2.cv) DESC, c2.cell ASC LIMIT 1) AS cell
       |  FROM e)""".stripMargin

  /** Centroids per dataset, trained once per snapshot and reused —
    * what a real IVF index does (train at build time, broadcast at
    * query time); retraining per query would double every lookup's
    * cost with two extra jobs. */
  private[graft] val centroids = new State.Memo[String, Long, Seq[Seq[Double]]]

  val annIvf: Op = Op.sql("ann_ivf",
    ivfCentroidCteSql +
    s""",
       |$ivfProbesCteSql
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos
       |FROM (
       |  SELECT p.query_id, c.vec_id,
       |    list_cosine_similarity(p.qv, c.v) AS cos,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY list_cosine_similarity(p.qv, c.v) DESC, c.vec_id) AS rn
       |  FROM probes p JOIN cells c USING (cell)
       |  WHERE c.vec_id <> p.query_id)
       |WHERE rn <= $TopK
       |ORDER BY query_id, neighbor_id""".stripMargin) { (s, dir) =>
    Bounded.ordered(
      ivfTopK(emb(s, dir), emb(s, dir).filter(col("vec_id") < NumQueries),
        TopK, centroidsFor(s, dir)),
      col("query_id"), col("neighbor_id"))
  }

  /** Radius threshold for [[annRangeSearch]] — shared by op and
    * oracle so neither can drift. The comparison runs on the RAW
    * cosine (per-row double arithmetic is IEEE-identical across
    * engines, SURVEY §5), so the predicate is deterministic. */
  val RangeTau = 0.3

  /** Range (radius) search — the OTHER vector-retrieval contract:
    * "every neighbor at least this similar", not "the k best". A
    * dedup or contamination pipeline wants radius semantics (all
    * matches above a similarity bar), where top-k would silently drop
    * matches past k. Same IVF index as [[annIvf]] (cells = partition
    * layout at scale), but with NO per-query window: probe cells,
    * one codegen'd cosine per candidate, a pushed threshold filter —
    * scan-shaped, fully whole-stage-codegen, output bounded by the
    * data's actual neighborhood density rather than k·queries. The
    * probe side is pinned broadcast: queries×NumProbes is fixed-size
    * BY CONTRACT while the listed corpus is 100 TB-proportional
    * (SURVEY §4.3's lesson, same as ann_ivf_append). */
  val annRangeSearch: Op = Op.sql("ann_range_search",
    ivfCentroidCteSql +
    s""",
       |$ivfProbesCteSql
       |SELECT p.query_id, c.vec_id AS neighbor_id,
       |  round(list_cosine_similarity(p.qv, c.v), 6) AS cos
       |FROM probes p JOIN cells c USING (cell)
       |WHERE c.vec_id <> p.query_id
       |  AND list_cosine_similarity(p.qv, c.v) >= $RangeTau
       |ORDER BY query_id, neighbor_id""".stripMargin) { (s, dir) =>
    val cLit = typedLit(centroidsFor(s, dir))
    val listed = emb(s, dir).withColumn("cell", cellExpr(cLit, col("v")))
    val probed = emb(s, dir).filter(col("vec_id") < NumQueries)
      .withColumn("probe_cells", probeCellsExpr(cLit, col("v")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(col("probe_cells")).as("cell"))
    broadcast(probed).join(listed, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw", cosine(col("qv"), col("v")))
      .filter(col("cos_raw") >= RangeTau)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Index-quality monitoring — recall@k of the IVF index against
    * brute-force ground truth, per query, as a first-class operator:
    * the metric a production vector store watches to decide when an
    * index needs more probes or a retrain (it is ann_ivf_append's
    * staleness bound turned into a continuously computable table).
    * Evaluation is a LEFT join from the truth set to the index's
    * answers — a missed neighbor counts as a null, never dropped —
    * so recall can be 0 and still emit a row per query. Both sides
    * reuse the established kernels ([[bruteTopK]], [[ivfTopK]]); the
    * oracle composes the SAME two replayed SQL formulations (shared
    * train CTEs) and the raw k-division stays an int/int IEEE
    * division per SURVEY §5. Cost: the brute side is the expensive
    * one — which is exactly why this runs on a SAMPLED query set
    * (NumQueries by contract) in production, never the corpus. */
  val annRecallEval: Op = Op.sql("ann_recall_eval",
    ivfCentroidCteSql +
    s""",
       |$ivfProbesCteSql,
       |ivf AS (
       |  SELECT query_id, vec_id AS neighbor_id
       |  FROM (
       |    SELECT p.query_id, c.vec_id,
       |      row_number() OVER (PARTITION BY p.query_id
       |        ORDER BY list_cosine_similarity(p.qv, c.v) DESC, c.vec_id) AS rn
       |    FROM probes p JOIN cells c USING (cell)
       |    WHERE c.vec_id <> p.query_id)
       |  WHERE rn <= $TopK),
       |brute AS (
       |  SELECT query_id, vec_id AS neighbor_id
       |  FROM (
       |    SELECT q.vec_id AS query_id, e2.vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, e2.v) DESC, e2.vec_id) AS rn
       |    FROM (SELECT * FROM e WHERE vec_id < $NumQueries) q
       |    JOIN e e2 ON e2.vec_id <> q.vec_id)
       |  WHERE rn <= $TopK)
       |SELECT b.query_id, count(i.neighbor_id) AS n_hits,
       |  count(i.neighbor_id) * 1.0 / $TopK AS recall_at_k
       |FROM brute b LEFT JOIN ivf i
       |  ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
       |GROUP BY b.query_id ORDER BY b.query_id""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    val queries = e.filter(col("vec_id") < NumQueries)
    val brute = bruteTopK(e, queries, TopK).select("query_id", "neighbor_id")
    val ivf = ivfTopK(e, queries, TopK, centroidsFor(s, dir))
      .select(col("query_id"), col("neighbor_id").as("ivf_neighbor"))
    brute.join(ivf,
        brute("query_id") === ivf("query_id") &&
        col("neighbor_id") === col("ivf_neighbor"), "left")
      .groupBy(brute("query_id"))
      .agg(count(col("ivf_neighbor")).as("n_hits"))
      .select(col("query_id"), col("n_hits"),
        (col("n_hits") * 1.0 / TopK).as("recall_at_k"))
      .orderBy("query_id")
  }

  /** Index-GEOMETRY drift between the frozen base training and a full
    * retrain (round 9 — the cheap signal an index maintainer watches
    * NEXT TO ann_recall_eval's expensive quality metric: centroid
    * movement and occupancy shift tell you a retrain is due before
    * you pay a brute-force recall sweep): per cell, the cosine
    * between the base-trained and full-trained centroid plus the
    * corpus occupancy under each centroid set. Cell ids correspond
    * across trainings because both seed from the SAME K lowest-id
    * vectors (the base slice contains them — AppendFrac ≫ K/corpus)
    * and renumber densely in seed order. Centroids are driver-held
    * index metadata; the occupancy pass is one corpus scan with two
    * codegen'd assignments and two K-row aggregates. Value-exact:
    * both trainings replay in SQL via the shared (now
    * prefix-parameterized) ivfTrainCtesSql. */
  val annCentroidDrift: Op = Op.sql("ann_centroid_drift",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cut AS MATERIALIZED (
       |  SELECT CAST(floor(max(vec_id) * $AppendFrac) AS BIGINT) AS c FROM e),
       |eb AS MATERIALIZED (
       |  SELECT * FROM e WHERE vec_id < (SELECT c FROM cut)),
       |""".stripMargin + ivfTrainCtesSql("e") + ",\n" +
      ivfTrainCtesSql("eb", "b") +
      s"""
         |SELECT c2.cell,
         |  round(list_cosine_similarity(b2.cv, c2.cv), 6) AS cos_drift,
         |  coalesce(nb.n, 0) AS n_base, coalesce(nf.n, 0) AS n_full
         |FROM cent2 c2 JOIN bcent2 b2 USING (cell)
         |LEFT JOIN (SELECT cell, count(*) AS n FROM bcells GROUP BY cell) nb
         |  USING (cell)
         |LEFT JOIN (SELECT cell, count(*) AS n FROM cells GROUP BY cell) nf
         |  USING (cell)
         |ORDER BY cell""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val cut = math.floor(maxId * AppendFrac).toLong
    val cFull = centroidsFor(s, dir)
    val cBase = baseCentroidsFor(s, dir, cut)
    val k = math.min(cFull.length, cBase.length)
    val litF = typedLit(cFull)
    val litB = typedLit(cBase)
    val cellsDf = s.range(k).select(col("id").as("cell"))
      .withColumn("cos_drift", round(cosine(
        element_at(litB, col("cell").cast("int") + 1),
        element_at(litF, col("cell").cast("int") + 1)), 6))
    val assigned = e.select(
      cellExpr(litB, col("v")).cast("bigint").as("cb"),
      cellExpr(litF, col("v")).cast("bigint").as("cf"))
    val nb = assigned.groupBy(col("cb").as("cell")).agg(count(lit(1)).as("nb"))
    val nf = assigned.groupBy(col("cf").as("cell")).agg(count(lit(1)).as("nf"))
    cellsDf.join(nb, Seq("cell"), "left").join(nf, Seq("cell"), "left")
      .select(col("cell"), col("cos_drift"),
        coalesce(col("nb"), lit(0L)).as("n_base"),
        coalesce(col("nf"), lit(0L)).as("n_full"))
      .orderBy("cell")
  }

  /** Centroids for a dataset, trained once per snapshot of
    * `embeddings` — shared by [[annIvf]], [[annIvfPersist]] and the
    * specs so every path probes the EXACT same centroids (independent
    * retraining could differ in the last ulp of an avg() and flip a
    * boundary assignment). */
  def centroidsFor(s: SparkSession, dir: String): Seq[Seq[Double]] =
    centroids(dir, Tables.stamp(dir, "embeddings"))(ivfCentroids(emb(s, dir)))

  /** Index FORMAT generation, part of the generation's name: bump
    * whenever build logic changes what persisted cells/codes mean
    * (f3 = fixed-point centroid/codebook means, round 7 — an index
    * built by avg-means code must never be probed by this code). */
  private val IndexFormat = "f3"

  /** The persisted IVF index of a dataset's current `embeddings`
    * snapshot (a [[State.artifact]] generation). */
  def ivfIndexPath(dir: String): String =
    State.path("ivf_index", dir, "embeddings", IndexFormat)

  /** The "inverted lists ARE the partitioning" claim made PHYSICAL:
    * the corpus is WRITTEN partitioned by IVF cell (`cell=N/` dirs,
    * built once per dataset like a real index), and a point lookup's
    * probe cells become a LITERAL `IN` that becomes
    * `PartitionFilters` at the scan: a top-k probe reads
    * NumProbes/NumCentroids of the stored corpus and never lists the
    * rest. AnnSpec asserts the pruning predicate inside
    * PartitionFilters and that the result equals the in-memory IVF
    * path. */
  /** The persisted-index point lookup replayed logically (round 7):
    * the oracle recomputes the refined cells (= the index's partition
    * layout) and query 0's probe set, then ranks within probed cells
    * — exactly what the PartitionFilters scan reads. A build bug
    * (stale index, wrong cell assignment, torn write) lands rows
    * outside the replayed cell set and fails the compare. */
  val annIvfPersist: Op = Op.sql("ann_ivf_persist",
    ivfCentroidCteSql +
      s""",
         |pc0 AS MATERIALIZED (
         |  SELECT c2.cell FROM cent2 c2, (SELECT v FROM e WHERE vec_id = 0) q
         |  ORDER BY list_cosine_similarity(q.v, c2.cv) DESC, c2.cell ASC LIMIT $NumProbes)
         |SELECT CAST(0 AS BIGINT) AS query_id, c.vec_id AS neighbor_id,
         |  round(list_cosine_similarity(q.v, c.v), 6) AS cos
         |FROM cells c, (SELECT v FROM e WHERE vec_id = 0) q
         |WHERE c.cell IN (SELECT cell FROM pc0) AND c.vec_id <> 0
         |ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id LIMIT $TopK""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    val centroids = centroidsFor(s, dir)
    // "built" = Spark's _SUCCESS commit marker, written only after the
    // job completes — a crashed or in-flight build is retried, never
    // probed (an in-memory "already built" flag set before the write
    // would permanently mask a partial index)
    State.artifact("ivf_index", dir, "embeddings", IndexFormat) { path =>
      if (!new java.io.File(s"$path/_SUCCESS").exists())
        e.withColumn("cell", cellExpr(typedLit(centroids), col("v")))
          .write.mode("overwrite").partitionBy("cell").parquet(path)
    }
    val qv = e.filter(col("vec_id") === 0L).head().getSeq[Double](1).toSeq
    ivfPointLookup(s, dir, centroids, 0L, qv)
  }

  private val baseCentroids = new State.Memo[String, (Long, Long), Seq[Seq[Double]]]

  /** Base-slice centroids for the appendable index, trained once per
    * snapshot like [[centroidsFor]] but on `vec_id < cut` only — the
    * index's frozen training set. One entry per dataset: the cut is
    * part of the stamp, since a rewrite can move it. */
  def baseCentroidsFor(s: SparkSession, dir: String, cut: Long): Seq[Seq[Double]] =
    baseCentroids(dir, (Tables.stamp(dir, "embeddings"), cut))(
      ivfCentroids(emb(s, dir).filter(col("vec_id") < cut)))

  /** The appendable IVF index (`base/` and `delta/`) of a dataset's
    * current `embeddings` snapshot. */
  def appendIndexPath(dir: String): String =
    State.path("ivf_append", dir, "embeddings", IndexFormat)

  /** Incremental IVF index maintenance (VERDICT r7 task 8 — the
    * production gap a full-rebuild-only index has): the corpus's
    * first `AppendFrac` of ids is the already-built BASE index
    * (cells partitioned on disk, centroids frozen at base-train
    * time); the remaining ids arrive as a new batch that is assigned
    * to the EXISTING cells and written as a `delta/` generation —
    * the base partitions are never rewritten and the delta build's
    * scan reads ONLY the new vectors (the `vec_id >= cut` predicate
    * pushes to parquet). Queries probe base+delta as one index.
    * That is exactly how a 10 B-vector deployment absorbs daily
    * arrivals: assignment-only appends between periodic retrains.
    * The cost of not retraining is staleness — append-index recall
    * vs a full retrain — which AnnSpec measures and bounds.
    *
    * Value-exact oracle: centroids re-trained on the base slice in
    * SQL (ivfTrainCtesSql over `eb`, fixed-point means), `cells`
    * assigning base AND batch under them — precisely the persisted
    * base∪delta — then the standard probe/rank replay. */
  val annIvfAppend: Op = Op.sql("ann_ivf_append",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cut AS MATERIALIZED (
       |  SELECT CAST(floor(max(vec_id) * $AppendFrac) AS BIGINT) AS c FROM e),
       |eb AS MATERIALIZED (
       |  SELECT * FROM e WHERE vec_id < (SELECT c FROM cut)),
       |""".stripMargin + ivfTrainCtesSql("eb") +
    s""",
       |$ivfProbesCteSql
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos
       |FROM (
       |  SELECT p.query_id, c.vec_id,
       |    list_cosine_similarity(p.qv, c.v) AS cos,
       |    row_number() OVER (PARTITION BY p.query_id
       |      ORDER BY list_cosine_similarity(p.qv, c.v) DESC, c.vec_id) AS rn
       |  FROM probes p JOIN cells c USING (cell)
       |  WHERE c.vec_id <> p.query_id)
       |WHERE rn <= $TopK
       |ORDER BY query_id, neighbor_id""".stripMargin) { (s, dir) =>
    val e = emb(s, dir)
    val maxId = e.agg(max("vec_id")).head().getLong(0)
    val cut = math.floor(maxId * AppendFrac).toLong
    val centroids = baseCentroidsFor(s, dir, cut)
    val cLit = typedLit(centroids)
    val path = State.artifact("ivf_append", dir, "embeddings", IndexFormat) { path =>
      if (!new java.io.File(s"$path/base/_SUCCESS").exists())
        e.filter(col("vec_id") < cut)
          .withColumn("cell", cellExpr(cLit, col("v")))
          .write.mode("overwrite").partitionBy("cell").parquet(s"$path/base")
      if (!new java.io.File(s"$path/delta/_SUCCESS").exists()) {
        // the incremental claim: ONLY the new ids are scanned
        // (pushed predicate) and assigned; base/ is not touched
        e.filter(col("vec_id") >= cut)
          .withColumn("cell", cellExpr(cLit, col("v")))
          .write.mode("overwrite").partitionBy("cell").parquet(s"$path/delta")
      }
    }
    val index = s.read.parquet(s"$path/base")
      .unionByName(s.read.parquet(s"$path/delta"))
    val probed = e.filter(col("vec_id") < NumQueries)
      .withColumn("probe_cells", probeCellsExpr(cLit, col("v")))
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        explode(col("probe_cells")).as("cell"))
    // the PROBE side broadcasts (queries × NumProbes rows — small by
    // contract); without the pin the planner builds on the
    // CORPUS-sized index because it fits at test SF — the r7
    // scale-bug class, and a guaranteed OOM at 10 B vectors.
    // PlanAuditSpec asserts the build side.
    broadcast(probed).join(index, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("cos_raw", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_raw").desc, col("vec_id"))))
      .filter(col("rn") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** Point lookup against the persisted IVF index. Probe cells are
    * chosen through the SAME codegen'd cosine kernel the index was
    * built with (a one-row plan over the query vector literal —
    * collecting NumProbes ints), so build and probe can never
    * disagree on a boundary rounding. */
  def ivfPointLookup(s: SparkSession, dir: String, centroids: Seq[Seq[Double]],
                     qid: Long, qv: Seq[Double]): DataFrame = {
    val cLit = typedLit(centroids)
    val cells = s.range(1)
      .select(slice(transform(
        array_sort(transform(sequence(lit(0), lit(NumCentroids - 1)),
          i => struct((-cosine(typedLit(qv), element_at(cLit, i + 1))).as("negcos"),
            i.as("cell")))),
        e => e.getField("cell")), 1, NumProbes).as("cells"))
      .head().getSeq[Int](0)
    s.read.parquet(ivfIndexPath(dir))
      .filter(col("cell").isin(cells: _*))
      .filter(col("vec_id") =!= qid)
      .withColumn("cos_raw", cosine(typedLit(qv), col("v")))
      .orderBy(col("cos_raw").desc, col("vec_id"))
      .limit(TopK)
      .select(lit(qid).as("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cos"))
  }

  // ---- product quantization (PQ) ----------------------------------

  val PqM = 16 // subspaces (finer grain buys accuracy at same bytes)
  val PqK = 16 // centroids per subspace (4-bit codes)
  val PqSubDim: Int = Dim / PqM
  val PqShortlist = 20 // ADC shortlist factor before exact re-rank

  /** Train the PQ codebook: seed each subspace's K centroids from
    * the K lowest-id vectors' subvectors, refine with one Lloyd pass
    * (assign codes with the codegen'd encoder, recompute per-
    * (subspace, code, dim) means — ONE shuffle of scalar triples).
    * Driver holds only M·K·subDim = 1024 doubles — the codebook a
    * real PQ index trains once and broadcasts. Returns the flat
    * `[(m·K + k)·subDim + d]` layout the kernels consume. */
  def pqTrain(corpus: DataFrame): Seq[Double] = {
    val seeds: Array[Double] = corpus.orderBy("vec_id").limit(PqK)
      .collect().map(_.getSeq[Double](1))
      .zipWithIndex
      .flatMap { case (v, k) => (0 until PqM).map(m => ((m, k), v.slice(m * PqSubDim, (m + 1) * PqSubDim))) }
      .sortBy { case ((m, k), _) => (m, k) }
      .flatMap(_._2).toArray
    val seedLit = typedLit(seeds.toSeq)
    val coded = corpus.select(col("vec_id"), col("v"),
      posexplode(call_function("graft_pq_encode", col("v"), seedLit,
        lit(PqM), lit(PqK))).as(Seq("m", "code")))
    // per (m, code, d) mean of the assigned subvector components —
    // FIXED-POINT sums like ivfCentroids (round 7): exact
    // integerization, order-free accumulation, deterministic
    // distributed retrains, and the oracle replays it verbatim
    val means = coded
      .select(col("m"), col("code"),
        posexplode(slice(col("v"), col("m") * PqSubDim + 1, lit(PqSubDim)))
          .as(Seq("d", "x")))
      .groupBy("m", "code", "d")
      .agg(sum(floor(col("x") * lit(1048576.0) + lit(0.5)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("mu", col("s").cast("double") / lit(1048576.0) / col("n"))
      .select("m", "code", "d", "mu")
      .collect().map(r => ((r.getInt(0), r.getLong(1).toInt, r.getInt(2)), r.getDouble(3)))
      .toMap
    val flat = seeds.clone()
    means.foreach { case ((m, k, d), mu) =>
      flat((m * PqK + k) * PqSubDim + d) = mu
    } // unused codes keep their seed centroid
    flat.toSeq
  }

  /** Unit-norm of one vector column (‖v‖₂-scaled copy). */
  private[graft] def unitNormExpr(v: Column): Column =
    bound(sqrt(aggregate(v, lit(0.0), (acc, x) => acc + x * x))) { n =>
      transform(v, x => x / n)
    }

  /** Unit-normalize so dot == cosine (ADC approximates dot). Public:
    * specs must train/encode through the same normalization the
    * operator uses. */
  def unitNorm(df: DataFrame): DataFrame =
    df.select(col("vec_id"), unitNormExpr(col("v")).as("v"))

  /** PQ-compressed ANN, two-stage (the production shape): the corpus
    * is stored as M 4-bit codes per vector (packed: 8 B vs 256 B of
    * floats, ~32× — the difference between a 3 TB and a ~100 GB
    * index at 10 B embeddings; the in-plan `array<long>` is the
    * logical form); stage 1 scores EVERY candidate with M table
    * lookups (ADC) instead of `dim` multiply-adds and keeps a
    * shortlist of `PqShortlist·k`; stage 2 re-ranks only the
    * shortlist with exact cosine against the full vectors. Per query
    * the full-precision corpus is touched `shortlist` times, not n
    * times. Encode and score are codegen'd kernels. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             codebook: Seq[Double]): DataFrame = {
    val cbLit = typedLit(codebook)
    val codes = unitNorm(corpus).select(col("vec_id"),
      call_function("graft_pq_encode", col("v"), cbLit,
        lit(PqM), lit(PqK)).as("codes"))
    // per-query LUT: lut[m·K + k] = dot(q_sub_m, centroid_{m,k}) —
    // O(|Q|·M·K·subDim) query-side prep on the (small, broadcast)
    // query set
    val spark = corpus.sparkSession
    import spark.implicits._
    val luts = unitNorm(queries).collect().map { r =>
      (r.getLong(0), adcLut(r.getSeq[Double](1), codebook))
    }.toSeq.toDF("query_id", "lut")
    // stage 1: ADC scan over codes only → shortlist (partial top-N
    // per partition via WindowGroupLimit, scalars only)
    val shortlist = codes.crossJoin(broadcast(luts))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("approx_dot",
        call_function("graft_adc_dot", col("codes"), col("lut"), lit(PqK)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("approx_dot").desc, col("vec_id"))))
      .filter(col("rn") <= k * PqShortlist)
      .select(col("query_id"), col("vec_id"))
    // stage 2: exact re-rank of the shortlist only — joins full
    // vectors back for shortlist·|Q| rows, never the whole corpus
    shortlist
      .join(corpus.withColumnRenamed("vec_id", "cand_id"),
        col("vec_id") === col("cand_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("v").as("qv"))), "query_id")
      .withColumn("cos_raw", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_raw").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cos"))
  }

  private[graft] val codebooks = new State.Memo[String, Long, Seq[Double]]

  /** The trained codebook for a dataset, once per snapshot. */
  def codebookFor(s: SparkSession, dir: String): Seq[Double] =
    codebooks(dir, Tables.stamp(dir, "embeddings"))(pqTrain(unitNorm(emb(s, dir))))

  /** The PQ pipeline replayed in the oracle (round 7; rows-only
    * before): unit-norm (list_dot_product's accumulation = the HOF
    * fold's), seed codebook from the K lowest ids' subvectors,
    * encode = per-subspace L2 argmin with the kernel's exact
    * left-assoc 4-term distance and strict-< tie rule (≡ ORDER BY
    * dist, k LIMIT 1), Lloyd means as fixed-point sums, re-encode,
    * per-query ADC LUT (4-term left-assoc dots), ADC score = ordered
    * 16-term sum via list_reduce, shortlist, exact re-rank. Every
    * float op mirrors the kernel's IEEE order, so the unrounded
    * scores compare bit-exact (validated at sf0.001/0.01/0.1). */
  private def distSql(vecTab: String, cbTab: String, mi: String): String = {
    val terms = (1 to PqSubDim).map(d =>
      s"($vecTab.nv[$mi*$PqSubDim+$d] - $cbTab.cs[$d]) * ($vecTab.nv[$mi*$PqSubDim+$d] - $cbTab.cs[$d])")
    terms.reduce((a, b) => s"($a + $b)")
  }

  private def lutDotSql(qTab: String, cbTab: String): String =
    (1 to PqSubDim).map(d =>
      s"$qTab.nv[$cbTab.m*$PqSubDim+$d] * $cbTab.cs[$d]")
      .reduce((a, b) => s"($a + $b)")

  /** PQ codebook + codes + per-query ADC scores as CTEs; appends to a
    * WITH that already defines `e(vec_id, v)`. */
  def pqAdcCteSql: String =
    s""",
       |un AS MATERIALIZED (
       |  SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
       |  FROM e),
       |pseed AS MATERIALIZED (
       |  SELECT sp.mi AS m, s.k, s.nv[sp.mi * $PqSubDim + 1 : sp.mi * $PqSubDim + $PqSubDim] AS cs
       |  FROM (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, nv
       |        FROM un ORDER BY vec_id LIMIT $PqK) s,
       |       unnest(range($PqM)) AS sp(mi)),
       |code0 AS MATERIALIZED (
       |  SELECT u.vec_id, sp.mi AS m,
       |    (SELECT p.k FROM pseed p WHERE p.m = sp.mi
       |     ORDER BY ${distSql("u", "p", "sp.mi")} ASC,
       |       p.k ASC LIMIT 1) AS code
       |  FROM un u, unnest(range($PqM)) AS sp(mi)),
       |pmean AS MATERIALIZED (
       |  SELECT c0.m, c0.code, t.d,
       |    CAST(sum(CAST(floor(u.nv[c0.m * $PqSubDim + t.d] * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
       |      / 1048576.0 / count(*) AS mu
       |  FROM code0 c0 JOIN un u USING (vec_id), unnest(range(1, ${PqSubDim + 1})) AS t(d)
       |  GROUP BY 1, 2, 3),
       |cbf AS MATERIALIZED (
       |  SELECT p.m, p.k, coalesce(mm.cs, p.cs) AS cs
       |  FROM pseed p LEFT JOIN
       |    (SELECT m, code, list(mu ORDER BY d) AS cs FROM pmean GROUP BY m, code) mm
       |    ON mm.m = p.m AND mm.code = p.k),
       |codes AS MATERIALIZED (
       |  SELECT u.vec_id, sp.mi AS m,
       |    (SELECT c.k FROM cbf c WHERE c.m = sp.mi
       |     ORDER BY ${distSql("u", "c", "sp.mi")} ASC,
       |       c.k ASC LIMIT 1) AS code
       |  FROM un u, unnest(range($PqM)) AS sp(mi)),
       |lut AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, c.m, c.k,
       |    ${lutDotSql("q", "c")} AS dot
       |  FROM (SELECT vec_id, nv FROM un WHERE vec_id < $NumQueries) q, cbf c),
       |adc AS MATERIALIZED (
       |  SELECT l.query_id, cd.vec_id,
       |    list_reduce(list(l.dot ORDER BY l.m), (a, b) -> a + b) AS approx_dot
       |  FROM codes cd JOIN lut l ON l.m = cd.m AND l.k = cd.code
       |  WHERE l.query_id <> cd.vec_id
       |  GROUP BY 1, 2)""".stripMargin

  /** Exact re-rank of a `(query_id, vec_id)` shortlist CTE → the ops'
    * (query_id, neighbor_id, cos) output. */
  private def rerankSql(shortCte: String): String =
    s"""
       |SELECT query_id, vec_id AS neighbor_id, round(cos, 6) AS cos FROM (
       |  SELECT s.query_id, s.vec_id,
       |    list_cosine_similarity(q.v, c.v) AS cos,
       |    row_number() OVER (PARTITION BY s.query_id
       |      ORDER BY list_cosine_similarity(q.v, c.v) DESC, s.vec_id) AS rn
       |  FROM $shortCte s
       |  JOIN e c ON c.vec_id = s.vec_id
       |  JOIN e q ON q.vec_id = s.query_id)
       |WHERE rn <= $TopK
       |ORDER BY query_id, neighbor_id""".stripMargin

  val annPq: Op = Op.sql("ann_pq",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)" +
      pqAdcCteSql +
      s""",
         |short AS MATERIALIZED (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY approx_dot DESC, vec_id) AS rn
         |    FROM adc)
         |  WHERE rn <= ${TopK * PqShortlist})""".stripMargin +
      rerankSql("short")) { (s, dir) =>
    val e = emb(s, dir)
    Bounded.ordered(
      pqTopK(e, e.filter(col("vec_id") < NumQueries), TopK, codebookFor(s, dir)),
      col("query_id"), col("neighbor_id"))
  }

  /** PQ QUANTIZATION-ERROR report, per subspace (the index-quality
    * number that sizes the M/K trade: recall_eval measures the END
    * effect on one query set, distortion measures the CAUSE — how
    * much of each subvector the codebook fails to represent — and is
    * what you watch when deciding to retrain or re-split; Jégou et
    * al.'s PQ paper tunes on exactly this). Per subspace m: vectors,
    * distinct codes actually used (dead codes = wasted codebook
    * capacity), mean and max squared reconstruction error against
    * the REFINED codebook. The per-vector error uses the kernel's
    * exact left-assoc 4-term distance; the corpus mean accumulates
    * FIXED-POINT (floor(err·2³⁰+0.5) longs — order-free exact sums,
    * the ivfCentroids discipline), max is order-free on raw doubles,
    * so the report hash-compares bit-exact while the oracle
    * re-trains the whole codebook in SQL. Scale: one corpus scan,
    * map-side-partial to M=16 rows; the codebook is driver metadata.
    */
  val annPqDistortion: Op = Op.sql("ann_pq_distortion",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)" +
      pqAdcCteSql +
      s""",
         |derr AS (
         |  SELECT cd.m, cd.code, ${distSql("u", "c", "cd.m")} AS err
         |  FROM codes cd JOIN un u USING (vec_id)
         |  JOIN cbf c ON c.m = cd.m AND c.k = cd.code)
         |SELECT m, count(*) AS n_vecs,
         |  count(DISTINCT code) AS n_codes_used,
         |  CAST(sum(CAST(floor(err * 1073741824.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 1073741824.0 / count(*) AS mse,
         |  max(err) AS max_err
         |FROM derr GROUP BY m ORDER BY m""".stripMargin) { (s, dir) =>
    val cb = codebookFor(s, dir)
    val cbLit = typedLit(cb)
    val coded = unitNorm(emb(s, dir)).select(col("vec_id"), col("v"),
      posexplode(call_function("graft_pq_encode", col("v"), cbLit,
        lit(PqM), lit(PqK))).as(Seq("m", "code")))
    // left-fold over d mirrors the oracle's left-assoc 4-term tree
    // (fold seed 0.0 + t1 == t1 exactly, so the IEEE orders agree)
    val err = aggregate(sequence(lit(1), lit(PqSubDim)), lit(0.0),
      (acc, d) => {
        val diff = element_at(col("v"), (col("m") * PqSubDim + d).cast("int")) -
          element_at(cbLit, ((col("m") * PqK + col("code")) * PqSubDim + d).cast("int"))
        acc + diff * diff
      })
    coded.withColumn("err", err)
      .groupBy("m")
      .agg(count(lit(1)).as("n_vecs"),
        countDistinct(col("code")).as("n_codes_used"),
        (sum(floor(col("err") * lit(1073741824.0) + lit(0.5)).cast("long"))
          .cast("double") / lit(1073741824.0) / count(lit(1))).as("mse"),
        max(col("err")).as("max_err"))
      .orderBy("m")
  }

  // ---- scalar quantization (SQ8) + binary (1-bit) ------------------

  /** Shortlist factor for the two quantized scan paths below. */
  val SqShortlist = 4

  private[graft] val sq8Scales = new State.Memo[String, Long, Double]

  /** The SQ8 scale 127/max|nv_d| for a dataset, computed once per
    * snapshot — index metadata like the IVF centroids: one order-free
    * max-of-abs aggregate over the unit-normed corpus, a single double
    * on the driver. */
  def sq8InvFor(s: SparkSession, dir: String): Double =
    sq8Scales(dir, Tables.stamp(dir, "embeddings"))(sq8Inv(unitNorm(emb(s, dir))))

  /** The SQ8 scale over an arbitrary unit-normed `(vec_id, v)` frame
    * — factored for AnnSpec's random-vector property test. */
  private[graft] def sq8Inv(un: DataFrame): Double = {
    val maxAbs = un
      .agg(max(aggregate(col("v"), lit(0.0), (a, x) => greatest(a, abs(x)))))
      .head().getDouble(0)
    // an all-zero corpus would make the scale infinite and every
    // code 0 — fail loudly instead of serving degenerate rankings
    require(maxAbs > 0.0, s"SQ8 scale undefined: corpus max|nv| = $maxAbs")
    127.0 / maxAbs
  }

  /** Symmetric per-tensor int8 codes of a unit-normed vector column
    * (the standard GEMM-style quantization: one scale for the whole
    * tensor, codes in [-127, 127]). Elements are kept LONG so the
    * integer dot product accumulates without overflow anywhere. */
  private[graft] def sq8Codes(nv: Column, inv: Double): Column =
    transform(nv, x =>
      least(greatest(floor(x * inv + 0.5).cast("int"), lit(-127)), lit(127))
        .cast("long"))

  /** Scalar-quantized ANN (SQ8 — the middle rung of the compression
    * ladder this library now covers end to end: 1-bit [[annBinary]],
    * 8-bit here, 4-bit-PQ [[annPq]]): the corpus is stored as 64
    * int8 codes + ONE shared scale (65 B vs 256 B of floats, 4× — at
    * 10 B vectors a ~650 GB index), stage 1 ranks every candidate by
    * the INTEGER dot product of codes (no table lookups, no float
    * math — the quantized dot is what int8 GEMM hardware executes),
    * stage 2 re-ranks the `SqShortlist·k` shortlist with exact cosine
    * against full vectors. Symmetric per-tensor quantization is what
    * makes the oracle possible: code = clamp(floor(nv·inv + 0.5)) is
    * one IEEE-identical expression, and the approximate score is then
    * a PURE INTEGER Σ code_q·code_c — order-free, bit-exact on any
    * engine (the oracle computes it via exact small-integer float
    * sums), so the shortlist and final top-k replay verbatim.
    *
    * Scale (100 TB / 10 B vectors): same plan shape as [[annTopkBrute]]
    * (broadcast query codes, ONE corpus scan, WindowGroupLimit partial
    * top-k) but the scan reads the 4×-smaller code column and the
    * per-candidate kernel is 64 integer multiply-adds; composes with
    * the IVF cell layout exactly as PQ does. */
  val annSq8: Op = Op.sql("ann_sq8",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |un AS MATERIALIZED (
       |  SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS nv
       |  FROM e),
       |sc AS (SELECT 127.0 / max(list_max(list_transform(nv, x -> abs(x)))) AS inv
       |       FROM un),
       |codes AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(nv, x -> CAST(least(greatest(
       |      CAST(floor(x * sc.inv + 0.5) AS INTEGER), -127), 127) AS DOUBLE)) AS c
       |  FROM un, sc),
       |short AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, c2.vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_dot_product(q.c, c2.c) DESC, c2.vec_id) AS rn
       |    FROM (SELECT * FROM codes WHERE vec_id < $NumQueries) q
       |    JOIN codes c2 ON c2.vec_id <> q.vec_id)
       |  WHERE rn <= ${TopK * SqShortlist})""".stripMargin +
      rerankSql("short")) { (s, dir) =>
    val e = emb(s, dir)
    val inv = sq8InvFor(s, dir)
    val codes = unitNorm(e).select(col("vec_id"), sq8Codes(col("v"), inv).as("c"))
    val shortlist = codes.as("c")
      .join(broadcast(codes.filter(col("vec_id") < NumQueries).as("q")),
        col("q.vec_id") =!= col("c.vec_id"))
      .withColumn("approx",
        aggregate(zip_with(col("q.c"), col("c.c"), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q.vec_id"))
          .orderBy(col("approx").desc, col("c.vec_id"))))
      .filter(col("rn") <= TopK * SqShortlist)
      .select(col("q.vec_id").as("query_id"), col("c.vec_id"))
    rerank(shortlist, e).orderBy("query_id", "neighbor_id")
  }

  /** Binary (1-bit sign) ANN — the extreme end of the compression
    * ladder (Charikar's SimHash applied as a code, the same family as
    * [[graft.functions.VectorKernels]]' hyperplane bands but with the
    * coordinate axes as the hyperplanes): each vector stores as ONE
    * long (bit d = v_d > 0; 8 B vs 256 B, 32× — a 10 B-vector index
    * fits in 80 GB), candidates rank by hamming distance =
    * popcount(xor) — one xor + one popcount per candidate, the
    * cheapest scan kernel that exists — and the shortlist re-ranks
    * with exact cosine. Sign bits are scale-invariant, so no
    * normalization pass is even needed. The oracle never packs (a
    * 1<<63 shift overflows DuckDB's checked BIGINT): it counts sign
    * disagreements per dimension directly — provably the same number
    * the op's popcount(xor) computes, integer-exact either way.
    *
    * Scale: [[annTopkBrute]]'s plan with an 8-byte scan column; at
    * 10 B vectors the binary pre-pass reads 32× fewer index bytes
    * than the float scan and feeds the same exact re-rank. */
  val annBinary: Op = Op.sql("ann_binary",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |short AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY len(list_filter(range($Dim),
       |          i -> (q.v[i+1] > 0) <> (c.v[i+1] > 0))) ASC, c.vec_id) AS rn
       |    FROM (SELECT * FROM e WHERE vec_id < $NumQueries) q
       |    JOIN e c ON c.vec_id <> q.vec_id)
       |  WHERE rn <= ${TopK * SqShortlist})""".stripMargin +
      rerankSql("short")) { (s, dir) =>
    val e = emb(s, dir)
    val sigs = e.select(col("vec_id"), binarySigExpr.as("sig"))
    val shortlist = sigs.as("c")
      .join(broadcast(sigs.filter(col("vec_id") < NumQueries).as("q")),
        col("q.vec_id") =!= col("c.vec_id"))
      .withColumn("ham", expr("bit_count(q.sig ^ c.sig)"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q.vec_id"))
          .orderBy(col("ham").asc, col("c.vec_id"))))
      .filter(col("rn") <= TopK * SqShortlist)
      .select(col("q.vec_id").as("query_id"), col("c.vec_id"))
    rerank(shortlist, e).orderBy("query_id", "neighbor_id")
  }

  /** The 64-bit sign signature of column `v` — bit d set iff
    * v[d] > 0. Factored for AnnSpec's property test. */
  private[graft] def binarySigExpr: Column = expr(
    s"aggregate(zip_with(v, sequence(0, ${Dim - 1}), " +
      "(x, i) -> IF(x > 0D, shiftleft(1L, i), 0L)), 0L, (acc, y) -> acc + y)")

  /** Exact-cosine re-rank of a `(query_id, vec_id)` shortlist against
    * the full-precision corpus — the Spark mirror of [[rerankSql]],
    * shared by every two-stage quantized path. Joins full vectors
    * back for shortlist·|Q| rows only, never the corpus. */
  private def rerank(shortlist: DataFrame, corpus: DataFrame): DataFrame =
    shortlist
      .join(corpus.withColumnRenamed("vec_id", "cand_id"),
        col("vec_id") === col("cand_id"))
      .join(broadcast(corpus.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("query_id"), col("v").as("qv"))), "query_id")
      .withColumn("cos_raw", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_raw").desc, col("vec_id"))))
      .filter(col("rn") <= TopK)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cos"))

  // ---- IVF+PQ composition (the 10B-vector production shape) --------

  /** Per-query ADC lookup table: lut[m·K + k] = dot(q_sub_m, c_{m,k})
    * — O(M·K·subDim) driver-side prep per query. */
  private def adcLut(q: Seq[Double], codebook: Seq[Double]): Seq[Double] = {
    val lut = new Array[Double](PqM * PqK)
    var i = 0
    while (i < PqM * PqK) {
      val m = i / PqK; val kk = i % PqK
      var s = 0.0
      var d = 0
      while (d < PqSubDim) {
        s += q(m * PqSubDim + d) * codebook((m * PqK + kk) * PqSubDim + d)
        d += 1
      }
      lut(i) = s
      i += 1
    }
    lut.toSeq
  }

  /** The IVF+PQ index FORMAT: bump it whenever the build logic
    * changes what the persisted bytes mean (pq-f2 = cells assigned from
    * RAW vectors via cellExpr), so an index built by older code for the
    * same snapshot is never reused with mismatched cell assignments —
    * `_SUCCESS` only says the build finished, not that THIS code built
    * it. */
  private val PqIndexFormat = s"$IndexFormat/pq-f2"

  /** The persisted IVF+PQ index of a dataset's current `embeddings`
    * snapshot. */
  def pqIndexPath(dir: String): String =
    State.path("ivfpq", dir, "embeddings", PqIndexFormat)

  /** Build the persisted IVF+PQ index once per snapshot: every
    * vector's PQ codes, WRITTEN partitioned by its IVF cell — the PQ
    * compression living inside ann_ivf_persist's inverted-list
    * layout. 8 B of codes per vector per cell dir; the full-precision
    * vectors never enter the index. */
  def ensureIvfPqIndex(s: SparkSession, dir: String): Unit = {
    State.artifact("ivfpq", dir, "embeddings", PqIndexFormat) { path =>
      if (!new java.io.File(s"$path/_SUCCESS").exists()) {
        val centroids = centroidsFor(s, dir)
        val cb = codebookFor(s, dir)
        // cell from the RAW vector through cellExpr — bit-identical
        // to ann_ivf_persist's build assignment. (Cosine is
        // scale-invariant only in exact arithmetic; normalizing
        // before assigning could flip a near-tie boundary rounding
        // and land the same vector in different cells of the two
        // indexes.) The codes then encode the unit-normed vector,
        // which is what the codebook was trained on.
        emb(s, dir)
          .withColumn("cell", cellExpr(typedLit(centroids), col("v")))
          .withColumn("codes", call_function("graft_pq_encode",
            unitNormExpr(col("v")), typedLit(cb), lit(PqM), lit(PqK)))
          .select("vec_id", "codes", "cell")
          .write.mode("overwrite").partitionBy("cell").parquet(path)
      }
    }
  }

  /** IVF+PQ search, the composition that fixes ann_pq's corpus-linear
    * ADC: each query's ADC scan runs only inside its `NumProbes`
    * nearest cells of the persisted codes index. The probe-cell union
    * is a LITERAL `IN` on the partition column — `PartitionFilters`
    * at the codes scan, so unprobed inverted lists are never listed,
    * let alone scanned (NumProbes/NumCentroids of the index per
    * query by construction). Stage 2 re-ranks the per-query shortlist
    * exactly against the full vectors — the corpus is touched
    * `shortlist` times per query, never n times.
    *
    * `corpusOnly` restricts candidates to labeled corpus rows
    * (`vec_id >= NumQueries`) — the voting population
    * [[annKnnClassify]] uses — so the k-NN composition never lets
    * one probe-set query vote on another's label. */
  def ivfPqTopK(s: SparkSession, dir: String, k: Int,
                corpusOnly: Boolean = false): DataFrame = {
    import s.implicits._
    val e = emb(s, dir)
    ensureIvfPqIndex(s, dir)
    val centroids = centroidsFor(s, dir)
    val cb = codebookFor(s, dir)
    val queries = e.filter(col("vec_id") < NumQueries)
    // query-side prep, ONE collect of the small query set: probe
    // cells ranked by probeCellsExpr on the RAW vector — the same
    // codegen'd kernel/expression tree the index cells were built
    // with, so probe and build cannot disagree on a boundary
    // rounding — plus the unit-normed vector for the driver-built
    // ADC LUT.
    val qRows = queries
      .select(col("vec_id"), unitNormExpr(col("v")).as("u"),
        probeCellsExpr(typedLit(centroids), col("v")).as("cells"))
      .collect().map { r =>
        (r.getLong(0), adcLut(r.getSeq[Double](1), cb), r.getSeq[Int](2))
      }.toSeq
    val unionCells = qRows.flatMap(_._3).distinct
    // stage 1: ADC only within each query's own probed cells. The
    // isin() literal prunes partitions; the (query_id, cell) join key
    // restricts each query to ITS cells, not the union's.
    val probes = qRows
      .flatMap { case (qid, lut, cells) => cells.map(c => (qid, c, lut)) }
      .toDF("query_id", "cell", "lut")
    val scan = s.read.parquet(pqIndexPath(dir))
      .filter(col("cell").isin(unionCells: _*))
    val shortlist = (if (corpusOnly) scan.filter(col("vec_id") >= NumQueries)
                     else scan)
      .join(broadcast(probes), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("approx_dot",
        call_function("graft_adc_dot", col("codes"), col("lut"), lit(PqK)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("approx_dot").desc, col("vec_id"))))
      .filter(col("rn") <= k * PqShortlist)
      .select(col("query_id"), col("vec_id"))
    // stage 2: exact re-rank of the shortlist only
    shortlist
      .join(e.withColumnRenamed("vec_id", "cand_id"),
        col("vec_id") === col("cand_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("v").as("qv"))), "query_id")
      .withColumn("cos_raw", cosine(col("qv"), col("v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos_raw").desc, col("vec_id"))))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("cos_raw"), 6).as("cos"))
  }

  /** Probe-cell CTE shared by the IVF+PQ oracles: each query's
    * NumProbes nearest refined centroids by the probe tie rule. */
  private def probesCteSql: String =
    s""",
       |probes AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, p.cell
       |  FROM (SELECT * FROM e WHERE vec_id < $NumQueries) q,
       |    LATERAL (SELECT c2.cell FROM cent2 c2
       |             ORDER BY list_cosine_similarity(q.v, c2.cv) DESC, c2.cell ASC
       |             LIMIT $NumProbes) p)""".stripMargin

  /** IVF+PQ composed in the oracle (round 7): the IVF index replay
    * ([[ivfCentroidCteSql]] — cells from RAW vectors, exactly the
    * persisted build) supplies the probe pruning, the PQ replay
    * ([[pqAdcCteSql]]) supplies the ADC scores, and the shortlist is
    * taken only within each query's own probed cells — the same
    * candidate set the partition-pruned scan produces. */
  private def ivfPqShortSql(corpusOnly: Boolean): String =
    s""",
       |short AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT a.query_id, a.vec_id,
       |      row_number() OVER (PARTITION BY a.query_id
       |        ORDER BY a.approx_dot DESC, a.vec_id) AS rn
       |    FROM adc a
       |    JOIN cells cl ON cl.vec_id = a.vec_id
       |    JOIN probes p ON p.query_id = a.query_id AND p.cell = cl.cell
       |    ${if (corpusOnly) s"WHERE a.vec_id >= $NumQueries" else ""})
       |  WHERE rn <= ${TopK * PqShortlist})""".stripMargin

  val annIvfPq: Op = Op.sql("ann_ivfpq",
    ivfCentroidCteSql + pqAdcCteSql + probesCteSql +
      ivfPqShortSql(corpusOnly = false) + rerankSql("short")) { (s, dir) =>
    ivfPqTopK(s, dir, TopK).orderBy("query_id", "neighbor_id")
  }

  /** k-NN LABEL PROPAGATION — the step that turns similarity search
    * into training-data curation (auto-labeling a probe set from its
    * nearest labeled neighbors, the standard quality-classifier
    * bootstrap): top-[[TopK]] cosine neighbors per query vote on
    * `label`, majority wins, ties break to the smaller label so the
    * output is order-free. Same plan as [[annTopkBrute]] (broadcast
    * query set, ONE corpus scan, partial top-k per partition) plus a
    * |queries|×|labels|-row aggregate — nothing new shuffles. For a
    * large probe set the candidate stage composes with
    * [[ivfPqTopK]]'s pruned layout; the voting tail is unchanged. */
  val annKnnClassify: Op = Op.sql("ann_knn_classify",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < $NumQueries),
       |c AS (SELECT * FROM e WHERE vec_id >= $NumQueries),
       |nn AS (
       |  SELECT q.vec_id AS query_id, q.label AS true_label, c.label AS nlabel
       |  FROM q, c
       |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |          ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id) <= $TopK),
       |votes AS (SELECT query_id, true_label, nlabel, count(*) AS votes
       |          FROM nn GROUP BY 1, 2, 3)
       |SELECT query_id, nlabel AS pred_label, votes, true_label
       |FROM votes
       |QUALIFY row_number() OVER (PARTITION BY query_id
       |        ORDER BY votes DESC, nlabel) = 1
       |ORDER BY query_id""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"), col("label"))
    val q = e.filter(col("vec_id") < NumQueries)
    val c = e.filter(col("vec_id") >= NumQueries)
    val nn = c.as("c")
      .crossJoin(broadcast(q.as("q")))
      .withColumn("cos_raw", cosine(col("q.v"), col("c.v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q.vec_id"))
          .orderBy(col("cos_raw").desc, col("c.vec_id"))))
      .filter(col("rn") <= TopK)
      .select(col("q.vec_id").as("query_id"), col("q.label").as("true_label"),
        col("c.label").as("nlabel"))
    nn.groupBy("query_id", "true_label", "nlabel")
      .agg(count(lit(1)).as("votes"))
      .withColumn("rv", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("votes").desc, col("nlabel"))))
      .filter(col("rv") === 1)
      .select(col("query_id"), col("nlabel").as("pred_label"),
        col("votes"), col("true_label"))
      .orderBy("query_id")
  }

  /** The k-NN vote composed over the IVF+PQ probe path — the SCALE
    * form of [[annKnnClassify]] (which is the brute voting baseline,
    * exactly as [[annTopkBrute]] baselines [[annIvfPq]]): neighbors
    * come from [[ivfPqTopK]]'s cell-pruned, ADC-shortlisted,
    * exact-re-ranked search restricted to the labeled corpus
    * (`corpusOnly` — the exact voting population [[annKnnClassify]]
    * draws from, so probe-set queries never vote on each other and
    * any disagreement with the brute vote is attributable to probe
    * recall alone); only the (query, neighbor) id pairs then join
    * the label column and vote. At 10B vectors the probe reads
    * nprobe/K of the corpus and the voting tail is a
    * |queries|·k-row aggregate — nothing corpus-linear remains.
    * Spec: predictions agree with the brute vote wherever the probe's
    * recall delivers the same top-k (measured ≥80% agreement). */
  val annKnnIvfPq: Op = Op.sql("ann_knn_ivfpq",
    ivfCentroidCteSql + pqAdcCteSql + probesCteSql +
      ivfPqShortSql(corpusOnly = true) +
      s""",
         |nn AS MATERIALIZED (
         |  SELECT query_id, vec_id FROM (
         |    SELECT s.query_id, s.vec_id,
         |      row_number() OVER (PARTITION BY s.query_id
         |        ORDER BY list_cosine_similarity(q.v, c.v) DESC, s.vec_id) AS rn
         |    FROM short s
         |    JOIN e c ON c.vec_id = s.vec_id
         |    JOIN e q ON q.vec_id = s.query_id)
         |  WHERE rn <= $TopK),
         |votes AS (
         |  SELECT nn.query_id, lb.label, count(*) AS votes
         |  FROM nn JOIN embeddings lb ON lb.vec_id = nn.vec_id
         |  GROUP BY 1, 2)
         |SELECT v.query_id, v.label AS pred_label, CAST(v.votes AS BIGINT) AS votes,
         |  ql.label AS true_label
         |FROM votes v
         |JOIN embeddings ql ON ql.vec_id = v.query_id
         |QUALIFY row_number() OVER (PARTITION BY v.query_id
         |        ORDER BY v.votes DESC, v.label) = 1
         |ORDER BY v.query_id""".stripMargin) { (s, dir) =>
    val labels = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val qLabels = labels.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("query_id"), col("label").as("true_label"))
    ivfPqTopK(s, dir, TopK, corpusOnly = true)
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .groupBy("query_id", "label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("rv", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("votes").desc, col("label"))))
      .filter(col("rv") === 1)
      .join(broadcast(qLabels), "query_id")
      .select(col("query_id"), col("label").as("pred_label"),
        col("votes"), col("true_label"))
      .orderBy("query_id")
  }

  /** Per-DIMENSION profile of the embedding corpus (mean/std/min/max
    * per coordinate) — the drift monitor a production vector pipeline
    * runs on every ingest batch: a dimension whose mean wanders or
    * whose std collapses signals a bad encoder rollout long before
    * recall metrics move. posexplode is NARROW (fan-out in-partition)
    * and the aggregate groups on `dim` — 64 groups — so the shuffle
    * carries partial (sum, sum², min, max, n) per (partition, dim):
    * bytes ∝ partitions × dim, independent of corpus size. The
    * mean/std are rounded to 1e-6 (parallel double summation's
    * reorder error is ~1e-13 here, far under the rounding grain —
    * same reasoning as dedup_embedding's cosine rounding); min/max
    * are order-free and stay exact. */
  val vecProfile: Op = Op.sql("vec_profile",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |d AS (SELECT g.pos AS dim, e.v[g.pos] AS x
       |      FROM e CROSS JOIN generate_series(1, $Dim) g(pos))
       |SELECT dim, round(avg(x), 6) AS mean, round(stddev_pop(x), 6) AS std,
       |       min(x) AS mn, max(x) AS mx
       |FROM d GROUP BY dim ORDER BY dim""".stripMargin) { (s, dir) =>
    emb(s, dir)
      .select(posexplode(col("v")).as(Seq("p", "x")))
      .groupBy((col("p") + 1).cast("bigint").as("dim"))
      .agg(round(avg("x"), 6).as("mean"),
        round(stddev_pop(col("x")), 6).as("std"),
        min("x").as("mn"), max("x").as("mx"))
      .orderBy("dim")
  }

  /** Metadata-FILTERED vector search (every production vector store's
    * table-stakes feature: "nearest neighbors WHERE label = X"). The
    * predicate becomes part of the join key: corpus ⋈ broadcast
    * queries ON label equality, so Spark plans a keyed
    * BroadcastHashJoin — each corpus row is probed against only the
    * queries of its own label, unlike the unfiltered brute scan's
    * nested-loop over every query. Pre-filtering (here, via the join
    * key) beats post-filtering top-k: post-filter can return < k rows
    * when the predicate is selective.
    *
    * Scale (100 TB): with label as a partition/bucket column the same
    * plan prunes the scan to matching partitions; the ranking window
    * is per-query partial top-k, identical to ann_topk_brute's
    * WindowGroupLimit shape. */
  val annFiltered: Op = Op.sql("ann_filtered",
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < $NumQueries)
       |SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, e.label,
       |       round(list_cosine_similarity(q.v, e.v), 6) AS cos
       |FROM q JOIN e ON q.label = e.label AND q.vec_id <> e.vec_id
       |QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) <= $TopK
       |ORDER BY query_id, neighbor_id""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
    val q = e.filter(col("vec_id") < NumQueries)
    e.as("c").join(broadcast(q.as("q")),
        col("q.label") === col("c.label") && col("q.vec_id") =!= col("c.vec_id"))
      .withColumn("cos_raw", cosine(col("q.v"), col("c.v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q.vec_id"))
          .orderBy(col("cos_raw").desc, col("c.vec_id"))))
      .filter(col("rn") <= TopK)
      .select(col("q.vec_id").as("query_id"), col("c.vec_id").as("neighbor_id"),
        col("c.label").as("label"), round(col("cos_raw"), 6).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  /** MMR diversification weight and shortlist size. */
  val MmrShortlist = 25

  /** One unrolled greedy-selection round of the MMR oracle: score
    * every not-yet-selected shortlist candidate as
    * λ·rel − (1−λ)·max-sim-to-selected, take the per-query argmax
    * (ties to the smaller id — the same comparator the executor-local
    * greedy uses). */
  private def mmrStepSql(t: Int): String =
    s"""p$t AS (
       |  SELECT c.qid, c.cid, c.rel, c.v,
       |    0.7 * c.rel - 0.3 * max(list_cosine_similarity(c.v, s.v)) AS score
       |  FROM cand c JOIN sel${t - 1} s ON s.qid = c.qid
       |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} x
       |                    WHERE x.qid = c.qid AND x.cid = c.cid)
       |  GROUP BY c.qid, c.cid, c.rel, c.v),
       |s$t AS (SELECT qid, cid, rel, v, $t AS rank, score FROM p$t
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY score DESC, cid) = 1),
       |sel$t AS MATERIALIZED (SELECT * FROM sel${t - 1} UNION ALL SELECT * FROM s$t)""".stripMargin

  /** The executor-local MMR greedy over one query's shortlist:
    * returns (rank, id, score). Exactly the comparator and IEEE tree
    * of the unrolled SQL oracle — score strictly greater wins, equal
    * scores go to the smaller id. Package-visible so the spec can
    * drive planted fixtures through the IDENTICAL code path. */
  private[graft] def mmrGreedy(cands: Array[(Long, Double, Array[Double])],
                               k: Int): Seq[(Int, Long, Double)] = {
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    val used = scala.collection.mutable.Set.empty[Long]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, Double)]
    var rank = 1
    while (rank <= k && used.size < cands.length) {
      var bestId = -1L
      var bestScore = 0.0
      var bestV: Array[Double] = null
      var any = false
      cands.foreach { case (cid, rel, v) =>
        if (!used.contains(cid)) {
          val ms =
            if (selected.isEmpty) 0.0
            else selected.iterator
              .map(sv => graft.functions.VectorKernels.cosine(v, sv._2)).max
          val score = 0.7 * rel - 0.3 * ms
          if (!any || score > bestScore ||
              (score == bestScore && cid < bestId)) {
            any = true; bestId = cid; bestScore = score; bestV = v
          }
        }
      }
      used += bestId
      selected += ((bestId, bestV))
      out += ((rank, bestId, bestScore))
      rank += 1
    }
    out.toSeq
  }

  /** MMR-DIVERSIFIED top-k (round 10; Carbonell & Goldstein 1998 —
    * the re-rank every retrieval-for-training pipeline runs when raw
    * top-k returns five near-copies of one document: maximal marginal
    * relevance trades relevance against redundancy, score =
    * λ·rel − (1−λ)·max-sim-to-already-selected, λ=0.7): per query,
    * greedy-select [[TopK]] results from the brute [[MmrShortlist]]
    * shortlist. The shortlist stage IS the ann_topk_brute plan
    * (broadcast queries, ONE corpus scan, per-query partial top-k);
    * the greedy stage is genuinely SEQUENTIAL (each pick changes the
    * next pick's scores), so it runs executor-local per query group
    * over the L-row shortlist via flatMapGroups — O(K·L·d) per query,
    * driver-free, the mapGroups shape `mapGroupsWithState` streaming
    * uses. Every float comes from the SAME IEEE tree on both engines
    * (the shared cosine fold, 0.7/0.3 literals, ties to smaller id),
    * so the oracle — the same greedy unrolled as [[TopK]] chained
    * argmax CTEs — replays the selection bit-for-bit.
    *
    * Scale (10 B vectors): diversification cost is per-QUERY and
    * bounded by L, independent of corpus size; the corpus-sized work
    * is the shortlist scan, which composes with the IVF/PQ pruned
    * layouts exactly like the kNN vote. */
  val annMmr: Op = Op.sql("ann_mmr",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT * FROM e WHERE vec_id < $NumQueries),
       |cand AS MATERIALIZED (
       |  SELECT q.vec_id AS qid, e.vec_id AS cid,
       |         list_cosine_similarity(q.v, e.v) AS rel, e.v AS v
       |  FROM q JOIN e ON q.vec_id <> e.vec_id
       |  QUALIFY row_number() OVER (PARTITION BY q.vec_id
       |          ORDER BY list_cosine_similarity(q.v, e.v) DESC, e.vec_id) <= $MmrShortlist),
       |sel1 AS MATERIALIZED (
       |  SELECT qid, cid, rel, v, 1 AS rank, 0.7 * rel AS score FROM cand
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY 0.7 * rel DESC, cid) = 1),
       |${(2 to TopK).map(mmrStepSql).mkString(",\n")}
       |SELECT qid AS query_id, rank, cid AS neighbor_id,
       |  round(score, 6) AS mmr_score
       |FROM sel$TopK ORDER BY query_id, rank""".stripMargin) { (s, dir) =>
    import s.implicits._
    val e = emb(s, dir)
    val queries = e.filter(col("vec_id") < NumQueries)
    val cand = e.as("c")
      .join(broadcast(queries.as("q")), col("q.vec_id") =!= col("c.vec_id"))
      .withColumn("rel", cosine(col("q.v"), col("c.v")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("q.vec_id"))
          .orderBy(col("rel").desc, col("c.vec_id"))))
      .filter(col("rn") <= MmrShortlist)
      .select(col("q.vec_id").as("qid"), col("c.vec_id").as("cid"),
        col("rel"), col("c.v").as("cv"))
    val picked = cand.as[(Long, Long, Double, Seq[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        mmrGreedy(it.map { case (_, cid, rel, v) => (cid, rel, v.toArray) }.toArray,
            TopK)
          .map { case (rank, cid, score) => (qid, rank, cid, score) }.iterator
      }
      .toDF("query_id", "rank", "neighbor_id", "score")
    picked
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 6).as("mmr_score"))
      .orderBy("query_id", "rank")
  }

  /** Exact GRAM/COVARIANCE matrix of the embedding corpus (round 10 —
    * the d×d second-moment statistic under PCA, whitening, OPQ
    * rotation training and low-rank compression: every "rotate the
    * space before quantizing" method starts from exactly this matrix;
    * `vec_profile` is its diagonal): upper triangle of
    * cov(i,j) = (n·G_ij − S_i·S_j)/n² in original units, where
    * G_ij = Σ q_i·q_j and S_i = Σ q_i over the fixed-point
    * integerization q = floor(x·2²⁰ + 0.5) — the established exact
    * kernel (order-free integer sums, deterministic under ANY
    * partitioning), so the oracle replays every cell bit-for-bit and
    * all float math happens once, after the reduction.
    *
    * Scale (100 TB, ~10 B × 64-float vectors): the outer-product
    * accumulation runs in-partition via mapPartitions (one d(d+1)/2
    * long array per partition — the treeAggregate shape; a
    * posexplode² pairing would blow every vector into 2,080 rows and
    * shuffle the corpus ×2080), so the shuffle carries
    * partitions × 2,145 cells, independent of corpus size; partial
    * cells then hash-aggregate as DECIMAL(38,0) (a raw long total
    * would overflow past ~2⁵³ rows·2⁴²) and the 2,080-row aggregate
    * joins the 64-row sums + 1-row count — all metadata-sized. */
  val vecGram: Op = Op.sql("vec_gram",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT e.vec_id, g.pos - 1 AS i,
       |        CAST(floor(e.v[g.pos] * 1048576.0 + 0.5) AS BIGINT) AS qx
       |      FROM e CROSS JOIN generate_series(1, $Dim) g(pos)),
       |s AS (SELECT i, CAST(sum(qx) AS DECIMAL(38,0)) AS si FROM q GROUP BY i),
       |n AS (SELECT count(*) AS n FROM e),
       |g AS (SELECT a.i AS dim_i, b.i AS dim_j,
       |        CAST(sum(a.qx * b.qx) AS DECIMAL(38,0)) AS gram
       |      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
       |      GROUP BY 1, 2)
       |SELECT g.dim_i, g.dim_j, CAST(g.gram AS DOUBLE) AS gram_q,
       |  round((CAST(n.n AS DOUBLE) * CAST(g.gram AS DOUBLE)
       |         - CAST(sa.si AS DOUBLE) * CAST(sb.si AS DOUBLE))
       |        / (CAST(n.n AS DOUBLE) * CAST(n.n AS DOUBLE))
       |        / (1048576.0 * 1048576.0), 10) AS cov
       |FROM g
       |JOIN s sa ON sa.i = g.dim_i
       |JOIN s sb ON sb.i = g.dim_j
       |CROSS JOIN n
       |ORDER BY dim_i, dim_j""".stripMargin) { (s, dir) =>
    import s.implicits._
    val d = Dim
    val nPairs = d * (d + 1) / 2
    val parts = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .mapPartitions { it =>
        // flush the Long partials every 2^22 rows: a per-row cell is
        // ≤ 2^40 (|q| ≤ 2^20), so an unbounded partition would wrap
        // int64 past ~2^23 rows (ADVICE r8); 2^22·2^40 = 2^62 < 2^63
        // keeps each emitted partial exact with a 2× margin. Extra
        // partial rows are free — the decimal cell aggregate below
        // consumes any number of partials per partition.
        val FlushEvery = 1L << 22
        new Iterator[(Long, Seq[Long], Seq[Long])] {
          def hasNext: Boolean = it.hasNext
          def next(): (Long, Seq[Long], Seq[Long]) = {
            val gram = new Array[Long](nPairs)
            val sums = new Array[Long](d)
            var n = 0L
            val q = new Array[Long](d)
            while (it.hasNext && n < FlushEvery) {
              val embv = it.next()._2
              var i = 0
              while (i < d) {
                q(i) = math.floor(embv(i).toDouble * 1048576.0 + 0.5).toLong
                i += 1
              }
              var idx = 0
              i = 0
              while (i < d) {
                sums(i) += q(i)
                var j = i
                while (j < d) { gram(idx) += q(i) * q(j); idx += 1; j += 1 }
                i += 1
              }
              n += 1
            }
            (n, sums.toSeq, gram.toSeq)
          }
        }
      }.toDF("pn", "psums", "pgram")
      // eager checkpoint: three aggregates consume the partials below,
      // and without it each one re-runs the corpus outer-product pass
      // (4 full scans at 100 TB). The checkpoint is partitions×2,145
      // longs — metadata-sized.
      .localCheckpoint(true)
    // exact decimal cell totals from the per-partition partials
    val nRow = parts.agg(sum(col("pn")).cast("long").as("n"))
    val sTot = parts.select(posexplode(col("psums")).as(Seq("i", "p")))
      .groupBy("i").agg(sum(col("p").cast("decimal(38,0)")).as("si"))
    val gTot = parts.select(posexplode(col("pgram")).as(Seq("idx", "p")))
      .groupBy("idx").agg(sum(col("p").cast("decimal(38,0)")).as("gram"))
    // triangular index → (i, j), constant 2,080-row metadata
    val pairs = (0 until d).flatMap(i => (i until d).map(j =>
      (i * d - i * (i - 1) / 2 + (j - i), i, j))).toDF("idx", "dim_i", "dim_j")
    val nD = col("n").cast("double")
    gTot.join(broadcast(pairs), "idx")
      .join(broadcast(sTot.select(col("i").as("dim_i"), col("si").as("sa"))), "dim_i")
      .join(broadcast(sTot.select(col("i").as("dim_j"), col("si").as("sb"))), "dim_j")
      .crossJoin(broadcast(nRow))
      .select(col("dim_i").cast("long").as("dim_i"),
        col("dim_j").cast("long").as("dim_j"),
        col("gram").cast("double").as("gram_q"),
        round((nD * col("gram").cast("double")
            - col("sa").cast("double") * col("sb").cast("double"))
          / (nD * nD) / lit(1048576.0 * 1048576.0), 10).as("cov"))
      .orderBy("dim_i", "dim_j")
  }

  /** k-NN GRAPH CONSTRUCTION (round 12 — the embedding-graph bridge:
    * a corpus-wide top-k neighbor graph is the input to semantic
    * clustering, label propagation over embeddings, and graph-based
    * ANN itself; the naive build is the all-pairs O(n²) this family
    * exists to avoid): candidates from the SHARED hyperplane band
    * machinery (dedup_embedding's keyed collisions, BOTH directions
    * via <>), multi-band duplicates dropped on (src, dst) scalars,
    * then top-3 per source ranked by (round-6 cosine DESC, id) — the
    * ROUNDED cosine orders, because the raw last ulp is the one
    * thing the two engines may disagree on (the dedup_embedding
    * precedent: round-6 values are hash-equal, raw may not be).
    * Banded recall caveat is the family's documented contract:
    * neighbors sharing no band are invisible, exactly like
    * dedup_embedding's candidate set. */
  val annKnnGraph: Op = Op.sql("ann_knn_graph",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS ($sigSelectSql),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst,
       |    round(list_cosine_similarity(a.v, b.v), 6) AS cos
       |  FROM sig a JOIN sig b
       |    ON a.vec_id <> b.vec_id AND ${bandMatchSql("a", "b")})
       |SELECT src, CAST(rank AS BIGINT) AS rank, dst, cos FROM (
       |  SELECT src, dst, cos,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rank
       |  FROM cand)
       |WHERE rank <= 3 ORDER BY src, rank""".stripMargin) { (s, dir) =>
    import graft.functions.VectorFunctions._
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    val b = e.select(col("vec_id"), col("v"),
      posexplode(hyperplaneBands(col("v"))).as(Seq("band_id", "band_bits")))
      .hint("shuffle_hash")
    val cand = b.as("a").join(b.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_bits") === col("b.band_bits") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("src"), col("b.vec_id").as("dst"),
        round(cosine(col("a.v"), col("b.v")), 6).as("cos"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("src").orderBy(col("cos").desc, col("dst"))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("src"), col("rank"), col("dst"), col("cos"))
      .orderBy("src", "rank")
  }

  val all: Seq[Op] = Seq(annTopkBrute, annLsh, annIvf, annPq, annIvfPersist,
    annIvfPq, annKnnClassify, annKnnIvfPq, vecProfile, annFiltered,
    annHardNegatives, annIvfAppend, annRangeSearch, annRecallEval,
    annSq8, annBinary, annCentroidDrift, vecGram, annMmr, annPqDistortion,
    annKnnGraph)
}
