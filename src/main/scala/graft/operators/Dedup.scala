package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Op
import graft.functions.VectorFunctions._
import graft.sources.Tables

/** §2.3 deduplication operators for training-data pipelines.
  *
  * Scale design (100 TB): none of the near-dup paths ever join the
  * full corpus against itself. MinHash/SimHash/hyperplane signatures
  * are computed per-row (shuffle-free, inside codegen'd array
  * expressions), and pair generation happens only WITHIN small LSH
  * buckets — the join is keyed on `(band_id, band_hash)`, so shuffle
  * volume is O(corpus), and AQE's skew-join splitting handles hot
  * buckets. Exact dedup is one hash-aggregate with map-side combine.
  *
  * The synthetic `documents` table has no duplicate texts, so the
  * dedup corpora are derived deterministically (same derivation in
  * the DuckDB oracles / specs): exact-dup corpus = documents plus a
  * verbatim copy at `doc_id + 100000`; near-dup corpus = documents
  * plus a copy with its first word dropped (3-gram-shingle Jaccard
  * ≈ (n−3)/(n−2), i.e. a true near-duplicate).
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** documents ∪ verbatim copy (ids offset): every text exactly twice. */
  def corpusExact(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionAll(d.select((col("doc_id") + 100000).as("doc_id"), col("text")))
  }

  /** documents ∪ first-word-dropped copy (ids offset): 500 true
    * near-duplicate pairs `(i, i+100000)` to recover. */
  def corpusNear(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    d.unionAll(d.select((col("doc_id") + 100000).as("doc_id"),
      expr("substring(text, instr(text, ' ') + 1)").as("text")))
  }

  // ---- exact dedup -------------------------------------------------

  /** Exact dedup via content hash, keep-first (lowest id). One
    * hash-aggregate: partial min/count map-side, single shuffle on the
    * 128-bit content hash. */
  val dedupExact: Op = Op.sql("dedup_exact",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents)
      |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
      |       count(*) AS n_copies
      |FROM corpus GROUP BY 1 ORDER BY keep_id""".stripMargin) { (s, dir) =>
    // sized one-job pin: MEASURED NEGATIVE (r12, two interleaved A/B
    // batches, +2%/+28%): the md5-keyed agg exchange moves whole
    // hash+count partials — AQE's coalesced 1-2 partitions beat the
    // static 8-task floor's per-task constants. Keep AQE.
    corpusExact(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("content_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      // size-gated tail sort (r11): the agg exchange below keeps the
      // scan parallel either way; while the distinct-hash frame plans
      // small this skips the range exchange + sampling job, and a
      // corpus-scaled estimate falls back to the sampled sort
      .transform(Bounded.orderedIfSmall(_, Bounded.SmallSortBytes, col("keep_id")))
  }

  // ---- shingle + MinHash LSH --------------------------------------

  val NumHashes = 64
  val Bands = 16
  val RowsPerBand: Int = NumHashes / Bands

  /** 3-word shingles of a text column (whole text if < 3 words).
    * `bound` keeps the tokenization out of the per-shingle lambda —
    * one split per row, not one per shingle. */
  def shinglesCol(text: Column): Column =
    bound(split(text, "\\s+")) { toks =>
      when(size(toks) < 3, array(text)).otherwise(
        transform(sequence(lit(0), size(toks) - 3),
          i => concat_ws(" ", slice(toks, i + 1, lit(3)))))
    }

  /** doc_id → exploded (band_id, band_hash) signature table, via the
    * codegen'd [[graft.functions.TextExpressions.minhash_bands]]
    * kernel (k seeded minhashes by double hashing, folded into band
    * hashes in one pass per row). */
  private[graft] def bandTable(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
      posexplode(graft.functions.TextExpressions.minhash_bands(
        col("text"), NumHashes, Bands)).as(Seq("band_id", "band_hash")))

  /** Candidate near-dup pairs: docs sharing ≥1 LSH band bucket.
    * Join keyed on (band_id, band_hash) — shuffle O(n), never O(n²). */
  def minhashCandidates(corpus: DataFrame): DataFrame = {
    // shuffle_hash on both sides: the band table is CORPUS-sized, so
    // letting the planner broadcast it (it fits at test SF) is the
    // wrong shape — a driver-built corpus-sized hashed relation that
    // cannot exist at 100 TB. The keyed shuffle join is also measured
    // 2× faster here (no single-threaded broadcast build).
    // localCheckpoint: the self-join consumes the signature twice and
    // would otherwise re-tokenize + re-minhash the corpus per side
    // (the simhashPairs/vec_gram multi-consumer rule, §4.3/§4.4).
    // Checkpoint the PRE-explode per-doc signature — (doc_id,
    // array[Bands] of longs), one row per doc — not the exploded
    // (doc_id, band_id, band_hash) table: same avoided recompute
    // (the text kernel), Bands× fewer materialized rows; each join
    // side re-runs only the trivial codegen'd posexplode (r10,
    // measured −0.1 s construct at sf0.1).
    // Deliberately NOT parallelism-floored (see Parallel's doc): a
    // pre-kernel repartition serializes the text rows in the same
    // 2-split scan tasks it would relieve — measured net-negative
    // (r10: construct 0.23 → 0.32 s).
    val sig = corpus.select(col("doc_id"),
        graft.functions.TextExpressions.minhash_bands(
          col("text"), NumHashes, Bands).as("bands"))
      .localCheckpoint(true)
    val b = sig.select(col("doc_id"),
        posexplode(col("bands")).as(Seq("band_id", "band_hash")))
      .hint("shuffle_hash")
    b.as("a").join(b.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
  }

  // ---- SQL replay of the MinHash signature (the oracle) -----------
  //
  // Every hash in the round-7 kernel (TextHashing: poly-31/fmix64
  // shingle hash, b = mix64(a)|1, order-free position-salted band
  // fold) is plain mod-2^64 integer arithmetic, so DuckDB recomputes
  // FULL signatures with HUGEINT masking and the oracle checks the
  // banding itself — not just a rows count. The staged-column
  // generator below mirrors one fmix64 application per SELECT layer
  // (inline expansion would duplicate subexpressions exponentially).

  import SqlReplay.{M64, BandSaltU, mixStages, stagedSql, tokenHashStages}

  /** The generated DuckDB SQL for the signature relation
    * `(doc_id, band_id, h)` over the near-dup corpus,
    * signature-exact — shared by the pair oracle below,
    * `dedup_near_cluster` and `stream_minhash_dedup`, so none can
    * drift on the replayed kernel. Java's `g < mins(i)` is a SIGNED
    * 64-bit compare, so the min runs over signed-converted values
    * and converts back before the band fold. */
  private[graft] def minhashSigSql: String = {
    val shingles =
      """SELECT doc_id, unnest(CASE WHEN len(toks) < 3 THEN [text]
        |  ELSE [array_to_string(toks[i:i+2], ' ')
        |        for i in range(1, len(toks) - 1)] END) AS s
        |FROM (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
        |      FROM (SELECT doc_id, text FROM documents
        |            UNION ALL SELECT doc_id + 100000,
        |              substring(text, strpos(text, ' ') + 1) FROM documents))"""
        .stripMargin
    val poly = stagedSql(shingles, tokenHashStages("s", "a"))
    val withB = stagedSql(s"SELECT doc_id, a FROM ($poly)",
      mixStages("a", "b0") :+ ("b" -> "b0 - (b0 % 2) + 1"))
    val mins =
      s"""SELECT doc_id, i,
         |  min(CASE WHEN g >= 9223372036854775808 THEN g - $M64 ELSE g END) AS m
         |FROM (SELECT doc_id, tb.i AS i, (a + tb.i * b) % $M64 AS g
         |      FROM ($withB), unnest(range(${NumHashes})) AS tb(i))
         |GROUP BY doc_id, i""".stripMargin
    val contrib = stagedSql(
      s"SELECT doc_id, i, ((CASE WHEN m < 0 THEN m + $M64 ELSE m END)" +
        s" + (i + 1) * $BandSaltU) % $M64 AS cm FROM ($mins)",
      mixStages("cm", "c"))
    val bandSum = s"SELECT doc_id, i // $RowsPerBand AS band_id, " +
      s"sum(c) % $M64 AS bs FROM ($contrib) GROUP BY doc_id, i // $RowsPerBand"
    s"SELECT doc_id, band_id, h FROM (" +
      stagedSql(s"SELECT doc_id, band_id, bs FROM ($bandSum)",
        mixStages("bs", "h")) + ")"
  }

  /** [[minhashCandidates]] replayed over [[minhashSigSql]] — the
    * candidate-pair oracle of `dedup_minhash_lsh`. */
  private def minhashOracleSql: String = {
    val sig = minhashSigSql
    s"""SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM ($sig) a JOIN ($sig) b
       |  ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin
  }

  val dedupMinhashLsh: Op = Op.sql("dedup_minhash_lsh", minhashOracleSql) {
    (s0, dir) =>
      // sized one-job pin (r12, measured): 6 AQE stage jobs
      // (checkpoint + two band-explode exchanges + distinct +
      // sampling + sort) → 3 (checkpoint + main + the range sort's
      // sampling pass). Band keys are minhash values — uniform by
      // construction, nothing for skew splitting to do; the heavy
      // text kernel runs in the scan stage, untouched by the
      // partition conf.
      val s = Tuned.sizedOneJob(s0, docs(s0, dir))
      minhashCandidates(corpusNear(s, dir)).orderBy("id_a", "id_b")
  }

  // ---- n-gram Jaccard verification --------------------------------

  /** Exact 3-gram Jaccard re-check of the LSH candidates (the
    * standard candidate→verify pipeline): join shingle SETS back to
    * the (small) candidate pair list, never to the corpus itself. */
  def jaccardVerified(corpus: DataFrame, threshold: Double): DataFrame =
    jaccardVerify(minhashCandidates(corpus), corpus, threshold)

  /** Exact-Jaccard verification of a PRECOMPUTED candidate pair list
    * — the one formula shared by [[dedupNgramJaccard]] and
    * [[dedupMinhashEval]], so the eval's precision can never disagree
    * with the verify op's verdicts. */
  def jaccardVerify(cands: DataFrame, corpus: DataFrame,
                    threshold: Double): DataFrame = {
    // corpus-sized side (shingle SETS — the widest rows in the op):
    // keyed shuffle, never broadcast
    // localCheckpoint: consumed twice (id_a, id_b) — without it the
    // shingle sets are re-tokenized per consumer (multi-consumer rule)
    val sets = corpus.select(col("doc_id"),
      array_distinct(shinglesCol(col("text"))).as("sh"))
      .localCheckpoint(true)
      .hint("shuffle_hash")
    cands
      .join(sets.withColumnRenamed("doc_id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
      .join(sets.withColumnRenamed("doc_id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))) * 1.0 /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= threshold)
      // raw ratio, not rounded: an exact int/int double division is
      // bit-identical across engines, while round-to-4 puts values
      // like 17/32 on a half-rounding boundary the engines disagree on
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Oracle = the SAME banded candidate set ([[minhashSigSql]]'s
    * signature-exact replay, exactly dedup_minhash_lsh's oracle) with
    * the exact 3-gram Jaccard verify applied in SQL — so the op's
    * whole candidates→verify pipeline is value-checked, and banded
    * RECALL stays where it belongs: measured by dedup_minhash_eval,
    * never silently asserted here. Round 12 replaced the original
    * exact all-pairs oracle after a full sf0.1 sweep caught its flaw:
    * one planted twin of a SHORT doc lands near J = 0.5, where
    * 16-band MinHash recall is genuinely below 1 ((1−J^r)^b is no
    * longer negligible), so the all-pairs form held one pair the
    * banded pipeline cannot see — the oracle was checking a claim
    * the operator never made. */
  val dedupNgramJaccard: Op = Op.sql("dedup_ngram_jaccard", {
    val sig = minhashSigSql
    s"""WITH cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ($sig) a JOIN ($sig) b
       |    ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id),
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 100000 AS doc_id,
       |    substring(text, strpos(text, ' ') + 1) AS text FROM documents),
       |tok AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks
       |        FROM corpus),
       |sh AS (SELECT doc_id, list_distinct(
       |    CASE WHEN len(toks) < 3 THEN [text]
       |         ELSE [array_to_string(toks[i:i+2], ' ')
       |               for i in range(1, len(toks) - 1)] END) AS s
       |  FROM tok)
       |SELECT c.id_a, c.id_b,
       |  len(list_intersect(a.s, b.s)) * 1.0
       |    / len(list_distinct(a.s || b.s)) AS jaccard
       |FROM cand c
       |JOIN sh a ON a.doc_id = c.id_a JOIN sh b ON b.doc_id = c.id_b
       |WHERE len(list_intersect(a.s, b.s)) * 1.0
       |        / len(list_distinct(a.s || b.s)) >= 0.5
       |ORDER BY id_a, id_b""".stripMargin
  }) { (s, dir) =>
    jaccardVerified(corpusNear(s, dir), threshold = 0.5).orderBy("id_a", "id_b")
  }

  // ---- SimHash -----------------------------------------------------

  /** 64-bit SimHash of the token stream: per-token xxhash64, ±1
    * vote per bit, sign → bit — the codegen'd
    * [[graft.functions.TextExpressions.simhash64]] kernel. */
  def simhashCol(text: Column): Column =
    graft.functions.TextExpressions.simhash64(text)

  /** Near-dup pairs by SimHash: split the 64-bit fingerprint into
    * eight 8-bit chunks and block on ORDERED TRIPLES of chunks
    * (C(8,3)=56 24-bit keys per doc): ≤5 differing bits touch at
    * most 5 chunks, leaving ≥3 clean chunks whose triple key
    * matches — a hamming ≤ 5 guarantee, plus ~92%/~77% of
    * hamming-6/7 pairs (flips rarely spread across ≥6 distinct
    * chunks). Verified by bit_count on the full fingerprints.
    *
    * Key entropy matters at scale: single 8-bit chunks on a
    * correlated-vocabulary corpus sent 26.8M candidate pairs through
    * the bucket join at 10k docs (measured); 16-bit pair keys cut
    * that 3.4×; 24-bit triple keys cut the false-bucket rate again
    * while holding planted-pair recall ≥ 0.95 (spec-asserted). The
    * classic 4×16-bit blocking would cap the guarantee at hamming
    * ≤ 3, missing a quarter of true near-dups on short docs, where a
    * one-word edit flips ~2-7 fingerprint bits. */
  def simhashPairs(corpus: DataFrame, maxHamming: Int = 7): DataFrame = {
    // localCheckpoint BEFORE the 56-way chunk explode: the self-join
    // consumes the fingerprints twice, and without a materialization
    // Spark re-runs scan+tokenize+simhash per side (~40% of the op's
    // wall at sf0.1, the vec_gram multi-consumer rule §4.3). The
    // checkpoint holds (doc_id, simhash) — TWO longs per doc; the
    // previous form materialized the post-explode table (56 rows × 3
    // longs per doc, 84× the bytes) and paid that write in construct
    // (0.29 s at sf0.1). Each side re-runs only the codegen'd
    // chunk-key explode over the cached longs (r10, measured).
    // NOT parallelism-floored — same measurement as
    // minhashCandidates: the repartition's shuffle write costs the
    // bottleneck scan tasks more than the kernel it parallelizes.
    val sim = corpus
      .select(col("doc_id"), simhashCol(col("text")).as("simhash"))
      .localCheckpoint(true)
    // blocking keys from the codegen'd kernel: each of the 56 triples
    // arrives pre-packed as chunk_id<<24 | 24 chunk bits — one long
    // join key (the chunk_id high bits enforce same-position
    // matching). Replaces a nested interpreted transform^3 that built
    // 56 structs per row and dominated this operator's bench time.
    // shuffle_hash: the chunk table is corpus-sized — broadcasting it
    // (the planner's pick at test SF) builds a corpus-sized hashed
    // relation on the driver, impossible at 100 TB and measured 2×
    // slower than the keyed shuffle join even at sf0.1.
    val chunked = sim.select(col("doc_id"), col("simhash"),
      explode(graft.functions.TextExpressions.simhash_chunks(col("simhash"))).as("ck"))
      .hint("shuffle_hash")
    chunked.as("a").join(chunked.as("b"),
        col("a.ck") === col("b.ck") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      // verify BEFORE distinct: the hamming check runs codegen'd in
      // the join's output stream, so false chunk collisions (frequent
      // on correlated-vocabulary corpora — low-entropy fingerprint
      // chunks) die before the dedup shuffle instead of being
      // shuffled by the millions.
      // NOTE the default threshold 7 exceeds the blocking GUARANTEE
      // (hamming ≤ 5 by pigeonhole, see class doc): 6/7-bit pairs are
      // admitted probabilistically (~92%/~77% — flips rarely touch ≥6
      // distinct chunks). Recall-critical callers should pass
      // maxHamming = 5 for the guaranteed-complete candidate set.
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** dedup_simhash is value-checked end to end (round 7; it was
    * rows-only before): the per-token hash is poly-31/fmix64 integer
    * arithmetic ([[graft.functions.TextHashing.simTokenHash]]) that
    * the oracle replays exactly in DuckDB with HUGEINT mod-2^64
    * masking, and the 56-triple-key blocking join is replayed in its
    * closed form — a pair shares ≥1 ordered chunk-triple key iff ≥3
    * of its 8 fingerprint chunks are clean (xor byte = 0). The
    * oracle's all-pairs formulation is fine at oracle scale and
    * deliberately NOT how the op runs: the op's banded join shuffles
    * O(corpus), the oracle's nested loop would not survive 100×. */
  val dedupSimhash: Op = Op.sql("dedup_simhash",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000 AS doc_id,
      |    substring(text, strpos(text, ' ') + 1) AS text FROM documents),
      |tok AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t FROM corpus),
      |poly AS (
      |  SELECT doc_id,
      |    list_reduce([0::HUGEINT] ||
      |        list_transform(string_split(t, ''), c -> unicode(c)::HUGEINT),
      |      (a, b) -> (a * 31 + b) % 18446744073709551616) AS h0
      |  FROM tok WHERE t <> ''),
      |m1 AS (SELECT doc_id, xor(h0, h0 >> 33) AS z FROM poly),
      |m2 AS (SELECT doc_id,
      |    ((z % 4294967296) * 18397679294719823053
      |     + (((z // 4294967296) * 18397679294719823053) % 4294967296) * 4294967296)
      |    % 18446744073709551616 AS z FROM m1),
      |m3 AS (SELECT doc_id, xor(z, z >> 33) AS z FROM m2),
      |m4 AS (SELECT doc_id,
      |    ((z % 4294967296) * 14181476777654086739
      |     + (((z // 4294967296) * 14181476777654086739) % 4294967296) * 4294967296)
      |    % 18446744073709551616 AS z FROM m3),
      |th AS (SELECT doc_id, xor(z, z >> 33) AS h FROM m4),
      |votes AS (
      |  SELECT doc_id, b, 2 * sum((h >> b) & 1) - count(*) AS v
      |  FROM th, unnest(range(64)) AS tb(b) GROUP BY doc_id, b),
      |fp AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN v > 0 THEN (1::HUGEINT << b) ELSE 0::HUGEINT END) AS f
      |  FROM votes GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming,
      |    len(list_filter(range(8),
      |      i -> ((xor(a.f, b.f) >> (i * 8)) & 255) = 0)) AS clean
      |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id)
      |SELECT id_a, id_b, hamming FROM pairs
      |WHERE hamming <= 7 AND clean >= 3
      |ORDER BY id_a, id_b""".stripMargin) { (s0, dir) =>
    // sized one-job pin (r12, measured): same shape and rationale as
    // dedup_minhash_lsh above — 6 AQE stage jobs → 3; chunk-triple
    // block keys are fmix64 output, uniform.
    val s = Tuned.sizedOneJob(s0, docs(s0, dir))
    simhashPairs(corpusNear(s, dir)).orderBy("id_a", "id_b")
  }

  // ---- embedding cosine near-dup ----------------------------------

  /** Embedding-cosine near-dup pairs via hyperplane LSH buckets
    * (candidates = vectors sharing ≥1 signature band, then exact
    * cosine verify ≥ 0.4 BEFORE the distinct shuffle). The join is
    * keyed on (band_id, packed band bits) — shuffle O(corpus), never
    * the all-pairs nested loop that round 1 shipped (an O(n²)
    * scale-killer at 10B embeddings). The oracle recomputes the
    * identical signature in DuckDB (deterministic planes, hash-free
    * band keys), so this is checked end to end, not rows-only. */
  val dedupEmbedding: Op = Op.sql("dedup_embedding",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sig AS (${Similarity.sigSelectSql})
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |       round(list_cosine_similarity(a.v, b.v), 6) AS cos
       |FROM sig a JOIN sig b
       |  ON a.vec_id < b.vec_id AND ${Similarity.bandMatchSql("a", "b")}
       |WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.4
       |ORDER BY id_a, id_b""".stripMargin) { (s0, dir) =>
    // sized one-job pin: MEASURED NEGATIVE (r12, interleaved A/B:
    // +123% on one batch, the worst regression of the sweep) — with
    // AQE off the static core-count partitioning serializes the
    // single-split checkpoint read into the join's 32-way exchange
    // and loses the coalesce right-sizing the verify stage depends
    // on. The r12 parallel-coalesce pin remains the measured best
    // shape: AQE kept fully on, but the post-shuffle COALESCE floor
    // lowered from Spark's 1 MB default to 64 KB. With
    // parallelismFirst coalescing (the default), AQE
    // targets max(totalBytes/parallelism, minPartitionSize) — a
    // 2-3 MB dashboard-scale shuffle coalesces to 1-2 partitions
    // under the 1 MB floor, serializing a verify stage 32 cores could
    // run in parallel. At cluster scale totalBytes/parallelism dwarfs
    // either floor, so the knob only affects small shuffles (scale-
    // neutral by construction).
    val s = Tuned.derive(s0,
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "65536")
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    // shuffle_hash: corpus-sized banded side must never broadcast
    // (see minhashCandidates) — keyed shuffle is the 100 TB shape.
    // localCheckpoint: self-join consumes b twice (multi-consumer
    // rule). Materialized POST-explode deliberately (r10 measured):
    // a pre-explode (vec_id, v, sig) checkpoint is 16× smaller but
    // makes each join side re-serialize the 64-double vector per
    // band row into its shuffle — 0.40 → 0.71 s wall; the text dedups
    // checkpoint pre-explode because their band rows are scalar longs.
    // MEASURED NEGATIVE (r11): Parallel.floor before the signature
    // kernel (the stats_permutation pattern) LOSES here — 0.57 →
    // 0.88 s same-host A/B. The banding kernel is ~65k flops/row,
    // but the row being shuffled is a 64-double vector (~0.5 KB +
    // array (de)serialization), so work/row ≯ serialize/row the way
    // it is for the 3-scalar-column stats kernels, and the exchange
    // also splits the eager checkpoint across 32 block writes. The
    // single-split scan keeps the kernel.
    // r12 retest: DROPPING this checkpoint entirely (recompute the
    // banding per join side) measured a wash within host noise
    // (min 0.709 vs 0.728 s interleaved) — kept for the determinism
    // guarantee the self-join wants (both sides read one
    // materialization) and the r10 measurement against the
    // pre-explode variant.
    // the full packed-signature array rides each band row (+4 longs
    // against a 64-double vector, ~6% wider) to enable the
    // FIRST-MATCH filter below
    val b = e.select(col("vec_id"), col("v"),
        Similarity.hyperplaneBands(col("v")).as("bands"))
      .select(col("vec_id"), col("v"), col("bands"),
        posexplode(col("bands")).as(Seq("band_id", "band_bits")))
      .localCheckpoint(true)
      .hint("shuffle_hash")
    // FIRST-MATCH pair dedup (r13, measured): a pair sharing m bands
    // used to surface m(≤SigBands) times, evaluate the 64-dim cosine
    // kernel m times, and rely on a distinct exchange to collapse the
    // copies. Keeping only the row whose band_id is the SMALLEST
    // matching band — i.e. every earlier band differs, a pure codegen
    // comparison of the band arrays both sides already carry — emits
    // each pair exactly once at the join, so the verify kernel runs
    // once per pair and the distinct becomes a pass-through over
    // already-unique scalars (kept: its post-shuffle estimate is what
    // lets the size gate pick the single-partition tail sort, and at
    // corpus scale a keyed exchange over final pairs is the right
    // shape anyway). Same rows at every scale: the kept band is a
    // function of the pair's signatures, not of partitioning.
    val firstMatch = (0 until Similarity.SigBands).map { j =>
      (0 until j).map(i =>
          element_at(col("a.bands"), i + 1) =!= element_at(col("b.bands"), i + 1))
        .foldLeft(col("a.band_id") === j)(_ && _)
    }.reduce(_ || _)
    b.as("a").join(b.as("b"),
        col("a.band_id") === col("b.band_id") &&
        col("a.band_bits") === col("b.band_bits") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(firstMatch)
      // verify before the dedup shuffle: cosine runs codegen'd in the
      // join output stream, so sub-threshold bucket collisions die
      // here and the distinct carries only (id, id, cos) scalars
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(cosine(col("a.v"), col("b.v")), 6).as("cos"))
      .filter(col("cos") >= 0.4)
      .distinct()
      // size-gated tail sort (r11): the pair-dedup exchange below
      // keeps everything parallel; unlike q30 the gate sees the
      // DISTINCT's post-shuffle estimate, and a corpus-scaled
      // near-dup set falls back to the sampled sort
      .transform(Bounded.orderedIfSmall(_, Bounded.SmallSortBytes,
        col("id_a"), col("id_b")))
  }

  // ---- line-level (C4-style) exact dedup --------------------------

  /** Cross-corpus LINE-level exact dedup (the C4/RefinedWeb rule:
    * drop every repeated line corpus-wide, keep its first
    * occurrence). The synthetic docs are single-line token streams,
    * so "lines" are 10-token chunks — the plumbing is the point:
    * explode docs to lines (1→N, shuffle-free), one hash-aggregate
    * on the line hash with map-side combine, keep-first by position.
    *
    * First-occurrence position is min over `doc_id · 2^20 + line_no`
    * — a primitive-long encoding (docs < 2^43, lines/doc < 2^20)
    * chosen over `min(struct(doc_id, line_no))` deliberately: a
    * struct aggregation buffer silently degrades the whole merge to
    * SortAggregate (SURVEY §4.1). */
  val dedupLines: Op = Op.sql("dedup_lines",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents),
      |tok AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM corpus),
      |lines AS (
      |  SELECT doc_id, ln - 1 AS line_no,
      |         array_to_string(toks[((ln-1)*10+1):((ln-1)*10+10)], ' ') AS line
      |  FROM (SELECT doc_id, toks,
      |          unnest(range(1, 1 + CAST(ceil(len(toks) / 10.0) AS INT))) AS ln
      |        FROM tok))
      |SELECT md5(line) AS line_hash,
      |       min(doc_id * 1048576 + line_no) // 1048576 AS keep_doc,
      |       min(doc_id * 1048576 + line_no) % 1048576 AS keep_line,
      |       count(*) AS n_copies
      |FROM lines GROUP BY line
      |ORDER BY keep_doc, keep_line""".stripMargin) { (s, dir) =>
    val toks = split(col("text"), "\\s+")
    corpusExact(s, dir)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), ceil(size(toks) / 10.0).cast("int") - 1),
          i => concat_ws(" ", slice(toks, i * 10 + 1, lit(10)))))
          .as(Seq("line_no", "line")))
      .groupBy(md5(col("line").cast("binary")).as("line_hash"))
      .agg(min(col("doc_id") * 1048576L + col("line_no")).as("pos"),
        count(lit(1)).as("n_copies"))
      .select(col("line_hash"),
        expr("pos div 1048576").as("keep_doc"),
        pmod(col("pos"), lit(1048576L)).as("keep_line"), col("n_copies"))
      .orderBy("keep_doc", "keep_line")
  }

  /** Train/eval CONTAMINATION check (the benchmark-leakage audit every
    * LLM data pipeline must run before training): word-5-gram overlap
    * between a held-out eval slice (`doc_id % 50 = 0`) and the train
    * remainder. 5-grams are built with codegen'd `lead` windows over
    * positional tokens (never an interpreted HOF, SURVEY §4.1), the
    * train side is reduced to DISTINCT n-grams before the probe join,
    * and the ratio is a raw int/int division (bit-identical across
    * engines, §5).
    *
    * Scale: the probe join is keyed on the n-gram itself here so the
    * DuckDB oracle can replay it verbatim; at 100 TB you key on
    * `md5(ngram)` instead (fixed 16-byte shuffle keys, same answer)
    * and bloom-prune the train side — the shape (explode → window →
    * distinct → keyed join) is unchanged. Eval is tiny relative to
    * train, so the join broadcasts the eval n-gram set. */
  val dedupContamination: Op = Op.sql("dedup_contamination",
    """WITH tok AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(text, '\s+')) AS tok,
      |    unnest(range(len(string_split_regex(text, '\s+')))) AS pos
      |  FROM documents),
      |ng AS (
      |  SELECT doc_id, tok || ' ' || l1 || ' ' || l2 || ' ' || l3 || ' ' || l4 AS ng
      |  FROM (SELECT doc_id, tok,
      |          lead(tok, 1) OVER w AS l1, lead(tok, 2) OVER w AS l2,
      |          lead(tok, 3) OVER w AS l3, lead(tok, 4) OVER w AS l4
      |        FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos))
      |  WHERE l4 IS NOT NULL),
      |ev AS (SELECT DISTINCT doc_id, ng FROM ng WHERE doc_id % 50 = 0),
      |tr AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 50 <> 0)
      |SELECT ev.doc_id, count(*) AS n_ngrams, count(tr.ng) AS n_hit,
      |       CAST(count(tr.ng) AS DOUBLE) / count(*) AS ratio
      |FROM ev LEFT JOIN tr ON ev.ng = tr.ng
      |GROUP BY ev.doc_id ORDER BY ev.doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = docs(s, dir).select(col("doc_id"),
      posexplode(split(col("text"), "\\s+")).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val ngrams = toks
      .select(col("doc_id"),
        concat_ws(" ", col("tok"),
          lead("tok", 1).over(w), lead("tok", 2).over(w),
          lead("tok", 3).over(w), lead("tok", 4).over(w)).as("ng"),
        lead("tok", 4).over(w).isNotNull.as("full"))
      .filter(col("full")) // concat_ws skips NULLs — drop tail stubs explicitly
    val ev = ngrams.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select("doc_id", "ng").distinct()
    val tr = ngrams.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      .select("ng").distinct().withColumn("hit", lit(1L))
    ev.join(tr, Seq("ng"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_ngrams"), count(col("hit")).as("n_hit"))
      .select(col("doc_id"), col("n_ngrams"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_ngrams")).as("ratio"))
      .orderBy("doc_id")
  }

  /** Candidate-quality evaluation of the MinHash blocking (round 8)
    * — `ann_recall_eval`'s dedup sibling: the numbers an operator of
    * a 100 TB dedup pipeline actually watches when tuning band count
    * / shingle width. Precision is measurable exactly at ANY scale
    * (verify each candidate pair by exact Jaccard — O(candidates));
    * full recall is NOT (it needs the all-pairs truth the banding
    * exists to avoid — the 2,500 s analog baseline), so recall is
    * measured against the PLANTED twin pairs, the known ground truth
    * this corpus carries by construction. One banded candidate pass,
    * localCheckpoint'd and reused by all three counters; the oracle
    * rebuilds candidates from the shared signature replay and
    * verifies with the same exact-Jaccard SQL as dedup_ngram_jaccard. */
  val dedupMinhashEval: Op = Op.sql("dedup_minhash_eval", {
    val sig = minhashSigSql
    s"""WITH pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ($sig) a JOIN ($sig) b
       |    ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id),
       |corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 100000 AS doc_id,
       |    substring(text, strpos(text, ' ') + 1) AS text FROM documents),
       |tok AS (SELECT doc_id, text, string_split_regex(text, '\\s+') AS toks FROM corpus),
       |sh AS (SELECT doc_id, list_distinct(
       |    CASE WHEN len(toks) < 3 THEN [text]
       |         ELSE [array_to_string(toks[i:i+2], ' ')
       |               for i in range(1, len(toks) - 1)] END) AS s
       |  FROM tok),
       |ver AS (
       |  SELECT p.id_a, p.id_b FROM pairs p
       |  JOIN sh a ON a.doc_id = p.id_a JOIN sh b ON b.doc_id = p.id_b
       |  WHERE len(list_intersect(a.s, b.s)) * 1.0
       |          / len(list_distinct(a.s || b.s)) >= 0.5),
       |planted AS (SELECT doc_id AS id_a, doc_id + 100000 AS id_b FROM documents)
       |SELECT
       |  (SELECT count(*) FROM pairs) AS n_candidates,
       |  (SELECT count(*) FROM ver) AS n_verified,
       |  (SELECT count(*) FROM planted) AS n_planted,
       |  (SELECT count(*) FROM pairs JOIN planted USING (id_a, id_b)) AS n_hit,
       |  (SELECT count(*) FROM ver) * 1.0
       |    / (SELECT count(*) FROM pairs) AS precision,
       |  (SELECT count(*) FROM pairs JOIN planted USING (id_a, id_b)) * 1.0
       |    / (SELECT count(*) FROM planted) AS recall_planted""".stripMargin
  }) { (s, dir) =>
    val corpus = corpusNear(s, dir)
    val cands = minhashCandidates(corpus).localCheckpoint(true)
    val verified = jaccardVerify(cands, corpus, threshold = 0.5)
    val planted = docs(s, dir)
      .select(col("doc_id").as("id_a"), (col("doc_id") + 100000).as("id_b"))
    val nc = cands.agg(count(lit(1)).as("n_candidates"))
    val nv = verified.agg(count(lit(1)).as("n_verified"))
    val np = planted.agg(count(lit(1)).as("n_planted"))
    val nh = cands.join(planted.hint("shuffle_hash"), Seq("id_a", "id_b"))
      .agg(count(lit(1)).as("n_hit"))
    nc.crossJoin(broadcast(nv)).crossJoin(broadcast(np)).crossJoin(broadcast(nh))
      .select(col("n_candidates"), col("n_verified"), col("n_planted"), col("n_hit"),
        (col("n_verified") * 1.0 / col("n_candidates")).as("precision"),
        (col("n_hit") * 1.0 / col("n_planted")).as("recall_planted"))
  }

  /** Connected components over an undirected edge list by iterative
    * min-label propagation: each round every node takes the minimum
    * label in its neighborhood (one keyed join + one min-aggregate —
    * both plain shuffles on node id), until a fixpoint. Rounds ≈
    * graph diameter; duplicate graphs are near-clique, so 2-3 rounds
    * in practice. `localCheckpoint` truncates the loop's lineage
    * (without it the plan doubles every round). At extreme scale the
    * large-star/small-star variant (Kiveris et al.) halves round
    * count; the per-round dataflow is identical to this one.
    *
    * The driver holds only the convergence COUNTER — labels
    * themselves never leave the cluster. */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // plain persist, NOT localCheckpoint: the loop below re-reads sym
    // every round, and a persisted copy can be unpersisted on exit
    // without stranding anything (a checkpoint's blocks would have to
    // outlive the function because truncated lineage can't recompute).
    // Plan growth stays bounded — labels' periodic checkpoint caps
    // how many times sym's (leaf-sized) subtree is embedded.
    val sym = edges.toDF("a", "b")
      .unionAll(edges.toDF("b", "a").select("a", "b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("label", col("id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val neighborMin = sym.join(labels.hint("shuffle_hash"), sym("b") === labels("id"))
        .select(sym("a").as("id"), col("label"))
      // persist each round and DROP the previous one — residency stays
      // at two label sets, not O(rounds); a periodic localCheckpoint
      // bounds the lineage depth instead of checkpointing every round
      var next = labels.unionByName(neighborMin)
        .groupBy("id").agg(min("label").as("label"))
      next = (if ((iter + 1) % 8 == 0) next.localCheckpoint()
              else next.persist(StorageLevel.MEMORY_AND_DISK))
      converged = next.join(
        labels.withColumnRenamed("label", "old").hint("shuffle_hash"), "id")
        .filter(col("label") =!= col("old")).isEmpty
      labels.unpersist()
      labels = next
      iter += 1
    }
    // detach the result from ALL loop state before freeing it: the
    // eager localCheckpoint copies the converged labels into their own
    // self-contained blocks (lineage truncated), so unpersisting the
    // loop's cached copies can never force a recompute of freed state.
    // Repeated calls therefore leave behind only their own result —
    // the ContextCleaner reclaims it once the caller drops the frame —
    // instead of accumulating a labels+sym cache per invocation.
    val out = if (converged) labels.localCheckpoint(true) else labels
    labels.unpersist()
    sym.unpersist()
    require(converged, s"connectedComponents: no fixpoint after $maxIter rounds")
    out
  }

  /** Duplicate-cluster assignment — the step that turns near-dup
    * PAIRS into an actionable dedup decision (keep the minimum id
    * per cluster, drop the rest). Pairs come from the exact-dup
    * corpus' content-hash join; components come from
    * [[connectedComponents]]. The oracle recomputes cluster ids
    * independently as `min(doc_id) per identical text` — valid
    * because exact-dup groups are cliques — so the propagation
    * machinery is checked end-to-end against SQL. */
  val dedupCluster: Op = Op.sql("dedup_cluster",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents)
      |SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS cluster_id,
      |       doc_id = min(doc_id) OVER (PARTITION BY text) AS keep
      |FROM corpus ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val corpus = corpusExact(s, dir)
    val hashed = corpus.select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .hint("shuffle_hash") // corpus-sized side: keyed shuffle, never broadcast
    val edges = hashed.as("l").join(hashed.as("r"), col("l.h") === col("r.h"))
      .filter(col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("a"), col("r.doc_id").as("b"))
    val labels = connectedComponents(edges)
    corpus.select("doc_id")
      .join(labels, corpus("doc_id") === labels("id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .withColumn("keep", col("doc_id") === col("cluster_id"))
      .orderBy("doc_id")
  }

  // ---- semantic dedup (SemDeDup) ----------------------------------

  /** SemDeDup kernel (Abbas et al. 2023): k-means the embedding space,
    * then prune near-duplicates WITHIN each cluster only. Drop rule is
    * deterministic and order-free: drop x iff some lower-id y in the
    * same cell has cosine(x, y) ≥ eps — parallelizable with no
    * sequential greedy scan, and pairs in different cells are never
    * compared (SemDeDup's deliberate blind spot: the clustering IS the
    * candidate generation).
    *
    * Scale: the self-join is keyed on `cell`, so shuffle volume is
    * O(corpus) and pair work is Σ|cell|² — bounded by sizing k so
    * |cell| ≈ n/k stays small (SemDeDup used k=50k on LAION-440M; AQE
    * skew-join splits hot cells). Contrast with [[dedupEmbedding]],
    * which buckets by LSH band instead of learned cells. */
  def semanticPrune(corpus: DataFrame, centroids: Seq[Seq[Double]],
                    eps: Double): DataFrame = {
    val cLit = typedLit(centroids)
    val assigned = corpus
      .withColumn("cell", Similarity.cellExpr(cLit, col("v")).cast("int"))
    // corpus-sized side: keyed shuffle, never broadcast (see
    // minhashCandidates) — the hint only affects the self-join; the
    // final anti-join's drops side stays small and broadcastable
    val hinted = assigned.localCheckpoint(true).hint("shuffle_hash")
    val drops = hinted.as("a").join(hinted.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      // verify in the join output stream (codegen'd cosine), so only
      // (vec_id) scalars reach the distinct shuffle — never the vectors
      .filter(cosine(col("a.v"), col("b.v")) >= eps)
      .select(col("b.vec_id").as("vec_id")).distinct()
    assigned.join(drops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"))
  }

  /** SemDeDup over the embeddings table, reusing the IVF centroids
    * ([[Similarity.centroidsFor]] — trained once per dataset, shared
    * with ann_ivf/ann_ivf_persist so every consumer of the cell
    * layout agrees on assignments). eps matches [[dedupEmbedding]]'s
    * near-dup threshold. Cell ids come from trained centroids, so no
    * SQL oracle can recompute them — correctness is DedupSpec's
    * planted-cluster tests plus the driver's rows-only check. */
  /** Value-checked end to end (round 7; rows-only before): the
    * k-means blocking cells became oracle-replayable when the
    * centroid means moved to fixed-point sums — the oracle re-trains
    * the IVF index inside [[Similarity.ivfCentroidCteSql]] and
    * replays the within-cell keep-lowest-id prune verbatim. */
  val dedupSemantic: Op = Op.sql("dedup_semantic",
    Similarity.ivfCentroidCteSql +
    """,
      |drops AS MATERIALIZED (
      |  SELECT DISTINCT b.vec_id
      |  FROM cells a JOIN cells b
      |    ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.v, b.v) >= 0.4)
      |SELECT c.vec_id, CAST(c.cell AS INT) AS cell
      |FROM cells c LEFT JOIN drops d ON c.vec_id = d.vec_id
      |WHERE d.vec_id IS NULL
      |ORDER BY c.vec_id""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))
    semanticPrune(e, Similarity.centroidsFor(s, dir), 0.4)
      .orderBy("vec_id")
  }

  // ---- incremental (batch-vs-corpus) dedup ------------------------

  /** Incremental ingest dedup — the shape production pipelines
    * actually run: an incoming BATCH is checked against the
    * already-ingested corpus's content hashes, not against itself.
    * Derived batch: every doc_id % 3 == 0 document arrives verbatim
    * (a true duplicate of the seen corpus), the rest arrive with new
    * content. One hash-keyed left join decides is_dup per batch row —
    * shuffle carries only (md5, id) scalars, never document text.
    *
    * At 100 TB the seen-hash side is not a live DISTINCT over the
    * corpus: it is the persisted KV hash store this library already
    * provides (kv/KVLog runs with parquet bloom filters on the key
    * column — absent hashes, i.e. NEW content, reject entire row
    * groups without decoding). This op keeps the join form so the
    * decision itself is DuckDB-checkable end to end. */
  val dedupIncremental: Op = Op.sql("dedup_incremental",
    """WITH batch AS (
      |  SELECT doc_id + 200000 AS doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN text ELSE 'v2 ' || text END AS text
      |  FROM documents),
      |seen AS (SELECT DISTINCT md5(text) AS h FROM documents)
      |SELECT b.doc_id, s.h IS NOT NULL AS is_dup
      |FROM batch b LEFT JOIN seen s ON md5(b.text) = s.h
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val d = docs(s, dir)
    val batch = d.select((col("doc_id") + 200000).as("doc_id"),
      when(col("doc_id") % 3 === 0, col("text"))
        .otherwise(concat(lit("v2 "), col("text"))).as("text"))
    // the seen corpus is the BIG side of this left join: keyed
    // shuffle, never broadcast (at scale it is the bloom-filtered KV
    // hash store — corpus-sized by definition)
    val seen = d.select(md5(col("text").cast("binary")).as("h")).distinct()
      .hint("shuffle_hash")
    batch.select(col("doc_id"), md5(col("text").cast("binary")).as("bh"))
      .join(seen, col("bh") === col("h"), "left")
      .select(col("doc_id"), col("h").isNotNull.as("is_dup"))
      .orderBy("doc_id")
  }

  /** The batch/seen split of [[dedupIncremental]] plus a bloom filter
    * built over the seen side's 64-bit content hashes — public so
    * DedupSpec can measure the prune. The bloom is built with the
    * public distributed `stat.bloomFilter` (treeAggregate, bit-OR
    * merge — insertion and partition order free, so the bytes are
    * deterministic for a dataset) and held as driver metadata like
    * the IVF centroids; expected-items tracks the actual seen count
    * so the false-positive rate stays near the 3% design point at
    * every SF. */
  def bloomParts(s: SparkSession, dir: String): (DataFrame, DataFrame, Array[Byte]) = {
    val d = docs(s, dir)
    val batch = d.select((col("doc_id") + 200000).as("doc_id"),
      when(col("doc_id") % 3 === 0, col("text"))
        .otherwise(concat(lit("v2 "), col("text"))).as("text"))
    val n = d.count()
    val bf = d.select(xxhash64(col("text")).as("hl"))
      .stat.bloomFilter("hl", math.max(4096L, n), 0.03)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    (batch, d, bos.toByteArray)
  }

  /** Bloom-PREFILTERED incremental dedup — [[dedupIncremental]]'s
    * decision through the physical path a 100 TB ingest actually
    * runs (reference analog: the SSTable bloom cache consulted
    * before any run is read, cache/bloom_filter_cache.rs, lifted
    * from the file level to the dataflow level): a batch row whose
    * content hash the seen-corpus bloom rejects is DEFINITELY new
    * (blooms have no false negatives) and never enters the join;
    * only the `might_contain` survivors — true dups plus the ~3%
    * false-positive tail — are verified against the exact hash set.
    * The output is therefore EXACTLY the plain left-join decision
    * for any bloom content whatsoever, which is what lets the
    * DuckDB oracle stay the exact SQL while the bloom remains a
    * pure performance layer; the spec measures that the prune
    * actually bit and that no dup skipped the join.
    *
    * Probing is Spark's codegen'd `BloomFilterMightContain`
    * (registered as `graft_might_contain`; the engine ships it for
    * its runtime-filter rewrite but leaves it unregistered), so the
    * pre-filter rides whole-stage codegen in the scan stage: at
    * 10 B seen docs the join shuffle carries (new-content rows ×
    * ~3%) instead of the whole batch — the same economics as q65's
    * runtime bloom join, but against a PERSISTENT corpus artifact
    * the pipeline rebuilds per compaction instead of per query. */
  val dedupBloomPrefilter: Op = Op.sql("dedup_bloom_prefilter",
    """WITH batch AS (
      |  SELECT doc_id + 200000 AS doc_id,
      |    CASE WHEN doc_id % 3 = 0 THEN text ELSE 'v2 ' || text END AS text
      |  FROM documents),
      |seen AS (SELECT DISTINCT md5(text) AS h FROM documents)
      |SELECT b.doc_id, s.h IS NOT NULL AS is_dup
      |FROM batch b LEFT JOIN seen s ON md5(b.text) = s.h
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val (batch, seenDocs, bfBytes) = bloomParts(s, dir)
    val probed = batch.withColumn("maybe_seen",
      call_function("graft_might_contain", lit(bfBytes), xxhash64(col("text"))))
    val definiteNew = probed.filter(!col("maybe_seen"))
      .select(col("doc_id"), lit(false).as("is_dup"))
    val seen = seenDocs.select(md5(col("text").cast("binary")).as("h")).distinct()
      .hint("shuffle_hash")
    val verified = probed.filter(col("maybe_seen"))
      .select(col("doc_id"), md5(col("text").cast("binary")).as("bh"))
      .join(seen, col("bh") === col("h"), "left")
      .select(col("doc_id"), col("h").isNotNull.as("is_dup"))
    definiteNew.unionAll(verified).orderBy("doc_id")
  }

  // ---- substring-level (suffix-span) dedup ------------------------

  /** documents ∪ planted copy whose first 25 tokens are verbatim and
    * whose tail tokens are each 'x'-prefixed (unique filler): every
    * planted doc shares exactly one long span with its original. */
  def corpusSub(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select("doc_id", "text")
    val toks = split(col("text"), "\\s+")
    // trim: docs shorter than the prefix produce an empty filler, and
    // an untrimmed trailing space would tokenize differently across
    // engines (DuckDB keeps trailing empty tokens, Spark drops them)
    d.unionAll(d.select((col("doc_id") + 100000).as("doc_id"),
      trim(concat_ws(" ",
        concat_ws(" ", slice(toks, 1, 25)),
        concat_ws(" ", transform(slice(toks, 26, 1 << 20),
          t => concat(lit("x"), t))))).as("text")))
  }

  /** Duplicated-SUBSTRING detection (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": the dedup that
    * catches boilerplate embedded inside otherwise-unique pages,
    * which doc- and line-level hashing both miss). Suffix arrays
    * don't distribute; the standard scalable equivalent is hashed
    * overlapping token windows: every 15-token window (stride 1) is
    * hashed, a window seen in ≥2 distinct docs is duplicated, and
    * per doc the overlapping duplicated windows are merged into
    * maximal spans with the same gaps-and-islands windowing as
    * [[graft.operators.Analytics]]' q71_interval_merge (span start =
    * window start, span end = start + 14; a new island opens only
    * when a hit starts past the previous covered end).
    *
    * Scale (100 TB): window count = token count (linear, 1→N explode,
    * shuffle-free); the duplicate test is one hash-aggregate keyed on
    * the 16-byte window hash (count-distinct of doc_id is two-level,
    * partial map-side); the hit join is keyed on the same hash —
    * never doc×doc. The only per-doc state is the island window over
    * that doc's HITS (duplicated positions only, usually ≪ tokens).
    * At petabyte scale swap md5 for a 64-bit rolling hash (xxhash64
    * recurrence) to cut the shuffle key width — the dataflow is
    * unchanged. */
  val dedupSubstring: Op = Op.sql("dedup_substring",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  -- coalesce: toks[26:len] is NULL (not []) in DuckDB when len < 26
      |  SELECT doc_id + 100000,
      |    trim(array_to_string(toks[1:25], ' ') || ' ' ||
      |      coalesce(array_to_string(
      |        list_transform(toks[26:len(toks)], t -> 'x' || t), ' '), ''))
      |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |        FROM documents)),
      |tok AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM corpus),
      |win AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         md5(array_to_string(toks[(i+1):(i+15)], ' ')) AS h
      |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 14)) AS i FROM tok)),
      |dup AS (SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |hit AS (SELECT doc_id, pos FROM win JOIN dup USING (h)),
      |b AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos > max(pos + 14) OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      THEN 1 ELSE 1 - sign(count(*) OVER (PARTITION BY doc_id ORDER BY pos
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) END AS is_new
      |  FROM hit),
      |s AS (
      |  SELECT doc_id, pos,
      |    CAST(sum(is_new) OVER (PARTITION BY doc_id ORDER BY pos
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS span
      |  FROM b)
      |SELECT doc_id, span, min(pos) AS start_tok, max(pos) + 14 AS end_tok,
      |       count(*) AS n_windows
      |FROM s GROUP BY doc_id, span
      |ORDER BY doc_id, span""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val toks = split(col("text"), "\\s+")
    val wins = corpusSub(s, dir)
      .select(col("doc_id"),
        posexplode(transform(
          // guard: sequence(0, n) with n<0 would DESCEND in Spark
          // where DuckDB's range(n) is empty — short docs emit no rows
          when(size(toks) >= 15, sequence(lit(0), size(toks) - 15))
            .otherwise(array().cast("array<int>")),
          i => md5(concat_ws(" ", slice(toks, i + 1, lit(15))).cast("binary"))))
          .as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("bigint").as("pos"), col("h"))
    val dup = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("h")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val prior = w.rowsBetween(Window.unboundedPreceding, -1)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wins.join(dup, Seq("h")).select("doc_id", "pos")
      .withColumn("is_new",
        when(col("pos") > max(col("pos") + 14).over(prior), 1)
          .otherwise(lit(1) - sign(count(lit(1)).over(prior)).cast("int")))
      .withColumn("span", sum(col("is_new")).over(run).cast("bigint"))
      .groupBy("doc_id", "span")
      .agg(min("pos").as("start_tok"), (max("pos") + 14).as("end_tok"),
        count(lit(1)).as("n_windows"))
      .orderBy("doc_id", "span")
  }

  /** Duplicated-substring REMOVAL — the rewrite half of Lee et al.
    * 2022 (detection is [[dedupSubstring]]): every token covered only
    * by duplicated windows whose canonical owner is another doc is
    * cut; the canonical owner of a window is its first occurrence —
    * `min(doc_id)` per window hash (the lexicographic-(doc_id, pos)
    * minimum's doc_id IS the minimum doc_id, so no packed composite
    * key is needed; a packed `doc_id·2^20+pos` encoding would
    * silently mis-attribute owners for docs with ≥2^20 tokens —
    * plain min keeps the aggregate primitive with no position
    * bound). A doc keeps a covered token iff it owns at least
    * one window covering it, so exactly one copy of every duplicated
    * span survives corpus-wide.
    *
    * Scale (100 TB): coverage expansion is bounded — only HIT windows
    * (duplicated ones) explode ×15, never the corpus; the
    * keep/cut vote is one hash-aggregate keyed on (doc, token pos);
    * reassembly is one per-doc sort_array over that doc's own tokens
    * (state = one document, the same bound any per-doc op carries). */
  val dedupSubstringRewrite: Op = Op.sql("dedup_substring_rewrite",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000,
      |    trim(array_to_string(toks[1:25], ' ') || ' ' ||
      |      coalesce(array_to_string(
      |        list_transform(toks[26:len(toks)], t -> 'x' || t), ' '), ''))
      |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |        FROM documents)),
      |tok AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM corpus),
      |word AS (
      |  SELECT doc_id, CAST(p AS BIGINT) AS p, toks[p + 1] AS tk
      |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS p FROM tok)),
      |win AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         md5(array_to_string(toks[(i+1):(i+15)], ' ')) AS h
      |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 14)) AS i FROM tok)),
      |own AS (
      |  SELECT h, min(doc_id) AS owner
      |  FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |cover AS (
      |  SELECT win.doc_id, win.pos + k AS p,
      |         bool_or(own.owner = win.doc_id) AS owned
      |  FROM win JOIN own USING (h), unnest(range(15)) AS t(k)
      |  GROUP BY win.doc_id, win.pos + k),
      |keep AS (
      |  SELECT word.doc_id, word.p, word.tk,
      |         coalesce(cover.owned, TRUE) AS kept
      |  FROM word LEFT JOIN cover ON word.doc_id = cover.doc_id AND word.p = cover.p)
      |SELECT doc_id,
      |  coalesce(string_agg(CASE WHEN kept THEN tk END, ' ' ORDER BY p), '') AS text,
      |  count(*) FILTER (WHERE kept) AS n_kept,
      |  count(*) FILTER (WHERE NOT kept) AS n_removed
      |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val toks = split(col("text"), "\\s+")
    val corpus = corpusSub(s, dir)
    val word = corpus.select(col("doc_id"),
      posexplode(toks).as(Seq("p", "tk")))
      .select(col("doc_id"), col("p").cast("bigint").as("p"), col("tk"))
    val win = corpus.select(col("doc_id"),
      posexplode(transform(
        when(size(toks) >= 15, sequence(lit(0), size(toks) - 15))
          .otherwise(array().cast("array<int>")),
        i => md5(concat_ws(" ", slice(toks, i + 1, lit(15))).cast("binary"))))
        .as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("bigint").as("pos"), col("h"))
    val own = win.groupBy("h")
      .agg(min(col("doc_id")).as("owner"),
        countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("h", "owner")
    val cover = win.join(own, Seq("h"))
      .select(col("doc_id"), explode(sequence(lit(0L), lit(14L))).as("k"),
        col("pos"), col("owner"))
      .groupBy(col("doc_id"), (col("pos") + col("k")).as("p"))
      .agg(max(col("owner") === col("doc_id")).as("owned"))
    word.join(cover, Seq("doc_id", "p"), "left")
      .select(col("doc_id"), col("p"), col("tk"),
        coalesce(col("owned"), lit(true)).as("kept"))
      .groupBy("doc_id")
      .agg(
        concat_ws(" ", transform(
          filter(sort_array(collect_list(struct(col("p"), col("tk"), col("kept")))),
            x => x.getField("kept")),
          x => x.getField("tk"))).as("text"),
        count(when(col("kept"), 1)).as("n_kept"),
        count(when(!col("kept"), 1)).as("n_removed"))
      .orderBy("doc_id")
  }

  /** The overlapping 15-token window hashes of a (doc_id, text)
    * corpus — `(doc_id, pos, h)`, the shared front end of the
    * substring-dedup family (detection, rewrite, and the per-doc
    * containment verdict). Linear 1→N in-partition explode,
    * shuffle-free; docs shorter than one window emit no rows (the
    * `sequence` guard keeps Spark from descending where DuckDB's
    * `range(n<0)` is empty). */
  private def subWindows(corpus: DataFrame): DataFrame = {
    val toks = split(col("text"), "\\s+")
    corpus.select(col("doc_id"),
      posexplode(transform(
        when(size(toks) >= 15, sequence(lit(0), size(toks) - 15))
          .otherwise(array().cast("array<int>")),
        i => md5(concat_ws(" ", slice(toks, i + 1, lit(15))).cast("binary"))))
        .as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("bigint").as("pos"), col("h"))
  }

  /** The containment pipeline over an arbitrary `(doc_id, text)`
    * corpus — public so DedupSpec can drive it on hand-built
    * embeddings of one doc inside another (the case Jaccard misses). */
  def docContainment(corpus: DataFrame): DataFrame = {
    val win = subWindows(corpus)
    val dup = win.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select(col("h"), lit(1).as("hit"))
    val agg = win.join(dup.hint("shuffle_hash"), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_windows"), count(col("hit")).as("n_shared"))
    val ratio = col("n_shared").cast("double") / col("n_windows")
    // the per-doc aggregate is CORPUS-sized — at test SF it fits a
    // driver hashed relation and the planner broadcasts it (caught in
    // the round-9 sf0.1 plan sweep; SURVEY §4.3's class) — pin the
    // keyed join
    corpus.select("doc_id").join(agg.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        ratio.as("containment"),
        coalesce(ratio >= 0.8, lit(false)).as("is_contained"))
  }

  /** Per-document duplicated-content fraction — the doc-level VERDICT
    * the span machinery feeds (RefinedWeb/CCNet's "fraction of
    * duplicated content" quality rule; Broder's containment
    * C(A, corpus∖A) = |windows(A) shared elsewhere| / |windows(A)|):
    * a doc most of whose 15-token windows also appear in OTHER docs
    * is boilerplate or an embedded copy and gets dropped wholesale,
    * where [[dedupSubstring]] only excises the spans. Jaccard misses
    * this case by construction — a short doc embedded in a long one
    * has near-zero Jaccard but containment ≈ 1, which is exactly why
    * pipelines carry both thresholds. Blocking is COMPLETE (every
    * shared window is found by the window-hash aggregate — no LSH
    * recall argument needed), the duplicate test is the same ONE
    * hash-aggregate as the span ops, and the per-doc verdict is a
    * second hash-aggregate on doc_id: the corpus never self-joins.
    * Short docs (< 15 tokens) carry no windows: containment NULL,
    * verdict false — reported, never silently dropped.
    *
    * Scale (100 TB): window volume = token volume (linear); both
    * aggregates are map-side-partial hash-aggs; the hit join is keyed
    * on the 16-byte window hash with the corpus-proportional dup set
    * pinned `shuffle_hash` (SURVEY §4.3 — at test SF it would fit a
    * driver hashed relation; at corpus scale that is an OOM). */
  val dedupDocContainment: Op = Op.sql("dedup_doc_containment",
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000,
      |    trim(array_to_string(toks[1:25], ' ') || ' ' ||
      |      coalesce(array_to_string(
      |        list_transform(toks[26:len(toks)], t -> 'x' || t), ' '), ''))
      |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS toks
      |        FROM documents)),
      |tok AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM corpus),
      |win AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
      |         md5(array_to_string(toks[(i+1):(i+15)], ' ')) AS h
      |  FROM (SELECT doc_id, toks, unnest(range(len(toks) - 14)) AS i FROM tok)),
      |dup AS (SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
      |agg AS (
      |  SELECT w.doc_id, count(*) AS n_windows, count(d.h) AS n_shared
      |  FROM win w LEFT JOIN dup d USING (h)
      |  GROUP BY w.doc_id)
      |SELECT c.doc_id,
      |  coalesce(a.n_windows, 0) AS n_windows,
      |  coalesce(a.n_shared, 0) AS n_shared,
      |  CAST(a.n_shared AS DOUBLE) / a.n_windows AS containment,
      |  coalesce(CAST(a.n_shared AS DOUBLE) / a.n_windows >= 0.8, FALSE)
      |    AS is_contained
      |FROM corpus c LEFT JOIN agg a USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docContainment(corpusSub(s, dir)).orderBy("doc_id")
  }

  /** The near-dup DECISION end-to-end (round 8): LSH candidate pairs
    * ([[minhashCandidates]]) → connected components by large-star/
    * small-star contraction ([[Analytics.largeSmallStar]] — the
    * O(log n)-round machinery, here consuming REAL near-dup pairs
    * rather than the synthetic chain graph) → keep the minimum id per
    * component. This is what `dedup_cluster` does for EXACT dups,
    * lifted to the banded near-dup graph — the actual corpus-level
    * keep/drop verdict a pipeline executes. The oracle rebuilds the
    * pairs from the shared HUGEINT signature replay
    * ([[minhashSigSql]]) and re-derives components with fully
    * independent machinery (recursive UNION-dedup reachability +
    * min), so contraction is value-checked against closure on a
    * graph the operator did not choose. */
  val dedupNearCluster: Op = Op.sql("dedup_near_cluster", {
    val sig = minhashSigSql
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id FROM documents
       |  UNION ALL SELECT doc_id + 100000 FROM documents),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ($sig) a JOIN ($sig) b
       |    ON a.band_id = b.band_id AND a.h = b.h AND a.doc_id < b.doc_id),
       |sym AS (
       |  SELECT id_a AS u, id_b AS v FROM pairs
       |  UNION SELECT id_b AS u, id_a AS v FROM pairs),
       |reach AS (
       |  SELECT doc_id AS src, doc_id AS dst FROM corpus
       |  UNION
       |  SELECT r.src, s.v FROM reach r JOIN sym s ON s.u = r.dst)
       |SELECT src AS doc_id, min(dst) AS component,
       |       src = min(dst) AS keep
       |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin
  }) { (s, dir) =>
    val corpus = corpusNear(s, dir)
    val pairs = minhashCandidates(corpus)
    val (stars, _) = Analytics.largeSmallStar(pairs)
    corpus.select(col("doc_id"))
      .join(stars.withColumnRenamed("u", "doc_id").hint("shuffle_hash"),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("v"), col("doc_id")).as("component"),
        (coalesce(col("v"), col("doc_id")) === col("doc_id")).as("keep"))
      .orderBy("doc_id")
  }

  val all: Seq[Op] = Seq(dedupExact, dedupMinhashLsh, dedupNgramJaccard,
    dedupSimhash, dedupEmbedding, dedupLines, dedupContamination,
    dedupCluster, dedupNearCluster, dedupSemantic, dedupIncremental, dedupSubstring,
    dedupSubstringRewrite, dedupMinhashEval, dedupDocContainment,
    dedupBloomPrefilter)
}
