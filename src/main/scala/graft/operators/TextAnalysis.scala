package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Op
import graft.sources.{State, Tables}

/** §2.3 text-analysis operators for a large-scale training-data
  * pipeline, over the `documents` table.
  *
  * Everything here is built from codegen'd `sql.functions` (split /
  * regexp / higher-order array functions) — no UDFs — so the whole
  * pipeline stays inside WholeStageCodegen and scales linearly with
  * input splits: per-document work only, no shuffle at all until a
  * caller aggregates.
  */
object TextAnalysis {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Tiny per-language stopword profiles for n-gram-free heuristic
    * language ID (the classic stopword-counting approach; CJK decided
    * by script detection first). */
  val profiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "with", "for", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "für", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "pour", "que", "dans", "une"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "por", "que", "con", "una"))

  /** Language-ID column: script check for CJK, else the language whose
    * stopword profile matches the most tokens; 'und' (undetermined)
    * when nothing matches. Pure array expressions — distributed,
    * shuffle-free. */
  def langIdCol(text: Column): Column =
    graft.functions.VectorFunctions.bound(split(lower(text), "\\s+")) { toks =>
      val scores = profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
        val hits = size(filter(toks, t => array_contains(
          array(words.map(lit): _*), t)))
        struct(hits.as("hits"), lit(lang).as("lang"))
      }
      val best = array_max(array(scores: _*))
      when(text.rlike("[\\u4e00-\\u9fff]"), lit("zh"))
        .when(best.getField("hits") > 0, best.getField("lang"))
        .otherwise(lit("und"))
    }

  /** DuckDB mirror of [[langIdCol]]: same profiles, same
    * highest-(hits, lang) tie-break (`list_max` over (hits, lang)
    * structs ≡ Spark's `array_max`), same CJK short-circuit.
    * Generated from the `profiles` map — single source of truth. */
  private val langIdOracleSql: String = {
    val structs = profiles.toSeq.sortBy(_._1).map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ",", "]")
      s"{'hits': len(list_filter(toks, w -> list_contains($list, w))), 'lang': '$lang'}"
    }
    s"""WITH t AS (SELECT doc_id, lang, text,
       |  string_split_regex(lower(text), '\\s+') AS toks FROM documents),
       |best AS (SELECT doc_id, lang, text,
       |  list_max([${structs.mkString(",\n    ")}]) AS b FROM t)
       |SELECT doc_id,
       |  CASE WHEN regexp_matches(text, '[\\x{4e00}-\\x{9fff}]') THEN 'zh'
       |       WHEN b.hits > 0 THEN b.lang ELSE 'und' END AS pred_lang,
       |  lang
       |FROM best ORDER BY doc_id""".stripMargin
  }

  /** Predicted language per document (the synthetic corpus text is
    * English-vocab regardless of its `lang` column, so the spec
    * additionally validates accuracy on known-language sentences). */
  val textLangId: Op = Op.sql("text_langid", langIdOracleSql) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), langIdCol(col("text")).as("pred_lang"), col("lang"))
      .orderBy("doc_id")
  }

  /** Size-gated tail sort for per-document narrow projections (r11):
    * scan-rooted frames must SHUFFLE on the small path (repartition(1)
    * — never coalesce, which would serialize the scan; the q22
    * lesson); a corpus-scaled plan estimate keeps the sampled range
    * sort. Replaces the range exchange + RangePartitioner sampling
    * job on every doc-level op tail while the corpus plans small. */
  private def byDocId(df: DataFrame): DataFrame =
    Bounded.orderedNarrowIfSmall(df, Bounded.SmallSortBytes, col("doc_id"))

  /** Quality scores — length, word count/lengths, stopword ratio,
    * alpha ratio — rounded to fixed decimals on both sides. */
  val textQuality: Op = Op.sql("text_quality",
    """SELECT doc_id,
      |  length(text) AS n_char,
      |  len(string_split(text, ' ')) AS n_word,
      |  round(length(text)*1.0 / len(string_split(text, ' ')), 4) AS chars_per_word,
      |  round(len(list_filter(string_split(text, ' '),
      |        w -> list_contains(['the','a','of','and','to','in','is'], w)))*1.0
      |        / len(string_split(text, ' ')), 4) AS stopword_ratio,
      |  round(length(regexp_replace(text, '[^a-z]', '', 'g'))*1.0
      |        / length(text), 4) AS alpha_ratio
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // one codegen'd pass (graft_quality_counts) instead of a split
    // allocation + interpreted array_filter lambda + regexp_replace
    // per row (r9 profile: they were this op's whole single-task scan
    // cost); ratios stay the same exact-int divisions as the oracle
    val qc = graft.functions.TextExpressions.quality_counts(col("text"))
    docs(s, dir).select(
      col("doc_id"),
      qc.getItem(0).as("n_char"),
      qc.getItem(1).as("n_word"),
      round(qc.getItem(0) * 1.0 / qc.getItem(1), 4).as("chars_per_word"),
      round(qc.getItem(2) * 1.0 / qc.getItem(1), 4).as("stopword_ratio"),
      round(qc.getItem(3) * 1.0 / qc.getItem(0), 4).as("alpha_ratio"))
      .transform(byDocId)
  }

  /** Token counting: whitespace tokens and a BPE-ish regex token count
    * (letter runs / digit runs / single other-symbols). */
  val textTokens: Op = Op.sql("text_tokens",
    """SELECT doc_id,
      |  len(string_split_regex(text, '\s+')) AS ws_tokens,
      |  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS re_tokens
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    // one codegen'd pass (graft_token_counts) instead of two Java-regex
    // passes — the regex WAS the op's single-task scan cost (r9
    // profile: 0.33 s for 5k sf0.1 docs); semantics pinned identical
    // in TextHashing.tokenCounts's doc and the unchanged oracle
    val tc = graft.functions.TextExpressions.token_counts(col("text"))
    docs(s, dir).select(
      col("doc_id"),
      tc.getItem(0).as("ws_tokens"),
      tc.getItem(1).as("re_tokens"))
      .transform(byDocId)
  }

  /** 64-bit fingerprint over the token sequence (order-sensitive,
    * whitespace-normalized) via the codegen'd
    * [[graft.functions.TextExpressions.fingerprint64]] kernel:
    * position-salted token hashes combined with exact mod-2^64
    * addition and a final avalanche. Replaces the interpreted
    * `aggregate` HOF xxhash64 fold (round 7) — faster, and every
    * step is SQL-replayable integer arithmetic, so the DuckDB oracle
    * recomputes fingerprints VALUE-exactly instead of rows-only. */
  def fingerprintCol(text: Column): Column =
    graft.functions.TextExpressions.fingerprint64(text)

  private def fingerprintOracleSql: String = {
    import SqlReplay._
    // q = 1-based rank among non-empty tokens (matches the kernel's
    // counter, immune to trim/empty-token edge differences)
    val toks =
      """SELECT doc_id, t,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY p)
        |       AS HUGEINT) AS q
        |FROM (SELECT doc_id, p, toks[p + 1] AS t
        |      FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS p
        |            FROM (SELECT doc_id,
        |                    string_split_regex(text, '\s+') AS toks
        |                  FROM documents)))
        |WHERE t <> ''""".stripMargin
    val th = stagedSql(toks, tokenHashStages("t", "th"))
    val contrib = stagedSql(
      s"SELECT doc_id, (th + q * $BandSaltU) % $M64 AS cm FROM ($th)",
      mixStages("cm", "c"))
    val fp = stagedSql(
      s"SELECT doc_id, sum(c) % $M64 AS acc FROM ($contrib) GROUP BY doc_id",
      mixStages("acc", "h"))
    // left join back: an empty/whitespace-only doc has no token rows
    // but the kernel still emits mix64(0) = 0 for it
    s"""SELECT d.doc_id, coalesce(${toSignedBigint("f.h")}, 0) AS fingerprint
       |FROM documents d LEFT JOIN ($fp) f ON d.doc_id = f.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  val textFingerprint: Op = Op.sql("text_fingerprint", fingerprintOracleSql) {
    (s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), fingerprintCol(col("text")).as("fingerprint"))
        .transform(byDocId)
  }

  /** Canonical text normalization (the pipeline stage before any
    * hashing/dedup): trim, lowercase, collapse whitespace, strip
    * non-alphanumerics. Pure codegen'd string expressions. */
  val textNormalize: Op = Op.sql("text_normalize",
    """SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
      |       ' +', ' ', 'g')) AS norm_text
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""),
        " +", " ")).as("norm_text"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test assignment by content hash (NOT by
    * row position — stable under any repartitioning or re-ingestion,
    * which is the property a 100 TB pipeline needs). md5 is
    * cross-engine, so the oracle checks the exact assignment. */
  val textSplitAssign: Op = Op.sql("text_split_assign",
    """SELECT doc_id,
      |  CASE WHEN h < 13 THEN 'train' WHEN h < 15 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |        CAST(('0x' || substr(md5(text), 1, 1)) AS BIGINT) AS h
      |      FROM documents)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      conv(substring(md5(col("text").cast("binary")), 1, 1), 16, 10)
        .cast("bigint").as("h"))
      .select(col("doc_id"),
        when(col("h") < 13, "train").when(col("h") < 15, "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Intra-document repetition ratio (a Gopher/RefinedWeb quality
    * rule: heavily repeated n-grams mark low-quality/boilerplate
    * text): 1 − distinct_trigrams/total_trigrams, raw int/int ratio
    * (bit-identical across engines — never round a ratio, SURVEY §5).
    * Per-row array expressions only: shuffle-free, codegen'd. */
  val textRepetition: Op = Op.sql("text_repetition",
    """WITH tok AS (SELECT doc_id, text, string_split_regex(text, '\s+') AS toks
      |            FROM documents),
      |sh AS (SELECT doc_id,
      |         CASE WHEN len(toks) < 3 THEN [text]
      |              ELSE [array_to_string(toks[i:i+2], ' ')
      |                    for i in range(1, len(toks) - 1)] END AS s
      |       FROM tok)
      |SELECT doc_id, len(s) AS n_trigrams,
      |       1.0 - len(list_distinct(s)) * 1.0 / len(s) AS rep_ratio
      |FROM sh ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .select(col("doc_id"), Dedup.shinglesCol(col("text")).as("s"))
      .select(col("doc_id"), size(col("s")).cast("bigint").as("n_trigrams"),
        (lit(1.0) - size(array_distinct(col("s"))) * 1.0 / size(col("s"))).as("rep_ratio"))
      .orderBy("doc_id")
  }

  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** PII detection + scrubbing (the redaction pass every training
    * pipeline runs before tokenization). The synthetic corpus has no
    * PII, so every 10th doc gets a deterministic synthetic email +
    * phone appended — same derivation in the oracle — and the op
    * counts and masks both patterns. Pure regexp expressions
    * (codegen'd, shuffle-free); RE2(DuckDB) and Java(Spark) agree on
    * this pattern subset. */
  val textPii: Op = Op.sql("text_pii",
    s"""WITH corpus AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 10 = 0
       |         THEN text || ' contact user' || doc_id ||
       |              '@example.com or 555-' ||
       |              lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
       |         ELSE text END AS text
       |  FROM documents)
       |SELECT doc_id,
       |  len(regexp_extract_all(text, '$EmailRe')) AS n_emails,
       |  len(regexp_extract_all(text, '$PhoneRe')) AS n_phones,
       |  regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'),
       |                 '$PhoneRe', '<PHONE>', 'g') AS scrubbed
       |FROM corpus ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val withPii = docs(s, dir).select(col("doc_id"),
      when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0")))
        .otherwise(col("text")).as("text"))
    withPii.select(col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("bigint").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("bigint").as("n_phones"),
      regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>").as("scrubbed"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling by content hash (per-stratum
    * rates: 50% of `en`, 25% of everything else) — the downsampling
    * step of corpus mixing, stable under repartitioning/re-ingestion
    * for the same reason as [[textSplitAssign]]. */
  val sampleStratified: Op = Op.sql("sample_stratified",
    """SELECT doc_id, lang FROM documents
      |WHERE CAST(('0x' || substr(md5(text), 1, 1)) AS BIGINT)
      |      < CASE WHEN lang = 'en' THEN 8 ELSE 4 END
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir)
      .filter(conv(substring(md5(col("text").cast("binary")), 1, 1), 16, 10)
        .cast("bigint") < when(col("lang") === "en", 8).otherwise(4))
      .select("doc_id", "lang")
      .orderBy("doc_id")
  }

  /** TF-IDF top terms per document (keyword extraction / quality
    * features): term frequency × corpus rarity, top-3 per doc. The
    * score is the division form `tf·N/df` — exact integers into one
    * IEEE division, bit-identical across engines, where a ln-based
    * idf would hinge on each engine's ln rounding. Two shuffles
    * (tf agg, df agg) + a broadcast of the 1-row corpus count; the
    * doc-frequency join is keyed on term. */
  val textTopterms: Op = Op.sql("text_topterms",
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |tf AS (SELECT doc_id, t, count(*) AS tf FROM tok GROUP BY 1, 2),
      |df AS (SELECT t, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT doc_id, t AS term, tf, df, tf * n / df AS score
      |FROM tf JOIN df USING (t), n
      |QUALIFY row_number() OVER (PARTITION BY doc_id
      |        ORDER BY tf * n / df DESC, t) <= 3
      |ORDER BY doc_id, score DESC, term""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tok = docs(s, dir).select(col("doc_id"),
      explode(split(col("text"), " ")).as("t"))
    val tf = tok.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("t").agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n"))
    tf.join(dfreq, "t").crossJoin(broadcast(n))
      .withColumn("score", col("tf") * col("n") / col("df"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("t"))))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("t").as("term"), col("tf"), col("df"), col("score"))
      .orderBy(col("doc_id"), col("score").desc, col("term"))
  }

  /** Exact edit distance between each doc and its first-word-dropped
    * near-duplicate (prefix-bounded — Levenshtein is O(n·m)): the
    * precise verification tier above Jaccard/SimHash when candidate
    * volume is already small. Both engines run the same classic DP. */
  val textEditdist: Op = Op.sql("text_editdist",
    """SELECT doc_id,
      |  levenshtein(substring(text, 1, 60),
      |    substring(substring(text, strpos(text, ' ') + 1), 1, 60)) AS dist
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    docs(s, dir).select(col("doc_id"),
      levenshtein(substring(col("text"), 1, 60),
        substring(expr("substring(text, instr(text, ' ') + 1)"), 1, 60)).as("dist"))
      .orderBy("doc_id")
  }

  /** Sequence PACKING for training (concat-and-chunk): documents are
    * laid end-to-end in a deterministic order and the token stream is
    * cut into fixed 512-token context windows; each doc reports the
    * chunk range it lands in. The order is (md5(text), doc_id) WITHIN
    * each source — content-addressed like split-assign, so the packing
    * is stable under repartitioning/re-ingestion, and the window
    * partitions by `source`, so at 100 TB the cumulative sum runs per
    * shard in parallel (a single global running sum would serialize;
    * real pipelines shard exactly like this, one stream per
    * source/worker). Offsets are one codegen'd prefix-sum window —
    * no HOFs, no driver loop. */
  val textPackSequences: Op = Op.sql("text_pack_sequences",
    """WITH t AS (
      |  SELECT doc_id, source,
      |    len(string_split_regex(text, '\s+')) AS n_tokens,
      |    md5(text) AS h
      |  FROM documents),
      |c AS (
      |  SELECT doc_id, source, n_tokens,
      |    sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM t)
      |SELECT doc_id, source, n_tokens,
      |  CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS chunk_first,
      |  CAST(floor((cum - 1) / 512) AS BIGINT) AS chunk_last
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy("h", "doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), "\\s+")).cast("bigint").as("n_tokens"),
        md5(col("text").cast("binary")).as("h"))
      .withColumn("cum", sum("n_tokens").over(w))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor((col("cum") - col("n_tokens")) / 512).cast("bigint").as("chunk_first"),
        floor((col("cum") - 1) / 512).cast("bigint").as("chunk_last"))
      .orderBy("doc_id")
  }

  /** Corpus-trained unigram LM quality score (the cheap stand-in for
    * perplexity filtering: docs whose tokens are corpus-typical score
    * high, rare-token soup scores low). Two passes: (1) token counts
    * — one hash-aggregate with map-side combine, output is |vocab|
    * rows; (2) score — exploded tokens broadcast-join the vocab (at
    * 100 TB a unigram vocab with a min-count floor still fits in a
    * broadcast; if it ever didn't, the same plan shuffle-joins on
    * `tok`), then an INTEGER sum per doc. The only floating-point op
    * is one final division of exact bigints, so the score is
    * bit-identical across engines — no ln(), whose last-ulp rounding
    * differs per libm (same reasoning as [[textTopterms]]). */
  val textLmScore: Op = Op.sql("text_lm_score",
    """WITH tok AS (SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      |            FROM documents),
      |v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
      |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v)
      |SELECT t.doc_id,
      |  count(*) AS n_tok,
      |  CAST(sum(v.cnt) AS BIGINT) AS sum_cnt,
      |  CAST(sum(v.cnt) AS BIGINT) * 1.0 / (count(*) * (SELECT total FROM n)) AS avg_p
      |FROM tok t JOIN v USING (tok)
      |GROUP BY t.doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val tok = docs(s, dir).select(col("doc_id"),
      explode(split(lower(col("text")), "\\s+")).as("tok"))
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    // corpus token total = Σ vocab counts: an aggregate over |vocab|
    // rows, not a third scan-and-tokenize of the corpus
    val total = vocab.agg(sum("cnt").as("total"))
    tok.join(broadcast(vocab), Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum("cnt").as("sum_cnt"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("n_tok"), col("sum_cnt"),
        (col("sum_cnt") * 1.0 / (col("n_tok") * col("total"))).as("avg_p"))
      .orderBy("doc_id")
  }

  /** Stopword set for the Gopher "contains ≥2 stopwords" rule —
    * shared verbatim by the Spark op and the generated oracle. */
  val GopherStop: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with", "a", "in")

  /** Gopher-style rule-based quality filter (Rae et al. 2021 §A1.1 /
    * RefinedWeb): word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio (# and ellipsis), alpha-word ratio,
    * stopword floor, plus the per-rule flags so a pipeline can audit
    * WHY a doc dropped. Every ratio test is cross-multiplied into
    * integer comparisons (`10·n_alpha ≥ 8·n_words`, never a float
    * division) so the verdict is bit-identical across engines. Pure
    * per-row codegen'd expressions: shuffle-free, scales linearly. */
  val textGopher: Op = Op.sql("text_gopher", {
    val stop = GopherStop.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH t AS (SELECT doc_id,
       |    len(string_split_regex(text, '\\s+')) AS n_words,
       |    length(regexp_replace(text, '\\s+', '', 'g')) AS sum_len,
       |    length(text) - length(replace(text, '#', '')) AS n_hash,
       |    length(text) - length(replace(text, '...', '')) AS diff3,
       |    len(list_filter(string_split_regex(text, '\\s+'),
       |        w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
       |    len(list_filter($stop,
       |        sw -> list_contains(string_split_regex(text, '\\s+'), sw))) AS n_stop
       |  FROM documents)
       |SELECT doc_id, n_words,
       |  n_words BETWEEN 30 AND 100000 AS ok_words,
       |  3 * n_words <= sum_len AND sum_len <= 10 * n_words AS ok_wordlen,
       |  10 * (3 * n_hash + diff3) <= 3 * n_words AS ok_symbol,
       |  10 * n_alpha >= 8 * n_words AS ok_alpha,
       |  n_stop >= 2 AS ok_stop,
       |  (n_words BETWEEN 30 AND 100000)
       |    AND 3 * n_words <= sum_len AND sum_len <= 10 * n_words
       |    AND 10 * (3 * n_hash + diff3) <= 3 * n_words
       |    AND 10 * n_alpha >= 8 * n_words
       |    AND n_stop >= 2 AS keep
       |FROM t ORDER BY doc_id""".stripMargin
  }) { (s, dir) =>
    docs(s, dir).select(col("doc_id") +: gopherStats(col("text")): _*)
      .select(col("doc_id"), col("n_words"),
        // per-rule verdicts exposed individually; the combined `keep`
        // comes from the SAME shared predicate textDistillFilter's
        // teacher labels use (gopherKeepOf — single-sourced, ADVICE r7)
        col("n_words").between(30, 100000).as("ok_words"),
        (lit(3) * col("n_words") <= col("sum_len") &&
          col("sum_len") <= lit(10) * col("n_words")).as("ok_wordlen"),
        (lit(10) * (lit(3) * col("n_hash") + col("diff3"))
          <= lit(3) * col("n_words")).as("ok_symbol"),
        (lit(10) * col("n_alpha") >= lit(8) * col("n_words")).as("ok_alpha"),
        (col("n_stop") >= 2).as("ok_stop"),
        gopherKeepOf(col("n_words"), col("sum_len"), col("n_hash"),
          col("diff3"), col("n_alpha"), col("n_stop")).as("keep"))
      .orderBy("doc_id")
  }

  /** The six Gopher statistics as named columns over raw text — the
    * single source both [[textGopher]]'s output and [[gopherKeepCol]]
    * build from. `regexp_replace` of the literal '#'/'...' patterns
    * equals exact string replace (both quoted/fixed), so the SQL
    * twins may use either form. */
  private def gopherStats(text: Column): Seq[Column] = {
    val toks = split(text, "\\s+")
    Seq(
      size(toks).cast("bigint").as("n_words"),
      length(regexp_replace(text, "\\s+", "")).cast("bigint").as("sum_len"),
      (length(text) - length(regexp_replace(text, "#", "")))
        .cast("bigint").as("n_hash"),
      (length(text) - length(regexp_replace(text, "\\Q...\\E", "")))
        .cast("bigint").as("diff3"),
      size(filter(toks, w => w.rlike("[a-zA-Z]"))).cast("bigint").as("n_alpha"),
      size(filter(array(GopherStop.map(lit): _*),
        sw => array_contains(toks, sw))).cast("bigint").as("n_stop"))
  }

  /** The Gopher keep decision over the six statistics — the ONE
    * definition of the rule, consumed by [[textGopher]] (via the
    * stats columns) and [[gopherKeepCol]] (inline). */
  private def gopherKeepOf(nWords: Column, sumLen: Column, nHash: Column,
      diff3: Column, nAlpha: Column, nStop: Column): Column =
    nWords.between(30, 100000) &&
      lit(3) * nWords <= sumLen && sumLen <= lit(10) * nWords &&
      lit(10) * (lit(3) * nHash + diff3) <= lit(3) * nWords &&
      lit(10) * nAlpha >= lit(8) * nWords &&
      nStop >= 2

  /** The Gopher keep decision as one boolean column over raw text —
    * [[textDistillFilter]]'s weak-supervision teacher label, derived
    * from the same [[gopherStats]]/[[gopherKeepOf]] pair as
    * [[textGopher]]'s `keep` output. */
  private[graft] def gopherKeepCol(text: Column): Column = {
    val Seq(nWords, sumLen, nHash, diff3, nAlpha, nStop) = gopherStats(text)
    gopherKeepOf(nWords, sumLen, nHash, diff3, nAlpha, nStop)
  }

  /** The Gopher keep decision as a DuckDB CTE (`lab(doc_id, keep)`)
    * — the oracle-side twin of [[gopherKeepCol]]. */
  private[graft] def gopherKeepCteSql: String = {
    val stop = GopherStop.map(w => s"'$w'").mkString("[", ",", "]")
    s"""WITH lab AS (
       |  SELECT doc_id,
       |    (n_words BETWEEN 30 AND 100000)
       |      AND 3 * n_words <= sum_len AND sum_len <= 10 * n_words
       |      AND 10 * (3 * n_hash + diff3) <= 3 * n_words
       |      AND 10 * n_alpha >= 8 * n_words
       |      AND n_stop >= 2 AS keep
       |  FROM (SELECT doc_id,
       |      len(string_split_regex(text, '\\s+')) AS n_words,
       |      length(regexp_replace(text, '\\s+', '', 'g')) AS sum_len,
       |      length(text) - length(replace(text, '#', '')) AS n_hash,
       |      length(text) - length(replace(text, '...', '')) AS diff3,
       |      len(list_filter(string_split_regex(text, '\\s+'),
       |          w -> regexp_matches(w, '[a-zA-Z]'))) AS n_alpha,
       |      len(list_filter($stop,
       |          sw -> list_contains(string_split_regex(text, '\\s+'), sw))) AS n_stop
       |    FROM documents))""".stripMargin
  }

  /** Distill the rule-based quality filter into a learned token-vote
    * classifier — the production weak-supervision pattern (a cheap
    * heuristic labels a corpus; a token-level model generalizes it,
    * FineWeb/fastText-style). Integer-exact by construction so it's
    * value-checked end to end. Two learned stages, both integer:
    * (1) per lowercased token, the vote DIRECTION is the sign of the
    * cross-multiplied document-frequency comparison df_pos·N_neg vs
    * df_neg·N_pos (no division, no log-odds — a ln-based NB weight
    * would not be bit-stable across engines); a doc's score sums its
    * tokens' votes WITH multiplicity, so term frequency carries the
    * length signal the teacher rule keys on. (2) a decision STUMP
    * picks the score threshold maximizing training agreement
    * (tie → smallest), computed from prefix sums over the |distinct
    * scores| aggregated rows plus one virtual all-positive
    * candidate. One counting pass trains the votes; the vote table
    * is |vocab|-sized and broadcasts back over the token stream — at
    * 100 TB the train side is one token-keyed hash-agg, the apply
    * side shuffles only (doc_id, vote) scalars into a doc-keyed sum,
    * and the stump sees |scores| rows. */
  /** The distilled classifier's labeled scores as CTEs (`lab` →
    * `scored(doc_id, keep, score)`) — the shared train+apply front
    * half of [[textDistillFilter]] and the AUC evaluation
    * ([[graft.operators.Analytics]]' stats_auc scores THIS
    * classifier), single-sourced so the evaluated model can never
    * drift from the deployed one. */
  private[graft] def distillScoredCteSql: String =
    gopherKeepCteSql +
      """,
        |ts AS (  -- token stream WITH multiplicity (tf carries length)
        |  SELECT l.doc_id, l.keep, t.tok
        |  FROM lab l JOIN documents d USING (doc_id),
        |    unnest(list_filter(string_split_regex(lower(d.text), '\s+'),
        |                       x -> x <> '')) AS t(tok)),
        |tot AS (
        |  SELECT sum(CASE WHEN keep THEN 1 ELSE 0 END) AS n_pos,
        |         sum(CASE WHEN keep THEN 0 ELSE 1 END) AS n_neg
        |  FROM lab),
        |v AS (  -- vote direction from document frequency
        |  SELECT tok,
        |    count(DISTINCT CASE WHEN keep THEN doc_id END) AS df_pos,
        |    count(DISTINCT CASE WHEN NOT keep THEN doc_id END) AS df_neg
        |  FROM ts GROUP BY tok),
        |vt AS (
        |  SELECT tok,
        |    CASE WHEN df_pos * n_neg > df_neg * n_pos THEN 1
        |         WHEN df_pos * n_neg < df_neg * n_pos THEN -1 ELSE 0 END AS vote
        |  FROM v, tot),
        |scored AS (
        |  SELECT ts.doc_id, any_value(ts.keep) AS keep,
        |    CAST(sum(vt.vote) AS BIGINT) AS score
        |  FROM ts JOIN vt USING (tok) GROUP BY ts.doc_id)""".stripMargin

  /** The distilled classifier's labeled scores — the Scala twin of
    * [[distillScoredCteSql]]: `(scored(doc_id, keep, score),
    * totals(n_pos, n_neg))`. Token stream carries multiplicity (tf
    * carries the length signal the teacher rule keys on); vote
    * DIRECTION uses document frequency (robust to one spammy doc). */
  private[graft] def distillScored(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val labeled = docs(s, dir).select(col("doc_id"),
      gopherKeepCol(col("text")).as("keep"), col("text"))
    val tokStream = labeled.select(col("doc_id"), col("keep"),
      explode(filter(split(lower(col("text")), "\\s+"),
        t => t =!= "")).as("tok"))
    val totals = labeled.agg(
      sum(when(col("keep"), 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("keep"), 0L).otherwise(1L)).as("n_neg"))
    val votes = tokStream.groupBy("tok")
      .agg(countDistinct(when(col("keep"), col("doc_id"))).as("df_pos"),
        countDistinct(when(!col("keep"), col("doc_id"))).as("df_neg"))
      .crossJoin(broadcast(totals))
      .select(col("tok"),
        when(col("df_pos") * col("n_neg") > col("df_neg") * col("n_pos"), 1L)
          .when(col("df_pos") * col("n_neg") < col("df_neg") * col("n_pos"), -1L)
          .otherwise(0L).as("vote"))
    val scored = tokStream.join(broadcast(votes), Seq("tok"))
      .groupBy("doc_id")
      .agg(first(col("keep")).as("keep"), sum(col("vote")).as("score"))
    (scored, totals)
  }

  val textDistillFilter: Op = Op.sql("text_distill_filter",
    distillScoredCteSql +
      """,
        |bys AS (
        |  SELECT score,
        |    sum(CASE WHEN keep THEN 1 ELSE 0 END) AS pos,
        |    sum(CASE WHEN keep THEN 0 ELSE 1 END) AS neg
        |  FROM scored GROUP BY score),
        |cand AS (  -- stump thresholds: every score, plus all-positive
        |  SELECT score AS t,
        |    sum(pos) OVER w AS pos_le, sum(neg) OVER w AS neg_le
        |  FROM bys WINDOW w AS (ORDER BY score ROWS UNBOUNDED PRECEDING)
        |  UNION ALL
        |  SELECT min(score) - 1 AS t, 0 AS pos_le, 0 AS neg_le FROM bys),
        |stump AS (
        |  SELECT t FROM cand, tot
        |  ORDER BY (tot.n_pos - pos_le + neg_le) DESC, t ASC LIMIT 1)
        |SELECT s.doc_id, s.keep AS gopher_keep, s.score,
        |  s.score > (SELECT t FROM stump) AS pred_keep
        |FROM scored s ORDER BY s.doc_id""".stripMargin) { (s, dir) =>
    val (scored, totals) = distillScored(s, dir)
    // decision stump over the integer score: the threshold maximizing
    // training agreement, tie → smallest. Prefix sums run over the
    // |distinct scores| AGGREGATED rows (the corpus-card precedent:
    // windows over aggregate output, never over data), plus one
    // virtual all-positive candidate below the minimum.
    val byScore = scored.groupBy("score")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("pos"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("neg"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("score").rowsBetween(Long.MinValue, 0)
    val cand = byScore.select(col("score").as("t"),
        sum("pos").over(w).as("pos_le"), sum("neg").over(w).as("neg_le"))
      .unionByName(byScore.agg((min("score") - 1).as("t"),
        lit(0L).as("pos_le"), lit(0L).as("neg_le")))
    val stump = cand.crossJoin(broadcast(totals))
      .select(col("t"),
        (col("n_pos") - col("pos_le") + col("neg_le")).as("agreement"))
      .orderBy(col("agreement").desc, col("t").asc).limit(1)
      .select("t")
    scored.crossJoin(broadcast(stump))
      .select(col("doc_id"), col("keep").as("gopher_keep"), col("score"),
        (col("score") > col("t")).as("pred_keep"))
      .orderBy("doc_id")
  }

  /** Exact ROC-AUC of the distilled classifier against its teacher
    * labels (round 9 — the threshold-free evaluation completing the
    * weak-supervision loop: [[textDistillFilter]] reports agreement
    * at ONE stump threshold, AUC ranks the score column across ALL
    * thresholds — the metric a model gate actually tracks): computed
    * as the tie-corrected Mann–Whitney U over per-score aggregates,
    * with the doubled-rank identity 2·Σrank⁺ = Σ_s p_s·(2·c_lt + t_s
    * + 1) keeping every intermediate an exact integer — ties
    * contribute the exact average rank, no 0.5 ever materializes —
    * and ONE final IEEE division of exact longs, so the oracle
    * hash-compares (a sort-based AUC would be summation-order
    * dependent). The cumulative window runs over the ≤|distinct
    * scores| aggregate rows, never data; the classifier itself comes
    * from the single-sourced [[distillScoredCteSql]]/[[distillScored]]
    * pair, so the evaluated model IS the deployed one.
    *
    * Scale: inherits distill's shapes (token hash-agg, |vocab|
    * broadcast, doc-keyed sum); the evaluation adds one |scores|-row
    * window + a one-row reduce. Spec recomputes AUC by explicit
    * pairwise comparison and pins equality to the last bit. */
  val statsAuc: Op = Op.sql("stats_auc",
    distillScoredCteSql +
      """,
        |bys AS (
        |  SELECT score, count(*) AS t,
        |    count(CASE WHEN keep THEN 1 END) AS p
        |  FROM scored GROUP BY score),
        |cum AS (
        |  SELECT score, t, p,
        |    coalesce(sum(t) OVER (ORDER BY score
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_lt
        |  FROM bys),
        |agg AS (
        |  SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        |    CAST(sum(t - p) AS BIGINT) AS n_neg,
        |    CAST(sum(p * (2 * c_lt + t + 1)) AS BIGINT) AS rank2
        |  FROM cum)
        |SELECT n_pos, n_neg,
        |  CAST(rank2 - n_pos * (n_pos + 1) AS DOUBLE)
        |    / (2.0 * n_pos * n_neg) AS auc
        |FROM agg""".stripMargin) { (s, dir) =>
    val (scored, _) = distillScored(s, dir)
    val bys = scored.groupBy("score")
      .agg(count(lit(1)).as("t"), count(when(col("keep"), 1)).as("p"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy("score").rowsBetween(Long.MinValue, -1)
    val cum = bys.withColumn("c_lt", coalesce(sum("t").over(w), lit(0L)))
    val agg = cum.agg(sum("p").cast("long").as("n_pos"),
      sum(col("t") - col("p")).cast("long").as("n_neg"),
      sum(col("p") * (lit(2) * col("c_lt") + col("t") + 1)).cast("long").as("rank2"))
    agg.select(col("n_pos"), col("n_neg"),
      ((col("rank2") - col("n_pos") * (col("n_pos") + 1)).cast("double")
        / (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"))
  }

  /** Feature hashing (the "hashing trick", Weinberger et al. 2009;
    * HashingTF in MLlib, the default featurizer for fastText-class
    * linear models over web-scale text): each token maps to one of a
    * FIXED 64 buckets by content hash — no vocabulary build, no
    * driver state, memory constant in corpus size, which is the whole
    * point at 100 TB (a vocab-indexed featurizer needs the
    * text_vocab_growth pass first; this needs nothing). Bucket =
    * integer value of the token's md5 prefix mod 64 — the hash choice
    * is arbitrary by design (collisions are the accepted trade), and
    * md5 is the one both engines share bit-for-bit, so the whole
    * feature matrix is value-exact. Output is the long-form sparse
    * matrix (doc_id, bucket, n); one narrow explode + ONE
    * (doc, bucket) map-side-partial hash-agg, output ≤ |docs|·64. */
  val textFeatureHash: Op = Op.sql("text_feature_hash",
    """WITH tokens AS (
      |  SELECT d.doc_id, t.tok
      |  FROM documents d,
      |    unnest(list_filter(string_split_regex(lower(d.text), '\s+'),
      |                       x -> x <> '')) AS t(tok))
      |SELECT doc_id,
      |  CAST(('0x' || substr(md5(tok), 1, 6)) AS BIGINT) % 64 AS bucket,
      |  count(*) AS n
      |FROM tokens GROUP BY doc_id, bucket
      |ORDER BY doc_id, bucket""".stripMargin) { (s, dir) =>
    val tokens = docs(s, dir).select(col("doc_id"),
      explode(filter(split(lower(col("text")), "\\s+"),
        t => t =!= "")).as("tok"))
    tokens
      .groupBy(col("doc_id"),
        pmod(conv(substring(md5(col("tok").cast("binary")), 1, 6), 16, 10)
          .cast("long"), lit(64L)).as("bucket"))
      .agg(count(lit(1)).as("n"))
      .orderBy("doc_id", "bucket")
  }

  /** Inverted-index build, doc-sharded (round 9 — the retrieval
    * artifact [[textBm25]]'s scaladoc promises: "the per-doc agg here
    * IS the posting build"): per (term, shard) a sorted posting list
    * of the shard's doc ids, plus the term's GLOBAL document
    * frequency. Sharding by doc-id range (shard = doc_id ÷ 100) is
    * the load-bearing choice: a stopword's corpus-wide posting list
    * at 10 B docs is a 10 B-element row — the classic index-build
    * OOM — while doc-sharded postings are bounded by shard size
    * regardless of term frequency, and doc-sharded indexes are
    * exactly how distributed search engines (Lucene/ES shards) store
    * postings anyway. One DISTINCT (term, doc) hash-agg → one
    * (term, shard) hash-agg with an in-group sort bounded by shard
    * size; the global-df window runs over the |vocab|·|shards|
    * AGGREGATE rows. Low-df noise terms (df < 5) are dropped AFTER
    * the global count, exactly like a production min-df floor.
    * Postings emit as a comma-joined string — the render-stable
    * cross-engine form. */
  val textInvertedIndex: Op = Op.sql("text_inverted_index",
    """WITH toks AS (
      |  SELECT DISTINCT d.doc_id, t.tok
      |  FROM documents d,
      |    unnest(list_filter(string_split_regex(lower(d.text), '\s+'),
      |                       x -> x <> '')) AS t(tok)),
      |sh AS (
      |  SELECT tok AS term, doc_id // 100 AS shard,
      |    count(*) AS df_shard,
      |    array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
      |  FROM toks GROUP BY tok, doc_id // 100),
      |g AS (
      |  SELECT term, shard, df_shard, postings,
      |    sum(df_shard) OVER (PARTITION BY term) AS df
      |  FROM sh)
      |SELECT term, CAST(shard AS BIGINT) AS shard, df_shard,
      |  CAST(df AS BIGINT) AS df, postings
      |FROM g WHERE df >= 5 ORDER BY term, shard""".stripMargin) { (s, dir) =>
    val toks = docs(s, dir).select(col("doc_id"),
      explode(filter(split(lower(col("text")), "\\s+"),
        t => t =!= "")).as("tok"))
      .distinct()
    val sh = toks
      .groupBy(col("tok").as("term"), expr("doc_id DIV 100").as("shard"))
      .agg(count(lit(1)).as("df_shard"),
        concat_ws(",", sort_array(collect_list(col("doc_id")))).as("postings"))
    sh.withColumn("df",
        sum("df_shard").over(org.apache.spark.sql.expressions.Window.partitionBy("term")))
      .filter(col("df") >= 5)
      .select(col("term"), col("shard"), col("df_shard"),
        col("df").cast("bigint").as("df"), col("postings"))
      .orderBy("term", "shard")
  }

  /** RAKE keyword extraction (Rose et al. 2010, "Automatic Keyword
    * Extraction from Individual Documents" — the classic unsupervised
    * keyphrase baseline): candidate phrases are maximal stopword-free
    * token runs (the [[GopherStop]] set delimits — one stopword list
    * across the whole text family), each word scores deg/freq where
    * freq counts phrase occurrences and deg adds the length of every
    * phrase containing the word (co-occurrence degree), and a
    * phrase's score sums its words' scores. Top-3 phrases per doc.
    * Determinism: word scores are single IEEE divisions of exact
    * integers; the per-phrase sum is an ORDERED left fold in token
    * order (collect-sort-fold, replayed by DuckDB's `list_reduce`
    * over `list(.. ORDER BY p)` — `0.0 + s₁ ≡ s₁`, so the two fold
    * shapes are bit-identical, the ADC-oracle precedent); rank ties
    * break on phrase text, and equal (score, phrase) rows are
    * interchangeable so the multiset is stable.
    *
    * Scale (100 TB): ONE doc-keyed window (the boundary running
    * count — per-task state is one row of look-behind), phrase and
    * fold aggregates keyed on (doc, phrase-run) reuse that
    * partitioning, word stats are a |vocab|-row hash-agg broadcast
    * back over the token stream, and the final rank window sees only
    * each doc's phrase aggregates. No self-join anywhere. */
  val textRake: Op = Op.sql("text_rake", {
    val stop = GopherStop.map(w => s"'$w'").mkString(", ")
    s"""WITH tok AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS p, toks[i+1] AS tok,
       |         toks[i+1] IN ($stop) AS is_stop
       |  FROM (SELECT doc_id, toks, unnest(range(len(toks))) AS i
       |        FROM (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS toks
       |              FROM documents))),
       |g AS (
       |  SELECT doc_id, p, tok, is_stop,
       |    sum(CASE WHEN is_stop THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY p ROWS UNBOUNDED PRECEDING) AS grp
       |  FROM tok),
       |pt AS (SELECT doc_id, grp, p, tok FROM g WHERE NOT is_stop),
       |ph AS (
       |  SELECT doc_id, grp, array_to_string(list(tok ORDER BY p), ' ') AS phrase,
       |         count(*) AS plen
       |  FROM pt GROUP BY doc_id, grp),
       |ws AS (
       |  SELECT pt.tok, count(*) AS freq, CAST(sum(ph.plen) AS BIGINT) AS deg
       |  FROM pt JOIN ph USING (doc_id, grp) GROUP BY pt.tok),
       |sc AS (
       |  SELECT pt.doc_id, pt.grp,
       |    list_reduce(list(CAST(ws.deg AS DOUBLE) / ws.freq ORDER BY pt.p),
       |                (a, b) -> a + b) AS score
       |  FROM pt JOIN ws USING (tok) GROUP BY pt.doc_id, pt.grp)
       |SELECT doc_id, phrase, CAST(plen AS BIGINT) AS n_words, score, rnk FROM (
       |  SELECT ph.doc_id, ph.phrase, ph.plen, sc.score,
       |    row_number() OVER (PARTITION BY ph.doc_id
       |                       ORDER BY sc.score DESC, ph.phrase) AS rnk
       |  FROM ph JOIN sc USING (doc_id, grp))
       |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin
  }) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val stopLit = array(GopherStop.map(lit): _*)
    val toks = docs(s, dir).select(col("doc_id"),
        posexplode(split(lower(col("text")), "\\s+")).as(Seq("p", "tok")))
      .select(col("doc_id"), col("p").cast("bigint").as("p"), col("tok"),
        array_contains(stopLit, col("tok")).as("is_stop"))
    val run = Window.partitionBy("doc_id").orderBy("p")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pt = toks
      .withColumn("grp", sum(when(col("is_stop"), 1).otherwise(0)).over(run))
      .filter(!col("is_stop"))
      .select("doc_id", "grp", "p", "tok")
    val ph = pt.groupBy("doc_id", "grp")
      .agg(concat_ws(" ", transform(
          sort_array(collect_list(struct(col("p"), col("tok")))),
          x => x.getField("tok"))).as("phrase"),
        count(lit(1)).as("plen"))
    // phrase-level tables are CORPUS-proportional — pin the keyed
    // joins (caught broadcasting at the round-9 sf0.1 plan sweep;
    // SURVEY §4.3's class). Only the |vocab|-row word-score table
    // broadcasts, deliberately.
    val ws = pt.join(ph.select("doc_id", "grp", "plen").hint("shuffle_hash"),
        Seq("doc_id", "grp"))
      .groupBy("tok")
      .agg(count(lit(1)).as("freq"), sum("plen").cast("long").as("deg"))
      .select(col("tok"), (col("deg").cast("double") / col("freq")).as("wscore"))
    val sc = pt.join(broadcast(ws), Seq("tok"))
      .groupBy("doc_id", "grp")
      .agg(aggregate(
        transform(sort_array(collect_list(struct(col("p"), col("wscore")))),
          x => x.getField("wscore")),
        lit(0.0), (acc, x) => acc + x).as("score"))
    ph.join(sc.hint("shuffle_hash"), Seq("doc_id", "grp"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("phrase"))))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("phrase"), col("plen").as("n_words"),
        col("score"), col("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** One greedy left-to-right BPE merge of adjacent (l, r) into l+r —
    * a HOF fold applied distributed to every word type. HOFs run
    * expression-interpreted (outside whole-stage codegen), but the
    * lambda touches only its own variables, so there is no
    * re-evaluation blowup (SURVEY §4.1), and the work is per-row over
    * the word-TYPE dict, not the corpus. ("aaa" under (a,a) →
    * [aa, a]: a merged symbol never re-merges with the next
    * occurrence in the same pass, the classic rule.) */
  def bpeMergePair(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      when(size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(l + r))))
        .otherwise(concat(acc, array(x))))

  /** BPE tokenizer-vocab training (Sennrich et al. 2016) over a
    * word-TYPE dictionary — the shape production trainers use: by
    * Zipf's law the distinct-word dict is orders of magnitude smaller
    * than the corpus, so each round's pair-count aggregate shuffles
    * |dict| rows, not |corpus|. Per round: adjacent-pair counts
    * (one hash-agg) → the 1-row argmax to the driver (bounded index
    * metadata, the same policy as the ANN centroids) → the merge
    * applied distributed via [[bpeMergePair]]. Lineage is truncated
    * per round like [[Dedup.connectedComponents]]. Ties break
    * deterministically on (count desc, l asc, r asc). */
  def bpeTrain(words: DataFrame, rounds: Int): Seq[(Int, String, String, Long)] = {
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var cur = words
      .select(split(col("word"), "").as("syms"), col("cnt"))
      .localCheckpoint(true)
    for (round <- 1 to rounds) {
      val top = cur
        .select(col("cnt"), explode(transform(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          (x, i) => struct(x.as("l"),
            element_at(col("syms"), i + lit(2)).as("r")))).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum("cnt").as("pc"))
        .orderBy(col("pc").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (top.nonEmpty) {
        val (l, r, pc) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((round, l, r, pc))
        val next = cur
          .withColumn("syms", bpeMergePair(col("syms"), l, r))
          .localCheckpoint(true)
        cur.unpersist()
        cur = next
      }
    }
    cur.unpersist()
    merges.result()
  }

  /** Per-source CAP (source balancing — "no source contributes more
    * than K documents"): deterministic content-hash priority within
    * each source, so the kept set is stable under repartitioning and
    * re-ingestion like [[textSplitAssign]]. One window per source
    * shard — at 100 TB the partition key is the source, so each
    * shard ranks in parallel; no global sort. */
  val sampleCapped: Op = Op.sql("sample_capped",
    """WITH ranked AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY md5(text), doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, source, rk FROM ranked
      |WHERE rk <= 15 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        row_number().over(Window.partitionBy("source")
          .orderBy(md5(col("text").cast("binary")), col("doc_id"))).as("rk"))
      .filter(col("rk") <= 15)
      .orderBy("doc_id")
  }

  val BpeRounds = 12

  private val bpeMerges = new State.Memo[String, Long, Seq[(Int, String, String, Long)]]

  /** Merge table per dataset, trained once per snapshot of `documents`
    * — the vocab is a build-time artifact exactly like the ANN
    * centroids ([[Similarity.centroidsFor]]); encode calls must not
    * retrain. */
  def bpeMergesFor(s: SparkSession, dir: String): Seq[(Int, String, String, Long)] =
    bpeMerges(dir, Tables.stamp(dir, "documents"))(bpeTrain(
      docs(s, dir)
        .select(explode(split(lower(col("text")), "\\s+")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt")),
      BpeRounds))

  /** The BPE training loop replayed INSIDE the oracle (round 7; it
    * was rows-only on the "iterative, so no SQL oracle" argument —
    * wrong: the loop has a fixed round count, so it UNROLLS). The
    * oracle is generated by the same Scala loop that sized the op,
    * one CTE triple per round: p_k = adjacent-pair counts over the
    * word-type dict, b_k = the argmax merge (count desc, l asc,
    * r asc — binary string order both engines), w_k = the merge
    * applied. The greedy left-to-right fold ([[bpeMergePair]]) is
    * replayed EXACTLY by string replace over a space-delimited
    * segmentation (" t1  t2  t3 "): replace's scan-and-restart-after-
    * match semantics are the fold's no-cascade rule, the double-space
    * boundary keeps adjacent matches from consuming each other's
    * delimiter, and tokens can never contain the delimiter (they come
    * from a \\s+ split). AS MATERIALIZED pins each round to evaluate
    * once — inlined, the 12-deep chain re-expands the scan 2^12
    * times. Encoding note: the char split (split(w, "")) is UTF-16
    * code units in Spark vs code points in DuckDB — identical except
    * for astral-plane characters, where the gate would fail LOUDLY
    * (hash mismatch), never silently pass. */
  private def bpeTrainCte(rounds: Int): String = {
    val w0 = """w0 AS MATERIALIZED (
      |  SELECT ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS seg,
      |         cnt
      |  FROM (SELECT word, count(*) AS cnt FROM (
      |          SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
      |          FROM documents) GROUP BY word))""".stripMargin
    val per = (1 to rounds).map { k =>
      s"""p$k AS MATERIALIZED (
         |  SELECT t.toks[i.i + 1] AS l, t.toks[i.i + 2] AS r, sum(t.cnt) AS pc
         |  FROM (SELECT string_split(seg[2:-2], '  ') AS toks, cnt FROM w${k - 1}) t,
         |       unnest(range(len(t.toks) - 1)) AS i(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (
         |  SELECT $k AS rank, l, r, pc FROM p$k
         |  ORDER BY pc DESC, l ASC, r ASC LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT replace(seg,
         |    ' ' || (SELECT l FROM b$k) || '  ' || (SELECT r FROM b$k) || ' ',
         |    ' ' || (SELECT l FROM b$k) || (SELECT r FROM b$k) || ' ') AS seg, cnt
         |  FROM w${k - 1})""".stripMargin
    }
    "WITH " + (w0 +: per).mkString(",\n")
  }

  val textBpeTrain: Op = Op.sql("text_bpe_train",
    bpeTrainCte(BpeRounds) +
      "\nSELECT rank, l AS \"left\", r AS \"right\", CAST(pc AS BIGINT) AS pair_count FROM (\n" +
      (1 to BpeRounds).map(k => s"SELECT * FROM b$k").mkString("\nUNION ALL\n") +
      ") ORDER BY rank") { (s, dir) =>
    val spark = s
    import spark.implicits._
    bpeMergesFor(s, dir).toDF("rank", "left", "right", "pair_count")
  }

  /** BPE ENCODE with the learned vocab — the apply side of the
    * tokenizer: per word, chars → the merge list folded in rank order
    * (rank order is the BPE contract; applying rank k before k-1 can
    * tokenize differently). The whole encode is one per-row column
    * expression — [[BpeRounds]] chained HOF folds, shuffle-free,
    * distributed — and the merge list rides in as literals, the same
    * broadcast-an-artifact shape as the ANN codebooks. Reports the
    * per-doc BPE token count next to the char count: the
    * chars-per-token compression a tokenizer is judged by. */
  /** Encode oracle (round 7): re-derives the merge table with the
    * SAME unrolled training CTE, then encodes each DISTINCT word type
    * through the 12 chained replaces (scalar-subquery patterns — the
    * merges are data, not literals) and joins counts back onto the
    * per-doc word stream. The word stream is plain
    * `unnest(string_split_regex(...))`, which matches Spark's
    * `split` (limit −1) empty-token behavior exactly — both engines
    * keep leading AND trailing empties, and an empty word encodes to
    * 1 token in both (split('','') = [''] in each). */
  val textBpeEncode: Op = Op.sql("text_bpe_encode", {
    val repChain = (1 to BpeRounds).foldLeft("seg") { (acc, k) =>
      s"replace($acc, ' ' || (SELECT l FROM b$k) || '  ' || (SELECT r FROM b$k) || ' ', " +
        s"' ' || (SELECT l FROM b$k) || (SELECT r FROM b$k) || ' ')"
    }
    bpeTrainCte(BpeRounds) +
      s""",
         |dw AS MATERIALIZED (
         |  SELECT doc_id,
         |    unnest(string_split_regex(lower(text), '\\s+')) AS word
         |  FROM documents),
         |wt AS MATERIALIZED (
         |  SELECT word,
         |    ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS seg
         |  FROM (SELECT DISTINCT word FROM dw)),
         |enc AS MATERIALIZED (
         |  SELECT word, len(string_split(($repChain)[2:-2], '  ')) AS ntok FROM wt)
         |SELECT d.doc_id, CAST(length(any_value(doc.text)) AS BIGINT) AS n_chars,
         |  CAST(sum(e.ntok) AS BIGINT) AS n_bpe_tokens
         |FROM dw d JOIN enc e USING (word) JOIN documents doc ON doc.doc_id = d.doc_id
         |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin
  }) { (s, dir) =>
    val merges = bpeMergesFor(s, dir).map(m => (m._2, m._3))
    val tokensOf = (w: Column) =>
      merges.foldLeft(split(w, "")) { case (syms, (l, r)) =>
        bpeMergePair(syms, l, r)
      }
    docs(s, dir).select(
      col("doc_id"),
      length(col("text")).cast("bigint").as("n_chars"),
      aggregate(
        transform(split(lower(col("text")), "\\s+"), w => size(tokensOf(w))),
        lit(0L), (acc, x) => acc + x).as("n_bpe_tokens"))
      .orderBy("doc_id")
  }

  /** BPE FERTILITY by language (round 12 — THE number a tokenizer is
    * chosen by: BPE tokens per whitespace word, per language. A vocab
    * trained on one language's corpus over-fragments the others;
    * fertility by lang is the report that decision reads —
    * Rust/Scao-style tokenizer audits). Single-sourced with
    * [[textBpeEncode]]: the SAME learned merge list folded in rank
    * order over the SAME word stream, aggregated to \|langs\| rows
    * instead of per doc; fertility = exact token/word integer sums
    * into ONE IEEE division. Encode stays a shuffle-free per-row
    * expression; the only exchange is the \|langs\|-row aggregate. */
  val textBpeFertility: Op = Op.sql("text_bpe_fertility", {
    val repChain = (1 to BpeRounds).foldLeft("seg") { (acc, k) =>
      s"replace($acc, ' ' || (SELECT l FROM b$k) || '  ' || (SELECT r FROM b$k) || ' ', " +
        s"' ' || (SELECT l FROM b$k) || (SELECT r FROM b$k) || ' ')"
    }
    bpeTrainCte(BpeRounds) +
      s""",
         |dw AS MATERIALIZED (
         |  SELECT doc_id,
         |    unnest(string_split_regex(lower(text), '\\s+')) AS word
         |  FROM documents),
         |wt AS MATERIALIZED (
         |  SELECT word,
         |    ' ' || array_to_string(string_split(word, ''), '  ') || ' ' AS seg
         |  FROM (SELECT DISTINCT word FROM dw)),
         |enc AS MATERIALIZED (
         |  SELECT word, len(string_split(($repChain)[2:-2], '  ')) AS ntok FROM wt)
         |SELECT doc.lang, count(*) AS n_words,
         |  CAST(sum(e.ntok) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(e.ntok) AS DOUBLE) / count(*) AS fertility
         |FROM dw d JOIN enc e USING (word)
         |JOIN documents doc ON doc.doc_id = d.doc_id
         |GROUP BY doc.lang ORDER BY doc.lang""".stripMargin
  }) { (s, dir) =>
    val merges = bpeMergesFor(s, dir).map(m => (m._2, m._3))
    val tokensOf = (w: Column) =>
      merges.foldLeft(split(w, "")) { case (syms, (l, r)) =>
        bpeMergePair(syms, l, r)
      }
    docs(s, dir).select(col("lang"),
        size(split(lower(col("text")), "\\s+")).cast("long").as("nw"),
        aggregate(
          transform(split(lower(col("text")), "\\s+"), w => size(tokensOf(w))),
          lit(0L), (acc, x) => acc + x).as("nb"))
      .groupBy("lang")
      .agg(sum("nw").as("n_words"), sum("nb").as("n_bpe_tokens"),
        (sum("nb").cast("double") / sum("nw")).as("fertility"))
      .orderBy("lang")
  }

  /** RAG-style sliding-window CHUNKING with overlap ([[textPackSequences]]
    * packs docs end-to-end for training; this cuts each doc alone into
    * overlapping retrieval windows — size 64, stride 48, so adjacent
    * chunks share 16 tokens and no boundary sentence is ever lost).
    * The chunk count is exact integer math (ceil((n−W)/S)+1 via DIV),
    * the explode is NARROW (fan-out inside the partition, no shuffle
    * before the final sort), and each chunk is reported as its md5 —
    * the embedding-input fingerprint — so only scalars leave the row.
    * Empty docs still yield their one (empty) chunk, keeping chunk
    * accounting total. */
  val textChunkOverlap: Op = Op.sql("text_chunk_overlap",
    """WITH d AS (
      |  SELECT doc_id,
      |    list_filter(string_split_regex(text, '\s+'), t -> t <> '') AS toks
      |  FROM documents),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM d),
      |c AS (SELECT doc_id, toks, n,
      |        unnest(generate_series(0,
      |          CASE WHEN n <= 64 THEN 0 ELSE (n - 64 + 47) // 48 END)) AS ci
      |      FROM n)
      |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_id,
      |  CAST(len(list_slice(toks, ci * 48 + 1, ci * 48 + 64)) AS BIGINT) AS n_tok,
      |  md5(array_to_string(list_slice(toks, ci * 48 + 1, ci * 48 + 64), ' ')) AS chunk_md5
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
    val (w, st) = (64, 48)
    docs(s, dir)
      .select(col("doc_id"),
        filter(split(col("text"), "\\s+"), t => t =!= lit("")).as("toks"))
      .withColumn("n", size(col("toks")))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0),
          when(col("n") <= w, lit(0))
            .otherwise(expr(s"(n - $w + ${st - 1}) DIV $st")).cast("int"))).as("ci"))
      .select(col("doc_id"), col("ci").cast("bigint").as("chunk_id"),
        size(slice(col("toks"), col("ci") * st + 1, lit(w))).cast("bigint").as("n_tok"),
        md5(concat_ws(" ", slice(col("toks"), col("ci") * st + 1, lit(w)))
          .cast("binary")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_id")
  }

  /** FUZZY JOIN with a complete blocking tier: a small probe set
    * (per-source min long token, first char dropped — a planted
    * edit-distance-1 misspelling) joined against the distinct token
    * vocabulary at Levenshtein ≤ 2. Blocking is the length band
    * |len(a)−len(b)| ≤ 2 — IMPLIED by edit distance ≤ 2, so the
    * banded join provably loses nothing — expressed as an equi-key
    * hash join (probes replicate to the 5 candidate lengths; the
    * probe side is the small one, so replication is free and the join
    * broadcasts). The exact DP verify runs inside the join output,
    * never all-pairs: the same blocking-then-verify shape as the
    * dedup family, with [[textEditdist]]'s verifier as the tier-2
    * predicate. At 100 TB the vocabulary side stays sharded;
    * production blocking adds q-gram pigeonhole keys on top, which
    * only SHRINK candidate volume — the length band is the
    * completeness guarantee. */
  val textFuzzyJoin: Op = Op.sql("text_fuzzy_join",
    """WITH toks AS (
      |  SELECT DISTINCT source, tok FROM (
      |    SELECT source, unnest(string_split_regex(lower(text), '\s+')) AS tok
      |    FROM documents)
      |  WHERE regexp_full_match(tok, '[a-z]{4,20}')),
      |vocab AS (SELECT DISTINCT tok FROM toks),
      |probes AS (SELECT source, substring(min(tok), 2) AS probe
      |           FROM toks WHERE length(tok) >= 6 GROUP BY source)
      |SELECT p.source, p.probe, v.tok,
      |  CAST(levenshtein(p.probe, v.tok) AS BIGINT) AS dist
      |FROM probes p JOIN vocab v
      |  ON abs(length(p.probe) - length(v.tok)) <= 2
      |WHERE levenshtein(p.probe, v.tok) <= 2
      |ORDER BY source, probe, tok""".stripMargin) { (s, dir) =>
    val toks = docs(s, dir)
      .select(col("source"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(col("tok").rlike("^[a-z]{4,20}$"))
      .distinct()
    val vocab = toks.select("tok").distinct()
      .withColumn("lb", length(col("tok")))
    val probes = toks.filter(length(col("tok")) >= 6)
      .groupBy("source").agg(min("tok").as("src_tok"))
      .select(col("source"), expr("substring(src_tok, 2)").as("probe"))
      .select(col("source"), col("probe"),
        explode(sequence(length(col("probe")) - 2, length(col("probe")) + 2)).as("lb"))
    vocab.join(broadcast(probes), Seq("lb"))
      .withColumn("dist", levenshtein(col("probe"), col("tok")).cast("bigint"))
      .filter(col("dist") <= 2)
      .select("source", "probe", "tok", "dist")
      .orderBy("source", "probe", "tok")
  }

  /** MIXTURE SAMPLING — the data-mixing stage of a pretraining
    * pipeline ([[sampleCapped]] caps doc COUNTS; this fills per-source
    * TOKEN budgets to hit a target mix): each source gets a char
    * budget = its mixture weight × half the corpus total (weights
    * 1:2:3:4 by source index class — stand-ins for the tuned
    * per-domain weights a mixing recipe ships), and docs fill the
    * budget in content-hash priority order via one prefix-sum window.
    * All integer math (weight × total DIV 100) — no FP in the
    * selection predicate; the corpus total rides a one-row broadcast,
    * never the driver. Same plan shape at 100 TB: one window shuffle
    * on source + one broadcast join. */
  val sampleMixture: Op = Op.sql("sample_mixture",
    """WITH tot AS (SELECT CAST(sum(n_chars) AS BIGINT) AS total FROM documents),
      |ranked AS (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER w AS rk,
      |    CAST(sum(n_chars) OVER w AS BIGINT) AS cum_chars
      |  FROM documents
      |  WINDOW w AS (PARTITION BY source ORDER BY md5(text), doc_id
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
      |SELECT doc_id, source, rk, cum_chars,
      |  ((1 + (CAST(substring(source, 4) AS INTEGER) % 4)) * t.total) // 100 AS cap
      |FROM ranked r, tot t
      |WHERE cum_chars <= ((1 + (CAST(substring(source, 4) AS INTEGER) % 4)) * t.total) // 100
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = docs(s, dir)
    val tot = d.agg(sum("n_chars").cast("long").as("total"))
    val w = Window.partitionBy("source")
      .orderBy(md5(col("text").cast("binary")), col("doc_id"))
    d.select(col("doc_id"), col("source"), col("n_chars"),
        row_number().over(w).as("rk"),
        sum(col("n_chars")).over(w).cast("long").as("cum_chars"))
      .crossJoin(broadcast(tot))
      .withColumn("cap",
        expr("((1 + (CAST(substring(source, 4) AS INT) % 4)) * total) DIV 100"))
      .filter(col("cum_chars") <= col("cap"))
      .select("doc_id", "source", "rk", "cum_chars", "cap")
      .orderBy("doc_id")
  }

  /** Okapi BM25 relevance scoring (Robertson et al.; the ranking
    * function behind Lucene/Elasticsearch defaults) for a pinned
    * 3-term query — the retrieval-side scorer a RAG/data-curation
    * pipeline runs after [[textChunkOverlap]] chunks the corpus.
    * Plan: tokenize (narrow explode) → one hash-agg on doc_id for
    * (dl, per-term tf) → one tiny agg for (N, avgdl, per-term df) →
    * broadcast stats back → per-row scalar math. The corpus shuffles
    * once, keyed by doc_id; the stats ride a one-row broadcast; terms
    * generalize to a broadcast term table at 100 TB.
    *
    * Determinism: every count is integer-exact and every rational
    * step (avgdl, dl/avgdl, the k1/b saturation w_t) is the identical
    * IEEE expression tree on both engines → bit-equal, oracle-checked
    * at full strength. The ONE transcendental, idf's ln, is measured
    * to differ by 1 ulp between JVM Math.log and libm ln on 8 of 8357
    * feasible (N, df) arguments (see SURVEY §5) — a round-4 output
    * flips only if the unrounded score sits within ~1e-16 of a
    * rounding boundary (p≈1e-12/row), and the sf0.01 gate inputs are
    * fixed and verified to agree. The rational core carries the
    * oracle; ln only mixes three already-verified numbers. */
  val textBm25: Op = {
    val terms = Seq("spark", "join", "scan")
    val wSql = terms.map { t =>
      s"(CAST(tf_$t AS DOUBLE) * 2.2) / (tf_$t + 1.2*(0.25 + 0.75*(CAST(dl AS DOUBLE)/avgdl))) AS w_$t"
    }.mkString(",\n      |    ")
    val idfSql = terms.map { t =>
      s"ln(1.0 + (n - df_$t + 0.5)/(df_$t + 0.5)) AS idf_$t"
    }.mkString(",\n      |    ")
    Op.sql("text_bm25",
      s"""WITH tok AS (
        |  SELECT doc_id, tok
        |  FROM (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
        |        FROM documents) WHERE tok <> ''),
        |per_doc AS (
        |  SELECT doc_id, count(*) AS dl,
        |    ${terms.map(t => s"count(*) FILTER (WHERE tok = '$t') AS tf_$t").mkString(",\n        |    ")}
        |  FROM tok GROUP BY doc_id),
        |st AS (
        |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE)/count(*) AS avgdl,
        |    ${terms.map(t => s"count(*) FILTER (WHERE tf_$t > 0) AS df_$t").mkString(",\n        |    ")}
        |  FROM per_doc),
        |sc AS (
        |  SELECT doc_id, dl, ${terms.map(t => s"tf_$t").mkString(", ")},
        |    $wSql,
        |    $idfSql
        |  FROM per_doc, st)
        |SELECT doc_id, dl, ${terms.map(t => s"tf_$t").mkString(", ")},
        |  ${terms.map(t => s"round(w_$t, 4) AS w_$t").mkString(", ")},
        |  round(${terms.map(t => s"idf_$t*w_$t").mkString(" + ")}, 4) AS bm25
        |FROM sc ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val toks = docs(s, dir).select(col("doc_id"),
          explode(split(lower(col("text")), "[^a-z0-9]+")).as("tok"))
        .filter(col("tok") =!= "")
      val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"),
        terms.map(t => count(when(col("tok") === t, 1)).as(s"tf_$t")): _*)
      val st = perDoc.agg(count(lit(1)).as("n"),
        (sum("dl").cast("double") / count(lit(1))).as("avgdl") +:
        terms.map(t => sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t")): _*)
      def w(t: String) = (col(s"tf_$t").cast("double") * lit(2.2)) /
        (col(s"tf_$t") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))
      def idf(t: String) =
        log(lit(1.0) + (col("n") - col(s"df_$t") + lit(0.5)) / (col(s"df_$t") + lit(0.5)))
      val keyCols = Seq(col("doc_id"), col("dl")) ++ terms.map(t => col(s"tf_$t"))
      val scCols = keyCols ++ terms.map(t => w(t).as(s"w_$t")) ++
        terms.map(t => idf(t).as(s"idf_$t"))
      val sc = perDoc.crossJoin(broadcast(st)).select(scCols: _*)
      val outCols = keyCols ++ terms.map(t => round(col(s"w_$t"), 4).as(s"w_$t")) ++
        Seq(round(terms.map(t => col(s"idf_$t") * col(s"w_$t")).reduce(_ + _), 4).as("bm25"))
      sc.select(outCols: _*).orderBy("doc_id")
    }
  }

  /** URL CANONICALIZATION + dedup — the web-crawl staple (every
    * CommonCrawl-derived corpus dedups by canonical URL before any
    * content pass): lowercase scheme/host, strip a leading `www.`,
    * drop the scheme's default port, strip the fragment and a
    * trailing slash, and drop `utm_*` tracking params while KEEPING
    * other params in their original order. The URL column is derived
    * deterministically from (doc_id, source) — four raw variants per
    * canonical target, so groups genuinely merge DIFFERENT raw forms
    * (case/www/port with plain; fragment/trailing-slash with
    * utm-strip) — and, like q59's edge relation, both engines build
    * the identical strings from the same parquet while the operator
    * itself only ever reads the URL string.
    *
    * Scale: pure per-row codegen'd regex/array builtins (no UDF, no
    * lookahead so the patterns are RE2-safe too), then one
    * hash-aggregate on the canonical string — the same
    * shuffle-carries-only-(canon, id) shape as [[Dedup.dedupExact]].
    * Keeps are min(doc_id): deterministic under any partitioning. */
  val textUrlCanon: Op = Op.sql("text_url_canon",
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE (doc_id // 100) % 4
      |      WHEN 0 THEN 'https://' || source || '.example.com/docs/' || CAST(doc_id % 50 AS VARCHAR)
      |      WHEN 1 THEN 'HTTPS://WWW.' || upper(source) || '.Example.COM:443/docs/' || CAST(doc_id % 50 AS VARCHAR)
      |      WHEN 2 THEN 'https://' || source || '.example.com/docs/' || CAST(doc_id % 50 AS VARCHAR) || '/?ref=' || CAST(doc_id % 50 % 10 AS VARCHAR) || '#frag'
      |      ELSE 'https://' || source || '.example.com/docs/' || CAST(doc_id % 50 AS VARCHAR) || '?utm_source=mail&ref=' || CAST(doc_id % 50 % 10 AS VARCHAR)
      |    END AS url
      |  FROM documents),
      |p AS (
      |  SELECT doc_id,
      |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
      |    regexp_replace(lower(regexp_extract(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1), '^([^:]*)', 1)), '^www\.', '') AS host,
      |    regexp_extract(regexp_extract(url, '^[A-Za-z]+://([^/?#]*)', 1), ':([0-9]+)$', 1) AS port,
      |    regexp_replace(regexp_extract(url, '^[A-Za-z]+://[^/?#]*([^?#]*)', 1), '/$', '') AS path,
      |    regexp_extract(url, '\?([^#]*)', 1) AS query
      |  FROM u),
      |c AS (
      |  SELECT doc_id,
      |    scheme || '://' || host ||
      |    CASE WHEN port = '' OR (scheme = 'https' AND port = '443') OR (scheme = 'http' AND port = '80')
      |         THEN '' ELSE ':' || port END ||
      |    path ||
      |    CASE WHEN len(list_filter(string_split(query, '&'), x -> x <> '' AND NOT starts_with(x, 'utm_'))) = 0 THEN ''
      |         ELSE '?' || list_aggregate(list_filter(string_split(query, '&'), x -> x <> '' AND NOT starts_with(x, 'utm_')), 'string_agg', '&') END
      |    AS canon_url
      |  FROM p)
      |SELECT canon_url, count(*) AS n_dups, min(doc_id) AS keep_doc_id
      |FROM c GROUP BY canon_url ORDER BY canon_url""".stripMargin) { (s, dir) =>
    val pp = (col("doc_id") % 50).cast("string")
    val rr = (col("doc_id") % 50 % 10).cast("string")
    val u = docs(s, dir).select(col("doc_id"),
      when(expr("(doc_id div 100) % 4") === 0,
        concat(lit("https://"), col("source"), lit(".example.com/docs/"), pp))
      .when(expr("(doc_id div 100) % 4") === 1,
        concat(lit("HTTPS://WWW."), upper(col("source")), lit(".Example.COM:443/docs/"), pp))
      .when(expr("(doc_id div 100) % 4") === 2,
        concat(lit("https://"), col("source"), lit(".example.com/docs/"), pp,
          lit("/?ref="), rr, lit("#frag")))
      .otherwise(
        concat(lit("https://"), col("source"), lit(".example.com/docs/"), pp,
          lit("?utm_source=mail&ref="), rr)).as("url"))
    val hostport = regexp_extract(col("url"), "^[A-Za-z]+://([^/?#]*)", 1)
    val p = u.select(col("doc_id"),
      lower(regexp_extract(col("url"), "^([A-Za-z]+)://", 1)).as("scheme"),
      regexp_replace(lower(regexp_extract(hostport, "^([^:]*)", 1)), "^www\\.", "").as("host"),
      regexp_extract(hostport, ":([0-9]+)$", 1).as("port"),
      regexp_replace(regexp_extract(col("url"), "^[A-Za-z]+://[^/?#]*([^?#]*)", 1), "/$", "").as("path"),
      regexp_extract(col("url"), "\\?([^#]*)", 1).as("query"))
    val kept = filter(split(col("query"), "&"),
      x => x =!= "" && !x.startsWith("utm_"))
    p.select(col("doc_id"),
        concat(col("scheme"), lit("://"), col("host"),
          when(col("port") === "" ||
               (col("scheme") === "https" && col("port") === "443") ||
               (col("scheme") === "http" && col("port") === "80"), "")
            .otherwise(concat(lit(":"), col("port"))),
          col("path"),
          when(size(kept) === 0, "")
            .otherwise(concat(lit("?"), array_join(kept, "&")))).as("canon_url"))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_dups"), min("doc_id").as("keep_doc_id"))
      .orderBy("canon_url")
  }

  /** VOCABULARY GROWTH curve per source (Heaps-law monitoring — the
    * corpus-curation signal for "is this source saturated": a source
    * whose curve has flattened contributes no new types and can stop
    * being crawled/sampled): for every doc that introduces at least
    * one new token type, the number of types it introduces and the
    * running vocabulary size at that point. Exact integers end to
    * end: first-seen doc per (source, type) = min(doc_id) — order-free
    * under any partitioning — then a per-(source, first_doc) count and
    * one small running-sum window.
    *
    * Scale: the (source, tok) hash-agg IS the vocabulary build
    * (map-side combine, shuffle O(tokens) carrying (source, tok,
    * doc_id) scalars → |vocab| rows); everything after operates on
    * |vocab| and |introducing docs| rows, invisible next to the scan.
    * The curve never materializes per-doc state. */
  val textVocabGrowth: Op = Op.sql("text_vocab_growth",
    """WITH tok AS (
      |  SELECT source, doc_id, unnest(string_split_regex(lower(text), '\s+')) AS tok
      |  FROM documents),
      |fd AS (
      |  SELECT source, tok, min(doc_id) AS first_doc
      |  FROM tok WHERE tok <> '' GROUP BY source, tok),
      |newt AS (
      |  SELECT source, first_doc, count(*) AS n_new_types
      |  FROM fd GROUP BY source, first_doc)
      |SELECT source, first_doc, n_new_types,
      |  CAST(sum(n_new_types) OVER (PARTITION BY source ORDER BY first_doc
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS vocab_size
      |FROM newt ORDER BY source, first_doc""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val tok = docs(s, dir)
      .select(col("source"), col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .filter(col("tok") =!= "")
    val run = Window.partitionBy("source").orderBy("first_doc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tok.groupBy("source", "tok").agg(min("doc_id").as("first_doc"))
      .groupBy("source", "first_doc").agg(count(lit(1)).as("n_new_types"))
      .withColumn("vocab_size", sum("n_new_types").over(run).cast("bigint"))
      .orderBy("source", "first_doc")
  }

  /** Term CO-OCCURRENCE with lift scoring (the PMI-style collocation
    * mining a corpus-analysis pass runs to find related concepts):
    * restrict to the top-100 terms by document frequency, count
    * document co-occurrences for each term pair, and score
    * lift = P(a,b)/(P(a)P(b)) = n_ab·N/(df_a·df_b) — the exponent-free
    * PMI core, exact integers into ONE IEEE division so the oracle is
    * hash-stable (an ln-based PMI would hinge on each engine's log
    * rounding). Whitespace tokenization matches text_topterms.
    *
    * Scale: the vocabulary cap is the story — top-100 via distributed
    * TakeOrdered (never a global window sort), broadcast to filter
    * the (doc, term) stream, so the self-join is keyed on doc_id with
    * ≤|vocab∩doc|² pairs per document and the aggregate output is
    * ≤ C(100,2) rows regardless of corpus size. */
  val textCooccur: Op = Op.sql("text_cooccur",
    """WITH tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |df AS (SELECT t, count(*) AS df FROM tok GROUP BY 1),
      |v AS (SELECT t, df FROM df QUALIFY row_number() OVER (ORDER BY df DESC, t) <= 100),
      |ft AS (SELECT doc_id, t, df FROM tok JOIN v USING (t)),
      |pairs AS (SELECT a.t AS term_a, b.t AS term_b, a.df AS df_a, b.df AS df_b, count(*) AS n_ab
      |          FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.t < b.t
      |          GROUP BY 1, 2, 3, 4),
      |n AS (SELECT count(*) AS n FROM documents)
      |SELECT term_a, term_b, n_ab, df_a, df_b,
      |  round(CAST(n_ab AS DOUBLE) * n / (df_a * df_b), 6) AS lift
      |FROM pairs, n
      |QUALIFY row_number() OVER (ORDER BY n_ab DESC, term_a, term_b) <= 50
      |ORDER BY n_ab DESC, term_a, term_b""".stripMargin) { (s, dir) =>
    val tok = docs(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .distinct()
    val dfreq = tok.groupBy("t").agg(count(lit(1)).as("df"))
    val v = dfreq.orderBy(col("df").desc, col("t")).limit(100)
    val ft = tok.join(broadcast(v), "t")
    val a = ft.select(col("doc_id"), col("t").as("term_a"), col("df").as("df_a"))
    val b = ft.select(col("doc_id").as("doc_id_b"), col("t").as("term_b"),
      col("df").as("df_b"))
    val pairs = a.join(b,
        col("doc_id") === col("doc_id_b") && col("term_a") < col("term_b"))
      .groupBy("term_a", "term_b", "df_a", "df_b").agg(count(lit(1)).as("n_ab"))
    val n = docs(s, dir).agg(count(lit(1)).as("n"))
    pairs.crossJoin(broadcast(n))
      .select(col("term_a"), col("term_b"), col("n_ab"), col("df_a"), col("df_b"),
        round(col("n_ab").cast("double") * col("n") / (col("df_a") * col("df_b")), 6)
          .as("lift"))
      .orderBy(col("n_ab").desc, col("term_a"), col("term_b")).limit(50)
  }

  /** TEMPERATURE-rebalanced source sampling (the T5/mT5 α-mixing rule
    * every multilingual/multi-source corpus uses: sample source i
    * with p_i ∝ n_i^α, α = 0.5, so big sources are down-weighted and
    * small ones up-weighted relative to natural frequency). Per-source
    * targets must be bit-identical across engines AND partition
    * orders, and `ceil` is discontinuous — so the share denominator
    * may not be a float sum (float summation order is unspecified; a
    * one-ulp wobble at an integer boundary would flip a target by 1
    * and change the selected row set). Instead each source's sqrt is
    * quantized to an exact BIGINT weight, `floor(sqrt(cnt) * 1e6)` —
    * a fixed chain of correctly-rounded IEEE ops on exact integer
    * input, deterministic in any engine — and the denominator is a
    * `sum` of BIGINTs: exact and commutative, so no summation order
    * exists to disagree about. The final `ceil(200*wgt / tot)` is one
    * deterministic IEEE division on exact operands. Document
    * selection inside each source is the same deterministic
    * content-hash ranking as [[sampleCapped]] — stable under
    * repartitioning and re-ingestion.
    *
    * Scale (100 TB): the target table is |sources| rows (broadcast);
    * ranking is one window per source shard, no global sort; the
    * budget constant scales the OUTPUT, not the work. */
  val sampleTemperature: Op = Op.sql("sample_temperature",
    """WITH n AS (SELECT source, count(*) AS cnt FROM documents GROUP BY source),
      |w AS (
      |  SELECT source,
      |    CAST(floor(sqrt(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS wgt
      |  FROM n),
      |tgt AS (
      |  SELECT source,
      |    CAST(ceil(CAST(200 * wgt AS DOUBLE)
      |      / CAST(sum(wgt) OVER () AS DOUBLE)) AS BIGINT) AS target
      |  FROM w),
      |ranked AS (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |                       ORDER BY md5(text), doc_id) AS rk
      |  FROM documents)
      |SELECT r.doc_id, r.source, r.rk, t.target
      |FROM ranked r JOIN tgt t USING (source)
      |WHERE r.rk <= t.target ORDER BY r.doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy()
    val tgt = docs(s, dir).groupBy("source").agg(count(lit(1)).as("cnt"))
      .select(col("source"),
        floor(sqrt(col("cnt").cast("double")) * 1000000).cast("bigint")
          .as("wgt"))
      .select(col("source"),
        ceil((col("wgt") * 200).cast("double")
          / sum(col("wgt")).over(whole).cast("double"))
          .cast("bigint").as("target"))
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        row_number().over(Window.partitionBy("source")
          .orderBy(md5(col("text").cast("binary")), col("doc_id"))).as("rk"))
      .join(broadcast(tgt), Seq("source"))
      .filter(col("rk") <= col("target"))
      .select(col("doc_id"), col("source"), col("rk"), col("target"))
      .orderBy("doc_id")
  }

  /** CORPUS CARD: the per-(source, language) datasheet every dataset
    * release publishes — document/token/char counts plus each cell's
    * share of the corpus. Exact arithmetic throughout (counts and
    * int/int ratios). One grouped hash-aggregate over the scan; the
    * share windows run over |sources|×|langs| aggregated rows, not
    * the corpus. */
  val textCorpusCard: Op = Op.sql("text_corpus_card",
    """WITH d AS (
      |  SELECT source, lang,
      |         len(string_split_regex(text, '\s+')) AS ntok, n_chars
      |  FROM documents),
      |g AS (
      |  SELECT source, lang, count(*) AS n_docs,
      |         CAST(sum(ntok) AS BIGINT) AS n_tokens,
      |         CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |  FROM d GROUP BY source, lang)
      |SELECT source, lang, n_docs, n_tokens, sum_chars,
      |  CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) AS doc_share,
      |  CAST(n_tokens AS DOUBLE) / CAST(sum(n_tokens) OVER () AS DOUBLE) AS token_share
      |FROM g ORDER BY source, lang""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val whole = Window.partitionBy()
    docs(s, dir)
      .select(col("source"), col("lang"),
        size(split(col("text"), "\\s+")).cast("bigint").as("ntok"),
        col("n_chars"))
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"),
        sum("n_chars").as("sum_chars"))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("sum_chars"),
        (col("n_docs").cast("double") /
          sum("n_docs").over(whole).cast("double")).as("doc_share"),
        (col("n_tokens").cast("double") /
          sum("n_tokens").over(whole).cast("double")).as("token_share"))
      .orderBy("source", "lang")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): per
    * language, split the corpus into head/middle/tail terciles by
    * language-model score — the canonical quality stratification a
    * pretraining pipeline samples from (head oversampled, tail often
    * dropped). Scoring reuses `text_lm_score`'s exact unigram
    * arithmetic (integer counts, ONE double division per doc — IEEE
    * identical across engines, SURVEY §5). The ranking deliberately
    * does NOT use `row_number() OVER (PARTITION BY lang ...)`: with a
    * handful of languages each window partition would hold
    * corpus/|langs| rows on a single task — the q60-era ntile trap at
    * corpus scale. [[RankSelect.groupRanks]] replaces it with a
    * range-repartitioned distributed rank (broadcast prefix offsets,
    * driver holds |partitions|×|langs| counters); the tercile index
    * `(3·(rank−1)) div n` is then pure integer math, bit-identical to
    * the oracle's window form. */
  val textPerplexityBucket: Op = Op.sql("text_perplexity_bucket",
    """WITH tok AS (SELECT doc_id, lang, unnest(string_split_regex(lower(text), '\s+')) AS tok
      |            FROM documents),
      |v AS (SELECT tok, count(*) AS cnt FROM tok GROUP BY tok),
      |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM v),
      |scored AS (
      |  SELECT t.doc_id, t.lang,
      |    CAST(sum(v.cnt) AS BIGINT) * 1.0 / (count(*) * (SELECT total FROM n)) AS avg_p
      |  FROM tok t JOIN v USING (tok) GROUP BY t.doc_id, t.lang),
      |ranked AS (
      |  SELECT doc_id, lang, avg_p,
      |    row_number() OVER (PARTITION BY lang ORDER BY avg_p DESC, doc_id) AS r,
      |    count(*) OVER (PARTITION BY lang) AS n_l
      |  FROM scored)
      |SELECT doc_id, lang,
      |  CASE ((3 * (r - 1)) // n_l) WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM ranked ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val tok = docs(s, dir).select(col("doc_id"), col("lang"),
      explode(split(lower(col("text")), "\\s+")).as("tok"))
    val vocab = tok.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val total = vocab.agg(sum("cnt").as("total"))
    // vocab broadcast is Heaps-bounded (same argument as text_lm_score:
    // the token stream shuffles once, not twice)
    val scored = tok.join(broadcast(vocab), Seq("tok"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_tok"), sum("cnt").as("sum_cnt"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("lang"),
        (col("sum_cnt") * 1.0 / (col("n_tok") * col("total"))).as("avg_p"))
    RankSelect.groupRanks(scored, "lang", Seq(col("avg_p").desc, col("doc_id")))
      .select(col("doc_id"), col("lang"),
        when(expr("(3 * (rank - 1)) DIV n") === 0, "head")
          .when(expr("(3 * (rank - 1)) DIV n") === 1, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  /** Class-balanced downsampling (round 8): equalize per-label counts
    * to the SMALLEST class — the standard rebalancing step before
    * training a classifier on skewed labels (here the embeddings'
    * label column). Selection order within a class is the
    * DETERMINISTIC hash order `(xxhash64(vec_id), vec_id)` — a
    * first-N-by-id cut would bias the sample toward old ids, and a
    * true random sample would be irreproducible; the seeded hash is
    * both unbiased w.r.t. id order and bit-replayable (the oracle
    * replays Spark's XXH64.hashLong in HUGEINT SQL, the count-min
    * machinery reused). Ranking per label goes through
    * [[RankSelect.groupRanks]] (few HUGE label groups — the same
    * one-task-per-group trap as the perplexity terciles), and the
    * class floor is a one-row broadcast scalar. */
  val sampleBalanced: Op = Op.sql("sample_balanced", {
    import SqlReplay.{stagedSql, hashLongStages, toSignedBigint}
    val staged = stagedSql("SELECT vec_id, label FROM embeddings",
      hashLongStages("vec_id::HUGEINT", "42::HUGEINT", "h"))
    s"""WITH r AS (
       |  SELECT vec_id, label,
       |    row_number() OVER (PARTITION BY label
       |      ORDER BY ${toSignedBigint("h")}, vec_id) AS rnk
       |  FROM ($staged)),
       |nmin AS (SELECT min(c) AS m FROM (
       |  SELECT count(*) AS c FROM embeddings GROUP BY label))
       |SELECT vec_id, label FROM r, nmin WHERE rnk <= m
       |ORDER BY vec_id""".stripMargin
  }) { (s, dir) =>
    val e = Tables.load(s, dir, "embeddings").select(col("vec_id"), col("label"))
    val ranked = RankSelect.groupRanks(
      e.withColumn("h", xxhash64(col("vec_id"))), "label",
      Seq(col("h"), col("vec_id")))
    val nmin = ranked.agg(min("n").as("m"))
    ranked.crossJoin(broadcast(nmin))
      .filter(col("rank") <= col("m"))
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** Reproducible training data ORDER (round 8): the per-epoch global
    * shuffle a training run consumes — epoch e's order is the rank of
    * the seeded hash `xxhash64(1000+e, doc_id)`, so the permutation
    * is (a) different every epoch, (b) unbiased w.r.t. storage order,
    * and (c) bit-reproducible anywhere (the oracle replays Spark's
    * chained XXH64 — seed 42 → epoch key → doc key — in HUGEINT SQL,
    * the count-min two-stage pattern). The global rank within each
    * epoch goes through [[RankSelect.groupRanks]]: a training data
    * order is exactly the few-huge-groups shape (3 epochs × corpus)
    * where a window rank would serialize the corpus per epoch. */
  val sampleEpochOrder: Op = Op.sql("sample_epoch_order", {
    import SqlReplay.{stagedSql, hashLongStages, toSignedBigint}
    val base = stagedSql(
      "SELECT epoch, doc_id, CAST(1000 + epoch AS HUGEINT) AS ek," +
        " CAST(doc_id AS HUGEINT) AS dk" +
        " FROM documents, unnest([0, 1, 2]) AS te(epoch)",
      hashLongStages("ek", "42::HUGEINT", "s1") ++ hashLongStages("dk", "s1", "h"))
    s"""SELECT CAST(epoch AS BIGINT) AS epoch, doc_id,
       |  row_number() OVER (PARTITION BY epoch
       |    ORDER BY ${toSignedBigint("h")}, doc_id) AS pos
       |FROM ($base)
       |ORDER BY epoch, pos""".stripMargin
  }) { (s, dir) =>
    val epochs = (0 until 3).map { e =>
      docs(s, dir).select(lit(e.toLong).as("epoch"), col("doc_id"),
        xxhash64(lit(1000L + e), col("doc_id")).as("h"))
    }.reduce(_ unionAll _)
    RankSelect.groupRanks(epochs, "epoch", Seq(col("h"), col("doc_id")))
      .select(col("epoch"), col("doc_id"), col("rank").as("pos"))
      .orderBy("epoch", "pos")
  }

  /** ONE readability-counts derivation shared by [[textReadability]]
    * and [[sampleCurriculum]] — the curriculum's bands are only
    * meaningful if they bucket the exact grades the readability op
    * reports, so neither may own a private copy (the gopherKeepCol
    * rule). SQL twin + Column twins kept in lockstep. */
  private[graft] val readCountsCteSql =
    """c AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_words,
      |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
      |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
      |  FROM documents)""".stripMargin
  private[graft] val fkGradeSql =
    "0.39 * (CAST(n_words AS DOUBLE) / n_sentences)" +
      " + 11.8 * (CAST(n_syllables AS DOUBLE) / greatest(n_words, 1)) - 15.59"
  private[graft] def readCounts(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      regexp_count(col("text"), lit("\\S+")).cast("bigint").as("n_words"),
      greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("bigint")
        .as("n_sentences"),
      regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("bigint")
        .as("n_syllables"))
  private[graft] def fkGradeCol: Column =
    lit(0.39) * (col("n_words").cast("double") / col("n_sentences")) +
      lit(11.8) * (col("n_syllables").cast("double") / greatest(col("n_words"), lit(1L))) -
      lit(15.59)

  /** FLESCH–KINCAID READABILITY per document (round 10 — the
    * "textbook quality" feature: readability-banded filtering and
    * curriculum ordering both start from exactly this grade; Gopher's
    * rules gate on composition, this scores reading LEVEL). Words,
    * sentences and syllables are pure regexp COUNTS (`\S+` runs,
    * `[.!?]+` runs, `[aeiouy]+` vowel groups on the lowercased text —
    * the standard syllable approximation), so both engines produce
    * identical integers and the grade
    * 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59 is one
    * identical IEEE tree; sentence count floors at 1 (headlines have
    * no terminator). Stateless per-row codegen — the cheapest scan
    * shape there is; composes with `text_distill_filter` as one more
    * teacher feature. */
  val textReadability: Op = Op.sql("text_readability",
    s"""WITH $readCountsCteSql
       |SELECT doc_id, n_words, n_sentences, n_syllables,
       |  round($fkGradeSql, 4) AS fk_grade
       |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    readCounts(docs(s, dir))
      .select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(fkGradeCol, 4).as("fk_grade"))
      .orderBy("doc_id")
  }

  /** CURRICULUM ORDERING (round 10 — easy→hard training order,
    * Bengio et al. 2009 made practical: band documents by their
    * [[textReadability]] grade, then give each band a reproducible
    * seeded-hash shuffle — the curriculum a loader consumes is
    * "ordered BETWEEN bands, unbiased WITHIN them", exactly
    * `sample_epoch_order`'s reproducibility contract composed with
    * the readability feature, both single-sourced). Band =
    * floor(grade) clamped to [0, 20]; within-band order = the seeded
    * `xxhash64(doc_id)` rank via [[RankSelect.groupRanks]] (bands are
    * the few-huge-groups shape); the global position adds per-band
    * prefix offsets computed over the ≤21-row band-count aggregate.
    * The oracle replays grade, band, the XXH64 chain and one global
    * row_number — so a curriculum that mis-banded one doc or broke
    * within-band reproducibility hash-mismatches. */
  val sampleCurriculum: Op = Op.sql("sample_curriculum", {
    import SqlReplay.{stagedSql, hashLongStages, toSignedBigint}
    val staged = stagedSql(
      s"""SELECT doc_id, band, CAST(doc_id AS HUGEINT) AS dk FROM (
         |  WITH $readCountsCteSql
         |  SELECT doc_id,
         |    least(greatest(CAST(floor($fkGradeSql) AS BIGINT), 0), 20) AS band
         |  FROM c)""".stripMargin,
      hashLongStages("dk", "42::HUGEINT", "h"))
    s"""SELECT doc_id, band,
       |  row_number() OVER (ORDER BY band, ${toSignedBigint("h")}, doc_id) AS pos
       |FROM ($staged)
       |ORDER BY pos""".stripMargin
  }) { (s, dir) =>
    val banded = readCounts(docs(s, dir))
      .select(col("doc_id"),
        least(greatest(floor(fkGradeCol).cast("bigint"), lit(0L)), lit(20L)).as("band"),
        xxhash64(col("doc_id")).as("h"))
    val ranked = RankSelect.groupRanks(banded, "band", Seq(col("h"), col("doc_id")))
    // per-band prefix offsets over the ≤21-row aggregate
    val w = org.apache.spark.sql.expressions.Window.orderBy("band")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offs = ranked.groupBy("band").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(w), lit(0L)))
      .select("band", "off")
    ranked.join(broadcast(offs), "band")
      .select(col("doc_id"), col("band"), (col("rank") + col("off")).as("pos"))
      .orderBy("pos")
  }

  /** PREFERENCE-PAIR CONSTRUCTION for DPO-style training (round 12 —
    * the contrastive face of the sampling family: offline preference
    * optimization consumes (chosen, rejected) pairs with a strict
    * quality margin; built from ranked quality rather than a reward
    * model, this is the standard bootstrap before one exists): per
    * source, docs rank ascending by an exact integer preference score
    * (stopword count ×10⁶ + word count — [[textQuality]]'s stopword
    * list and tokenization, single-sourced naturalness proxy; the
    * weighting favors fluent English over fragment noise), and pair r
    * matches the r-th best with the r-th worst (best-vs-worst first —
    * widest margins first, the curriculum DPO wants), dropping
    * zero-margin ties. ONE ranking pass serves both sides of every
    * pair (the descending rank is n−r+1 of the SAME ascending rank —
    * no second sort), via [[RankSelect.groupRanks]] (few-huge-groups
    * shape), then one (source, pair_rank)-keyed shuffle-hash
    * self-join; the oracle replays rank and pairing with one window. */
  val sampleDpoPairs: Op = Op.sql("sample_dpo_pairs",
    """WITH sc AS MATERIALIZED (
      |  SELECT source, doc_id,
      |    CAST(len(list_filter(string_split(text, ' '),
      |      w -> list_contains(['the','a','of','and','to','in','is'], w)))
      |      AS BIGINT) * 1000000
      |      + len(string_split(text, ' ')) AS score
      |  FROM documents),
      |r AS MATERIALIZED (
      |  SELECT source, doc_id, score,
      |    row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rank,
      |    count(*) OVER (PARTITION BY source) AS n
      |  FROM sc)
      |SELECT a.source, CAST(a.rank AS BIGINT) AS pair_rank,
      |  b.doc_id AS chosen_id, a.doc_id AS rejected_id,
      |  b.score - a.score AS margin
      |FROM r a JOIN r b
      |  ON a.source = b.source AND b.rank = a.n - a.rank + 1
      |WHERE a.rank <= a.n // 2 AND b.score - a.score > 0
      |ORDER BY a.source, pair_rank""".stripMargin) { (s, dir) =>
    val toks = split(col("text"), " ")
    val stop = array(Seq("the", "a", "of", "and", "to", "in", "is").map(lit): _*)
    val scored = docs(s, dir).select(col("source"), col("doc_id"),
      (size(filter(toks, w => array_contains(stop, w))).cast("bigint") * 1000000L
        + size(toks).cast("bigint")).as("score"))
    val ranked = RankSelect
      .groupRanks(scored, "source", Seq(col("score"), col("doc_id")))
    val rej = ranked.filter(col("rank") <= expr("n DIV 2"))
      .select(col("source"), col("rank").as("pair_rank"),
        col("doc_id").as("rejected_id"), col("score").as("rs"),
        (col("n") - col("rank") + 1).as("crank"))
    val cho = ranked.select(col("source"), col("rank").as("crank"),
      col("doc_id").as("chosen_id"), col("score").as("cs"))
    rej.hint("shuffle_hash").join(cho, Seq("source", "crank"))
      .filter(col("cs") - col("rs") > 0)
      .select(col("source"), col("pair_rank"), col("chosen_id"),
        col("rejected_id"), (col("cs") - col("rs")).as("margin"))
      .orderBy("source", "pair_rank")
  }

  val all: Seq[Op] = Seq(textLangId, textQuality, textTokens, textFingerprint,
    textNormalize, textSplitAssign, textRepetition, textPii, sampleStratified,
    textTopterms, textEditdist, textPackSequences, textLmScore, textGopher,
    textBpeTrain, textBpeEncode, sampleCapped, textChunkOverlap, textFuzzyJoin,
    sampleMixture, textBm25, textUrlCanon, textVocabGrowth, textCooccur,
    sampleTemperature, textCorpusCard, textDistillFilter, textPerplexityBucket,
    sampleBalanced, sampleEpochOrder, statsAuc, textFeatureHash,
    textInvertedIndex, textRake, textReadability, sampleCurriculum,
    sampleDpoPairs, textBpeFertility)
}
