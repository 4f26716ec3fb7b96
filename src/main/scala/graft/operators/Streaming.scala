package graft.operators



import org.apache.spark.sql.functions.col

import graft.Op
import graft.plans.SqlOver
import graft.sources.Tables
import graft.streaming.Streams

/** §2.4 streaming ops, oracle-checked in their batch-equivalent form
  * (Structured Streaming's contract: a streaming query's final result
  * equals the batch run of the same plan — StreamingSpec proves the
  * same transforms execute as real streams). */
object Streaming {

  /** Ingest-time quality monitoring — the Gopher gate
    * ([[TextAnalysis]]'s single rule definition) as a streaming
    * per-source pass/drop report; see
    * [[graft.streaming.Streams.qualityGate]]. The keep decision is
    * stateless per-row codegen, so streaming state is exactly the
    * |sources|-row aggregate; StreamingSpec drives a real 3-batch
    * file stream to bit-equality with this batch form. */
  val streamQualityMonitor: Op = Op.sql("stream_quality_monitor",
    TextAnalysis.gopherKeepCteSql +
      """
        |SELECT d.source, count(*) AS n_docs,
        |  count(CASE WHEN l.keep THEN 1 END) AS n_keep,
        |  count(CASE WHEN NOT l.keep THEN 1 END) AS n_drop
        |FROM documents d JOIN lab l USING (doc_id)
        |GROUP BY d.source ORDER BY d.source""".stripMargin) { (s, dir) =>
    Streams.qualityGate(Tables.load(s, dir, "documents")).orderBy("source")
  }

  /** Cohort retention maintained as TWO streaming aggregates (first
    * seen per user; distinct user-weeks) composed at read time — the
    * multi-query maintenance pattern for a metric whose parts are
    * order-free (min, distinct) even though the whole is a join.
    * Stream == batch holds under ANY arrival order, which is exactly
    * why retention streams and the strict funnel does not (see
    * [[graft.streaming.Streams.userFirstSeen]]); StreamingSpec drives
    * both halves as real file streams and composes them. */
  val streamRetention: Op = Op.sql("stream_retention",
    """WITH f AS (SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
      |           FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |      FROM events)
      |SELECT f.cohort, a.wk, count(DISTINCT a.user_id) AS n_active
      |FROM a JOIN f ON a.user_id = f.user_id
      |GROUP BY f.cohort, a.wk
      |ORDER BY f.cohort, a.wk""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "events")
    Streams.retentionRead(Streams.userFirstSeen(e), Streams.userWeeks(e))
      .orderBy("cohort", "wk")
  }

  val streamWindowAgg: Op = Op.sql("stream_window_agg",
    """SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start,
      |       event_type, count(*) AS n_events,
      |       round(sum("value"), 2) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s0, dir) =>
    // |hours in retention|×|types| rows — time-bounded report, not
    // corpus-sized (a decade of hourly buckets is ~90k rows): the
    // global order is a single-partition sort (Bounded), no range
    // exchange + sampling job over a dashboard-sized aggregate.
    // bounded-reduce pin (r12): the one exchange is that
    // dashboard-sized aggregate — ONE scheduler job (Tuned)
    val s = graft.operators.Tuned.boundedReduce(s0)
    Bounded.ordered(Streams.windowAgg(Tables.load(s, dir, "events")),
      col("win_start"), col("event_type"))
  }

  /** Boundary convention (measured, pinned in BoundarySpec): Spark's
    * `session_window` MERGES an event arriving exactly `gap` after
    * the previous one — sessions extend while
    * `next_ts <= prev_ts + gap`, i.e. the window end is INCLUSIVE
    * for the merge decision. The oracle's gap predicate is therefore
    * strict `>` (a `>=` would split an exactly-30-min gap into two
    * sessions and diverge on boundary-aligned data). */
  val streamSessionize: Op = Op.sql("stream_sessionize",
    """WITH d AS (
      |  SELECT user_id, ts,
      |         CASE WHEN lag(ts) OVER w IS NULL
      |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
      |              THEN 1 ELSE 0 END AS new_s
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |g AS (SELECT user_id, ts,
      |             sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      |      FROM d)
      |SELECT user_id, epoch_us(min(ts)) AS s_start,
      |       epoch_us(max(ts)) + 1800000000 AS s_end,
      |       count(*) AS n_events
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, s_start""".stripMargin) { (s0, dir) =>
    // sized one-job pin (r12, measured; supersedes the r12
    // parallel-coalesce pin): 3 AQE stage jobs → 1. The session-
    // window merge is per-row heavy (the 1 MB-coalesce finding
    // below), so the local partition floor is the CORE COUNT — the
    // static equivalent of the 64 KB coalesce floor this replaces;
    // at scale the size-derived term takes over. Window key =
    // uniform synthetic user_id.
    val s = Tuned.sizedOneJob(s0,
      s0.sparkContext.defaultParallelism,
      Tables.load(s0, dir, "events"))
    // size-gated tail sort via the NARROW funnel (r12; was
    // orderedIfSmall): session partials barely reduce — every event
    // is its own window until the merge — so coalesce(1) here folded
    // the whole Sort+MergingSessions+final-agg stage over ~|events|
    // partial rows into ONE task (plan-read + PROFILE: 160 ms
    // single-threaded). repartition(1) keeps the merge stage
    // parallel and funnels only the ~|sessions| finished rows; the
    // small planned estimate still skips the range exchange/sampling
    // job, corpus-scaled falls back to the sampled sort.
    //
    // ONE-TEXT construction (r12) now on the LAG/CUMSUM formulation
    // (r13, measured): the session_window replay's MergingSessions
    // aggregate cost ~1.86 s of task time for 100k events (≈19 µs/row
    // — sort + per-row session-object merge, graft.Profile), where
    // the equivalent lag-gap-split + running-sum + hash-agg plan is
    // one (user_id, ts) sort feeding TWO frame processors in a single
    // WindowExec and a codegen'd aggregate. Row-identical by the
    // BoundarySpec boundary convention (session_window merges while
    // next <= prev + gap ⇔ a strict > gap starts a new session;
    // s_end = max(ts) + gap IS session_window's end) — and
    // tie-stable: equal timestamps always co-session whichever side
    // of the lag they land, and the cumulative sum's RANGE frame
    // gives tied rows one sid. OneTextParitySpec asserts this plan ==
    // Streams.sessionize row for row: the streaming face keeps the
    // real session_window aggregate, the only session form
    // Structured Streaming accepts.
    SqlOver(s, """
      SELECT user_id, unix_micros(min(ts)) AS s_start,
             unix_micros(max(ts)) + 1800000000 AS s_end,
             count(1) AS n_events
      FROM (
        SELECT user_id, ts,
               sum(new_s) OVER (PARTITION BY user_id ORDER BY ts) AS sid
        FROM (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        IS NULL
                      OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                        > INTERVAL 30 MINUTE
                      THEN 1 ELSE 0 END AS new_s
          FROM events))
      GROUP BY user_id, sid
    """, "events" -> Tables.load(s, dir, "events"))
      .transform(Bounded.orderedNarrowIfSmall(_, Bounded.SmallSortBytes,
        col("user_id"), col("s_start")))
  }

  val streamStatefulTrack: Op = Op.sql("stream_stateful_track",
    """SELECT user_id, count(*) AS n_events,
      |       round(sum("value"), 2) AS sum_value,
      |       epoch_us(max(ts)) AS last_ts
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    Streams.statefulTrack(Tables.load(s, dir, "events"))
      .orderBy("user_id")
  }

  val streamStreamJoin: Op = Op.sql("stream_stream_join",
    """WITH e AS (SELECT user_id, event_type,
      |           make_timestamp(epoch_us(ts)) AS ts FROM events)
      |SELECT c.user_id AS user_id, epoch_us(c.ts) AS click_ts, epoch_us(p.ts) AS purch_ts
      |FROM e c JOIN e p ON c.user_id = p.user_id
      |  AND c.event_type = 'click' AND p.event_type = 'purchase'
      |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
      |ORDER BY user_id, click_ts, purch_ts""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "events")
    Streams.clickPurchaseJoin(e, e)
      .orderBy("user_id", "click_ts", "purch_ts")
  }

  val streamDedup: Op = Op.sql("stream_dedup",
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
    Streams.streamDistinctKeys(Tables.load(s, dir, "events"))
      .orderBy("user_id", "event_type")
  }

  /** Incrementally-maintained aggregate view (LSM-native upsert
    * matview): the oracle checks the batch form; StreamingSpec
    * proves the streaming maintenance — including a replayed
    * micro-batch — converges to the same rows. Exact decimal sums
    * make "incremental result == batch result" an equality, not an
    * approximation. (The per-row DOUBLE→DECIMAL(12,2) cast is exact
    * on this dataset — event values carry exactly 2 decimals, so no
    * rounding happens on either engine; for arbitrary-precision
    * inputs that cast would sit on the cross-engine rounding
    * boundary SURVEY §5 warns about.) The maintained STATE stays
    * decimal(22,2) — exactness is what makes incremental == batch an
    * equality — and only this query boundary casts to double (the
    * render-stable output form, see [[Relational]]'s contract). */
  val streamMatview: Op = Op.sql("stream_matview",
    """SELECT user_id, count(*) AS n_events,
      |  CAST(sum(CAST("value" AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    Streams.matviewBatch(Tables.load(s, dir, "events"))
      .withColumn("sum_value", col("sum_value").cast("double"))
      .orderBy("user_id")
  }

  /** Trending top-3 event types per hour — the "rank in the sink"
    * streaming pattern: ranking over a streaming aggregate is not
    * incrementalizable (a window function over streaming state is
    * unsupported by design — a late row can reorder every rank), so
    * the windowed COUNTS stream incrementally and the cheap rank runs
    * over the aggregate's complete output at read time (|windows| ×
    * |types| rows, trivial at any scale). Batch form = the same two
    * stages fused; StreamingSpec drives the split form and checks
    * equality. */
  val streamTopk: Op = Op.sql("stream_topk",
    s"""SELECT win_start, event_type, n_events, rnk FROM (
      |  SELECT win_start, event_type, n_events,
      |    row_number() OVER (PARTITION BY win_start
      |                       ORDER BY n_events DESC, event_type) AS rnk
      |  FROM (SELECT epoch_us(date_trunc('hour', ts)) AS win_start,
      |          event_type, count(*) AS n_events
      |        FROM events GROUP BY 1, 2))
      |WHERE rnk <= ${Streams.TrendingK} ORDER BY win_start, rnk""".stripMargin) { (s, dir) =>
    Streams.rankTopTypes(
      Streams.windowAgg(Tables.load(s, dir, "events")).drop("sum_value"))
  }

  /** Daily OHLC bars as a streaming aggregate (q74_ohlc's stream
    * face): min_by/max_by partials merge across micro-batches, so the
    * ordered aggregate is what makes OHLC streamable at all — see
    * [[graft.streaming.Streams.ohlcBars]]. Oracle = the same bars in
    * DuckDB; StreamingSpec proves stream == batch on a real file
    * stream. */
  val streamOhlc: Op = Op.sql("stream_ohlc",
    """WITH e AS (
      |  SELECT user_id, epoch_us(time_bucket(INTERVAL 1 DAY, ts)) AS bar_start, value,
      |    lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') ||
      |    lpad(CAST(event_id AS VARCHAR), 20, '0') AS k
      |  FROM events)
      |SELECT user_id, bar_start,
      |  arg_min(value, k) AS open, max(value) AS high,
      |  min(value) AS low, arg_max(value, k) AS close, count(*) AS n
      |FROM e GROUP BY user_id, bar_start
      |ORDER BY user_id, bar_start""".stripMargin) { (s, dir) =>
    Streams.ohlcBars(Tables.load(s, dir, "events"))
      .orderBy("user_id", "bar_start")
  }

  /** Online drift monitor, the streaming face of
    * [[graft.operators.Analytics.statsDrift]]: static decile
    * boundaries enriched into the stream as a LITERAL (stream-static
    * enrichment with zero join state), one watermarked window×bucket
    * count. The oracle replays bucket assignment as the equivalent
    * min-matching-boundary join. */
  val streamDrift: Op = Op.sql("stream_drift",
    """WITH nt AS (
      |  SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS b
      |  FROM events),
      |bounds AS (SELECT b, max(value) AS ub FROM nt GROUP BY b),
      |assigned AS (
      |  SELECT e.event_id, e.ts,
      |         CAST(coalesce(min(bo.b), 10) AS BIGINT) AS bucket
      |  FROM events e LEFT JOIN bounds bo ON e."value" <= bo.ub
      |  GROUP BY e.event_id, e.ts)
      |SELECT epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) AS win_start,
      |       bucket, count(*) AS n
      |FROM assigned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "events")
    Streams.driftCounts(e, Streams.decileBounds(e))
      .orderBy("win_start", "bucket")
  }

  /** Streaming index maintenance (ann_ivf_append's stream face): new
    * vectors — the same `vec_id >= cut` batch the append op indexes —
    * are assigned to the FROZEN base centroids and counted per cell.
    * Frozen centroids ride as an expression literal (zero join
    * state); one streaming hash-agg, state bounded by |cells|.
    * Value-exact oracle: the shared base-trained `cells` CTE filtered
    * to the batch and grouped; StreamingSpec runs the same transform
    * as a REAL multi-batch file stream and matches this batch form. */
  val streamIvfAssign: Op = Op.sql("stream_ivf_assign",
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |cut AS MATERIALIZED (
       |  SELECT CAST(floor(max(vec_id) * ${Similarity.AppendFrac}) AS BIGINT) AS c FROM e),
       |eb AS MATERIALIZED (
       |  SELECT * FROM e WHERE vec_id < (SELECT c FROM cut)),
       |""".stripMargin + Similarity.ivfTrainCtesSql("eb") +
    s"""
       |SELECT cell, count(*) AS n_new,
       |  min(vec_id) AS first_id, max(vec_id) AS last_id
       |FROM cells WHERE vec_id >= (SELECT c FROM cut)
       |GROUP BY cell ORDER BY cell""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "embeddings").select(col("vec_id"),
      graft.functions.VectorFunctions.toDouble(col("embedding")).as("v"))
    val maxId = e.agg(org.apache.spark.sql.functions.max("vec_id")).head().getLong(0)
    val cut = math.floor(maxId * Similarity.AppendFrac).toLong
    val centroids = Similarity.baseCentroidsFor(s, dir, cut)
    Streams.ivfAssignCounts(e.filter(col("vec_id") >= cut), centroids)
      .orderBy("cell")
  }

  /** Online NEAR-dup suppression (stream_dedup is exact-key): the
    * streaming face of `dedup_minhash_lsh`. Per LSH band bucket, one
    * (owner, count) state pair via a streaming hash-agg — see
    * [[Streams.minhashBucketOwners]] for the state accounting. The
    * oracle recomputes the collided buckets from the SAME replayed
    * signature SQL as the pair oracle (`Dedup.minhashSigSql`), with
    * the mod-2⁶⁴ band hash signed-converted to BIGINT at the output
    * boundary; StreamingSpec drives the transform as a REAL 3-file
    * stream to equality with this batch form. */
  val streamMinhashDedup: Op = Op.sql("stream_minhash_dedup",
    s"""SELECT band_id,
       |  ${graft.operators.SqlReplay.toSignedBigint("h")} AS band_hash,
       |  min(doc_id) AS owner, count(*) AS n_docs
       |FROM (${Dedup.minhashSigSql})
       |GROUP BY 1, 2 HAVING count(*) >= 2
       |ORDER BY band_id, band_hash""".stripMargin) { (s, dir) =>
    Streams.minhashBucketOwners(Dedup.corpusNear(s, dir))
      .orderBy("band_id", "band_hash")
  }

  /** Ingest-time contamination guard (dedup_contamination's stream
    * face, direction flipped: arriving TRAIN docs scored against the
    * static eval 5-gram set — quarantine before landing). See
    * [[Streams.contaminationGuard]]; the oracle mirrors the
    * window-free array-slice n-gram derivation, which produces the
    * identical distinct 5-gram set as the batch op's lead() windows. */
  val streamContamination: Op = Op.sql("stream_contamination",
    """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS toks FROM documents),
      |ng AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(toks) >= 5
      |         THEN [array_to_string(toks[i:i+4], ' ')
      |               for i in range(1, len(toks) - 3)]
      |         ELSE []::VARCHAR[] END)) AS ng
      |  FROM t),
      |ev AS (SELECT DISTINCT ng FROM ng WHERE doc_id % 50 = 0),
      |tr AS (SELECT doc_id, ng FROM ng WHERE doc_id % 50 <> 0)
      |SELECT tr.doc_id, count(*) AS n_ngrams, count(ev.ng) AS n_hit,
      |       CAST(count(ev.ng) AS DOUBLE) / count(*) AS ratio
      |FROM tr LEFT JOIN ev ON tr.ng = ev.ng
      |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin) { (s, dir) =>
    val d = Tables.load(s, dir, "documents")
    val evalSet = Streams.evalNgramSet(d)
    Streams.contaminationGuard(
        d.filter(org.apache.spark.sql.functions.pmod(
          col("doc_id"), org.apache.spark.sql.functions.lit(50)) =!= 0), evalSet)
      .orderBy("doc_id")
  }

  /** Batch-backfill + streaming-tail SEAM (round 10; the lambda→kappa
    * cutover every migrating pipeline runs: history recomputed in
    * batch, the live tail maintained by a stream, ONE served view):
    * per-user totals composed from [[graft.streaming.Streams.backfillAgg]]
    * (event_id ≤ the 80% seam) and [[graft.streaming.Streams.tailAgg]]
    * (strictly above it — the tail FILTERS pre-seam redeliveries
    * before any state, so at-least-once replay across the cutover can
    * never double-count, structurally). Both halves are order-free
    * exact-decimal aggregates, so stream == batch under any arrival
    * interleaving; the serve join is keyed on user over two
    * aggregate-sized sides. The oracle is the straight per-user
    * aggregate with CASE provenance columns — equality PROVES the
    * seam neither drops nor double-counts any row; StreamingSpec
    * drives the tail as a real file stream WITH planted pre-seam
    * redeliveries. */
  val streamBackfillMerge: Op = Op.sql("stream_backfill_merge",
    """WITH mx AS (SELECT CAST(floor(max(event_id) * 0.8) AS BIGINT) AS cut FROM events)
      |SELECT user_id,
      |  count(CASE WHEN event_id <= cut THEN 1 END) AS n_backfill,
      |  count(CASE WHEN event_id > cut THEN 1 END) AS n_tail,
      |  count(*) AS n_events,
      |  CAST(sum(CAST("value" AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events, mx GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    val e = Tables.load(s, dir, "events")
    val cut = e.agg(org.apache.spark.sql.functions.floor(
        org.apache.spark.sql.functions.max("event_id") * 0.8).cast("bigint"))
      .head().getLong(0)
    Streams.backfillServe(Streams.backfillAgg(e, cut), Streams.tailAgg(e, cut))
      .orderBy("user_id")
  }

  /** Streaming as-of enrichment (q31's stateful stream face): each
    * purchase is enriched with the user's latest click SO FAR — a
    * per-EVENT Append emission from `flatMapGroupsWithState`, the
    * one stateful shape (bounded per-key state, immediate output)
    * the window/aggregate stream ops don't cover. The oracle
    * replays the fold as a `last_value IGNORE NULLS` window over
    * `(ts_us, event_id)` order — including the NULL enrichment of
    * purchases that precede every click; StreamingSpec drives the
    * same code as a real file stream split at a time boundary and
    * proves the cross-batch state carry. See
    * [[graft.streaming.Streams.asofEnrich]] for the scale/ordering
    * contract. */
  val streamAsofEnrich: Op = Op.sql("stream_asof_enrich",
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |                  event_type, "value" AS v FROM events),
      |w AS (SELECT user_id, event_id, ts_us, event_type, v,
      |    last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS click_ts,
      |    last_value(CASE WHEN event_type = 'click' THEN v END IGNORE NULLS)
      |      OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS click_value
      |  FROM e)
      |SELECT user_id, event_id AS purch_id, ts_us AS purch_ts,
      |       v AS purch_value, click_ts, click_value
      |FROM w WHERE event_type = 'purchase'
      |ORDER BY user_id, purch_id""".stripMargin) { (s, dir) =>
    Streams.asofEnrich(Tables.load(s, dir, "events"))
      .orderBy("user_id", "purch_id")
  }

  /** Streaming funnel (q54's online face): the per-user view →
    * click → purchase progression maintained as three timestamps of
    * `flatMapGroupsWithState` state, folded in time order so each
    * stage lands on exactly the batch funnel's min-qualifying event
    * — the oracle IS q54's algebra. StreamingSpec proves the
    * streamed final states equal the batch run. */
  val streamFunnel: Op = Op.sql("stream_funnel",
    """WITH v AS (SELECT user_id, min(ts) AS tv FROM events
      |           WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS tc FROM events e
      |      JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS tp FROM events e
      |      JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY e.user_id)
      |SELECT u.user_id,
      |  v.user_id IS NOT NULL AS reached_view,
      |  c.user_id IS NOT NULL AS reached_click,
      |  p.user_id IS NOT NULL AS reached_purchase
      |FROM (SELECT DISTINCT user_id FROM events) u
      |LEFT JOIN v ON u.user_id = v.user_id
      |LEFT JOIN c ON u.user_id = c.user_id
      |LEFT JOIN p ON u.user_id = p.user_id
      |ORDER BY u.user_id""".stripMargin) { (s, dir) =>
    Streams.funnelTrack(Tables.load(s, dir, "events")).orderBy("user_id")
  }

  /** WATERMARK LATENESS AUDIT (round 12 — the offline question every
    * streaming deployment answers BEFORE picking a watermark: under
    * the real arrival order, how many events would a 30-minute
    * watermark silently drop per ingest batch?). Arrival = seq
    * quartiles with seq%37 stragglers delivered two batches late
    * ([[graft.streaming.Streams.lateArrivalBatches]]); the report
    * replays Spark's MEASURED drop protocol in closed form — filter
    * watermark = max event time through batch i−2 minus delay (one
    * batch behind eviction), drop iff hour-window END ≤ watermark,
    * equality inclusive (all three clauses pinned against a REAL
    * append-mode stream in StreamingSpec/BoundarySpec: total sink
    * drops equal this audit's n_late column exactly). */
  val streamLateAudit: Op = Op.sql("stream_late_audit",
    """WITH e AS (SELECT event_id AS seq, epoch_us(ts) AS tus FROM events),
      |mx AS (SELECT max(seq) AS m FROM e),
      |b AS MATERIALIZED (
      |  SELECT seq, tus,
      |    least(4, 1 + CAST(seq > m // 4 AS INT) + CAST(seq > (m * 2) // 4 AS INT)
      |      + CAST(seq > (m * 3) // 4 AS INT)
      |      + CASE WHEN seq % 37 = 0 THEN 2 ELSE 0 END) AS bid
      |  FROM e, mx),
      |pb AS (SELECT bid, count(*) AS ne, max(tus) AS mt FROM b GROUP BY bid),
      |wm AS (SELECT bid,
      |         max(mt) OVER (ORDER BY bid ROWS BETWEEN UNBOUNDED PRECEDING
      |                       AND 2 PRECEDING) - 1800000000 AS fwm
      |       FROM pb)
      |SELECT CAST(wm.bid AS BIGINT) AS batch_id, count(*) AS n_events,
      |  max(wm.fwm) AS wm_us,
      |  count(CASE WHEN (b.tus // 3600000000 + 1) * 3600000000 <= wm.fwm
      |        THEN 1 END) AS n_late,
      |  count(*) - count(CASE WHEN (b.tus // 3600000000 + 1) * 3600000000
      |        <= wm.fwm THEN 1 END) AS n_on_time
      |FROM b JOIN wm ON b.bid = wm.bid
      |GROUP BY wm.bid ORDER BY batch_id""".stripMargin) { (s, dir) =>
    Streams.lateAudit(Tables.load(s, dir, "events"), 1800000000L)
  }

  /** WATERMARK TUNING sweep (round 12 — the decision stream_late_audit
    * informs: pick the smallest delay that retains ≥99.9% of events,
    * and price it in STATE — open hour-windows held at end of stream.
    * The grid spans the arrival-lateness scale (30 min → 8 days):
    * the straggler model delivers two ~2-day batches late, so every
    * minute-scale delay fails retention and the day-scale ones
    * recover it, which is exactly the cliff a real tuning sweep
    * exists to find). One events×delays broadcast join scores all
    * candidates in one pass; drop rule = the measured protocol
    * (filter watermark per batch = max event time through batch i−2
    * minus delay, window-end-keyed, equality inclusive). */
  val streamWatermarkTune: Op = Op.sql("stream_watermark_tune",
    """WITH e AS (SELECT event_id AS seq, epoch_us(ts) AS tus FROM events),
      |mx AS (SELECT max(seq) AS m FROM e),
      |b AS MATERIALIZED (
      |  SELECT seq, tus,
      |    least(4, 1 + CAST(seq > m // 4 AS INT) + CAST(seq > (m * 2) // 4 AS INT)
      |      + CAST(seq > (m * 3) // 4 AS INT)
      |      + CASE WHEN seq % 37 = 0 THEN 2 ELSE 0 END) AS bid
      |  FROM e, mx),
      |pb AS (SELECT bid, max(tus) AS mt FROM b GROUP BY bid),
      |wm AS (SELECT bid,
      |         max(mt) OVER (ORDER BY bid ROWS BETWEEN UNBOUNDED PRECEDING
      |                       AND 2 PRECEDING) AS pm
      |       FROM pb),
      |g AS (SELECT max(tus) AS gm, count(*) AS total FROM b),
      |delays AS (SELECT unnest([1800000000, 86400000000, 172800000000,
      |                          345600000000, 691200000000]) AS delay_us),
      |late AS (
      |  SELECT delay_us,
      |    count(CASE WHEN (tus // 3600000000 + 1) * 3600000000
      |               <= pm - delay_us THEN 1 END) AS n_late
      |  FROM b JOIN wm USING (bid) CROSS JOIN delays GROUP BY delay_us),
      |ow AS (
      |  SELECT delay_us, count(DISTINCT tus // 3600000000) AS n_open
      |  FROM b CROSS JOIN delays, g
      |  WHERE (tus // 3600000000 + 1) * 3600000000 > gm - delay_us
      |  GROUP BY delay_us),
      |sc AS (
      |  SELECT l.delay_us, n_late,
      |    CAST(n_late AS DOUBLE) / total AS drop_share,
      |    coalesce(n_open, 0) AS n_open_windows
      |  FROM late l LEFT JOIN ow USING (delay_us), g),
      |best AS (SELECT min(delay_us) AS bd FROM sc WHERE drop_share <= 0.001)
      |SELECT delay_us // 60000000 AS delay_min, n_late, drop_share,
      |  n_open_windows,
      |  coalesce(delay_us = (SELECT bd FROM best), false) AS chosen
      |FROM sc ORDER BY delay_min""".stripMargin) { (s, dir) =>
    Streams.watermarkTune(Tables.load(s, dir, "events"),
      Seq(1800000000L, 86400000000L, 172800000000L, 345600000000L,
        691200000000L))
  }

  val all: Seq[Op] = Seq(streamWindowAgg, streamSessionize, streamStatefulTrack,
    streamStreamJoin, streamDedup, streamMatview, streamTopk, streamOhlc,
    streamDrift, streamIvfAssign, streamMinhashDedup, streamContamination,
    streamQualityMonitor, streamRetention, streamBackfillMerge, streamAsofEnrich,
    streamFunnel, streamLateAudit, streamWatermarkTune)
}
