package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Op
import graft.plans.SqlOver
import graft.sources.{Catalog, CsvSource, ManagedTables, State, Tables}

/** §2.1 relational core: the reference's SQL executor surface
  * (`/root/reference/src/query_engine/src/execution/volcano_executor`,
  * `executor/aggregate`, `executor/join`, `tests/slt`) re-expressed as
  * declarative Spark plans. Catalyst replaces the reference's
  * hand-written optimizer rules (`optimizer/rules`): predicate
  * pushdown, column pruning, limit pushdown and operator fusion all
  * happen on these plans automatically; dims are explicitly
  * broadcast so fact-dim joins never shuffle the fact side.
  *
  * Determinism contract shared with the DuckDB oracles: explicit
  * ORDER BY with unique tiebreaks, NULLS FIRST on ascending keys,
  * and — crucially — money/quantity columns cast to DECIMAL *before*
  * any multi-row sum. Decimal addition is exact and associative, so
  * the aggregate is identical no matter how partitions (Spark) or
  * threads (DuckDB) order the summands; casting only the *result* of
  * a double sum leaves the final digit hostage to partition order
  * whenever the true sum sits near a rounding boundary (the round-1
  * hash-flake). Per-row arithmetic stays raw double — IEEE ops on
  * the same inputs are bit-identical across engines.
  *
  * Decimals stay INTERNAL: every output column is cast to DOUBLE at
  * the query boundary. Result consumers render decimals
  * inconsistently — `Decimal('138014.00')` vs the float64 `138014.0`
  * — so a decimal-typed result column is a representation flake
  * waiting for a value whose last digit is 0 (the round-2
  * hash-fails: value-equal rows, hash-different renderings). An
  * exact decimal converts to the identical correctly-rounded double
  * on both engines (sums here stay far below 2^53 ulp territory at
  * oracle scale), so double-at-the-boundary is deterministic AND
  * render-stable. Unrounded double columns (min/max/lag of a raw
  * double) pass through untouched — rounding them to decimal would
  * itself sit on the HALF_UP-vs-half-even cross-engine boundary.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables.load(s, dir, n)

  /** Exact fixed-point sum via the long-partial aggregate
    * (graft.functions.SumScaledExact): same values as
    * `sum(cast(x as decimal(12,d)))` — SumScaledSpec pins the
    * equality — without the measured per-row Decimal cost
    * (BENCH_LAYOUT_r07: 2.3x the double path at 6M rows). Shared by
    * every money/quantity hot-path sum (q1, q10, q20, q28, q37, q51). */
  private def sumScaled(c: org.apache.spark.sql.Column, d: Int) =
    call_function("graft_sum_scaled", c, lit(d))

  val q1Agg: Op = Op.sql("q1_agg",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |           * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
      |  CAST(min(l_extendedprice) AS DOUBLE) AS min_price,
      |  CAST(max(l_extendedprice) AS DOUBLE) AS max_price,
      |  count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s0, dir) =>
    // bounded-reduce pin (r12, measured): ≤6 output groups — the one
    // shuffle is a |groups|-row aggregate, so AQE's per-stage jobs
    // buy nothing; Tuned.sizedOneJob with no inputs (bounded by
    // construction, so only its floor applies) runs it as ONE job
    val s = Tuned.sizedOneJob(s0)
    // ONE-TEXT construction (r13, measured): the 7-aggregate Dataset
    // chain re-ran the eager analyzer per transformation — 0.068 s of
    // construction per bench rep (graft.Profile construct_s, the
    // largest of the headline set); one SQL text bound through SqlOver
    // is a single analysis pass over the same logical plan (as q10).
    // Expression notes preserved from the API chain:
    //  - scale-4 disc product: cents(price) x cents(1-disc) are exact
    //    integer doubles (<=1e9 and <=100, product <=1e11 < 2^53), so
    //    it equals the decimal(12,2) product sum bit-for-bit;
    //    floor(x+0.5), not round(x): equal on the 2-decimal data
    //    contract, and Catalyst's Round on a double is a per-row
    //    BigDecimal allocation in the scan's hot loop (r9 lab);
    //  - graft_sum_scaled: the long-partial exact fixed-point sum
    //    (SumScaledSpec pins equality with the decimal cast);
    //  - avg over the exact sum: one double division of two
    //    order-independent values, not an order-sensitive double avg.
    SqlOver(s, """
      SELECT l_returnflag, l_linestatus,
        CAST(graft_sum_scaled(l_quantity, 2) AS DOUBLE) AS sum_qty,
        CAST(graft_sum_scaled(l_extendedprice, 2) AS DOUBLE) AS sum_base_price,
        CAST(graft_sum_scaled(
          floor(l_extendedprice * 100 + 0.5)
            * floor((1 - l_discount) * 100 + 0.5) / 1e4, 4) AS DOUBLE)
          AS sum_disc_price,
        CAST(graft_sum_scaled(l_quantity, 2) AS DOUBLE) / count(1) AS avg_qty,
        CAST(min(l_extendedprice) AS DOUBLE) AS min_price,
        CAST(max(l_extendedprice) AS DOUBLE) AS max_price,
        count(1) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
    """, "lineitem" -> t(s, dir, "lineitem"))
      // ≤ |returnflag|×|linestatus| = 6 groups: single-partition order
      // (Bounded), not a sampled range exchange over 6 rows
      .transform(Bounded.ordered(_, col("l_returnflag"), col("l_linestatus")))
  }

  val q2FilterProject: Op = Op.sql("q2_filter_project",
    """SELECT l_orderkey, l_linenumber,
      |  l_extendedprice*(1-l_discount) AS revenue
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 24
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s0, dir) =>
    // sized one-job pin (r12, measured): 2 AQE stage jobs (narrow
    // funnel exchange + sort) → 1. The only exchange is the gated
    // repartition(1) funnel (or the sampled range sort on the big
    // path) — AQE had no partition decision to make here at all.
    val s = Tuned.sizedOneJob(s0, t(s0, dir, "lineitem"))
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01") && col("l_shipdate") < lit("1997-01-01")
        && col("l_discount").between(0.03, 0.07) && col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      // NARROW size gate (r11): scan-rooted projection — the small
      // path shuffles the filtered rows (repartition(1)), never
      // coalesces the scan; a corpus-scaled estimate keeps the
      // sampled range sort
      .transform(Bounded.orderedNarrowIfSmall(_, Bounded.SmallSortBytes,
        col("l_orderkey"), col("l_linenumber")))
  }

  val q3JoinInner: Op = Op.sql("q3_join_inner",
    """SELECT o_orderkey, c_name, o_totalprice
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_orderstatus = 'O'
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    // customer scales with SF — no unconditional broadcast hint; the
    // autoBroadcastJoinThreshold / AQE decide per actual size, so the
    // same plan survives a 100 TB run (a forced multi-TB broadcast
    // would OOM the executors)
    t(s, dir, "orders").filter(col("o_orderstatus") === "O")
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "c_name", "o_totalprice")
      .orderBy("o_orderkey")
  }

  val q4JoinLeft: Op = Op.sql("q4_join_left",
    """SELECT c_custkey, c_name, o_orderkey, o_totalprice
      |FROM customer LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) big
      |  ON c_custkey = o_custkey
      |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 400000),
        col("c_custkey") === col("o_custkey"), "left")
      .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
  }

  val q5JoinRight: Op = Op.sql("q5_join_right",
    """SELECT o_orderkey, o_totalprice, c_custkey, c_acctbal
      |FROM (SELECT * FROM orders WHERE o_totalprice > 400000) big
      |RIGHT JOIN customer ON o_custkey = c_custkey
      |ORDER BY c_custkey ASC, o_orderkey ASC NULLS FIRST""".stripMargin) { (s, dir) =>
    t(s, dir, "orders").filter(col("o_totalprice") > 400000)
      .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"), "right")
      .select("o_orderkey", "o_totalprice", "c_custkey", "c_acctbal")
      .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
  }

  val q6JoinFull: Op = Op.sql("q6_join_full",
    """SELECT c_custkey, c_acctbal, o_orderkey, o_totalprice
      |FROM (SELECT * FROM customer WHERE c_acctbal > 9000) rich
      |FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 450000) big
      |  ON c_custkey = o_custkey
      |ORDER BY c_custkey ASC NULLS FIRST, o_orderkey ASC NULLS FIRST""".stripMargin) { (s, dir) =>
    t(s, dir, "customer").filter(col("c_acctbal") > 9000)
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "full")
      .select("c_custkey", "c_acctbal", "o_orderkey", "o_totalprice")
      .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
  }

  val q7JoinSemi: Op = Op.sql("q7_join_semi",
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |              WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val q8JoinAnti: Op = Op.sql("q8_join_anti",
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      |ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .join(t(s, dir, "orders").filter(col("o_totalprice") > 300000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  val q9CrossJoin: Op = Op.sql("q9_cross_join",
    """SELECT r_name, n_name FROM region CROSS JOIN nation
      |ORDER BY r_name, n_name""".stripMargin) { (s, dir) =>
    t(s, dir, "region").crossJoin(t(s, dir, "nation"))
      .select("r_name", "n_name")
      .orderBy("r_name", "n_name")
  }

  val q10MultiJoin: Op = Op.sql("q10_multi_join",
    """SELECT n_name, CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
      |    * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      |GROUP BY n_name
      |ORDER BY revenue DESC, n_name""".stripMargin) { (s0, dir) =>
    // sized one-job pin (r12, measured): 6 AQE stage jobs → 1. The
    // only exchange is the ≤25-row nation aggregate; the four dim
    // joins stay estimate-driven broadcasts under the static
    // planner (same shape AQE picked), and the broadcast builds now
    // OVERLAP the lineitem map stage on the exchange thread pool
    // instead of serializing as AQE stage waves. Shuffle partitions
    // derive from the lineitem estimate (Tuned.sizedOneJob). Skew:
    // the one shuffle key is (returnflag-style) bounded-domain
    // n_name — no skew splitting to lose.
    val s = Tuned.sizedOneJob(s0, t(s0, dir, "lineitem"))
    // Join-order lab (r12, both MEASURED NEGATIVE vs this shape's
    // 0.42 s at equal load): (a) dims-first with the fact join left
    // to AQE — 0.74-0.83 s: AQE broadcast-converts the 13.5k-row
    // (o_orderkey, n_name) JOIN OUTPUT and its driver-side
    // LongToUnsafeRowMap build + serialize stalls 300 ms between
    // stages (stack-sampled); (b) dims-first with the fact join
    // pinned shuffle_hash — 0.50-0.55 s: pays the 600k-row lineitem
    // exchange this shape's all-broadcast chain avoids entirely. The
    // shape below keeps every estimate-driven decision with the
    // static planner: at sf0.1 every non-fact side sits under the
    // threshold so the scan feeds a pure BHJ chain + partial agg in
    // one stage; at 100 TB the same code degrades to keyed shuffle
    // joins exactly where the size estimates demand it.
    //
    // ONE-TEXT construction (r12, measured): the 5-join Dataset
    // chain re-ran the eager analyzer ~8 times per bench rep; one
    // SQL text bound through SqlOver is a single analysis pass over
    // the same logical plan. nation/region are fixed 25/5-row dims —
    // always broadcastable (hinted, as broadcast() was); customer scales
    // with SF, so its join is left to the size threshold. The
    // scale-4 product of exact cent integers (see q1_agg's discProd,
    // incl. the floor-not-Round rationale) equals the oracle's
    // decimal(12,2) product sum bit-for-bit, summed in primitive
    // long via graft_sum_scaled.
    SqlOver(s, """
      SELECT /*+ BROADCAST(nation), BROADCAST(region) */ n_name,
             CAST(graft_sum_scaled(
               floor(l_extendedprice * 100 + 0.5) *
               floor((1 - l_discount) * 100 + 0.5) / 1e4, 4) AS DOUBLE)
               AS revenue
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
      GROUP BY n_name
    """, Seq("lineitem", "orders", "customer", "nation", "region")
      .map(n => n -> t(s, dir, n)): _*)
      // ≤25 nation groups: single-partition order (Bounded)
      .transform(Bounded.ordered(_, col("revenue").desc, col("n_name")))
  }

  val q11OrderLimitOffset: Op = Op.sql("q11_order_limit_offset",
    """SELECT o_orderkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 10 OFFSET 5""".stripMargin) { (s, dir) =>
    // OFFSET is part of the operator's contract (ORDER BY ... LIMIT
    // 10 OFFSET 5). At k = offset+limit = 15 this is a cheap global
    // TakeOrdered; note the general cost law: a global ORDER BY with
    // OFFSET pays a top-(offset+limit) heap on the driver-side merge,
    // so a deep OFFSET (pagination at scale) should be keyset-based
    // (WHERE sortkey > last_seen) instead.
    t(s, dir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .select("o_orderkey", "o_totalprice")
      .offset(5).limit(10)
  }

  val q12Distinct: Op = Op.sql("q12_distinct",
    """SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
      |ORDER BY c_mktsegment, c_nationkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .select("c_mktsegment", "c_nationkey").distinct()
      .orderBy("c_mktsegment", "c_nationkey")
  }

  val q13AggDistinct: Op = Op.sql("q13_agg_distinct",
    """SELECT l_returnflag,
      |  count(DISTINCT l_suppkey) AS cd_supp,
      |  CAST(sum(DISTINCT CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sd_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_suppkey")).as("cd_supp"),
        sum_distinct(col("l_quantity").cast("decimal(12,2)")).cast("double").as("sd_qty"))
      .orderBy("l_returnflag")
  }

  // One text for both engines: the oracle and, bound through SqlOver,
  // the op itself (q14, q15, q32, q76).
  private val q14Sql =
    """SELECT o_orderkey, o_totalprice,
      |  (SELECT min(o_totalprice) FROM orders) AS min_tp
      |FROM orders
      |WHERE o_totalprice >= (SELECT max(o_totalprice) FROM orders) * 0.9
      |ORDER BY o_orderkey""".stripMargin

  val q14ScalarSubquery: Op = Op.sql("q14_scalar_subquery", q14Sql) { (s, dir) =>
    SqlOver(s, q14Sql, "orders" -> t(s, dir, "orders"))
  }

  private val q15Sql =
    """SELECT t2.c_custkey, t2.c_acctbal
      |FROM (SELECT t1.* FROM (SELECT * FROM customer WHERE c_acctbal > 0) t1
      |      WHERE t1.c_nationkey < 10) t2
      |WHERE t2.c_mktsegment = 'BUILDING'
      |ORDER BY t2.c_custkey""".stripMargin

  val q15DerivedTable: Op = Op.sql("q15_derived_table", q15Sql) { (s, dir) =>
    SqlOver(s, q15Sql, "customer" -> t(s, dir, "customer"))
  }

  val q16Expressions: Op = Op.sql("q16_expressions",
    """SELECT l_orderkey, l_linenumber,
      |  l_quantity + l_tax AS add_e,
      |  l_quantity * 2.0 AS mul_e,
      |  l_extendedprice / 100.0 AS div_e,
      |  l_quantity - l_discount AS sub_e,
      |  l_quantity > 25 AS gt_e,
      |  (l_quantity > 10 AND l_discount < 0.05) AS and_e,
      |  (l_returnflag = 'A' OR l_linestatus = 'F') AS or_e,
      |  NOT (l_returnflag = 'A') AS not_e,
      |  CAST(l_linenumber AS VARCHAR) AS str_e,
      |  CAST(FLOOR(l_quantity) AS BIGINT) AS floor_q,
      |  CASE WHEN l_quantity < 10 THEN 'low'
      |       WHEN l_quantity < 30 THEN 'mid' ELSE 'high' END AS bucket
      |FROM lineitem WHERE l_orderkey < 100
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem").filter(col("l_orderkey") < 100)
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_quantity") + col("l_tax")).as("add_e"),
        (col("l_quantity") * 2.0).as("mul_e"),
        (col("l_extendedprice") / 100.0).as("div_e"),
        (col("l_quantity") - col("l_discount")).as("sub_e"),
        (col("l_quantity") > 25).as("gt_e"),
        (col("l_quantity") > 10 && col("l_discount") < 0.05).as("and_e"),
        (col("l_returnflag") === "A" || col("l_linestatus") === "F").as("or_e"),
        (!(col("l_returnflag") === "A")).as("not_e"),
        col("l_linenumber").cast("string").as("str_e"),
        floor(col("l_quantity")).cast("bigint").as("floor_q"),
        when(col("l_quantity") < 10, "low")
          .when(col("l_quantity") < 30, "mid").otherwise("high").as("bucket"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  val q17StringFuncs: Op = Op.sql("q17_string_funcs",
    """SELECT c_custkey,
      |  upper(c_name) AS u, lower(c_mktsegment) AS lo,
      |  substring(c_name, 1, 8) AS sub,
      |  concat(c_name, '#', c_mktsegment) AS cc,
      |  length(c_name) AS len,
      |  (c_name LIKE '%1%') AS has1
      |FROM customer ORDER BY c_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "customer")
      .select(col("c_custkey"),
        upper(col("c_name")).as("u"), lower(col("c_mktsegment")).as("lo"),
        substring(col("c_name"), 1, 8).as("sub"),
        concat(col("c_name"), lit("#"), col("c_mktsegment")).as("cc"),
        length(col("c_name")).cast("bigint").as("len"),
        col("c_name").like("%1%").as("has1"))
      .orderBy("c_custkey")
  }

  val q18DateInterval: Op = Op.sql("q18_date_interval",
    """SELECT o_orderkey,
      |  CAST(o_orderdate AS DATE) AS d0,
      |  CAST(o_orderdate + INTERVAL 1 DAY AS DATE) AS d_plus_day,
      |  CAST(o_orderdate - INTERVAL 1 MONTH AS DATE) AS d_minus_mon,
      |  CAST(o_orderdate + INTERVAL 1 YEAR AS DATE) AS d_plus_yr
      |FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders").filter(col("o_orderkey") < 200)
      .select(col("o_orderkey"),
        col("o_orderdate").cast("date").as("d0"),
        (col("o_orderdate") + expr("INTERVAL 1 DAY")).cast("date").as("d_plus_day"),
        (col("o_orderdate") - expr("INTERVAL 1 MONTH")).cast("date").as("d_minus_mon"),
        (col("o_orderdate") + expr("INTERVAL 1 YEAR")).cast("date").as("d_plus_yr"))
      .orderBy("o_orderkey")
  }

  val q19ValuesScan: Op = Op.sql("q19_values_scan",
    """SELECT 1 AS a, CAST(2.3 AS DOUBLE) AS b, 'x' AS c, true AS d,
      |CAST(NULL AS INTEGER) AS e""".stripMargin) { (s, _) =>
    s.sql("SELECT 1 AS a, CAST(2.3 AS DOUBLE) AS b, 'x' AS c, true AS d, CAST(NULL AS INT) AS e")
  }

  val q20Having: Op = Op.sql("q20_having",
    """SELECT o_custkey, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS tot
      |FROM orders GROUP BY o_custkey
      |HAVING count(*) >= 12
      |ORDER BY o_custkey""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n"),
        sumScaled(col("o_totalprice"), 2).cast("double").as("tot"))
      .filter(col("n") >= 12)
      .orderBy("o_custkey")
  }

  val q21SetOps: Op = Op.sql("q21_setops",
    """WITH a AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
      |     b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
      |SELECT 'u' AS op, c_custkey FROM (SELECT * FROM a UNION SELECT * FROM b)
      |UNION ALL SELECT 'i' AS op, c_custkey FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
      |UNION ALL SELECT 'e' AS op, c_custkey FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
      |ORDER BY op, c_custkey""".stripMargin) { (s, dir) =>
    val cust = t(s, dir, "customer")
    val a = cust.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val b = cust.filter(col("c_acctbal") > 5000).select("c_custkey")
    a.union(b).distinct().select(lit("u").as("op"), col("c_custkey"))
      .unionAll(a.intersect(b).select(lit("i").as("op"), col("c_custkey")))
      .unionAll(a.except(b).select(lit("e").as("op"), col("c_custkey")))
      .orderBy("op", "c_custkey")
  }

  val q22WindowFuncs: Op = Op.sql("q22_window_funcs",
    """SELECT o_custkey, o_orderkey,
      |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
      |  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderstatus) AS rk,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (PARTITION BY o_custkey) AS DOUBLE) AS csum
      |FROM orders WHERE o_custkey < 50
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s0, dir) =>
    import org.apache.spark.sql.expressions.Window
    // bounded-reduce pin (r12): everything past the scan runs over
    // the ≤~500 literally-bounded rows, so the one repartition(1)
    // funnel needs no AQE service — ONE scheduler job (Tuned)
    val s = Tuned.sizedOneJob(s0)
    val byCust = Window.partitionBy("o_custkey")
    // `o_custkey < 50` is a LITERAL point predicate: ≤50 customers ×
    // ~10 orders each at ANY corpus size (TPC-H keeps orders/customer
    // constant) — a client-sized RESULT, Bounded's contract. The
    // windows still declare partitionBy(o_custkey), but running them
    // over ONE partition (numPartitions=1 satisfies any clustering)
    // removes the custkey hash exchange AND the final range exchange
    // + sampling job. `repartition(1)`, NOT `coalesce(1)` (VERDICT
    // r10): coalesce folds the SCAN into the single task too —
    // custkey stripes across orders, so at 100 TB one task would read
    // every surviving row group serially. The round-robin exchange
    // moves only the ≤~500 filtered rows while the scan+filter stay
    // split-parallel; the literal bound justifies a single-partition
    // WINDOW/SORT, never a single-task scan.
    Bounded.ordered(
      t(s, dir, "orders").filter(col("o_custkey") < 50).repartition(1)
        .select(col("o_custkey"), col("o_orderkey"),
          row_number().over(byCust.orderBy(col("o_totalprice").desc, col("o_orderkey"))).as("rn"),
          rank().over(byCust.orderBy(col("o_orderstatus"))).as("rk"),
          sum(col("o_totalprice").cast("decimal(12,2)")).over(byCust).cast("double").as("csum")),
      col("o_custkey"), col("o_orderkey"))
  }

  val q23CreateInsert: Op = Op.sql("q23_create_insert",
    """SELECT v1, v2, v3
      |FROM (VALUES (0,4,1),(1,5,2),(2,6,3),(3,7,4),(4,8,5),(5,9,6)) t(v1,v2,v3)
      |ORDER BY v1""".stripMargin) { (s, _) =>
    // real persistent DDL+DML (slt create_table.slt / insert_table.slt
    // semantics): CREATE TABLE t1(v1 int, v2 int, v3 int), two INSERTs,
    // SELECT-back from the files on disk — the table survives the
    // session (see [[graft.sources.ManagedTables]]).
    import s.implicits._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq("v1", "v2", "v3").map(StructField(_, IntegerType)))
    ManagedTables.create(s, "graft_t1", schema)
    ManagedTables.insert(s, "graft_t1",
      Seq((0, 4, 1), (1, 5, 2), (2, 6, 3), (3, 7, 4), (4, 8, 5)).toDF("v1", "v2", "v3"))
    ManagedTables.insert(s, "graft_t1", Seq((5, 9, 6)).toDF("v1", "v2", "v3"))
    ManagedTables.read(s, "graft_t1").orderBy("v1")
  }

  /** Copy-on-write DML on a managed table: MERGE (update 1/3 of the
    * rows, insert fresh keys) then DELETE a predicate, select back
    * from disk. The oracle replays the identical relational algebra
    * (anti-join ∪ updates, then filter) straight off the source
    * parquet — so the hash check proves the staged rewrite path
    * produced exactly the algebraic result. */
  val q46MergeUpsert: Op = Op.sql("q46_merge_upsert",
    """WITH t AS (SELECT o_orderkey, o_custkey, o_totalprice
      |           FROM orders WHERE o_custkey < 100),
      |u AS (SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
      |      FROM t WHERE o_orderkey % 3 = 0
      |      UNION ALL
      |      SELECT o_orderkey + 50000000, o_custkey, CAST(77777.25 AS DOUBLE)
      |      FROM t WHERE o_orderkey % 7 = 0),
      |m AS (SELECT t.* FROM t
      |      WHERE NOT EXISTS (SELECT 1 FROM u WHERE u.o_orderkey = t.o_orderkey)
      |      UNION ALL SELECT * FROM u)
      |SELECT * FROM m WHERE NOT (o_totalprice < 50000)
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val base = t(s, dir, "orders")
      .filter(col("o_custkey") < 100)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    ManagedTables.drop("graft_m1")
    ManagedTables.create(s, "graft_m1", base.schema)
    ManagedTables.insert(s, "graft_m1", base)
    val updates = base.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
      .unionByName(base.filter(pmod(col("o_orderkey"), lit(7)) === 0)
        .select((col("o_orderkey") + 50000000L).as("o_orderkey"),
          col("o_custkey"), lit(77777.25).as("o_totalprice")))
    ManagedTables.merge(s, "graft_m1", updates, "o_orderkey")
    ManagedTables.delete(s, "graft_m1", col("o_totalprice") < 50000)
    ManagedTables.read(s, "graft_m1").orderBy("o_orderkey")
  }

  /** UPDATE statement over the managed warehouse (round 9 — the DML
    * face q46's MERGE/DELETE left out; reference analog: the binder's
    * update path desugars to exactly this conditional rewrite):
    * copy-on-write staged swap like every ManagedTables mutation, SET
    * expressions evaluate against the PRE-update row and cast back to
    * the stored column type so the schema cannot drift, NULL-predicate
    * rows stay untouched. The oracle recomputes the same CASE algebra
    * off the source parquet, so a rewrite that dropped, duplicated or
    * double-applied rows hash-mismatches; ManagedTablesSpec pins the
    * swap semantics (`SET a = b, b = a`) and the unknown-column
    * rejection. Decimal-exact arithmetic until the final double cast. */
  val q79Update: Op = Op.sql("q79_update",
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS price, o_orderpriority
      |  FROM orders WHERE o_orderkey < 2000)
      |SELECT o_orderkey, o_orderstatus,
      |  CAST(CASE WHEN o_orderstatus = 'O' THEN price + 5.50 ELSE price END
      |       AS DOUBLE) AS price,
      |  CASE WHEN o_orderstatus = 'O' THEN 'X-UPDATED'
      |       ELSE o_orderpriority END AS o_orderpriority
      |FROM base ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    val base = t(s, dir, "orders").filter(col("o_orderkey") < 2000)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"),
        col("o_orderpriority"))
    ManagedTables.drop("graft_u1")
    ManagedTables.create(s, "graft_u1", base.schema)
    ManagedTables.insert(s, "graft_u1", base)
    ManagedTables.update(s, "graft_u1", col("o_orderstatus") === "O",
      Seq("price" -> (col("price") + lit(BigDecimal("5.50"))),
        "o_orderpriority" -> lit("X-UPDATED")))
    ManagedTables.read(s, "graft_u1")
      .withColumn("price", col("price").cast("double"))
      .orderBy("o_orderkey")
  }

  /** SCHEMA EVOLUTION — ALTER TABLE ADD COLUMN over the managed
    * warehouse (round 10; the DDL face q23/q46/q79 left out, and the
    * capability every long-lived table needs: Delta/Iceberg ADD
    * COLUMN. Reference analog: the binder's catalog alteration path):
    * create + load a table WITHOUT the priority column, ALTER ADD
    * COLUMN (a zero-row anchor file carrying the extended schema —
    * existing data files untouched), insert a second batch WITH it,
    * read back merged. Pre-ALTER rows surface the new column as NULL
    * (never a default, never a rewrite), post-ALTER rows carry their
    * values, and the whole read is one mergeSchema scan. The oracle
    * replays the timeline in closed form (key < split ⟹ NULL), so an
    * evolution that rewrote old files, defaulted the column, or
    * dropped it from new rows hash-mismatches. ManagedTablesSpec pins
    * the rejection of duplicate ADDs and NULL-fill of post-ALTER
    * inserts that omit the column.
    *
    * Scale: ALTER is O(1) — one zero-row file; NO data rewrite at any
    * table size (the whole point vs SELECT-INTO migration). */
  val q80SchemaEvolution: Op = Op.sql("q80_schema_evolution",
    """WITH b AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS price, o_orderpriority
      |  FROM orders WHERE o_orderkey < 1500)
      |SELECT o_orderkey, o_orderstatus, CAST(price AS DOUBLE) AS price,
      |  CASE WHEN o_orderkey < 750 THEN NULL ELSE o_orderpriority END
      |    AS o_orderpriority
      |FROM b ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.{StringType, StructField}
    val base = t(s, dir, "orders").filter(col("o_orderkey") < 1500)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"),
        col("o_orderpriority"))
    ManagedTables.drop("graft_evo1")
    val v1 = base.filter(col("o_orderkey") < 750).drop("o_orderpriority")
    ManagedTables.create(s, "graft_evo1", v1.schema)
    ManagedTables.insert(s, "graft_evo1", v1)
    ManagedTables.alterAddColumn(s, "graft_evo1",
      StructField("o_orderpriority", StringType))
    ManagedTables.insert(s, "graft_evo1", base.filter(col("o_orderkey") >= 750))
    ManagedTables.read(s, "graft_evo1")
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("price").cast("double").as("price"), col("o_orderpriority"))
      .orderBy("o_orderkey")
  }

  /** TIME TRAVEL (AS OF version) over the versioned warehouse
    * ([[graft.sources.VersionedTables]]): publish v0, publish a
    * price-bumped v1, then aggregate BOTH versions from their pinned
    * snapshots — the v0 numbers must be computed from the v0
    * directory, untouched by the later write. The oracle recomputes
    * both versions from the source parquet (v0 = the slice, v1 = the
    * slice with the CASE bump), so a time-travel read that leaked the
    * newer data would hash-mismatch immediately. Decimal-exact
    * arithmetic before the final double cast. */
  val q63TimeTravel: Op = Op.sql("q63_time_travel",
    """WITH base AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey < 1000),
      |v0 AS (SELECT CAST(0 AS INTEGER) AS version, o_orderstatus,
      |         count(*) AS n, CAST(sum(price) AS DOUBLE) AS sum_price
      |       FROM base GROUP BY 2),
      |v1 AS (SELECT CAST(1 AS INTEGER) AS version, o_orderstatus,
      |         count(*) AS n,
      |         CAST(sum(CASE WHEN o_orderstatus = 'O'
      |                       THEN price + 1.00 ELSE price END) AS DOUBLE) AS sum_price
      |       FROM base GROUP BY 2)
      |SELECT version, o_orderstatus, n, sum_price
      |FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
      |ORDER BY version, o_orderstatus""".stripMargin) { (s, dir) =>
    import graft.sources.VersionedTables
    val base = t(s, dir, "orders").filter(col("o_orderkey") < 1000)
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    VersionedTables.vacuum("graft_tt")
    VersionedTables.write(s, "graft_tt", base)
    VersionedTables.write(s, "graft_tt",
      base.withColumn("price",
        when(col("o_orderstatus") === "O", col("price") + lit(BigDecimal("1.00")))
          .otherwise(col("price")).cast("decimal(12,2)")))
    def asOf(v: Int) = VersionedTables.read(s, "graft_tt", Some(v))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), sum("price").cast("double").as("sum_price"))
      .select(lit(v).as("version"), col("o_orderstatus"), col("n"), col("sum_price"))
    asOf(0).unionByName(asOf(1)).orderBy("version", "o_orderstatus")
  }

  /** SNAPSHOT DIFF / CDC (the change feed between two warehouse
    * versions — Delta CDF / Iceberg changelog; reference analog: MVCC
    * version deltas in the LSM manager): publish v0 and a mutated v1
    * to the versioned warehouse, then emit the insert/update/delete
    * rows between them via a key-keyed FULL OUTER join over the two
    * pinned snapshots. v1 drops keys ≡0 mod 97 (deletes), gains keys
    * ≡0 mod 7 (inserts) and bumps open-order prices (updates);
    * unchanged rows are filtered out, so output size is the CHANGE
    * volume, not the table. The oracle recomputes both versions from
    * the source parquet and diffs them the same way — a snapshot read
    * that leaked the other version's rows mislabels ops and
    * hash-mismatches. At 100 TB this is one sort-merge join keyed on
    * the primary key — the canonical distributed table-diff. */
  val q68SnapshotDiff: Op = Op.sql("q68_snapshot_diff",
    """WITH base AS (
      |  SELECT o_orderkey AS k, o_orderstatus AS st,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey < 2500),
      |v0 AS (SELECT * FROM base WHERE k % 7 <> 0),
      |v1 AS (SELECT k, st,
      |         CAST(CASE WHEN st = 'O' THEN price + 1.00 ELSE price END
      |              AS DECIMAL(12,2)) AS price
      |       FROM base WHERE k % 97 <> 0)
      |SELECT coalesce(b.k, a.k) AS o_orderkey,
      |  CASE WHEN b.k IS NULL THEN 'insert'
      |       WHEN a.k IS NULL THEN 'delete' ELSE 'update' END AS op,
      |  CAST(b.price AS DOUBLE) AS before_price,
      |  CAST(a.price AS DOUBLE) AS after_price
      |FROM v0 b FULL JOIN v1 a ON b.k = a.k
      |WHERE b.k IS NULL OR a.k IS NULL
      |   OR b.price <> a.price OR b.st <> a.st
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    import graft.sources.VersionedTables
    val base = t(s, dir, "orders").filter(col("o_orderkey") < 2500)
      .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
        col("o_totalprice").cast("decimal(12,2)").as("price"))
    VersionedTables.vacuum("graft_cdc")
    VersionedTables.write(s, "graft_cdc", base.filter(col("k") % 7 =!= 0))
    VersionedTables.write(s, "graft_cdc",
      base.filter(col("k") % 97 =!= 0)
        .withColumn("price",
          when(col("st") === "O", col("price") + lit(BigDecimal("1.00")))
            .otherwise(col("price")).cast("decimal(12,2)")))
    val b = VersionedTables.read(s, "graft_cdc", Some(0))
      .select(col("k").as("bk"), col("st").as("bst"), col("price").as("bprice"))
    val a = VersionedTables.read(s, "graft_cdc", Some(1))
      .select(col("k").as("ak"), col("st").as("ast"), col("price").as("aprice"))
    b.join(a, col("bk") === col("ak"), "full_outer")
      .filter(col("bk").isNull || col("ak").isNull
        || col("bprice") =!= col("aprice") || col("bst") =!= col("ast"))
      .select(coalesce(col("bk"), col("ak")).as("o_orderkey"),
        when(col("bk").isNull, "insert")
          .when(col("ak").isNull, "delete").otherwise("update").as("op"),
        col("bprice").cast("double").as("before_price"),
        col("aprice").cast("double").as("after_price"))
      .orderBy("o_orderkey")
  }

  private val csvPath = s"${State.Root}/graft_csv/nation.csv"

  val q24ReadCsv: Op = Op.sql("q24_read_csv",
    s"""SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
       |  CAST(n_regionkey AS BIGINT) AS n_regionkey
       |FROM read_csv('$csvPath', header=true)
       |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    CsvSource.materializeNationCsv(s, dir, csvPath)
    CsvSource.read(s, csvPath, header = true)
      .select(col("n_nationkey").cast("bigint").as("n_nationkey"), col("n_name"),
        col("n_regionkey").cast("bigint").as("n_regionkey"))
      .orderBy("n_nationkey")
  }

  private val badCsvPath = s"${State.Root}/graft_csv/nation_bad.csv"

  /** Malformed-row handling on the CSV ingest path (the robustness
    * half of q24 — a real feed always carries torn rows): the fixture
    * plants wrong-arity, bad-int and extra-field rows among clean
    * nation rows; Spark reads with an EXPLICIT schema under
    * DROPMALFORMED and both engines must drop exactly the planted
    * rows and keep every clean one (the oracle is DuckDB's
    * independent `ignore_errors` parse of the same bytes). Explicit
    * schema is the scale rule anyway — inference over 100 TB is a
    * full extra pass — and PERMISSIVE + `_corrupt_record` is the
    * audit-mode variant of the same reader contract. */
  val q62CsvBadRecords: Op = Op.sql("q62_csv_bad_records",
    s"""SELECT n_nationkey, n_name, n_regionkey
       |FROM read_csv('$badCsvPath', header=true,
       |  columns={'n_nationkey':'BIGINT','n_name':'VARCHAR','n_regionkey':'BIGINT'},
       |  ignore_errors=true)
       |ORDER BY n_nationkey""".stripMargin) { (s, dir) =>
    CsvSource.materializeNationCsvWithErrors(s, dir, badCsvPath)
    s.read.schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT")
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .csv(badCsvPath)
      .orderBy("n_nationkey")
  }

  private val jsonlDir = s"${State.Root}/graft_jsonl/supplier"

  /** JSONL (newline-delimited JSON) source — the interchange format
    * every LLM data pipeline ingests. The file is materialized from
    * `supplier` deterministically, read back with an EXPLICIT schema
    * (schema inference over 100 TB of JSONL is a full extra pass —
    * never rely on it at scale), and checked against DuckDB's
    * independent JSON reader parsing the same bytes. */
  val q52ReadJsonl: Op = Op.sql("q52_read_jsonl",
    s"""SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
       |  CAST(s_nationkey AS BIGINT) AS s_nationkey
       |FROM read_json_auto('$jsonlDir/*.json')
       |ORDER BY s_suppkey""".stripMargin) { (s, dir) =>
    t(s, dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
      .coalesce(1).write.mode("overwrite").json(jsonlDir)
    s.read.schema("s_suppkey BIGINT, s_name STRING, s_nationkey BIGINT")
      .json(jsonlDir)
      .select("s_suppkey", "s_name", "s_nationkey")
      .orderBy("s_suppkey")
  }

  private val orcDir = s"${State.Root}/graft_orc/orders"

  /** ORC round-trip: the second columnar format Spark ships natively.
    * A filtered projection is written to ORC, read back, and
    * aggregated; the oracle computes the same aggregate from the
    * ORIGINAL parquet — so the hash check proves the ORC write/read
    * cycle is value-exact (types, decimals, encodings). */
  val q53OrcRoundtrip: Op = Op.sql("q53_orc_roundtrip",
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM orders WHERE o_custkey < 50
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    t(s, dir, "orders").filter(col("o_custkey") < 50)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .write.mode("overwrite").orc(orcDir)
    s.read.orc(orcDir)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast("decimal(12,2)")).cast("double").as("sum_price"))
      .orderBy("o_orderstatus")
  }

  val q25QueryTables: Op = Op.sql("q25_query_tables", Catalog.tablesOracleSql) { (s, dir) =>
    Catalog.queryTables(s, dir).orderBy("table_name")
  }

  val q26QueryColumns: Op = Op.sql("q26_query_columns", Catalog.columnsOracleSql) { (s, dir) =>
    Catalog.queryColumns(s, dir).orderBy("table_name", "ordinal")
  }

  val q27Explain: Op = Op.rowsOnly("q27_explain") { (s, dir) =>
    import s.implicits._
    val plan = q1Agg.run(s, dir).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    plan.split("\n").toSeq.zipWithIndex
      .map { case (l, i) => (i + 1, l) }.toDF("line_no", "line")
  }

  val q28TopNAgg: Op = Op.sql("q28_topn_agg",
    """SELECT o_custkey, CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS tot
      |FROM orders GROUP BY o_custkey
      |ORDER BY tot DESC, o_custkey LIMIT 10""".stripMargin) { (s, dir) =>
    // sized one-job pin: MEASURED NEGATIVE (r12, two interleaved A/B
    // batches): 2 jobs → 1, but +17%/+24% wall — the 150k-key agg
    // exchange at the static 8-partition floor pays more per-task
    // constant than AQE's 1-2 coalesced partitions plus its one
    // stage job. AQE's coalescing IS the right shape for a 1.2 MB
    // shuffle; keep it.
    t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(sumScaled(col("o_totalprice"), 2).cast("double").as("tot"))
      .orderBy(col("tot").desc, col("o_custkey"))
      .limit(10)
  }

  val q29NullSemantics: Op = Op.sql("q29_null_semantics",
    """WITH t(id, a, b) AS (VALUES (1, 1, 10), (2, 2, NULL),
      |                            (3, NULL, 30), (4, NULL, NULL))
      |SELECT id, a, b, a + b AS add_e, a * b AS mul_e,
      |  a = b AS eq_e, a > b AS gt_e,
      |  (a > 1 AND b > 10) AS and_e, (a > 1 OR b > 10) AS or_e,
      |  NOT (a > 1) AS not_e, coalesce(a, b, 0) AS coal,
      |  (a IS NULL) AS a_null, (a IS DISTINCT FROM b) AS dist
      |FROM t ORDER BY id""".stripMargin) { (s, _) =>
    // three-valued logic + NULL propagation through arithmetic /
    // comparison / conjunction (reference: scalar_function.slt,
    // comparison_function.slt, conjunction_function.slt on nullable
    // columns)
    import s.implicits._
    val t = Seq((1, Some(1), Some(10)), (2, Some(2), None),
      (3, None, Some(30)), (4, Option.empty[Int], Option.empty[Int]))
      .toDF("id", "a", "b")
    t.select(col("id"), col("a"), col("b"),
      (col("a") + col("b")).as("add_e"), (col("a") * col("b")).as("mul_e"),
      (col("a") === col("b")).as("eq_e"), (col("a") > col("b")).as("gt_e"),
      (col("a") > 1 && col("b") > 10).as("and_e"),
      (col("a") > 1 || col("b") > 10).as("or_e"),
      (!(col("a") > 1)).as("not_e"),
      coalesce(col("a"), col("b"), lit(0)).as("coal"),
      col("a").isNull.as("a_null"),
      (!(col("a") <=> col("b"))).as("dist"))
      .orderBy("id")
  }

  /** Correlated scalar subqueries (reference: tests/slt/subquery.slt's
    * correlated forms): orders priced above their customer's average.
    * The predicate is the tie-exact formulation `price * n > sum`
    * (≡ price > sum/n) — comparing exact decimals instead of a
    * divided average, so boundary rows (every single-order customer
    * hits price*1 == sum exactly) resolve identically on both
    * engines and on every run. Catalyst decorrelates both subqueries
    * into one aggregate + join rather than per-row re-execution. */
  private val q32Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders o
      |WHERE CAST(o_totalprice AS DECIMAL(12,2))
      |      * (SELECT count(*) FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |      > (SELECT sum(CAST(o_totalprice AS DECIMAL(12,2)))
      |         FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o_orderkey""".stripMargin

  val q32CorrelatedSubquery: Op = Op.sql("q32_correlated_subquery", q32Sql) { (s, dir) =>
    SqlOver(s, q32Sql, "orders" -> t(s, dir, "orders"))
  }

  /** Hot-key salted join ([[Skew.saltedJoin]]): result-identical to
    * the plain equi-join — which is exactly what the oracle checks
    * (salting is a pure physical redistribution, 8× hot-key
    * parallelism for |right|·(salts−1) extra shuffle volume). The
    * explicit fallback for the skew AQE can't split (shuffled-hash
    * joins, skewed aggregations). */
  val q33SkewSaltedJoin: Op = Op.sql("q33_skew_salted_join",
    """SELECT o_orderkey, c_name
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |WHERE o_totalprice > 200000
      |ORDER BY o_orderkey""".stripMargin) { (s, dir) =>
    Skew.saltedJoin(
      t(s, dir, "orders").filter(col("o_totalprice") > 200000),
      t(s, dir, "customer").withColumnRenamed("c_custkey", "o_custkey"),
      "o_custkey", salts = 8)
      .select("o_orderkey", "c_name")
      .orderBy("o_orderkey")
  }

  /** Skew-proof two-phase aggregation (`Skew.saltedAgg`): lineitem
    * grouped by l_returnflag — 3 distinct keys over millions of rows
    * is the pathological aggregation skew shape (3 reduce tasks do
    * ALL the work). The salt spreads each key over 8 sub-keys for the
    * partial phase; the final phase re-aggregates 3×8 rows. Decimal
    * partials make the two-phase sum EXACTLY equal to the one-phase
    * oracle (associativity — SURVEY §5), which is the whole proof
    * that salting is semantics-free. */
  val q51SaltedAgg: Op = Op.sql("q51_salted_agg",
    """SELECT l_returnflag, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    // partial pass (the per-row hot path over all of lineitem) sums in
    // primitive long via SumScaledExact; the finalize sum folds only
    // |groups|x8 exact decimal partials — per-buffer Decimal cost, not
    // per-row
    Skew.saltedAgg(t(s, dir, "lineitem"), "l_returnflag", salts = 8,
      partial = Seq(count(lit(1)).as("_c"),
        sumScaled(col("l_quantity"), 2).as("_s")),
      finalize = Seq(sum("_c").cast("bigint").as("n"),
        sum("_s").cast("double").as("sum_qty")))
      .orderBy("l_returnflag")
  }

  /** Multi-level aggregation in one pass: ROLLUP emits (flag,status),
    * (flag, total) and grand-total rows from a single shuffle —
    * Spark expands the grouping sets map-side, so the 100 TB scan
    * happens once, not once per level. */
  val q37Rollup: Op = Op.sql("q37_rollup",
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sumScaled(col("l_quantity"), 2).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Referential-integrity audit across the star schema: orphan
    * foreign keys per relationship via anti joins — the standing
    * data-quality check any warehouse runs after ingest. Each arm is
    * an independent anti join (broadcast or shuffled by size); the
    * union of five 1-row aggregates is driver-free. */
  val q38IntegrityAudit: Op = Op.sql("q38_integrity_audit",
    """SELECT * FROM (
      |  SELECT 'customer->nation' AS fk, count(*) AS n_orphans
      |  FROM customer c WHERE NOT EXISTS (
      |    SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
      |  UNION ALL
      |  SELECT 'lineitem->orders', count(*) FROM lineitem l WHERE NOT EXISTS (
      |    SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
      |  UNION ALL
      |  SELECT 'lineitem->part', count(*) FROM lineitem l WHERE NOT EXISTS (
      |    SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
      |  UNION ALL
      |  SELECT 'lineitem->supplier', count(*) FROM lineitem l WHERE NOT EXISTS (
      |    SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
      |  UNION ALL
      |  SELECT 'orders->customer', count(*) FROM orders o WHERE NOT EXISTS (
      |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
      |) ORDER BY fk""".stripMargin) { (s, dir) =>
    def orphans(fk: String, child: DataFrame, parent: DataFrame,
                ck: String, pk: String): DataFrame =
      child.join(parent, col(ck) === col(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(fk).as("fk"), col("n_orphans"))
    Seq(
      orphans("customer->nation", t(s, dir, "customer"), t(s, dir, "nation"),
        "c_nationkey", "n_nationkey"),
      orphans("lineitem->orders", t(s, dir, "lineitem"), t(s, dir, "orders"),
        "l_orderkey", "o_orderkey"),
      orphans("lineitem->part", t(s, dir, "lineitem"), t(s, dir, "part"),
        "l_partkey", "p_partkey"),
      orphans("lineitem->supplier", t(s, dir, "lineitem"), t(s, dir, "supplier"),
        "l_suppkey", "s_suppkey"),
      orphans("orders->customer", t(s, dir, "orders"), t(s, dir, "customer"),
        "o_custkey", "c_custkey")
    ).reduce(_.unionAll(_)).orderBy("fk")
  }

  /** Fixed-width histogram of order values — profiling without a
    * sort: bucket = floor(x / width), one hash-agg. Bucket bounds
    * are exact decimal, so bars match DuckDB digit-for-digit. */
  val q39Histogram: Op = Op.sql("q39_histogram",
    """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
      |  count(*) AS n,
      |  CAST(min(o_totalprice) AS DOUBLE) AS lo,
      |  CAST(max(o_totalprice) AS DOUBLE) AS hi
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupBy(floor(col("o_totalprice") / 50000).cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("n"),
        min("o_totalprice").cast("double").as("lo"),
        max("o_totalprice").cast("double").as("hi"))
      .orderBy("bucket")
  }

  /** Semi-structured extraction: pull typed values out of the JSON
    * `props` column (both a per-event path extraction and a schema'd
    * `from_json` parse feeding an aggregation — the two ways a Spark
    * pipeline consumes embedded JSON). Shuffle only for the final
    * small agg. */
  val q36JsonExtract: Op = Op.sql("q36_json_extract",
    """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
      |       count(*) AS n,
      |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
      |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events
      |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
    val k = from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType)))).getField("k")
    t(s, dir, "events")
      .select(get_json_object(col("props"), "$.k").cast("bigint").as("k_path"),
        k.as("k_schema"))
      // both extraction routes must agree — fold that check into the
      // plan rather than a separate spec
      .select(when(col("k_path") === col("k_schema"), col("k_path")).as("k"))
      .groupBy(pmod(col("k"), lit(10)).as("k_bucket"))
      .agg(count(lit(1)).as("n"), min("k").as("min_k"), max("k").as("max_k"))
      .orderBy("k_bucket")
  }

  /** Correlated LATERAL subquery in FROM (round 8) — the remaining
    * subquery shape after q14 (scalar) and q32 (correlated WHERE):
    * per outer row, an ordered-and-limited dependent subquery. The
    * per-group top-n it expresses here decorrelates to the same
    * ranked-window plan as q28's top-n aggregation (Catalyst's
    * DecorrelateInnerQuery), so the lateral SYNTAX costs nothing at
    * scale — one keyed shuffle on the correlation key, no
    * nested-loop. Same SQL text runs on both engines. */
  private val q76Sql =
    """SELECT n.n_nationkey, t.c_custkey, t.c_acctbal
      |FROM nation n, LATERAL (
      |  SELECT c_custkey, c_acctbal FROM customer c
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
      |ORDER BY n_nationkey, c_custkey""".stripMargin

  val q76LateralTopn: Op = Op.sql("q76_lateral_topn", q76Sql) { (s, dir) =>
    SqlOver(s, q76Sql, "nation" -> t(s, dir, "nation"), "customer" -> t(s, dir, "customer"))
  }

  val all: Seq[Op] = Seq(q1Agg, q2FilterProject, q3JoinInner, q4JoinLeft,
    q5JoinRight, q6JoinFull, q7JoinSemi, q8JoinAnti, q9CrossJoin,
    q10MultiJoin, q11OrderLimitOffset, q12Distinct, q13AggDistinct,
    q14ScalarSubquery, q15DerivedTable, q16Expressions, q17StringFuncs,
    q18DateInterval, q19ValuesScan, q20Having, q21SetOps, q22WindowFuncs,
    q23CreateInsert, q24ReadCsv, q62CsvBadRecords, q25QueryTables, q26QueryColumns,
    q27Explain, q28TopNAgg, q29NullSemantics, q32CorrelatedSubquery,
    q33SkewSaltedJoin, q36JsonExtract, q37Rollup, q38IntegrityAudit,
    q39Histogram, q46MergeUpsert, q63TimeTravel, q68SnapshotDiff, q51SaltedAgg,
    q52ReadJsonl, q53OrcRoundtrip, q76LateralTopn, q79Update,
    q80SchemaEvolution)
}
