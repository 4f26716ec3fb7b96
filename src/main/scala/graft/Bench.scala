package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Benchmark main: times the headline operator set (SURVEY §6) at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line.
  *
  * Queries are forced through a per-partition drain of the executed
  * plan's row iterator — unlike `count()`, that materializes every
  * projected column (count lets Catalyst prune the payload and would
  * overstate throughput) while writing nothing; unlike the `noop`
  * datasource sink used through r10, it skips the DataSourceV2 commit
  * protocol's measured ~15-50 ms/query fixed overhead that no
  * engine's native result path pays (see `exec`). One untimed warmup
  * amortizes JVM/codegen startup, which a long-running cluster job
  * wouldn't pay per-query.
  *
  * DELIVERY CONVENTION (r12, ADVICE r11): both engines are timed
  * delivery-free — this drain consumes fully-built unsafe rows on the
  * executors without driver delivery, and the DuckDB baseline
  * (tools/baseline_duckdb.py) consumes through CREATE TEMP TABLE AS,
  * materializing every output column engine-side with no Python-object
  * conversion. The r11 baseline's fetchall() charged DuckDB +9 ms
  * (q2, 2k rows) to +48 ms (stream_sessionize, 9.5k rows) of delivery
  * Spark never paid; BASELINE_TIMES.json carries the convention in its
  * "consume" field so each artifact is self-describing.
  *
  * ACCEPTANCE GATE (r12, VERDICT r11 task 2): a headline artifact is
  * only honest from a quiet host. A full (non-subset) run first waits
  * up to SPARK_GRAFT_QUIET_WAIT_S (default 240 s) for 1-minute loadavg
  * ≤ SPARK_GRAFT_MAX_LOAD (default 1.5), then stamps the emitted JSON
  * with "accepted": true/false — loadavg_start ≤ gate AND
  * floor_before < 0.06 s — so exactly one criterion decides which
  * number counts and a loaded-host run can never masquerade as the
  * round's headline number.
  *
  * FLOOR DEFINITION (r12, VERDICT r11 task 3): "adjusted" ratios
  * subtract floor_before (the pre-run measurement) — the CONSERVATIVE
  * reading, since the start-of-run floor still carries C2-compilation
  * tail and is never smaller than the warm floor. Both floors stay in
  * the JSON; cross-round comparisons of adjusted numbers must use
  * floor_before on both sides (r10's 2.36x and r11's 2.59x were
  * computed against different floor definitions — see SURVEY §6).
  *
  * CODEGEN COMPILES: "codegen_compiles" maps each timed query to the
  * classes Spark compiled over its 3 reps, and "codegen_compiles_total"
  * is the run's whole count (warmup and floors included), so codegen
  * cache misses show in the artifact (see graft.api.GraftSession).
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q1_agg", "q2_filter_project", "q10_multi_join", "q28_topn_agg",
    "q22_window_funcs", "q30_range_join", "q31_asof_join",
    "kv_compact", "kv_range_scan", "dedup_exact",
    "dedup_minhash_lsh", "dedup_simhash", "dedup_embedding",
    "ann_topk_brute", "ann_lsh", "ann_ivf",
    "text_quality", "text_tokens", "text_fingerprint", "stats_sketch",
    "stream_window_agg", "stream_sessionize")

  /** Second recorded tier (VERDICT r9 task 4): one representative per
    * non-headline family, so a perf regression in the other 235
    * correctness-gated ops is visible round over round — vec family
    * (vec_gram's mapPartitions Gram accumulation + checkpoint), graph
    * (per-round join iteration), stats (permutation's ×R expansion),
    * KV write path (WAL replay), multimodal (patchify), and the
    * composed end-to-end pipeline. Same min-of-3 discipline; no
    * DuckDB baseline row (these families have no committed analog) —
    * the tier tracks REGRESSION against prior rounds, not a ratio. */
  val tier2: Seq[String] = Seq(
    "vec_gram", "graph_components", "stats_permutation",
    "kv_wal_replay", "mm_patchify", "pipeline_e2e")

  private def loadavg1m: Option[String] =
    try Some(java.nio.file.Files
      .readString(java.nio.file.Paths.get("/proc/loadavg")).split("\\s+")(0))
    catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    // quiet-host wait (full runs only — subset A/B iteration shouldn't
    // block): poll until 1-min loadavg clears the acceptance gate or
    // the wait budget runs out, so the recorded loadavg_start is the
    // run's ACTUAL starting condition, not a leftover burst
    val maxLoad = Env.num("SPARK_GRAFT_MAX_LOAD", "1.5")(_.toDouble)
    if (args.isEmpty) {
      val deadline = System.nanoTime() +
        Env.num("SPARK_GRAFT_QUIET_WAIT_S", "240")(_.toLong) * 1000000000L
      while (loadavg1m.exists(_.toDouble > maxLoad) && System.nanoTime() < deadline) {
        System.err.println(s"[bench] waiting for loadavg <= $maxLoad " +
          s"(now ${loadavg1m.getOrElse("?")})")
        Thread.sleep(15000)
      }
    }
    // loadavg BEFORE the bench runs: the end-of-run reading includes
    // the bench's own 32-core bursts, so host quietness is only
    // attributable from the start marker (r9's "creep" was this)
    val loadStart = loadavg1m
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Env.num("SPARK_GRAFT_CPUS", "32")(_.toInt)
    val spark = graft.api.GraftSession
      .builder("graft-bench", s"local[$cpus]", Some(cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Force FULL materialization of every projected column by
    // draining the executed plan's row iterator per partition: the
    // unsafe rows arrive fully built (whole-stage codegen writes all
    // projected columns before emitting), so this is exactly the work
    // the previous `noop` datasource sink measured MINUS the
    // DataSourceV2 commit protocol + SQLExecution wrapper, which cost
    // a measured ~15-50 ms of per-query fixed overhead that no query
    // engine's native sink pays (the DuckDB baseline's fetchall()
    // materializes every row too — into Python objects, strictly
    // more work). The floor below is measured with the SAME action,
    // so adjusted ratios are unaffected; only the harness constant
    // shrinks. count() remains wrong for this purpose (Catalyst
    // prunes the payload columns).
    def exec(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.toRdd.foreachPartition(it => while (it.hasNext) it.next())

    try exec("q1_agg") // warmup (untimed)
    catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }

    // fixed per-query cost of this harness (job scheduling, codegen,
    // noop commit — everything EXCEPT the query's own work), measured
    // the same way the queries are: min-of-3 of a one-row plan. At
    // sf0.1 this floor dominates the small queries; on a long-running
    // cluster job it's paid once per stage, not per query, so
    // baseline ratios should be read as (spark - floor) / duckdb.
    // guarded like the warmup: a floor-measurement failure must not
    // abort the whole bench — 0.0 just means "no floor correction"
    def measureFloor(): Double =
      // 12 reps (r12; was 5): the floor is defined as the harness's
      // STEADY-STATE per-query constant, but at run start the first
      // several one-row plans still pay C2 compilation of the
      // scheduler path — min-of-5 read 0.06-0.10 s on runs whose
      // steady floor is 0.02-0.03 s, tripping the acceptance gate on
      // genuinely quiet hosts. More reps converge the min to the
      // constant the adjustment is meant to subtract.
      try (1 to 12).map { _ =>
        val t0 = System.nanoTime()
        spark.range(1).toDF().queryExecution.toRdd
          .foreachPartition(it => while (it.hasNext) it.next())
        (System.nanoTime() - t0) / 1e9
      }.min
      catch { case e: Throwable => System.err.println(s"[bench] floor: $e"); 0.0 }
    // floor BEFORE and AFTER the measured queries, min reported
    // (r11): at bench start the JVM has seen one warmup query, and
    // C2 compilation of the scheduler path is still in flight — the
    // start-floor measured 0.07-0.11 s on runs whose steady state is
    // ~0.03 s, overstating the very constant it subtracts. The
    // post-run floor is the fixed cost the later queries actually
    // paid; both readings are recorded.
    //
    // FLOOR-CONVERGENCE WAIT (r13): loadavg clears minutes before the
    // sandbox's burstable-CPU credits refill, so r12's driver run
    // started at loadavg 1.44 but floor 0.144 — self-rejected by its
    // own gate and every query time inflated 2-6x by the throttle.
    // For full (non-subset) runs, if the start floor misses the 0.06
    // acceptance gate, sleep and re-probe within its own bounded
    // budget (SPARK_GRAFT_FLOOR_WAIT_S, default 300 s) until the
    // probe clears or the budget runs out. Timing methodology is
    // unchanged — this only moves WHEN the measured run starts, the
    // same role as the loadavg wait above; a run that never clears is
    // still emitted, still stamped "accepted": false.
    val floorBefore = {
      var f = measureFloor()
      if (args.isEmpty) {
        val floorDeadline = System.nanoTime() +
          Env.num("SPARK_GRAFT_FLOOR_WAIT_S", "300")(_.toLong) * 1000000000L
        while (f >= 0.06 && System.nanoTime() < floorDeadline) {
          System.err.println(f"[bench] floor $f%.3f >= 0.06 gate, waiting for CPU credits")
          Thread.sleep(20000)
          f = measureFloor()
        }
      }
      f
    }

    // min of 3 runs: steady-state throughput (what a warm cluster
    // job sees), not first-run codegen/JIT compilation or a stray
    // GC/load spike. A query that fails every run is NOT timed (its
    // time-to-failure is not a throughput) — it lands in the
    // "errors" field instead.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // classes each query's 3 reps compiled (Spark's JVM-wide codegen
    // counter): with the codegen cache holding the working set only the
    // first rep compiles, so a larger count means the cache evicted the
    // query's own classes between reps
    val compiles = scala.collection.mutable.LinkedHashMap[String, Long]()
    def compileCount: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def minOf3(names: Seq[String]): Seq[(String, Double)] = names.flatMap { name =>
      val compilesBefore = compileCount
      val times = (1 to 3).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          exec(name)
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name: $e")
            errors.getOrElseUpdate(name,
              e.toString.replaceAll("[\\\\\"\\n\\r\\t]", " ").take(200))
            None
        }
      }
      compiles(name) = compileCount - compilesBefore
      times.minOption.map(name -> _)
    }
    // optional args: bench only these names (local A/B iteration);
    // the recorded artifact always runs the full headline + tier2.
    // Unknown names fail fast: a typo'd subset would otherwise emit
    // an empty-but-valid JSON line and mislead an A/B comparison.
    val only = args.toSet
    val unknown = only -- headline.toSet -- tier2.toSet
    require(unknown.isEmpty,
      s"unknown bench op(s): ${unknown.mkString(", ")} — " +
        s"valid names are Bench.headline ++ Bench.tier2")
    val results = minOf3(if (only.isEmpty) headline else headline.filter(only))
    val tier2Results = minOf3(if (only.isEmpty) tier2 else tier2.filter(only))
    val floorAfter = measureFloor()
    val noopFloor = math.min(floorBefore, floorAfter)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val t2Json = tier2Results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString(",\"tier2\":{", ",", "}")
    val total = results.map(_._2).sum
    val compilesJson = compiles.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString(",\"codegen_compiles\":{", ",", "}") +
      s""","codegen_compiles_total":$compileCount"""
    val errJson =
      if (errors.isEmpty) ""
      else errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
        .mkString(",\"errors\":{", ",", "}")
    // numeric baseline: the DuckDB oracle's wall-times for the same
    // headline queries at sf0.1 (min-of-3, all cores — the same
    // hardware budget), measured by tools/baseline_duckdb.py and
    // committed as BASELINE_TIMES.json. Embedded verbatim so each
    // BENCH_r*.json is self-contained and the 2x gate is falsifiable.
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE",
      "BASELINE_TIMES.json")
    val baseJson =
      try {
        val raw = java.nio.file.Files
          .readString(java.nio.file.Paths.get(baselinePath)).trim
        if (raw.startsWith("{")) s""","baseline":$raw""" else ""
      } catch { case _: Throwable => "" }
    // load markers: start (host quietness — what cross-round swings
    // attribute to) and end (includes the bench's own 32-core bursts)
    val loadJson =
      loadStart.map(l => s""","loadavg_start":$l""").getOrElse("") +
        loadavg1m.map(l => s""","loadavg1m":$l""").getOrElse("")
    // acceptance stamp (see scaladoc): the single criterion deciding
    // whether this run may serve as the round's headline artifact
    val accepted = loadStart.forall(_.toDouble <= maxLoad) && floorBefore < 0.06
    val gateJson = s""","accepted":$accepted,"accept_gate":""" +
      s"""{"max_loadavg_start":$maxLoad,"max_floor_before":0.06},""" +
      s""""floor_definition":"adjusted = (spark - floor_before*n)/duckdb""""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs$t2Json,"sf":"$sfDir","spark_noop_floor":$noopFloor,"floor_before":$floorBefore,"floor_after":$floorAfter$compilesJson$gateJson$errJson$baseJson$loadJson}"""
    println(line)
    // also land the line in a file: sbt prefixes forked stdout with
    // "[info] ", which the driver's JSON parse tripped over in round 1
    // subset A/B runs land in a separate default file:
    // tools/baseline_duckdb.py learns the headline list from
    // target/bench.json's keys, so a subset run overwriting it would
    // silently shrink a later baseline re-measure
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      if (only.isEmpty) "target/bench.json"
      else "target/bench_subset.json")
    Option(java.nio.file.Paths.get(outFile).getParent)
      .foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    spark.stop()
  }
}
