package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Per-phase wall-clock attribution for a query (VERDICT r7 task 1).
  *
  * Splits one benchmarked execution into the pieces a cluster either
  * amortizes or pays per-stage, so "Nx DuckDB" ratios on sub-second
  * queries can be read against the harness floor instead of argued:
  *
  *  - construct_s: `SparkEntry.queries(name)` call — DataFrame
  *    assembly including parquet file listing + footer schema reads
  *    (paid once per table per session with the Tables cache).
  *  - analysis/optimization/planning_s: Catalyst phases from the
  *    QueryPlanningTracker of the EXECUTED (write) QueryExecution.
  *  - exec_wall_s: action wall time minus the tracked phases.
  *  - task_time_s / max_task_s / tasks / stages / jobs: from a
  *    SparkListener — `exec_wall - critical path of max tasks` is
  *    scheduler+commit overhead, the part that amortizes per stage
  *    on a long-running cluster job.
  *
  * Usage: runMain graft.Profile [sfDir] [query ...] (defaults:
  * SPARK_GRAFT_SF_DIR, q10_multi_join + kv_range_scan). Emits one
  * JSON line per query and target/profile.json with all of them.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q10_multi_join", "kv_range_scan")
    val cpus = Env.num("SPARK_GRAFT_CPUS", "32")(_.toInt)
    val spark = graft.api.GraftSession
      .builder("graft-profile", s"local[$cpus]", Some(cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // one listener, zeroed per measured run
    object L extends SparkListener {
      @volatile var jobs, stages, tasks = 0
      @volatile var taskTimeMs, maxTaskMs = 0L
      @volatile var stageCritMs = 0L // sum over stages of that stage's max task
      private val perStageMax = scala.collection.concurrent.TrieMap[Int, Long]()
      // job timeline: (jobId, submitMs, endMs) — the GAPS between
      // consecutive jobs are the driver-side constant under attack
      // (AQE re-optimization + stage submit latency), invisible in
      // task/stage sums
      val jobSpans = scala.collection.concurrent.TrieMap[Int, (Long, Long)]()
      def reset(): Unit = { jobs = 0; stages = 0; tasks = 0
        taskTimeMs = 0; maxTaskMs = 0; stageCritMs = 0
        perStageMax.clear(); jobSpans.clear() }
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs += 1
        jobSpans.update(j.jobId, (j.time, 0L))
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        jobSpans.updateWith(j.jobId)(_.map { case (s, _) => (s, j.time) })
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        stageCritMs += perStageMax.getOrElse(s.stageInfo.stageId, 0L)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        val d = Option(t.taskInfo).map(_.duration).getOrElse(0L)
        taskTimeMs += d
        if (d > maxTaskMs) maxTaskMs = d
        perStageMax.updateWith(t.stageId)(m => Some(math.max(m.getOrElse(0L), d)))
      }
    }
    spark.sparkContext.addSparkListener(L)

    // capture the write action's QueryExecution (not df.queryExecution
    // — the writer wraps the plan in a command and tracks its own
    // phases) via the public QueryExecutionListener hook
    val lastQe = new java.util.concurrent.atomic.AtomicReference[
      org.apache.spark.sql.execution.QueryExecution](null)
    spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit = lastQe.set(qe)
        override def onFailure(fn: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })

    // same action as graft.Bench (toRdd row drain, r11): profiling the
    // noop WRITE would re-add the DataSourceV2 commit constant the
    // bench deliberately excludes, making attribution disagree with
    // the artifact it explains. The tracked QueryExecution comes from
    // df.queryExecution directly (no writer wrapper anymore).
    def drain(df: org.apache.spark.sql.DataFrame): Unit = {
      val qe = df.queryExecution
      lastQe.set(qe)
      qe.toRdd.foreachPartition(it => while (it.hasNext) it.next())
    }
    // untimed priming runs before the warm pass: the bench reports
    // min-of-3, so its best run has 2+ executions of codegen/JIT
    // behind it — a single priming run still carries one-time Janino
    // compiles in the "warm" number and misattributes them as
    // scheduler gaps
    val warmups = Env.num("GRAFT_PROFILE_WARMUPS", "2")(_.toInt)
    def one(name: String, warm: Boolean): String = {
      if (!warm) { // cold pass primes codegen/JIT, untimed
        (1 to warmups).foreach(_ => drain(SparkEntry.queries(name)(spark, sfDir)))
      }
      L.reset()
      // attribute driver-side inter-job gaps: Janino whole-stage
      // compilation (cache-missed codegen) and GC pauses both stall
      // the driver between jobs without appearing in task time
      import org.apache.spark.metrics.source.CodegenMetrics
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val cgT0 = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues.sum
      val gc0 = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .stream.mapToLong(_.getCollectionTime).sum
      // 10ms stack sampler over the measured run (GRAFT_PROFILE_STACKS):
      // aggregates RUNNABLE non-executor driver frames so inter-job
      // gaps are attributable to actual driver code, not guessed
      val stackCounts = scala.collection.mutable.Map[String, Int]()
      @volatile var sampling = sys.env.contains("GRAFT_PROFILE_STACKS")
      val sampler = new Thread(() => {
        while (sampling) {
          import scala.jdk.CollectionConverters._
          Thread.getAllStackTraces.asScala.foreach { case (th, st) =>
            // main is sampled in EVERY state (a parked main with no
            // running job is exactly the mystery worth attributing —
            // the park frame's caller names the awaited future);
            // other threads only when RUNNABLE
            if ((th.getName == "main" || th.getState == Thread.State.RUNNABLE) &&
                !th.getName.contains("Executor task launch") &&
                !th.getName.contains("profile-sampler") && st.nonEmpty) {
              val frame = st.take(32).map(_.toString)
                .find(f => (f.startsWith("org.apache.spark") || f.startsWith("graft")) &&
                  !f.contains("ThreadUtils") && !f.contains("awaitResult"))
                .getOrElse(st.head.toString)
              stackCounts.synchronized {
                val k = th.getName.replaceAll("-[0-9]+$", "") + " @ " + frame
                stackCounts(k) = stackCounts.getOrElse(k, 0) + 1
              }
            }
          }
          Thread.sleep(10)
        }
      }, "profile-sampler")
      if (sampling) { sampler.setDaemon(true); sampler.start() }
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(name)(spark, sfDir)
      val t1 = System.nanoTime()
      drain(df)
      val t2 = System.nanoTime()
      sampling = false
      if (warm && stackCounts.nonEmpty) stackCounts.synchronized {
        System.err.println(s"== $name driver stacks (10ms samples) ==")
        stackCounts.toSeq.sortBy(-_._2).take(14)
          .foreach { case (k, n) => System.err.println(f"$n%4d  $k") }
      }
      val cgN = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .stream.mapToLong(_.getCollectionTime).sum - gc0
      Thread.sleep(150) // let the async listener bus drain task events
      val phases = Option(lastQe.get()).map(_.tracker.phases)
        .getOrElse(Map.empty[String,
          org.apache.spark.sql.catalyst.QueryPlanningTracker.PhaseSummary])
      def ph(k: String): Double =
        phases.get(k).map(p => (p.endTimeMs - p.startTimeMs) / 1e3).getOrElse(0.0)
      val constructS = (t1 - t0) / 1e9
      val wallS = (t2 - t1) / 1e9
      // relative job timeline: sorted spans + inter-job gaps (ms)
      val spans = L.jobSpans.toSeq.sortBy(_._1)
      val t0ms = spans.headOption.map(_._2._1).getOrElse(0L)
      val timeline = spans.map { case (id, (s, e)) =>
        s"""[$id,${s - t0ms},${if (e == 0) -1 else e - t0ms}]"""
      }.mkString("[", ",", "]")
      f"""{"query":"$name","warm":$warm,"construct_s":$constructS%.4f,""" +
        f""""analysis_s":${ph("analysis")}%.4f,"optimization_s":${ph("optimization")}%.4f,""" +
        f""""planning_s":${ph("planning")}%.4f,"exec_wall_s":$wallS%.4f,""" +
        f""""task_time_s":${L.taskTimeMs / 1e3}%.4f,"stage_critical_s":${L.stageCritMs / 1e3}%.4f,""" +
        f""""max_task_s":${L.maxTaskMs / 1e3}%.4f,"jobs":${L.jobs},"stages":${L.stages},"tasks":${L.tasks},""" +
        f""""codegen_compiles":$cgN,"gc_ms":$gcMs,"job_timeline_ms":$timeline}"""
    }

    val lines = names.flatMap { n =>
      val cold = one(n, warm = false)
      val warm = one(n, warm = true)
      Seq(cold, warm)
    }
    lines.foreach(println)
    val out = "[" + lines.mkString(",\n") + "]\n"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("target/profile.json"), out)
    spark.stop()
  }
}
