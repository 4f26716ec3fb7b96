package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Scheduler and task records of a traced run.
  *
  * The harness tags every phase of an op call with the local property
  * [[Tracer.Key]] (`c<call>:<phase>`); Spark copies local properties
  * into each job it submits, so a job is attributed to the call and
  * phase that launched it even though listener events arrive later, on
  * the listener bus thread. Attached only for the traced rounds of a
  * traced run: untraced rounds and runs carry no listener. */
final class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, Stage]()
  private val tasks = mutable.HashMap[Int, mutable.ArrayBuffer[Task]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
      .getOrElse("")
    jobs(e.jobId) = Job(e.jobId, tag, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = Stage(i.stageId, i.parentIds,
      i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val t =
      if (m == null) Task(e.taskInfo.duration, 0L, 0L, 0L, 0L, 0L, 0L)
      else Task(e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    tasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) += t
  }

  /** Block until every event posted before this call has been
    * delivered: a marker job's end event is queued behind them. */
  def await(sc: SparkContext): Unit = {
    val tag = s"marker:${System.nanoTime()}"
    val prev = sc.getLocalProperty(Tracer.Key)
    sc.setLocalProperty(Tracer.Key, tag)
    sc.parallelize(Seq(1), 1).count()
    sc.setLocalProperty(Tracer.Key, prev)
    val deadline = System.nanoTime() + 30L * 1000000000L
    def done = synchronized(jobs.values.exists(j => j.tag == tag && j.endMs >= 0))
    while (!done && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Scheduler and exec layer counters of one op call, plus its job
    * and stage spans. `execStartMs`/`execWallS` bound the call's exec
    * phase: job gaps and the critical path are read inside it. */
  def summarize(call: Long, execStartMs: Long, execWallS: Double)
      : (Map[String, Any], Seq[Map[String, Any]]) = synchronized {
    val prefix = s"c$call:"
    val own = jobs.values.filter(_.tag.startsWith(prefix)).toSeq
    val ranStages = own.flatMap(_.stageIds).distinct.filter(stages.contains)
    val stageTasks = ranStages.map(s => s -> tasks.getOrElse(s, Seq.empty).toSeq).toMap
    val allTasks = stageTasks.values.flatten.toSeq
    // critical path of a job: the longest chain through its stage DAG,
    // each stage weighted by its slowest task
    def stageWeight(s: Int): Double =
      stageTasks.getOrElse(s, Seq.empty).map(_.durMs).maxOption.getOrElse(0L) / 1e3
    def jobCritical(j: Job): Double = {
      val inJob = j.stageIds.filter(stages.contains).toSet
      val memo = mutable.HashMap[Int, Double]()
      def longest(s: Int): Double = memo.getOrElseUpdate(s,
        stageWeight(s) + stages(s).parents.filter(inJob).map(longest).maxOption.getOrElse(0.0))
      inJob.map(longest).maxOption.getOrElse(0.0)
    }
    val execJobs = own.filter(_.tag == s"${prefix}exec").sortBy(_.startMs)
    val gap = execJobs.headOption.map(j => math.max(0L, j.startMs - execStartMs) / 1e3)
      .getOrElse(0.0) + execJobs.sliding(2).collect {
        case Seq(a, b) if a.endMs >= 0 => math.max(0L, b.startMs - a.endMs) / 1e3
      }.sum
    val critical = execJobs.map(jobCritical).sum
    val skew = stageTasks.values.filter(_.size >= 2).map { ts =>
      val d = ts.map(_.durMs.toDouble).sorted
      val med = (d((d.size - 1) / 2) + d(d.size / 2)) / 2
      d.last / math.max(med, 1.0)
    }.maxOption.getOrElse(1.0)
    val summary = Map[String, Any](
      "jobs" -> own.size,
      "stages" -> ranStages.size,
      "tasks" -> allTasks.size,
      "job_gap_s" -> gap,
      "critical_path_s" -> critical,
      "overhead_s" -> math.max(0.0, execWallS - critical),
      "task_run_s" -> allTasks.map(_.runMs).sum / 1e3,
      "task_cpu_s" -> allTasks.map(_.cpuNs).sum / 1e9,
      "gc_s" -> allTasks.map(_.gcMs).sum / 1e3,
      "task_skew" -> skew,
      "shuffle_write_bytes" -> allTasks.map(_.shuffleWrite).sum,
      "shuffle_read_bytes" -> allTasks.map(_.shuffleRead).sum,
      "spill_bytes" -> allTasks.map(_.spill).sum)
    val spans = own.flatMap { j =>
      Map[String, Any]("span" -> "job", "parent" -> call,
        "phase" -> j.tag.stripPrefix(prefix), "job_id" -> j.id,
        "start_ms" -> j.startMs, "dur_s" -> (j.endMs - j.startMs) / 1e3,
        "critical_path_s" -> jobCritical(j)) +:
        j.stageIds.filter(stages.contains).map { s =>
          val st = stages(s)
          Map[String, Any]("span" -> "stage", "parent" -> s"job:${j.id}",
            "stage_id" -> s, "start_ms" -> st.submittedMs,
            "dur_s" -> (st.completedMs - st.submittedMs) / 1e3,
            "tasks" -> stageTasks.getOrElse(s, Seq.empty).size,
            "max_task_s" -> stageWeight(s))
        }
    }
    (summary, spans)
  }
}

object Tracer {
  val Key = "graftbench.span"

  final case class Job(id: Int, tag: String, startMs: Long, var endMs: Long,
                       stageIds: Seq[Int])
  final case class Stage(id: Int, parents: Seq[Int], submittedMs: Long,
                         completedMs: Long)
  final case class Task(durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleWrite: Long, shuffleRead: Long, spill: Long)
}
