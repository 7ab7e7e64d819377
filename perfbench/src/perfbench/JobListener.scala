package perfbench

import org.apache.spark.Success
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Job, stage and task events of the benchmark's own SparkSession, collected
  * without any tracing inside the program. Registered only in traced runs. */
final class JobListener extends SparkListener {
  import JobListener._

  private val jobs = ArrayBuffer.empty[Job]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, Stage]
  private val tasks = ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = Stage(i.stageId, i.name, i.submissionTime.getOrElse(-1L), -1L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val s = stages.getOrElseUpdate(i.stageId, Stage(i.stageId, i.name, i.submissionTime.getOrElse(-1L), -1L))
    s.end = i.completionTime.getOrElse(-1L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    tasks += Task(e.stageId, info.launchTime, info.finishTime,
      if (m == null) 0L else m.executorRunTime,
      if (m == null) 0L else m.executorCpuTime,
      if (m == null) 0L else m.jvmGCTime,
      if (m == null) 0L else m.outputMetrics.recordsWritten,
      if (m == null) 0L else m.outputMetrics.bytesWritten,
      e.reason == Success)
  }

  def reset(): Unit = synchronized { jobs.clear(); stages.clear(); tasks.clear() }

  /** Events arrive on Spark's listener bus after the action returns; wait
    * until every started job has delivered its end event (the bus is FIFO,
    * so its task and stage events were delivered before it). */
  def awaitQuiet(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (synchronized(jobs.exists(_.end < 0)) && System.currentTimeMillis() < deadline) Thread.sleep(5)
    require(synchronized(!jobs.exists(_.end < 0)), "listener bus did not deliver every job end")
  }

  def snapshot(): (Seq[Job], Seq[Stage], Seq[Task]) = synchronized {
    (jobs.map(_.copy()).toSeq, stages.values.map(_.copy()).toSeq, tasks.toSeq)
  }
}

object JobListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final case class Stage(id: Int, name: String, var start: Long, var end: Long)
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      recordsWritten: Long, bytesWritten: Long, ok: Boolean)
}

/** What one ExtractMain.run looked like from the listener. */
final case class RunProfile(
    writeJobS: Double,
    auditS: Double,
    commitS: Double,
    readbackFallbacks: Int,
    tasks: Int,
    taskP50S: Double,
    taskMaxS: Double,
    runCoreS: Double,
    cpuCoreS: Double,
    gcCoreS: Double,
    recordsWritten: Long,
    bytesWritten: Long,
    taskFailures: Int)

object RunProfile {

  /** Classify the jobs of one `ExtractMain.run` (called at `t0Ms`, returned at
    * `t1Ms`, epoch ms) and record them as spans under the root span
    * `ExtractMain.run`: job → stage → task.
    *
    * The write job is the one whose tasks wrote records; every job after it
    * belongs to the exactly-once audit, and a `collect` among them is the
    * readback fallback (`ExtractMain.readbackStats`); the driver time after
    * the last job is the commit of the unit manifests. */
  def of(l: JobListener, t0Ms: Long, t1Ms: Long, tracer: Tracer, trace: Long): RunProfile = {
    val (jobs, stages, tasks) = l.snapshot()
    val ms = 1000000L
    val root = tracer.add(-1, trace, "ExtractMain.run", t0Ms * ms, t1Ms * ms)
    val stageById = stages.map(s => s.id -> s).toMap
    for (j <- jobs) {
      val jid = tracer.add(root, trace, "job", j.start * ms, j.end * ms)
      for (sid <- j.stages; s <- stageById.get(sid) if s.start >= 0) {
        val sp = tracer.add(jid, trace, "stage", s.start * ms, s.end * ms)
        for (t <- tasks if t.stage == sid) tracer.add(sp, trace, "task", t.launch * ms, t.finish * ms)
      }
    }
    val writeStages = tasks.filter(_.recordsWritten > 0).map(_.stage).toSet
    val write = jobs.filter(_.stages.exists(writeStages)).sortBy(_.start).headOption
      .getOrElse(throw new IllegalStateException("no job of ExtractMain.run wrote records"))
    val wt = tasks.filter(t => write.stages.contains(t.stage))
    val after = jobs.filter(_.start >= write.end)
    val lastEnd = (write.end +: after.map(_.end)).max
    val fallbacks = after.count(j => j.stages.flatMap(stageById.get).exists(_.name.startsWith("collect at")))
    val durS = wt.map(t => (t.finish - t.launch) / 1e3).sorted
    RunProfile(
      writeJobS = (write.end - write.start) / 1e3,
      auditS = (lastEnd - write.end) / 1e3,
      commitS = (t1Ms - lastEnd) / 1e3,
      readbackFallbacks = fallbacks,
      tasks = wt.length,
      taskP50S = if (durS.isEmpty) 0.0 else durS((durS.length - 1) / 2),
      taskMaxS = if (durS.isEmpty) 0.0 else durS.last,
      runCoreS = wt.map(_.runMs).sum / 1e3,
      cpuCoreS = wt.map(_.cpuNs).sum / 1e9,
      gcCoreS = wt.map(_.gcMs).sum / 1e3,
      recordsWritten = wt.map(_.recordsWritten).sum,
      bytesWritten = wt.map(_.bytesWritten).sum,
      taskFailures = tasks.count(!_.ok))
  }
}
