package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One op's timed window on the driver clock (epoch ms). The operator
  * call ends at `buildEndMs`; the fencing action runs after it.
  */
final case class OpWindow(name: String, startMs: Long, buildEndMs: Long, endMs: Long)

/** Collects one traced pass through Spark's public listener interfaces.
  *
  * The callbacks only record raw events. [[summarize]] attributes them to
  * ops once the session has stopped, because stopping a session drains its
  * listener bus. Jobs are attributed by the [[Tracer.OpProperty]] local
  * property set around each op; stages and tasks follow their job. Planning
  * phases, streaming queries and block updates are attributed by the op
  * window their timestamp falls in.
  */
final class Tracer {
  import Tracer._

  private case class Job(id: Int, op: String, startMs: Long, stages: Seq[Int])
  private case class Plan(startMs: Long, phases: Map[String, Long])
  private case class Progress(runId: String, durations: Map[String, Long],
                              stateRows: Long, stateBytes: Long)
  private final class StageAcc {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var delayMs = 0L; var shufWrite = 0L; var shufRead = 0L; var spill = 0L
    var peakMem = 0L; var inRows = 0L; var inBytes = 0L
    var outRows = 0L; var outBytes = 0L
    val runTimes = mutable.ArrayBuffer.empty[Long]
  }

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobEnd = mutable.Map.empty[Int, Long]
  private val submittedAt = mutable.Map.empty[Int, Long]
  private val stages = mutable.Map.empty[(Int, Int), StageAcc]
  private val plans = mutable.ArrayBuffer.empty[Plan]
  private val blocks = mutable.ArrayBuffer.empty[(Long, String, Long)]
  private val streamStarts = mutable.ArrayBuffer.empty[(String, Long)]
  private val progress = mutable.ArrayBuffer.empty[Progress]

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
      jobs += Job(e.jobId, op.getOrElse(""), e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized(jobEnd(e.jobId) = e.time)
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        submittedAt(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val acc = stages.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      val info = e.taskInfo
      acc.tasks += 1
      submittedAt.get(e.stageId).foreach(s => acc.delayMs += math.max(0L, info.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        acc.runMs += m.executorRunTime
        acc.runTimes += m.executorRunTime
        acc.cpuNs += m.executorCpuTime
        acc.gcMs += m.jvmGCTime
        acc.shufWrite += m.shuffleWriteMetrics.bytesWritten
        acc.shufRead += m.shuffleReadMetrics.totalBytesRead
        acc.spill += m.diskBytesSpilled
        acc.peakMem = math.max(acc.peakMem, m.peakExecutionMemory)
        acc.inRows += m.inputMetrics.recordsRead
        acc.inBytes += m.inputMetrics.bytesRead
        acc.outRows += m.outputMetrics.recordsWritten
        acc.outBytes += m.outputMetrics.bytesWritten
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) Tracer.this.synchronized {
        blocks += ((System.currentTimeMillis(), b.blockId.name, b.memSize + b.diskSize))
      }
    }
  }

  private[perfbench] def planned(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) synchronized {
      plans += Plan(ph.values.map(_.startTimeMs).min, ph.map { case (k, v) => k -> v.durationMs })
    }
  }

  private[perfbench] def streamStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    synchronized {
      streamStarts += ((e.runId.toString, java.time.Instant.parse(e.timestamp).toEpochMilli))
    }

  private[perfbench] def streamProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized {
      val p = e.progress
      val ops = p.stateOperators
      progress += Progress(p.runId.toString,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum)
    }

  /** Makes this the tracer that the class-registered listeners report to,
    * and returns `builder` with those listeners set. The planning and
    * streaming listeners go in by class name because the program runs some
    * queries, all its streaming queries among them, in child sessions of
    * its own (`newSession`), and a child session only gets listeners
    * registered that way.
    */
  def attach(builder: SparkSession.Builder): SparkSession.Builder = {
    Tracer.current = this
    builder
      .config("spark.sql.queryExecutionListeners", classOf[PlanTrace].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTrace].getName)
  }

  /** Registers the scheduler listener on the session's context. */
  def attach(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(scheduler)

  /** Per-op layer metrics, plus the pass totals under the key "". Call
    * only after the session has stopped.
    */
  def summarize(windows: Seq[OpWindow]): Map[String, Map[String, Double]] = synchronized {
    def opAt(t: Long): Option[String] =
      windows.find(w => t >= w.startMs && t <= w.endMs).map(_.name)
    val names = windows.map(_.name)
    val m = mutable.Map.empty[String, mutable.Map[String, Double]]
    def add(op: String, k: String, v: Double): Unit =
      m.getOrElseUpdate(op, mutable.Map.empty).updateWith(k) {
        case Some(x) => Some(x + v); case None => Some(v)
      }
    def max(op: String, k: String, v: Double): Unit =
      m.getOrElseUpdate(op, mutable.Map.empty).updateWith(k) {
        case Some(x) => Some(math.max(x, v)); case None => Some(v)
      }
    names.foreach(n => m.getOrElseUpdate(n, mutable.Map.empty))

    // scheduler and executor
    val stageOp = mutable.Map.empty[Int, String]
    val ownJobs = jobs.filter(j => names.contains(j.op))
    val buildEnd = windows.map(w => w.name -> w.buildEndMs).toMap
    ownJobs.foreach { j =>
      add(j.op, "sched.jobs", 1)
      if (j.startMs <= buildEnd(j.op)) add(j.op, "operators.build_jobs", 1)
      j.stages.foreach(s => if (!stageOp.contains(s)) stageOp(s) = j.op)
    }
    stageOp.foreach { case (s, op) =>
      add(op, "sched.stages_all", 1)
      if (!submittedAt.contains(s)) add(op, "sched.stages_skipped", 1)
    }
    stages.foreach { case ((sid, _), a) =>
      stageOp.get(sid).foreach { op =>
        add(op, "sched.stages", 1)
        add(op, "sched.tasks", a.tasks.toDouble)
        add(op, "sched.task_delay_s", a.delayMs / 1e3)
        add(op, "exec.task_s", a.runMs / 1e3)
        add(op, "exec.cpu_s", a.cpuNs / 1e9)
        add(op, "exec.gc_s", a.gcMs / 1e3)
        add(op, "exec.shuffle_write_mb", a.shufWrite / MB)
        add(op, "exec.shuffle_read_mb", a.shufRead / MB)
        add(op, "exec.spill_mb", a.spill / MB)
        max(op, "exec.peak_task_mem_mb", a.peakMem / MB)
        add(op, "sources.input_rows", a.inRows.toDouble)
        add(op, "sources.input_mb", a.inBytes / MB)
        add(op, "write.rows", a.outRows.toDouble)
        add(op, "write.mb", a.outBytes / MB)
        if (a.runTimes.size >= 2) {
          val sorted = a.runTimes.sorted
          val med = sorted(sorted.size / 2)
          if (med > 0) max(op, "exec.stage_skew", sorted.last.toDouble / med)
        }
      }
    }
    // time inside each op window during which at least one of its jobs ran
    windows.foreach { w =>
      val spans = ownJobs.filter(_.op == w.name).map { j =>
        (math.max(j.startMs, w.startMs), math.min(jobEnd.getOrElse(j.id, w.endMs), w.endMs))
      }.filter { case (a, b) => b > a }.sortBy(_._1)
      var busy = 0L; var curS = -1L; var curE = -1L
      spans.foreach { case (a, b) =>
        if (a > curE) { busy += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      busy += curE - curS
      add(w.name, "sched.busy_s", busy / 1e3)
      add(w.name, "sched.driver_gap_s", (w.endMs - w.startMs - busy) / 1e3)
    }
    // Catalyst phases of every execution, including those inside operators
    plans.foreach { p =>
      opAt(p.startMs).foreach { op =>
        add(op, "plans.executions", 1)
        add(op, "plans.analysis_s", p.phases.getOrElse("analysis", 0L) / 1e3)
        add(op, "plans.optimization_s", p.phases.getOrElse("optimization", 0L) / 1e3)
        add(op, "plans.planning_s", p.phases.getOrElse("planning", 0L) / 1e3)
      }
    }
    // cached and checkpointed blocks: resident bytes over time
    val live = mutable.Map.empty[String, Long]
    var resident = 0L
    blocks.sortBy(_._1).foreach { case (t, id, size) =>
      val prev = live.getOrElse(id, 0L)
      if (size > 0) live(id) = size else live.remove(id)
      resident += size - prev
      opAt(t).foreach { op =>
        if (size > 0 && prev == 0) add(op, "cache.blocks", 1)
        max(op, "cache.peak_mb", resident / MB)
      }
    }
    // streaming queries and their micro-batches
    val runOp = streamStarts.flatMap { case (run, t) => opAt(t).map(run -> _) }.toMap
    runOp.values.foreach(op => add(op, "stream.queries", 1))
    progress.groupBy(_.runId).foreach { case (run, ps) =>
      runOp.get(run).foreach { op =>
        def d(keys: String*) = ps.map(p => keys.map(p.durations.getOrElse(_, 0L)).sum).sum / 1e3
        add(op, "stream.batches", ps.size.toDouble)
        add(op, "stream.trigger_s", d("triggerExecution"))
        add(op, "stream.add_batch_s", d("addBatch"))
        add(op, "stream.query_planning_s", d("queryPlanning"))
        add(op, "stream.offsets_s", d("latestOffset", "getOffset", "getBatch"))
        add(op, "stream.commit_s", d("walCommit", "commitOffsets"))
        add(op, "stream.state_rows", ps.last.stateRows.toDouble)
        add(op, "stream.state_mb", ps.map(_.stateBytes).max / MB)
      }
    }

    val perOp = m.map { case (k, v) => k -> v.toMap }.toMap
    val total = mutable.Map.empty[String, Double]
    perOp.values.flatten.foreach { case (k, v) =>
      val peak = k.endsWith("peak_mb") || k.endsWith("peak_task_mem_mb") ||
        k == "exec.stage_skew"
      total.updateWith(k) {
        case Some(x) => Some(if (peak) math.max(x, v) else x + v)
        case None => Some(v)
      }
    }
    perOp + ("" -> total.toMap)
  }
}

object Tracer {
  /** Local property naming the op a job belongs to. */
  val OpProperty = "perfbench.op"
  private val MB = 1024.0 * 1024.0
  /** The tracer of the traced pass in progress, for the listeners that
    * Spark instantiates by class name.
    */
  @volatile private[perfbench] var current: Tracer = null
}

/** Forwards every execution's planning phases to the current tracer. */
final class PlanTrace extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    Option(Tracer.current).foreach(_.planned(qe))
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    Option(Tracer.current).foreach(_.planned(qe))
}

/** Forwards streaming query starts and progress to the current tracer. */
final class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Option(Tracer.current).foreach(_.streamStarted(e))
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    Option(Tracer.current).foreach(_.streamProgress(e))
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
