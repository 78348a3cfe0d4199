package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed operation: a search request or append, a build step, or a
  * registry row. Its wall time splits into three disjoint phases: the
  * public operator call that returns the DataFrame (`call`, including
  * any job the operator runs eagerly), forcing the physical plan
  * (`plan`), and the action that materialises every row (`action`). */
final class Op(val id: Long, val kind: String, val name: String,
    val group: String, val traced: Boolean, val measured: Boolean) {
  val start: Long = System.currentTimeMillis() // comparable with event times
  var callMs = 0.0
  var planMs = 0.0
  var actionMs = 0.0
  var actionStart = 0L
  var actionEnd = 0L
  var error: Option[String] = None
  def ms: Double = callMs + planMs + actionMs
  def ok: Boolean = error.isEmpty
}

private final case class JobRec(id: Int, op: Long, phase: String,
    exec: Long, start: Long, var end: Long, stages: Seq[Int])

private final case class StageRec(id: Int, tasks: Int, cpuMs: Double,
    shuffleWrite: Long, shuffleRead: Long, spillDisk: Long, peakMem: Long,
    bytesRead: Long, bytesWritten: Long, start: Long, end: Long)

/** Records Spark jobs, stages, SQL file-scan metrics and stream
  * progress from outside graft: the benchmark's own SparkListener and
  * StreamingQueryListener, keyed back to an [[Op]] through the job
  * group the op runs under and the phase it sets as a local property. */
private final class Listener extends SparkListener {
  val jobs = mutable.LinkedHashMap[Int, JobRec]()
  val stages = mutable.HashMap[Int, StageRec]()
  private val fileAccums = mutable.HashMap[Long, mutable.Set[Long]]()
  private val accumValues = mutable.HashMap[Long, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    prop("spark.jobGroup.id").filter(_.startsWith("pb-")).foreach { g =>
      jobs(e.jobId) = JobRec(e.jobId, g.drop(3).toLong,
        prop(Trace.PhaseKey).getOrElse("action"),
        prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L),
        e.time, e.time, e.stageIds)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages(i.stageId) = StageRec(i.stageId, i.numTasks,
        m.executorCpuTime / 1e6, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.diskBytesSpilled,
        m.peakExecutionMemory, m.inputMetrics.bytesRead,
        m.outputMetrics.bytesWritten, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L))
    }

  private def noteFileMetrics(exec: Long, plan: SparkPlanInfo): Unit = {
    def walk(p: SparkPlanInfo): Unit = {
      p.metrics.filter(_.name == "number of files read")
        .foreach(m => fileAccums.getOrElseUpdate(exec, mutable.Set())
          += m.accumulatorId)
      p.children.foreach(walk)
    }
    walk(plan)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        noteFileMetrics(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        noteFileMetrics(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates =>
        d.accumUpdates.foreach { case (id, v) => accumValues(id) = v }
      case _ =>
    }
  }

  def filesRead(exec: Long): Long = synchronized {
    fileAccums.get(exec).map(_.toSeq.map(accumValues.getOrElse(_, 0L)).sum)
      .getOrElse(0L)
  }
}

private final class StreamListener extends StreamingQueryListener {
  val phaseMs = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  val stateRows = mutable.HashMap[java.util.UUID, Long]()
  override def onQueryStarted(
      e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(
      e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    p.durationMs.asScala.foreach { case (k, v) => phaseMs(k) += v.toDouble }
    stateRows(p.runId) = p.stateOperators.map(_.numRowsTotal).sum
  }
}

object Trace {
  val PhaseKey = "perfbench.phase"
  val StreamPhases = Seq("queryPlanning", "addBatch", "walCommit",
    "commitOffsets", "latestOffset")

  def sizeOf(f: File): Long =
    if (f.isDirectory)
      Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L)
    else f.length()
}

/** Runs [[Op]]s, samples disk and heap, and (when `on`) attributes
  * Spark's own metrics to each traced op and keeps one span per op,
  * phase, job and stage in memory until [[writeSpans]].
  *
  * Disk is sampled in two parts: `diskRoots` (temp dir and checkpoint
  * root: stored indexes, IndexCache entries, stream checkpoints), and
  * Spark's local dir (shuffle files and spill), whose size also depends
  * on when the JVM's GC lets the ContextCleaner delete old shuffles. */
final class Trace(spark: SparkSession, val on: Boolean, diskRoots: Seq[File],
    localDir: File) {
  private val sc = spark.sparkContext
  private val listener = new Listener
  private val streams = new StreamListener
  private var attached = false
  val ops = mutable.ArrayBuffer[Op]()
  private var nextId = 0L

  @volatile private var heapPeak = 0L
  @volatile private var diskPeak = 0L
  @volatile private var localPeak = 0L
  @volatile private var sampling = true
  /** Peaks stop moving at the end of the measured phase: the output
    * checks after it are the benchmark's own work. */
  @volatile private var frozen = false
  def freezePeaks(): Unit = frozen = true
  private val sampler = new Thread(() => {
    while (sampling) {
      if (!frozen) {
        diskPeak = math.max(diskPeak, diskRoots.map(Trace.sizeOf).sum)
        localPeak = math.max(localPeak, Trace.sizeOf(localDir))
      }
      Thread.sleep(100)
    }
  }, "perfbench-disk-sampler")
  sampler.setDaemon(true)

  private val gcListener = new NotificationListener {
    override def handleNotification(n: Notification, h: Any): Unit =
      if (n.getType ==
          GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.values
          .map(_.getUsed).sum
        if (!frozen) heapPeak = math.max(heapPeak, after)
      }
  }
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  gcBeans.foreach(_.asInstanceOf[NotificationEmitter]
    .addNotificationListener(gcListener, null, null))

  sampler.start()
  if (on) attach()

  private def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener); spark.streams.addListener(streams)
    attached = true
  }

  private def detach(): Unit = if (attached) {
    org.apache.spark.perfbench.Bus.drain(sc)
    sc.removeSparkListener(listener); spark.streams.removeListener(streams)
    attached = false
  }

  /** Traced and untraced units alternate in a traced run, so the
    * tracing overhead is measured within one process: an untraced
    * unit runs with the listeners detached. */
  def tracing(traced: Boolean): Unit = if (on) {
    if (traced) attach() else detach()
  }

  def gcMs: Double = gcBeans.map(_.getCollectionTime).sum.toDouble
  def heapPeakMb: Double = heapPeak / 1048576.0
  def diskPeakMb: Double = diskPeak / 1048576.0
  def localPeakBytes: Double = localPeak.toDouble

  private def newOp(kind: String, name: String, group: String,
      measured: Boolean): Op = {
    nextId += 1
    val op = new Op(nextId, kind, name, group, on && attached, measured)
    ops += op
    if (op.traced) sc.setJobGroup(s"pb-${op.id}", name,
      interruptOnCancel = false)
    op
  }

  private def phase(op: Op, p: String): Unit =
    if (op.traced) sc.setLocalProperty(Trace.PhaseKey, p)

  private def finish(op: Op): Unit = if (op.traced) {
    sc.clearJobGroup(); sc.setLocalProperty(Trace.PhaseKey, null)
  }

  private def msSince(t: Long): Double = (System.nanoTime() - t) / 1e6

  private def fail(op: Op, e: Throwable): Unit = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .toSeq.last
    op.error = Some(s"${root.getClass.getSimpleName}: " +
      Option(root.getMessage).getOrElse("").take(300))
  }

  /** Time `call` (the operator call returning a DataFrame), then the
    * physical planning of that DataFrame, then `act` on it. An
    * exception in any phase fails the op and returns None. */
  def run[T](kind: String, name: String, group: String = "",
      measured: Boolean = true)(call: => DataFrame)(
      act: DataFrame => T): (Op, Option[T]) = {
    val op = newOp(kind, name, group, measured)
    try {
      phase(op, "call")
      var t = System.nanoTime()
      val df = call
      op.callMs = msSince(t)
      phase(op, "plan")
      t = System.nanoTime()
      df.queryExecution.executedPlan
      op.planMs = msSince(t)
      phase(op, "action")
      op.actionStart = System.currentTimeMillis()
      t = System.nanoTime()
      val r = act(df)
      op.actionMs = msSince(t)
      op.actionEnd = System.currentTimeMillis()
      (op, Some(r))
    } catch { case e: Throwable => fail(op, e); (op, None) }
    finally finish(op)
  }

  /** An op with no DataFrame of its own (an index write or an append):
    * everything it does happens inside the operator call. */
  def runUnit(kind: String, name: String, group: String = "",
      measured: Boolean = true)(body: => Unit): Op = {
    val op = newOp(kind, name, group, measured)
    try {
      phase(op, "call")
      val t = System.nanoTime()
      body
      op.callMs = msSince(t)
    } catch { case e: Throwable => fail(op, e) }
    finally finish(op)
    op
  }

  /** Mark a successful op failed because its output did not check. */
  def mismatch(op: Op, why: String): Unit =
    if (op.error.isEmpty) op.error = Some(s"output check: $why")

  def resetStreams(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(sc)
    streams.synchronized { streams.phaseMs.clear(); streams.stateRows.clear() }
  }

  def stop(): Unit = {
    sampling = false
    sampler.join()
    gcBeans.foreach(b => scala.util.Try(b.asInstanceOf[NotificationEmitter]
      .removeNotificationListener(gcListener)))
    if (on) {
      org.apache.spark.perfbench.Bus.drain(sc)
      if (attached) detach()
    }
  }

  private def jobsOf(op: Op): Seq[JobRec] =
    listener.jobs.values.filter(_.op == op.id).toSeq

  private def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stages).distinct.flatMap(listener.stages.get)

  /** Wall time of the action not covered by any of the op's jobs. */
  private def schedGap(op: Op, js: Seq[JobRec]): Double = {
    val iv = js.filter(_.phase == "action")
      .map(j => (math.max(j.start, op.actionStart),
        math.min(j.end, op.actionEnd)))
      .filter(x => x._1 < x._2).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered += curE - curS
    math.max(0.0, op.actionMs - covered)
  }

  /** Per-op layer figures of one traced op (summed over its jobs and
    * stages). */
  def layersOf(op: Op): Map[String, Double] = listener.synchronized {
    val js = jobsOf(op)
    val st = stagesOf(js)
    Map(
      "operators.call_ms" -> op.callMs,
      "plans.plan_ms" -> op.planMs,
      "spark.action_ms" -> op.actionMs,
      "spark.sched_gap_ms" -> schedGap(op, js),
      "spark.jobs" -> js.size.toDouble,
      "Checkpoints.eager_jobs" -> js.count(_.phase == "call").toDouble,
      "spark.stages" -> st.size.toDouble,
      "spark.tasks" -> st.map(_.tasks).sum.toDouble,
      "spark.task_cpu_ms" -> st.map(_.cpuMs).sum,
      "spark.shuffle_write_bytes" -> st.map(_.shuffleWrite).sum.toDouble,
      "spark.shuffle_read_bytes" -> st.map(_.shuffleRead).sum.toDouble,
      "spark.spill_disk_bytes" -> st.map(_.spillDisk).sum.toDouble,
      "spark.peak_exec_mem_bytes" ->
        st.map(_.peakMem).foldLeft(0L)(math.max).toDouble,
      "sources.bytes_read" -> st.map(_.bytesRead).sum.toDouble,
      "sources.files_read" ->
        js.map(_.exec).distinct.filter(_ >= 0)
          .map(listener.filesRead).sum.toDouble,
      "sources.bytes_written" -> st.map(_.bytesWritten).sum.toDouble)
  }

  /** Mean of every per-op layer figure over `sel` (the peak memory
    * figure is the max instead). */
  def layerMeans(sel: Seq[Op]): Map[String, Double] = {
    val per = sel.map(layersOf)
    if (per.isEmpty) Map.empty
    else per.head.keys.map { k =>
      val vs = per.map(_(k))
      k -> (if (k == "spark.peak_exec_mem_bytes") vs.max
            else vs.sum / vs.size)
    }.toMap
  }

  def streamPhases: Map[String, Double] = streams.synchronized {
    Trace.StreamPhases.map(p => s"streaming.${p}_ms" -> streams.phaseMs(p))
      .toMap + ("streaming.state_rows" -> streams.stateRows.values.sum.toDouble)
  }

  /** Spans of every traced op: the op itself, its three phases, and
    * each Spark job and stage, all sharing the op's id as `trace`. */
  def writeSpans(f: File): Unit = {
    val w = new java.io.PrintWriter(f, "UTF-8")
    def span(trace: Long, id: String, parent: String, name: String,
        start: Double, end: Double, attrs: Map[String, Double] = Map.empty) =
      w.println(Json.obj(Seq("trace" -> trace, "id" -> id,
        "parent" -> parent, "name" -> name, "start_ms" -> start,
        "end_ms" -> end) ++ attrs.toSeq))
    try listener.synchronized {
      ops.filter(_.traced).foreach { op =>
        val root = s"${op.id}"
        val s0 = op.start.toDouble
        val s1 = s0 + op.callMs
        val s2 = s1 + op.planMs
        span(op.id, root, null, s"${op.kind}:${op.name}", s0, s2 + op.actionMs,
          layersOf(op))
        span(op.id, s"$root/call", root, "call", s0, s1)
        span(op.id, s"$root/plan", root, "plan", s1, s2)
        span(op.id, s"$root/action", root, "action", s2, s2 + op.actionMs)
        jobsOf(op).foreach { j =>
          val jid = s"$root/job${j.id}"
          span(op.id, jid, s"$root/${j.phase}", s"job ${j.id}",
            j.start.toDouble, j.end.toDouble)
          j.stages.flatMap(listener.stages.get).foreach { s =>
            span(op.id, s"$jid/stage${s.id}", jid, s"stage ${s.id}",
              s.start.toDouble, s.end.toDouble, Map(
                "tasks" -> s.tasks.toDouble, "cpu_ms" -> s.cpuMs,
                "shuffle_write_bytes" -> s.shuffleWrite.toDouble,
                "shuffle_read_bytes" -> s.shuffleRead.toDouble,
                "spill_disk_bytes" -> s.spillDisk.toDouble))
          }
        }
      }
    } finally w.close()
  }
}
