package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Peak block-manager bytes (memory + disk) over all live blocks, from the
  * block-update events: pins, local checkpoints and broadcast pieces all
  * arrive here. Cheap enough to stay installed in untraced runs.
  */
final class BlockPeak extends SparkListener {
  private val live = mutable.HashMap.empty[String, Long]
  private var total = 0L
  private var peakBytes = 0L

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    val key = s"${i.blockManagerId.executorId}/${i.blockId.name}"
    val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
    total += size - live.getOrElse(key, 0L)
    if (size > 0) live(key) = size else live.remove(key)
    peakBytes = math.max(peakBytes, total)
  }

  def peak: Long = synchronized(peakBytes)
}

/** One span: a call into a layer, timed on the driver thread. */
final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long = -1L) {
  def seconds: Double = (end - start) / 1e9
  def group: String = s"perfbench-$id"
}

/** Spark-side counters of one span (or of one SQL execution inside it). */
final class Counters {
  var actions = 0L
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskBusyMs = 0L
  var taskWaitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var factScans = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val stageSkews = mutable.ArrayBuffer.empty[Double]

  def add(o: Counters): Unit = {
    actions += o.actions; jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskBusyMs += o.taskBusyMs; taskWaitMs += o.taskWaitMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    factScans += o.factScans; analysisMs += o.analysisMs
    optimizationMs += o.optimizationMs; planningMs += o.planningMs
    jobIntervals ++= o.jobIntervals; stageSkews ++= o.stageSkews
  }

  /** Mean over multi-task stages of (slowest task / median task). */
  def skew: Double = if (stageSkews.isEmpty) 1.0 else stageSkews.sum / stageSkews.size

  /** Milliseconds covered by the union of this span's job intervals. */
  def jobCoverMs: Long = {
    var covered = 0L; var curS = -1L; var curE = -1L
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}

/** A SQL execution seen on the listener bus: its job group, wall interval,
  * plan description (which names a write's output path), the plan it
  * started with and the last plan it ran (under AQE, the final plan).
  */
final class Execution(val id: Long, val group: String, val start: Long, val planDesc: String,
                      val initial: SparkPlanInfo) {
  var end = -1L
  var plan: SparkPlanInfo = initial
  val counters = new Counters
}

/** The traced run's recorder: a SparkListener for jobs, stages, tasks and
  * SQL executions, plus a QueryExecutionListener for actions and the
  * QueryPlanningTracker phases. Every job carries the job group the
  * benchmark set around the call that caused it, so counters land on the
  * right span however late the bus delivers them.
  *
  * Registered after the session state exists, so it sits behind Spark's own
  * execution-listener bus in the shared queue: by the time this listener
  * sees an execution end, the QueryExecutionListener call for it has run.
  *
  * @param factMarker a path fragment naming the fact table's location;
  *                   every file scan over it in an executed plan counts
  */
final class Recorder(factMarker: String) extends SparkListener with QueryExecutionListener {
  private val byGroup = mutable.HashMap.empty[String, Counters]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val jobExec = mutable.HashMap.empty[Int, Long]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTaskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val execs = mutable.LinkedHashMap.empty[Long, Execution]
  private var pendingQe: Option[QueryExecution] = None
  private var started = 0L
  private var ended = 0L

  private def counters(group: String): Counters = byGroup.getOrElseUpdate(group, new Counters)
  private def groupOf(job: Int): Option[String] = jobGroup.get(job)
  private def execOf(job: Int): Option[Execution] = jobExec.get(job).flatMap(execs.get)

  private def each(job: Int)(f: Counters => Unit): Unit = {
    groupOf(job).foreach(g => f(counters(g)))
    execOf(job).foreach(x => f(x.counters))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(jobGroup(e.jobId) = _)
    props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(x => jobExec(e.jobId) = x.toLong)
    e.stageIds.foreach(stageJob(_) = e.jobId)
    each(e.jobId)(_.jobs += 1)
    each(e.jobId)(_.jobIntervals += ((e.time, -1L)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    each(e.jobId) { c =>
      val i = c.jobIntervals.lastIndexWhere(_._2 < 0)
      if (i >= 0) c.jobIntervals(i) = (c.jobIntervals(i)._1, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach { job =>
      each(job)(_.stages += 1)
      stageTaskMs.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach { ts =>
        val sorted = ts.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        each(job)(_.stageSkews += sorted.last.toDouble / median)
      }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmit(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { job =>
      val m = Option(e.taskMetrics)
      val launched = e.taskInfo.launchTime
      stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
      each(job) { c =>
        c.tasks += 1
        m.foreach { tm =>
          c.taskBusyMs += tm.executorRunTime
          c.shuffleWrite += tm.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += tm.shuffleReadMetrics.totalBytesRead
          c.spill += tm.memoryBytesSpilled + tm.diskBytesSpilled
        }
        stageSubmit.get(e.stageId).foreach(s => c.taskWaitMs += math.max(0L, launched - s))
      }
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = synchronized {
    event match {
      case s: SparkListenerSQLExecutionStart =>
        started += 1
        execs(s.executionId) = new Execution(s.executionId, s.jobGroupId.getOrElse(""), s.time,
          s.physicalPlanDescription, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate =>
        execs.get(u.executionId).foreach(_.plan = u.sparkPlanInfo)
      case e: SparkListenerSQLExecutionEnd =>
        execs.get(e.executionId).foreach { x =>
          ended += 1
          x.end = e.time
          val scans = Recorder.scans(x.plan, factMarker)
          x.counters.factScans += scans
          if (x.group.nonEmpty) counters(x.group).factScans += scans
          // a pending QueryExecutionListener call was made for this very
          // event, just before us (executions without an action name get none)
          pendingQe.foreach { qe =>
            val phases = qe.tracker.phases
            def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
            val cs = Seq(x.counters) ++ (if (x.group.nonEmpty) Seq(counters(x.group)) else Nil)
            cs.foreach { c =>
              c.actions += 1
              c.analysisMs += ms("analysis"); c.optimizationMs += ms("optimization")
              c.planningMs += ms("planning")
            }
          }
          pendingQe = None
        }
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { pendingQe = Some(qe) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { pendingQe = Some(qe) }

  /** Blocks until every SQL execution that started has ended on the bus
    * and every job has ended, so the counters of finished spans are final.
    */
  def drain(timeoutMs: Long = 30000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def settled = synchronized {
      started == ended && byGroup.values.forall(_.jobIntervals.forall(_._2 >= 0))
    }
    Thread.sleep(20)
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(10)
    // one more beat: the tail of task events for a job can trail its end
    Thread.sleep(50)
  }

  def forGroup(group: String): Counters = synchronized(byGroup.getOrElse(group, new Counters))

  /** SQL executions whose jobs ran under `group`, in start order. */
  def executions(group: String): Seq[Execution] = synchronized(execs.values.filter(_.group == group).toSeq)
}

object Recorder {
  def install(spark: SparkSession, factMarker: String): Recorder = {
    val r = new Recorder(factMarker)
    spark.listenerManager.register(r) // creates the session state and its bus first
    spark.sparkContext.addSparkListener(r)
    r
  }

  /** File scans over `marker` in an executed plan. Reused exchanges and
    * cached-relation scans are not descended into: they read nothing new.
    */
  def scans(p: SparkPlanInfo, marker: String): Long =
    if (p == null) 0L
    else if (p.nodeName.startsWith("ReusedExchange") || p.nodeName.startsWith("ReusedSubquery") ||
             p.nodeName.startsWith("InMemoryTableScan")) 0L
    else {
      val here = if (p.nodeName.startsWith("Scan ") &&
        p.metadata.get("Location").exists(_.contains(marker))) 1L else 0L
      here + p.children.map(scans(_, marker)).sum
    }
}

/** The span stack of a traced run: each span sets its own job group on the
  * driver thread for the duration of the call, and restores its parent's.
  * Spans stay in memory until [[write]].
  */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), System.nanoTime())
    spans += s
    stack = s :: stack
    spark.sparkContext.setJobGroup(s.group, name, interruptOnCancel = false)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Spans as JSON lines: id, name, parent, start/end in ns since the
    * first span, and the span's own Spark counters.
    */
  def write(path: java.nio.file.Path, rec: Recorder): Unit = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val lines = spans.map { s =>
      val c = rec.forGroup(s.group)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.start - t0},"end_ns":${s.end - t0},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"actions":${c.actions},"fact_scans":${c.factScans}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
