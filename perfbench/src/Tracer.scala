package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** One timed interval around a call into a layer. `req` groups the spans of
  * one unit of work (a simulated day, a read request, a curation pass, a
  * micro-batch); `parent` is the span that was open on the same thread. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** A finished Spark job, attributed to the graft module named by the first
  * `graft.<module>.` frame of its call site ("bench" when the benchmark's
  * own code triggered it). Jobs a SQL execution runs on helper threads
  * (adaptive query stages, broadcasts) carry no user frame; they take the
  * layer of their execution's call site (`execId`). */
final case class JobRec(id: Int, layer: String, execId: String, startMs: Long, endMs: Long)

/** Per-write metrics of a file-writing command (InsertIntoHadoopFsRelation). */
final case class WriteRec(path: String, files: Long, rows: Long, parts: Long)

/** The traced run's collector. Spans live in memory and are written once at
  * the end; Spark listeners (scheduler, SQL execution, streaming progress)
  * are registered only when tracing is on, so an untraced run pays nothing
  * beyond a flag test per span. Every callback times itself, and that
  * bookkeeping total is the tracer's own cost (`selfNs`). */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  private val baseNs = System.nanoTime()
  private val baseWallMs = System.currentTimeMillis()
  /** A span clock reading as wall-clock milliseconds (listener event time). */
  def toWallMs(ns: Long): Long = baseWallMs + (ns - baseNs) / 1000000L
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  val spans = ArrayBuffer.empty[Span]
  val jobs = ArrayBuffer.empty[JobRec]
  val writes = ArrayBuffer.empty[WriteRec]
  // phase name -> total ms over all query executions
  val planMs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
  // task metric totals
  var stages, tasks = 0L
  var taskNs, cpuNs, gcMs, shuffleWriteB, shuffleReadB, spillB = 0L
  // streaming progress of batches that read input: (addBatch, triggerExecution) ms
  val progress = ArrayBuffer.empty[(Long, Long)]
  private val selfCost = new AtomicLong(0)
  def selfNs: Long = selfCost.get

  private def timedSelf[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally selfCost.addAndGet(System.nanoTime() - t0)
  }

  def span[T](name: String, req: Long)(body: => T): T =
    if (!on) body
    else {
      val (id, parent) = timedSelf {
        val id = ids.incrementAndGet()
        val parent = stack.get.headOption.getOrElse(0L)
        stack.set(id :: stack.get)
        (id, parent)
      }
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        timedSelf {
          stack.set(stack.get.tail)
          spans.synchronized(spans += Span(id, parent, req, name, t0, t1))
        }
      }
    }

  /** Spans of a name, in start order. */
  def named(name: String): Seq[Span] =
    spans.synchronized(spans.filter(_.name == name).sortBy(_.startNs).toSeq)

  /** Self time of every span: its duration minus the union of its children's
    * intervals (children of one parent may overlap when they run on other
    * threads), summed by span name. */
  def selfTimeNs: Map[String, Long] = spans.synchronized {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.durNs - Tracer.unionNs(
        kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))).toSeq)).sum
    }
  }

  def writeSpans(path: java.nio.file.Path): Unit = spans.synchronized {
    val sb = new StringBuilder
    spans.sortBy(_.startNs).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      sb.append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }

  // ------------------------------------------------------------ listeners

  private val jobStarts = scala.collection.mutable.Map.empty[Int, (String, String, Long)]

  /** SQL execution id -> layer of the call site that started it. */
  private val execLayers = scala.collection.mutable.Map.empty[String, String]

  /** Finished jobs, helper-thread jobs resolved to their execution's layer. */
  def attributedJobs: Seq[JobRec] = jobs.synchronized {
    val byExec = execLayers.synchronized(execLayers.toMap)
    jobs.toSeq.map(j =>
      if (j.layer != Tracer.Unattributed) j
      else j.copy(layer = byExec.getOrElse(j.execId, Tracer.Unattributed)))
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedSelf {
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).getOrElse("")
      jobStarts.synchronized(jobStarts(e.jobId) = (Tracer.layerOf(site), exec, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timedSelf {
      jobStarts.synchronized(jobStarts.remove(e.jobId)).foreach { case (layer, exec, t0) =>
        jobs.synchronized(jobs += JobRec(e.jobId, layer, exec, t0, e.time))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => timedSelf(
        execLayers.synchronized(execLayers(x.executionId.toString) = Tracer.layerOf(x.details)))
      case _ =>
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      timedSelf(Tracer.this.synchronized(stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedSelf {
      val m = e.taskMetrics
      Tracer.this.synchronized {
        tasks += 1
        if (m != null) {
          taskNs += m.executorRunTime * 1000000L
          cpuNs += m.executorCpuTime
          gcMs += m.jvmGCTime
          shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          spillB += m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      timedSelf(record(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      timedSelf(record(qe))
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      planMs.synchronized(phases.foreach { case (p, s) => planMs(p) += s.durationMs })
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case c: CommandResultExec => c +: walk(c.commandPhysicalPlan)
        case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
        case q: QueryStageExec => q +: walk(q.plan)
        case other => other +: other.children.flatMap(walk)
      }
      walk(qe.executedPlan).collect { case w: DataWritingCommandExec => w }.foreach { w =>
        val m = w.cmd.metrics
        def v(k: String) = m.get(k).map(_.value).getOrElse(0L)
        val path = w.cmd match {
          case i: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
            i.outputPath.toString
          case _ => ""
        }
        writes.synchronized(writes += WriteRec(path, v("numFiles"), v("numOutputRows"), v("numParts")))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = timedSelf {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        progress.synchronized(progress += ((ms("addBatch"), ms("triggerExecution"))))
      }
    }
  }

  def register(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Listener events arrive asynchronously: wait (bounded) until every job
    * seen starting has been seen ending, then a little longer for the
    * trailing task and SQL events. */
  def drain(): Unit = if (on) {
    val deadline = System.currentTimeMillis() + 10000
    while (jobStarts.synchronized(jobStarts.nonEmpty) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(300)
  }

  def unregister(spark: SparkSession): Unit = if (on) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  private val Module = """graft\.([a-z0-9]+)\.""".r
  private val Root = """graft\.[A-Z]""".r

  val Unattributed = "unattributed"

  /** The graft module of the first graft frame in a call-site stack
    * ("entry" for the root package's query registry), or "bench" when the
    * benchmark's own frame comes first. */
  def layerOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("perfbench.") => "bench"
      case l if Module.findPrefixMatchOf(l).isDefined => Module.findPrefixMatchOf(l).get.group(1)
      case l if Root.findPrefixMatchOf(l).isDefined => "entry"
    }.getOrElse(Unattributed)

  /** Length of the union of [start, end) intervals. */
  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (!open) { curS = s; curE = e; open = true }
      else if (s <= curE) curE = math.max(curE, e)
      else { total += curE - curS; curS = s; curE = e }
    }
    if (open) total += curE - curS
    total
  }
}
