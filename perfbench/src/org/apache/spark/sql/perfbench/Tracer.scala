package org.apache.spark.sql.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spans around the benchmark's calls into each layer, and the Spark work
  * each span caused.
  *
  * A span is (id, name, parent, run id, start, end). While a span is open
  * its id rides on the driver thread as a Spark job tag, so every job,
  * stage, task and SQL execution it triggers is attributed to it, also
  * when AQE submits jobs from its own threads. Spans and counters stay in
  * memory until the run folds them (`perfbench.Layers`) after [[stop]]
  * has drained the listener bus.
  *
  * The class lives under `org.apache.spark.sql` because the executed plan
  * of a finished SQL execution (`SparkListenerSQLExecutionEnd.qe`) is
  * package-private there; the analysis/optimization/planning times and
  * the CSV scan sizes come from that plan. */
final class Tracer(spark: SparkSession, runId: Int)
    extends SparkListener with AdaptiveSparkPlanHelper {

  final case class Span(id: Int, name: String, parent: Int, run: Int,
      startMs: Long, startNs: Long, var endNs: Long = 0L, var endMs: Long = 0L)

  /** Counters of one span (jobs it triggered and their tasks). */
  final class Acc {
    var jobs, stages, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill, input, output = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var csvScanBytes, filesRead = 0L
    var csvJobs, roundChecks = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val jobSites = mutable.ArrayBuffer.empty[(Long, String, Long)] // (exec id, site, ms)
  }

  private val sc = spark.sparkContext
  private val tagPrefix = s"perfbench-$runId-"
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val accs = new ConcurrentHashMap[Int, Acc]()
  private val jobSpan = new ConcurrentHashMap[Int, Integer]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobExec = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Integer]()
  private val execSpan = new ConcurrentHashMap[Long, Integer]()
  private val execSite = new ConcurrentHashMap[Long, String]()
  private val execDetails = new ConcurrentHashMap[Long, String]()
  @volatile var active = false

  def acc(span: Int): Acc = accs.computeIfAbsent(span, _ => new Acc)

  def start(): Unit = { sc.addSparkListener(this); active = true }

  def stop(): Unit = {
    active = false
    // the listener bus is asynchronous: wait until every event of the
    // traced calls has been delivered before folding
    sc.listenerBus.waitUntilEmpty()
    sc.removeSparkListener(this)
  }

  /** Run `body` inside a span named `name`; a no-op wrapper while
    * tracing is off. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size + 1, name, parent.map(_.id).getOrElse(0), runId,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      parent.foreach(p => sc.removeJobTag(tagPrefix + p.id))
      sc.addJobTag(tagPrefix + s.id)
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.removeJobTag(tagPrefix + s.id)
        parent.foreach(p => sc.addJobTag(tagPrefix + p.id))
      }
    }

  /** Run `body` with no span's tag on the thread: the benchmark's own
    * bookkeeping jobs are attributed to no layer. */
  def uncounted[T](body: => T): T = stack.headOption match {
    case Some(s) if active =>
      sc.removeJobTag(tagPrefix + s.id)
      try body finally sc.addJobTag(tagPrefix + s.id)
    case _ => body
  }

  /** Bytes of RDD blocks (caches and local checkpoints) stored while
    * tracing. */
  val blockBytes = new java.util.concurrent.atomic.AtomicLong()

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (i.blockId.isRDD && i.storageLevel.isValid)
      blockBytes.addAndGet(i.memSize + i.diskSize)
  }

  private def spanOfTags(tags: Iterable[String]): Option[Int] =
    tags.collectFirst { case t if t.startsWith(tagPrefix) =>
      t.stripPrefix(tagPrefix).toInt }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(',').toSeq).getOrElse(Nil)
    spanOfTags(tags).foreach { s =>
      jobSpan.put(e.jobId, s)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(st => stageSpan.putIfAbsent(st, s))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => jobExec.put(e.jobId, x.toLong))
      val a = acc(s)
      a.synchronized { a.jobs += 1 }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { s =>
      val a = acc(s)
      val t0 = jobStart.get(e.jobId).longValue
      val exec = Option(jobExec.get(e.jobId)).map(_.longValue).getOrElse(-1L)
      val site = Option(execSite.get(exec)).getOrElse("")
      a.synchronized {
        a.jobIntervals += ((t0, e.time))
        a.jobSites += ((exec, site, e.time - t0))
        if (site.contains("CsvIngest.scala")) a.csvJobs += 1
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
      val a = acc(s); a.synchronized { a.stages += 1 }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val a = acc(s)
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (e.taskInfo.failed) a.failedTasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.input += m.inputMetrics.bytesRead
          a.output += m.outputMetrics.bytesWritten
        }
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, s.description.takeWhile(_ != '\n'))
      execDetails.put(s.executionId, s.details)
      spanOfTags(s.jobTags).foreach(sp => execSpan.put(s.executionId, sp))
    case end: SparkListenerSQLExecutionEnd =>
      Option(execSpan.get(end.executionId)).foreach { sp =>
        val a = acc(sp)
        val qe = end.qe
        val site = Option(execSite.get(end.executionId)).getOrElse("")
        if (qe != null) {
          val phases = qe.tracker.phases
          def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
          val scans = allPlans(qe.executedPlan).collect {
            case f: FileSourceScanExec => f }
          val csv = scans.filter(_.relation.fileFormat.isInstanceOf[CSVFileFormat])
          def metric(f: FileSourceScanExec, k: String) =
            f.metrics.get(k).map(_.value).getOrElse(0L)
          a.synchronized {
            a.analysisMs += ms("analysis")
            a.optimizationMs += ms("optimization")
            a.planningMs += ms("planning")
            a.csvScanBytes += csv.map(metric(_, "filesSize")).sum
            a.filesRead += scans.map(metric(_, "numFiles")).sum
            if (site.startsWith("isEmpty at Dedup.scala")) a.roundChecks += 1
          }
        }
      }
    case _ => ()
  }

  /** Every physical node of an executed plan, through AQE query stages
    * and the physical plan of a command. */
  private def allPlans(p: SparkPlan): Seq[SparkPlan] =
    collectWithSubqueries(p) { case x => x }.flatMap {
      case c: CommandResultExec => c +: allPlans(c.commandPhysicalPlan)
      case x => Seq(x)
    }

  def details(exec: Long): String = Option(execDetails.get(exec)).getOrElse("")

  /** Spans ordered by start, with the Spark counters of each. */
  def closed: Seq[(Span, Acc)] = spans.toSeq.map(s => (s, acc(s.id)))

  /** Span wall minus the part of it covered by its jobs. */
  def driverOnlyMs(s: Span, descendants: Seq[Span]): Double = {
    val ivs = (s +: descendants).flatMap(x => acc(x.id).jobIntervals)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var curA = -1L; var curB = -1L
    ivs.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, (s.endNs - s.startNs) / 1e6 - covered)
  }
}

/** Blocks until the listener bus has delivered every posted event, so a
  * counter read afterwards covers all work finished so far. */
object Bus {
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
