package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer. Times are microseconds since
  * the run's epoch; `parent` is -1 for a root span. */
final case class Span(id: Long, parent: Long, name: String, startUs: Long, endUs: Long)

/** Spans kept in memory and written once when the run ends.
  *
  * The open span is kept as a local property of the SparkContext, so a
  * job carries the span it was submitted under (threads Spark starts for
  * a query inherit it), whenever the listener bus delivers its events.
  * Catalyst phases carry no properties; each is given, when the spans
  * are written, the innermost benchmark span that encloses it in time. */
final class Spans(val runId: String, sc: SparkContext) {
  private val epochMs = System.currentTimeMillis()
  private val epochNs = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private val own = mutable.Set.empty[Long] // ids of the benchmark's own spans
  private var nextId = 0L

  def nowUs: Long = (System.nanoTime() - epochNs) / 1000
  def msToUs(ms: Long): Long = (ms - epochMs) * 1000

  /** The span a job was submitted under, from the job's properties. */
  def of(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Spans.Key))).map(_.toLong).getOrElse(-1L)

  def add(name: String, parent: Long, startUs: Long, endUs: Long): Unit = synchronized {
    nextId += 1
    done += Span(nextId, parent, name, startUs, endUs)
  }

  def apply[T](name: String)(body: => T): T = {
    val outer = sc.getLocalProperty(Spans.Key)
    val id = synchronized { nextId += 1; own += nextId; nextId }
    sc.setLocalProperty(Spans.Key, id.toString)
    val t0 = nowUs
    try body
    finally {
      val t1 = nowUs
      sc.setLocalProperty(Spans.Key, outer)
      synchronized(done += Span(id, Option(outer).map(_.toLong).getOrElse(-1L), name, t0, t1))
    }
  }

  def write(path: Path): Unit = {
    val (all, ids) = synchronized((done.toList, own.toSet))
    val mine = all.filter(s => ids(s.id))
    // The innermost benchmark span around a point is the latest-starting one.
    def enclosing(us: Long): Long = mine.filter(s => s.startUs <= us && us <= s.endUs)
      .sortBy(-_.startUs).headOption.map(_.id).getOrElse(-1L)
    val lines = all
      .map(s => if (s.parent == Spans.ByTime) s.copy(parent = enclosing((s.startUs + s.endUs) / 2)) else s)
      .filter(s => s.parent >= 0 || ids(s.id))
      .sortBy(_.id).map { s =>
        s"""{"run":${Json.str(runId)},"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"start_us":${s.startUs},"end_us":${s.endUs}}"""
      }
    Files.write(path, lines.asJava)
  }
}

object Spans {
  val Key = "perfbench.span"
  /** Parent of a span placed by time when the spans are written. */
  val ByTime = -2L
}

/** Counts of every layer beneath the benchmark, read at operation
  * boundaries. Spark's scheduler and planner are observed through the
  * listener interfaces; the TableLog layer through the commit files it
  * leaves in `_log` directories under the run's own temporary directory. */
final class Layers(spark: SparkSession, spans: Spans, tmpRoot: Path) {
  private val sc = spark.sparkContext

  // All mutable state below is written by the listener-bus thread and
  // read by the caller after `Bus.drain`, so every access is synchronized.
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, shufW, shufR, spill, input = 0L
  private var analysisMs, optimizationMs, planningMs = 0L
  private var exchanges, broadcasts, singlePartition = 0L
  private var addBatchMs, streamPlanningMs, walCommitMs = 0L
  private var maxSkew = 1.0
  private val jobStart = mutable.Map.empty[Int, (Long, Long)]
  private val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Layers.this.synchronized {
      jobs += 1
      jobStart(e.jobId) = (e.time, spans.of(e.properties))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Layers.this.synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, parent) =>
        busy += ((t0, e.time))
        if (parent >= 0) spans.add("spark.job", parent, spans.msToUs(t0), spans.msToUs(e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Layers.this.synchronized {
      stages += 1
      stageTaskMs.remove(e.stageInfo.stageId).filter(_.size > 1).foreach { ds =>
        val sorted = ds.sorted
        val median = math.max(1L, sorted(sorted.size / 2))
        maxSkew = math.max(maxSkew, sorted.last.toDouble / median)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Layers.this.synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        shufW += m.shuffleWriteMetrics.bytesWritten
        shufR += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        input += m.inputMetrics.bytesRead
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = Layers.this.synchronized {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      addBatchMs += ms("addBatch")
      streamPlanningMs += ms("queryPlanning")
      walCommitMs += ms("walCommit")
    }
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    Layers.this.synchronized {
      phases.foreach { case (phase, p) =>
        val ms = p.durationMs
        phase match {
          case "analysis" => analysisMs += ms
          case "optimization" => optimizationMs += ms
          case "planning" => planningMs += ms
          case _ =>
        }
        spans.add(s"catalyst.$phase", Spans.ByTime, spans.msToUs(p.startTimeMs), spans.msToUs(p.endTimeMs))
      }
    }
    scala.util.Try(Layers.census(qe.executedPlan)).foreach { case (ex, bc, sp) =>
      Layers.this.synchronized { exchanges += ex; broadcasts += bc; singlePartition += sp }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)
  spark.streams.addListener(streamListener)

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum
  private def heapAfterGcMb: Double = heapPools.map(_.getCollectionUsage.getUsed).sum / 1e6

  /** commit files in `_log` directories under the run's temporary directory; a
    * directory an operator deletes while it is walked is skipped. */
  private def commitFiles: Long = {
    var n = 0L
    if (Files.exists(tmpRoot)) Files.walkFileTree(tmpRoot, new SimpleFileVisitor[Path] {
      override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
        if (p.getFileName.toString.endsWith(".commit") &&
          p.getParent.getFileName.toString == "_log") n += 1
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    n
  }

  private var heapPeakMb = 0.0

  private def counters: Map[String, Double] = {
    Bus.drain(sc)
    synchronized(Map(
      "spark.jobs" -> jobs.toDouble, "spark.stages" -> stages.toDouble, "spark.tasks" -> tasks.toDouble,
      "exec.run_s" -> runMs / 1e3, "exec.cpu_s" -> cpuNs / 1e9,
      "shuffle.write_mb" -> shufW / 1e6, "shuffle.read_mb" -> shufR / 1e6,
      "shuffle.spill_mb" -> spill / 1e6, "exec.input_mb" -> input / 1e6,
      "catalyst.analysis_s" -> analysisMs / 1e3, "catalyst.optimization_s" -> optimizationMs / 1e3,
      "catalyst.planning_s" -> planningMs / 1e3,
      "plan.exchanges" -> exchanges.toDouble, "plan.broadcasts" -> broadcasts.toDouble,
      "plan.single_partition" -> singlePartition.toDouble,
      "stream.add_batch_s" -> addBatchMs / 1e3, "stream.planning_s" -> streamPlanningMs / 1e3,
      "stream.wal_commit_s" -> walCommitMs / 1e3,
    )) ++ Map("jvm.gc_s" -> gcMs / 1e3, "tablelog.commits" -> commitFiles.toDouble)
  }

  /** Milliseconds within [t0, t1] during which at least one job ran. */
  private def busyMs(t0: Long, t1: Long): Long = synchronized {
    val clipped = busy.map { case (a, b) => (math.max(a, t0), math.min(b, t1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var sum = 0L
    var end = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a >= end) { sum += b - a; end = b }
      else if (b > end) { sum += b - end; end = b }
    }
    sum
  }

  /** Counter deltas across `body`. */
  def measure[T](body: => T): (scala.util.Try[T], Map[String, Double]) = {
    val before = counters
    val w0 = System.currentTimeMillis()
    val r = scala.util.Try(body)
    val after = counters
    val w1 = System.currentTimeMillis()
    heapPeakMb = math.max(heapPeakMb, heapAfterGcMb)
    val busyS = busyMs(w0, w1) / 1e3
    (r, after.map { case (k, v) => k -> (v - before(k)) } ++ Map(
      "spark.job_busy_s" -> busyS,
      "spark.no_job_s" -> math.max(0.0, (w1 - w0) / 1e3 - busyS)))
  }

  /** Jobs started so far; read around an operator's build phase. */
  def jobsNow: Long = { Bus.drain(sc); synchronized(jobs) }

  /** The run-level maxima: worst stage skew, peak heap after GC. */
  def maxima: Map[String, Double] = synchronized(Map(
    "exec.task_skew" -> maxSkew, "jvm.heap_after_gc_peak_mb" -> heapPeakMb))

  def close(): Unit = {
    Bus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    spark.streams.removeListener(streamListener)
  }
}

object Layers {
  /** (exchanges, broadcasts, single-partition exchanges and windows) in
    * an executed plan, looking through adaptive stages and subqueries. */
  def census(root: SparkPlan): (Long, Long, Long) = {
    var ex, bc, sp = 0L
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case s: QueryStageExec => visit(s.plan)
        case e: ShuffleExchangeExec =>
          ex += 1
          if (e.outputPartitioning == SinglePartition) sp += 1
        case _: BroadcastExchangeExec => bc += 1
        case w: WindowExec if w.partitionSpec.isEmpty => sp += 1
        case _ =>
      }
      p match {
        case _: AdaptiveSparkPlanExec | _: QueryStageExec =>
        case _ => p.children.foreach(visit); p.subqueries.foreach(visit)
      }
    }
    visit(root)
    (ex, bc, sp)
  }
}
