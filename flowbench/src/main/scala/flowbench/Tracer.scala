package flowbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instruments, all owned by the benchmark: spans around
  * every benchmark call into an engine layer, a [[SparkListener]] that
  * attributes jobs to the enclosing span through a thread-local job
  * property, a [[QueryExecutionListener]] for planning time and plan
  * shape, a [[StreamingQueryListener]] for micro-batch progress, and the
  * [[CountingFileSystem]] counters. */
final class Tracer(spark: SparkSession) extends Probe {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Long]
  private val nextId = new AtomicLong(1)

  def span[T](name: String, op: String)(f: => T): T = {
    val s = new Span(nextId.getAndIncrement(), name, op,
      stack.headOption.getOrElse(0L), System.currentTimeMillis(),
      System.nanoTime(), CountingFileSystem.snapshot())
    spans.synchronized(spans += s)
    stack = s.id :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    try f finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.fs1 = CountingFileSystem.snapshot()
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.map(_.toString).orNull)
    }
  }

  // ---- Spark scheduler -----------------------------------------------

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  val stages = new ConcurrentLinkedQueue[StageRec]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, new JobRec(e.jobId, span, e.time))
      e.stageInfos.foreach(si => stageJob.put(si.stageId, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val job = Option(stageJob.get(si.stageId)).flatMap(j => Option(jobs.get(j)))
      job.foreach(_.stages.incrementAndGet())
      stages.add(StageRec(si.stageId, job.map(_.id).getOrElse(-1),
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
        si.rddInfos.map(_.name)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
        r.m.addAndGet(Tasks, 1)
        r.m.addAndGet(RunMs, m.executorRunTime)
        r.m.addAndGet(CpuNs, m.executorCpuTime)
        r.m.addAndGet(GcMs, m.jvmGCTime)
        r.m.addAndGet(ShuffleW, m.shuffleWriteMetrics.bytesWritten)
        r.m.addAndGet(Spill, m.diskBytesSpilled + m.memoryBytesSpilled)
        r.m.addAndGet(Out, m.outputMetrics.bytesWritten)
      }
    }
  }

  // ---- SQL plans ---------------------------------------------------------

  val plans = new ConcurrentLinkedQueue[PlanRec]()

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(planRec(funcName, qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def planRec(funcName: String, qe: QueryExecution): PlanRec = {
    val planningMs = qe.tracker.phases.values.map(_.durationMs).sum
    val nodes = PlanWalk.collectWithSubqueries(qe.executedPlan) { case p => p }
    val fallbacks = nodes.flatMap(_.expressions.flatMap(_.collect {
      case e: CodegenFallback => e.getClass.getSimpleName
    }))
    val topK = nodes.exists(_.nodeName.contains("TopK"))
    PlanRec(funcName, System.currentTimeMillis(), planningMs, topK, fallbacks)
  }

  // ---- streaming progress ------------------------------------------------

  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    // the counting wrappers must be what the engine's own file calls get
    val conf = spark.sessionState.newHadoopConf()
    val root = new java.net.URI("file:///")
    val fs = org.apache.hadoop.fs.FileSystem.get(root, conf)
    val afs = org.apache.hadoop.fs.AbstractFileSystem.get(root, conf)
    require(fs.isInstanceOf[CountingFileSystem] &&
      afs.isInstanceOf[org.apache.hadoop.fs.local.FlowbenchCountingFs],
      s"traced run: file:// resolves to ${fs.getClass.getName} and " +
        s"${afs.getClass.getName}, not the counting wrappers")
  }

  /** Wait until every scheduler event posted so far has been delivered. */
  def drain(): Unit = org.apache.spark.FlowbenchBus.drain(sc)

  // ---- summaries -----------------------------------------------------

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)
  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq.sortBy(_.id)

  /** Scheduler metrics over the jobs started inside [t0Ms, t1Ms]. */
  def sparkMetrics(t0Ms: Long, t1Ms: Long, cores: Int,
                   batches: Option[Long] = None): Map[String, Double] = {
    val js = allJobs.filter(j => j.startMs >= t0Ms && j.startMs <= t1Ms)
    def sum(i: Int): Double = js.map(_.m.get(i)).sum.toDouble
    val wallS = math.max(1L, t1Ms - t0Ms) / 1000.0
    val busyS = unionMs(js.map(j => (j.startMs, if (j.endMs < 0) t1Ms else j.endMs)),
      t0Ms, t1Ms) / 1000.0
    val taskS = sum(RunMs) / 1000.0
    Map(
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> js.map(_.stages.get()).sum.toDouble,
      "spark.tasks_per_batch" -> sum(Tasks) / math.max(1L, batches.getOrElse(js.size.toLong)),
      "spark.task_s" -> taskS,
      "spark.cpu_s" -> sum(CpuNs) / 1e9,
      "spark.gc_s" -> sum(GcMs) / 1000.0,
      "spark.shuffle_mb" -> sum(ShuffleW) / MB,
      "spark.spill_mb" -> sum(Spill) / MB,
      "spark.output_mb" -> sum(Out) / MB,
      "spark.driver_only_s" -> (wallS - busyS),
      "spark.core_busy" -> taskS / (wallS * cores))
  }

  /** Every span as JSON, with self time (duration minus the part of it
    * covered by child spans) and driver-only time (duration minus the
    * part covered by the span's own Spark jobs). */
  def spansJson(): String = {
    val all = allSpans
    val kids = all.groupBy(_.parent)
    val byId = allJobs.groupBy(_.span)
    Json.render(all.map { s =>
      val childMs = unionMs(kids.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
        s.startMs, s.endMs)
      val js = byId.getOrElse(s.id, Nil)
      Map("id" -> s.id, "name" -> s.name, "op" -> s.op, "parent" -> s.parent,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "ms" -> s.ms,
        "self_ms" -> (s.ms - childMs),
        "driver_only_ms" -> (s.ms - unionMs(js.map(j =>
          (j.startMs, if (j.endMs < 0) s.endMs else j.endMs)), s.startMs, s.endMs)),
        "jobs" -> js.size,
        "fs_meta_ops" -> CountingFileSystem.metaOps(s.fsDelta),
        "fs_ops" -> CountingFileSystem.allOps(s.fsDelta))
    })
  }
}

object Tracer {
  val SpanKey = "flowbench.span"
  val MB = 1024.0 * 1024.0

  /** Session config for the traced run; must be in place before the
    * session starts (SparkConf reads `spark.*` system properties). */
  def configureSession(): Unit = {
    System.setProperty("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
    System.setProperty("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[org.apache.hadoop.fs.local.FlowbenchCountingFs].getName)
    System.setProperty("spark.hadoop.fs.file.impl.disable.cache", "true")
  }

  val Tasks = 0; val RunMs = 1; val CpuNs = 2; val GcMs = 3
  val ShuffleW = 4; val Spill = 5; val Out = 6

  final class Span(val id: Long, val name: String, val op: String, val parent: Long,
                   val startMs: Long, val startNs: Long, val fs0: Array[Long]) {
    var endNs: Long = 0L
    var endMs: Long = 0L
    var fs1: Array[Long] = fs0
    def ms: Double = (endNs - startNs) / 1e6
    def fsDelta: Array[Long] = CountingFileSystem.delta(fs0, fs1)
  }

  final class JobRec(val id: Int, val span: Long, val startMs: Long) {
    @volatile var endMs: Long = -1L
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val m = new AtomicLongArray(7)
  }

  final case class StageRec(id: Int, job: Int, submitMs: Long, doneMs: Long,
                            rddNames: Seq[String])

  final case class PlanRec(funcName: String, atMs: Long, planningMs: Long,
                           topK: Boolean, fallbacks: Seq[String])

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Length of the union of [start, end) intervals clipped to [lo, hi). */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

}
