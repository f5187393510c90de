package flowbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{ConfigRepository, PipelineCompiler}
import graft.sources.PushReceiver

/** `relay`: the paper's core pipeline, started the way
  * `Flowd --stream --follow` starts it (default ProcessingTime trigger):
  * TCP receiver at reference defaults -> core.meta_parser -> core.router
  * on meta `type` with a dead-letter branch -> one TCP sink head per
  * branch. The load generator and the sink listeners live in the
  * runner's process. A run measures several pipeline lifetimes, each
  * on a fresh receiver channel: for each, this side starts the
  * pipeline, reports `FLOWBENCH_READY <port>` on stdout and runs until
  * `DONE <ms>` on stdin, where `<ms>` is the epoch millisecond at which
  * that lifetime's reference-rate phase began. */
object Relay {
  val Routes = Seq("ra", "rb", "rc")
  val DeadLetter = "dlq"

  def yaml(receiver: String, sinks: Seq[(String, Int)]): String = {
    val sinkActors = sinks.map { case (name, port) =>
      s"""  $name: {module: core.sink, params: {bind: "tcp://127.0.0.1:$port"}}"""
    }.mkString("\n")
    s"""actors:
       |  $receiver: {module: core.receiver, params: {bind: "tcp://127.0.0.1:0"}}
       |  parse: {module: core.meta_parser}
       |  route: {module: core.router, params: {key: "meta.type", dead_letter: $DeadLetter}}
       |$sinkActors
       |pipeline:
       |  $receiver: {connect: [parse]}
       |  parse: {connect: [route]}
       |  route: {connect: [${sinks.map(_._1).mkString(", ")}]}
       |""".stripMargin
  }

  private final case class Started(compiler: PipelineCompiler, channel: String,
                                   port: Int, queries: Map[String, StreamingQuery])

  /** What one measured pipeline lifetime leaves behind. */
  private final case class Lifetime(t0Ms: Long, t1Ms: Long, queryIds: Set[java.util.UUID],
                                    retained: Long, deadLetterBatches: Long,
                                    backlogMax: Long, fs: Option[Array[Long]])

  def run(ctx: Ctx): Outcome = {
    val sinks = ctx.opt("sinks").split(",").toSeq.map { kv =>
      val Array(n, p) = kv.split("="); n -> p.toInt
    }
    val lifetimes = ctx.opt("lifetimes").toInt
    val compileMs = ArrayBuffer.empty[Double]
    val startMs = ArrayBuffer.empty[Double]
    val repS = ArrayBuffer.empty[Double]

    def start(receiver: String): Started = {
      val t0 = System.nanoTime()
      val (compiler, c) = Stats.timed(ctx.probe.span("pipeline.compile") {
        val repo = ConfigRepository.forPipeline(yaml(receiver, sinks))
        new PipelineCompiler(ctx.spark, repo.toPipelineConfig)
      })
      val ((port, queries), s) = Stats.timed(ctx.probe.span("pipeline.start") {
        val bound = compiler.startReceivers()
        (bound(receiver), compiler.startStreaming(Map.empty))
      })
      compileMs += c * 1000; startMs += s * 1000
      repS += Stats.secondsSince(t0)
      Started(compiler, receiver, port, queries)
    }
    def stop(p: Started): Unit = {
      p.queries.values.foreach(_.stop())
      p.compiler.close()
    }

    /** Report the pipeline's port, then wait for the runner's `DONE <ms>`
      * and return `<ms>`. */
    def serve(p: Started): Option[Long] = {
      println(s"FLOWBENCH_READY ${p.port}")
      Console.out.flush()
      var line = Option(scala.io.StdIn.readLine())
      while (line.exists(!_.startsWith("DONE"))) line = Option(scala.io.StdIn.readLine())
      line.flatMap(_.split(" ").lift(1)).map(_.toLong)
    }

    // set-up: a warm-up pipeline that the runner drives over TCP with a
    // short burst, so the receiver, ack and sink paths are all warm;
    // every lifetime's start below is a further set-up repetition
    val warmP = start("warm")
    val warmS = Stats.timed(serve(warmP))._2
    stop(warmP)

    val lives = (0 until lifetimes).map { i =>
      // push channels are JVM-global and never trimmed: each lifetime
      // gets a channel of its own
      val live = start(s"rcv$i")
      val sampler = ctx.tracer.map(_ => new BacklogSampler(live))
      val fs0 = ctx.tracer.map(_ => CountingFileSystem.snapshot())
      val t0Ms = System.currentTimeMillis()
      // the runner drives the load, drains the sinks, then says DONE
      val rateStartMs = serve(live).getOrElse(t0Ms)
      val t1Ms = System.currentTimeMillis()
      sampler.foreach(_.stop())
      val life = Lifetime(t0Ms, t1Ms, live.queries.values.map(_.id).toSet,
        PushReceiver.size(live.channel),
        live.compiler.deadLetterCounts.values.map(_._1).sum,
        sampler.map(_.maxSince(rateStartMs)).getOrElse(0L),
        fs0.map(a => CountingFileSystem.delta(a, CountingFileSystem.snapshot())))
      stop(live)
      life
    }

    val layer = ctx.tracer.map { t =>
      t.drain()
      val ids = lives.flatMap(_.queryIds).toSet
      val ps = t.progress.asScala.toSeq.filter(p => ids(p.id) && p.numInputRows > 0)
      def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, ks: String*): Double =
        ks.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum
      def p50(ks: String*): Double =
        if (ps.isEmpty) 0.0 else Stats.median(ps.map(dur(_, ks: _*)))
      val fsAll = lives.flatMap(_.fs).reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
      // scheduler figures per lifetime, averaged over the lifetimes
      val spark = lives.map { l =>
        val batches = ps.count(p => l.queryIds(p.id)).toLong
        t.sparkMetrics(l.t0Ms, l.t1Ms, ctx.cores, Some(batches))
      }
      Map(
        "pipeline.compile_ms" -> Stats.median(compileMs.toSeq),
        "pipeline.start_ms" -> Stats.median(startMs.toSeq),
        "sources.backlog_max" -> Stats.median(lives.map(_.backlogMax.toDouble)),
        "sources.retained_msgs" -> Stats.median(lives.map(_.retained.toDouble)),
        "streaming.batches" -> ps.size.toDouble / lifetimes,
        "streaming.rows_per_batch" -> (if (ps.isEmpty) 0.0
          else Stats.mean(ps.map(_.numInputRows.toDouble))),
        "streaming.trigger_p50_ms" -> p50("triggerExecution"),
        "streaming.trigger_max_ms" -> (if (ps.isEmpty) 0.0
          else ps.map(dur(_, "triggerExecution")).max),
        "streaming.sink_write_p50_ms" -> p50("addBatch"),
        "streaming.plan_p50_ms" -> p50("queryPlanning"),
        "streaming.offsets_p50_ms" -> p50("latestOffset", "getBatch"),
        "streaming.commit_p50_ms" -> p50("walCommit", "commitOffsets"),
        "streaming.dead_letter_batches" -> lives.map(_.deadLetterBatches).sum.toDouble / lifetimes,
        "fs.ops_per_batch" -> CountingFileSystem.allOps(fsAll).toDouble / math.max(1, ps.size),
        "fs.meta_ops" -> CountingFileSystem.metaOps(fsAll).toDouble / lifetimes) ++
        spark.head.keys.map(k => k -> Stats.mean(spark.map(_(k)))).toMap
    }.getOrElse(Map.empty)

    Outcome(Map.empty, layer, repS.toSeq, warmS, attempted = 1L, failed = 0L,
      errors = Nil)
  }

  /** Samples the receiver backlog every 20 ms: messages pushed onto the
    * channel minus the lowest end offset any branch query has committed. */
  private final class BacklogSampler(p: Started) {
    @volatile private var running = true
    private val samples = ArrayBuffer.empty[(Long, Long)] // (epoch ms, backlog)
    private val thread = new Thread(() => {
      while (running) {
        val size = PushReceiver.size(p.channel)
        val committed = p.queries.values.map { q =>
          Option(q.lastProgress).flatMap(pr => pr.sources.headOption)
            .flatMap(s => Option(s.endOffset)).map(_.trim.toLong).getOrElse(0L)
        }.min
        samples.synchronized(samples += (System.currentTimeMillis() -> (size - committed)))
        Thread.sleep(20)
      }
    }, "flowbench-backlog")
    thread.setDaemon(true)
    thread.start()
    def stop(): Unit = {
      running = false
      thread.join()
    }
    /** Largest backlog sampled from `ms` on. */
    def maxSince(ms: Long): Long = samples.synchronized(
      samples.collect { case (t, b) if t >= ms => b }.maxOption.getOrElse(0L))
  }
}
