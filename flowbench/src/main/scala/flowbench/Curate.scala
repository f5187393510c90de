package flowbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.pipeline.{ConfigRepository, PipelineCompiler}

/** `curate`: batch crawl-to-curated through `PipelineCompiler.runBatch` —
  * the examples/llm_fineweb.yml recipe (digest dedup, URL gates, word
  * gate, langid, Gopher, C4, exact dedup) extended with llm.lm_score and
  * llm.dedup_near (over a numeric id the [[DocNumber]] plugin adds),
  * into a parquet sink. Each repetition recompiles the
  * pipeline and rewrites the sink; every repetition's kept doc ids are
  * checked against the set the generator planted to survive. */
object Curate {
  def yaml(crawl: String, out: String): String =
    s"""actors:
       |  crawl: {module: core.receiver, params: {path: "$crawl", format: warc, dedup_digest: "true"}}
       |  urls: {module: llm.url_filter, params: {blocklist: "spam-tracker.net", keywords: casino}}
       |  words: {module: llm.badwords_filter, params: {words: "jackpot,roulette"}}
       |  lang: {module: llm.langid, params: {column: text, keep: en}}
       |  gopher: {module: llm.gopher_filter, params: {column: text}}
       |  c4: {module: llm.c4_filter, params: {column: text, min_lines: "1"}}
       |  dedup: {module: llm.dedup_exact, params: {column: text, id: doc_id}}
       |  lm: {module: llm.lm_score, params: {column: text, id: doc_id}}
       |  number: {module: "plugin:flowbench.DocNumber"}
       |  near: {module: llm.dedup_near, params: {column: text, id: doc_num}}
       |  curated: {module: core.sink, params: {format: parquet, path: "$out"}}
       |pipeline:
       |  crawl: {connect: [urls]}
       |  urls: {connect: [words]}
       |  words: {connect: [lang]}
       |  lang: {connect: [gopher]}
       |  gopher: {connect: [c4]}
       |  c4: {connect: [dedup]}
       |  dedup: {connect: [lm]}
       |  lm: {connect: [number]}
       |  number: {connect: [near]}
       |  near: {connect: [curated]}
       |""".stripMargin

  def run(ctx: Ctx): Outcome = {
    val crawl = ctx.opt("crawl")
    val out = ctx.opt("out")
    val docs = ctx.opt("docs").toLong
    val expected = scala.io.Source.fromFile(ctx.opt("expected"))
    val want = try expected.getLines().map(_.trim).filter(_.nonEmpty).toSet
      finally expected.close()
    val reps = ctx.opt("setup_reps").toInt
    val compileMs = ArrayBuffer.empty[Double]
    val buildMs = ArrayBuffer.empty[Double]

    def compile(path: String): PipelineCompiler = {
      val (c, s) = Stats.timed(ctx.probe.span("pipeline.compile") {
        val repo = ConfigRepository.forPipeline(yaml(path, out))
        new PipelineCompiler(ctx.spark, repo.toPipelineConfig)
      })
      compileMs += s * 1000
      c
    }
    // one op: build the compiled DAG's DataFrames (some stages
    // materialize eagerly) and run the batch through the parquet commit
    def runOnce(path: String): (Double, Long) = {
      val c = compile(path)
      val t0 = System.nanoTime()
      buildMs += Stats.timed(ctx.probe.span("pipeline.build")(c.outputOf("curated")))._2 * 1000
      val counts = ctx.probe.span("pipeline.run_batch")(c.runBatch())
      (Stats.secondsSince(t0), counts("curated"))
    }
    def keptIds(): Set[String] =
      ctx.spark.read.parquet(out).select("doc_id").collect().map(_.getString(0)).toSet

    // set-up: the compile step repeated, plus one warm-up batch over a
    // small crawl of the same shape
    val setupReps = (0 until reps).map(_ => Stats.timed(compile(crawl))._2)
    val warmS = Stats.timed(runOnce(ctx.opt("warm_crawl")))._2
    compileMs.clear(); buildMs.clear()

    val runS = ArrayBuffer.empty[Double]
    val errors = ArrayBuffer.empty[String]
    var kept = 0L
    val fs0 = ctx.tracer.map(_ => CountingFileSystem.snapshot())
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    var lastPlanAt = t0Ms
    while (runS.isEmpty || Stats.secondsSince(t0) < ctx.seconds) {
      lastPlanAt = System.currentTimeMillis()
      val (s, n) = runOnce(crawl)
      runS += s
      kept = n
      val got = keptIds() // checked outside the timed call
      if (got != want)
        errors += s"curate rep ${runS.size}: kept ${got.size} docs, planted " +
          s"${want.size} survivors; missing ${(want -- got).take(3)}, " +
          s"unexpected ${(got -- want).take(3)}"
    }
    val t1Ms = System.currentTimeMillis()
    val fsLoop = fs0.map(a => CountingFileSystem.delta(a, CountingFileSystem.snapshot()))
    ctx.log(f"curate: set-up ${setupReps.map(x => f"$x%.2f").mkString(",")} s, warm-up $warmS%.1f s, " +
      s"op s ${runS.map(x => f"$x%.2f").mkString(",")}, kept $kept")
    val docsPerS = runS.map(docs / _)

    val layer = ctx.tracer.map { t =>
      t.drain()
      // scan stages: the ones whose lineage holds the crawl's binaryFiles RDD
      val crawlBytes = java.nio.file.Files.list(java.nio.file.Paths.get(crawl))
        .iterator().asScala.map(p => java.nio.file.Files.size(p)).sum
      val scans = t.stages.asScala.toSeq.filter(s =>
        s.submitMs >= t0Ms && s.rddNames.exists(_.contains(crawl)))
      val scanS = scans.map(s => (s.doneMs - s.submitMs) / 1000.0).sum
      val lastPlans = t.plans.asScala.toSeq.filter(_.atMs >= lastPlanAt)
      Map(
        "pipeline.compile_ms" -> Stats.median(compileMs.toSeq),
        "pipeline.build_ms" -> Stats.median(buildMs.toSeq),
        "sources.warc_mb_per_s" -> (if (scanS <= 0) 0.0
          else crawlBytes * scans.size / Tracer.MB / scanS),
        "llm.kept_ratio" -> kept.toDouble / docs,
        "functions.fallback_exprs" -> lastPlans.map(_.fallbacks.size).sum.toDouble,
        "plans.planning_ms" -> lastPlans.map(_.planningMs).sum.toDouble,
        "plans.topk_rewrites" -> lastPlans.count(_.topK).toDouble,
        "curate.docs_per_s" -> Stats.median(docsPerS.toSeq),
        "fs.meta_ops" -> CountingFileSystem.metaOps(fsLoop.get).toDouble / runS.size,
        "fs.ops_per_batch" -> CountingFileSystem.allOps(fsLoop.get).toDouble / runS.size) ++
        t.sparkMetrics(t0Ms, t1Ms, ctx.cores)
    }.getOrElse(Map.empty)

    Outcome(
      Map("throughput_per_s" -> Stats.median(docsPerS.toSeq),
        "latency_p50_ms" -> Stats.median(runS.toSeq) * 1000,
        "latency_tail_ms" -> runS.max * 1000,
        "success_ratio" -> (runS.size - errors.size).toDouble / runS.size),
      layer, setupReps, warmS, attempted = runS.size.toLong,
      failed = errors.size.toLong, errors = errors.toSeq)
  }
}
