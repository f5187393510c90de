package flowbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What a workload hands back to [[Main]]. Times are seconds unless the
  * metric name says otherwise. */
final case class Outcome(
    e2e: Map[String, Double],
    layer: Map[String, Double],
    setupRepsS: Seq[Double],
    warmupS: Double,
    attempted: Long,
    failed: Long,
    errors: Seq[String])

final case class Ctx(
    spark: SparkSession,
    probe: Probe,
    tracer: Option[Tracer],
    seed: Long,
    seconds: Double,
    work: String,
    opts: Map[String, String],
    cores: Int) {
  def opt(k: String): String =
    opts.getOrElse(k, sys.error(s"missing option --$k"))
  def traced: Boolean = tracer.nonEmpty
  /** Progress line for the engine log. */
  def log(msg: String): Unit = System.err.println(s"[flowbench] $msg")
}

/** Engine side of one benchmark run, in its own JVM:
  *
  *   flowbench.Main --workload <relay|curate> --seed N
  *     --seconds S --trace 0|1 --work <dir> [workload options]
  *
  * Starts the session through `GraftSession.get`, runs the workload and
  * writes `<work>/result.json` (and `<work>/spans.json` when traced) for
  * the runner, which owns the inputs, the checks and the printed line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val traced = opts.getOrElse("trace", "0") == "1"
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    if (traced) Tracer.configureSession()
    val spark = graft.GraftSession.get()
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.register())
    val ctx = Ctx(spark, tracer.getOrElse(Probe.Off), tracer, opts("seed").toLong,
      opts("seconds").toDouble, opts("work"), opts,
      spark.sparkContext.defaultParallelism)
    val out = try opts("workload") match {
      case "relay" => Relay.run(ctx)
      case "curate" => Curate.run(ctx)
      case other => sys.error(s"unknown workload '$other'")
    } catch {
      case e: Throwable =>
        System.err.println(s"[flowbench] workload failed: $e")
        e.printStackTrace()
        Outcome(Map.empty, Map.empty, Nil, 0.0, 1L, 1L, Seq(s"workload failed: $e"))
    }
    val setupS = sessionS + out.warmupS +
      (if (out.setupRepsS.isEmpty) 0.0 else Stats.median(out.setupRepsS))
    val layer = out.layer ++ (if (traced) Map(
      "session.start_s" -> sessionS,
      "session.warmup_s" -> out.warmupS) else Map.empty)
    val result = Map(
      "e2e" -> (out.e2e ++ Map("setup_s" -> setupS, "peak_rss_mb" -> Stats.peakRssMb())),
      "layer" -> layer,
      "setup_reps_s" -> out.setupRepsS,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "errors" -> out.errors)
    tracer.foreach(t => write(s"${ctx.work}/spans.json", t.spansJson()))
    write(s"${ctx.work}/result.json", Json.render(result))
    spark.stop()
  }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(UTF_8))
}
