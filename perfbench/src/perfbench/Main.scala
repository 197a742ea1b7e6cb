package perfbench

import org.apache.spark.sql.SparkSession

/** What one workload hands back: the correctness verdict, the operation
  * counts, the set-up time, the latency samples of each operation of the
  * untraced work (one per query pass or per landed file; NaN for a failed
  * one), the rate of completed operations, and — traced runs only — the
  * latency samples of the traced work and the per-layer numbers. */
final case class Outcome(correct: Boolean, messages: Seq[String], attempted: Int,
    failed: Int, setupS: Double, latencies: Seq[Seq[Double]], throughputPerS: Double,
    extra: Map[String, Double], tracedLatencies: Seq[Seq[Double]] = Nil,
    layers: Map[String, Double] = Map.empty)

/** Run settings plus the measuring hooks shared by the workloads. */
final class Ctx(val spark: SparkSession, val traced: Boolean,
    val seed: Long, val seconds: Int, val tiny: Boolean, val workDir: String,
    val dataDir: String, val expected: String, val record: Option[String], startWallMs: Long) {

  val tracer = new Tracer(spark)
  private val events = if (traced) Some(SparkEvents.install(spark)) else None

  def sinceStartS(): Double = (System.currentTimeMillis() - startWallMs) / 1e3

  /** A progress line for the run's log, stamped with the time since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${sinceStartS()}%7.2f s $msg")

  // wall ms − nanoTime ms, so listener times and span times share an axis
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** Starts the measured window: set-up's garbage is collected and its
    * Spark events are dropped. */
  def openWindow(): Unit = {
    System.gc()
    events.foreach { ev => SparkEvents.drain(spark); ev.clear() }
  }

  /** Writes the recorded spans, one JSON object a line, to `spans.jsonl`
    * in the work directory. */
  private def writeSpans(): Unit = {
    val lines = tracer.spans.map(sp => Json.write(Map(
      "id" -> sp.id, "parent" -> sp.parent, "layer" -> sp.layer, "name" -> sp.name,
      "start_ms" -> (sp.startMs + offsetMs), "end_ms" -> (sp.endMs + offsetMs))))
    java.nio.file.Files.write(java.nio.file.Paths.get(workDir, "spans.jsonl"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  /** Ends the window. On a traced run returns the Spark layer under the
    * traced units of work, the self time per layer, and whatever
    * `workload` adds; an untraced run returns nothing. */
  def closeWindow(workload: LayerReport => Map[String, Double]): Map[String, Double] = {
    tracer.enabled = false
    events match {
      case None => Map.empty
      case Some(ev) =>
        SparkEvents.drain(spark)
        writeSpans()
        val report = new LayerReport(tracer.spans, ev, offsetMs)
        val whole = report.spark(report.outermost("bench")).map { case (k, v) => s"spark.$k" -> v }
        val self = report.selfMs(Ctx.Layers).map { case (k, v) => s"self.${k}_ms" -> v }
        whole ++ self ++ workload(report) + ("trace.spans" -> tracer.spans.size.toDouble)
    }
  }
}

object Ctx {
  /** The layers spans are recorded for: the benchmark itself, the modules
    * the stream calls, and the query modules (`streaming` is both). */
  val Layers: Seq[String] = Seq("bench", "pipelines", "sources", "streaming",
    "operators", "quality", "functions", "maintenance", "llm")
}

object Stats {
  /** Median where NaN marks a failed operation, which counts as +∞. */
  def medianWithFailures(xs: Seq[Double]): Double = {
    val s = xs.map(x => if (x.isNaN) Double.PositiveInfinity else x).sorted
    if (s.isEmpty) Double.PositiveInfinity
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  /** A number for JSON: NaN (a failed operation) and ±∞ become null. */
  def num(v: Double): Option[Double] = if (v.isNaN || v.isInfinite) None else Some(v)

  def write(v: Any): String = mapper.writeValueAsString(v)

  def read(text: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(text)
}

/** Entry point: `perfbench.Main --workload <w> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --data <dir> --expected <file> --out <file>
  * [--tiny] [--record <file>] [--start-ms <epoch ms>]`.
  * Writes the raw outcome as JSON to `--out`; `run.py` turns it into the
  * benchmark's result line. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val startMs = opts.get("start-ms").map(_.toLong).getOrElse(
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val spark = graft.GraftSession.local(4)
    val ctx = new Ctx(spark, opt("trace") == "1", opt("seed").toLong,
      opt("seconds").toInt, args.contains("--tiny"), opt("work"), opt("data"),
      opt("expected"), opts.get("record"), startMs)
    ctx.log("session ready")
    val out = try opt("workload") match {
      case "query_suite" => QuerySuite.run(ctx)
      case "cdc_stream" => CdcStream.run(ctx)
      case w => sys.error(s"unknown workload $w")
    } finally spark.stop()

    def nums(m: Map[String, Double]) = m.map { case (k, v) => k -> Json.num(v) }
    val json = Json.write(Map(
      "correct" -> out.correct,
      "messages" -> out.messages,
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "setup_s" -> Json.num(out.setupS),
      "latencies_s" -> out.latencies.map(_.map(Json.num)),
      "throughput_per_s" -> Json.num(out.throughputPerS),
      "traced_latencies_s" -> out.tracedLatencies.map(_.map(Json.num)),
      "extra" -> nums(out.extra),
      "layers" -> nums(out.layers)))
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")), (json + "\n").getBytes("UTF-8"))
  }
}
