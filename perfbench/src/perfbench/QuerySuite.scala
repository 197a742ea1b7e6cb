package perfbench

import graft.QueryDef
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Random, Success, Try}

/** `query_suite`: the registered queries, grouped by the module whose
  * `.all` list registers them, each materialised with a `noop` write
  * (the operation `graft.Bench` times) over the vendored sf0.001 tables.
  *
  * A pass runs a fixed systematic sample of the registry — every
  * `stride`-th query of each module in registration order — in an order
  * shuffled by the seed. The first (set-up) pass fingerprints every
  * query's output and checks it against the expected file; the timed
  * passes then repeat until the measuring time is used up. */
object QuerySuite {

  /** `llm.Sampling.all` without `qDiversity`. */
  private val Sampling = {
    import graft.llm.Sampling._
    Seq(qSplit, qPacking, qStratified, qTemperature, qChunking, qCorpusMix, qBudget,
      qShuffleShard, qDomainCap, qJsonlRoundtrip)
  }

  /** Module → its queries, in the order `graft.SparkEntry.defs` lists them,
    * without `llm.Similarity` and `llm.Sampling.qDiversity`: building them
    * trains the IVF centroids of `Similarity` (9 s per JVM for the
    * fixture's, 25–30 s for `qIvfTrained`'s), which does not fit the
    * per-run time budget. */
  val Modules: Seq[(String, Seq[QueryDef])] = Seq(
    "operators" -> (graft.operators.Aggregations.all ++ graft.operators.Joins.all ++
      graft.operators.ScaleJoins.all ++ graft.operators.Windows.all ++
      graft.operators.Generators.all ++ graft.operators.Cleanse.all ++
      graft.operators.JsonOps.all ++ graft.operators.Scd2.all),
    "quality" -> (graft.quality.Expectations.all ++ graft.quality.Validation.all ++
      graft.quality.Profiling.all),
    "functions" -> graft.functions.Geo.all,
    "maintenance" -> graft.maintenance.Maintenance.all,
    "streaming" -> (graft.streaming.Streams.all ++ graft.streaming.StatefulTopK.all ++
      graft.streaming.Sessions.all),
    "llm" -> (graft.llm.TextAnalysis.all ++ graft.llm.Retrieval.all ++ graft.llm.Dedup.all ++
      graft.llm.Bpe.all ++ graft.llm.Multimodal.all ++ Sampling))

  val ModuleNames: Seq[String] = Modules.map(_._1)

  /** Sampling stride: a pass takes every 16th query of each module. */
  val Stride = 16
  /** Passes a run makes at least, so each query's median has three samples. */
  val MinPasses = 3

  /** Every `stride`-th query of each module, starting with its first. */
  def selection(stride: Int): Seq[(String, QueryDef)] =
    Modules.flatMap { case (m, qs) =>
      qs.zipWithIndex.collect { case (q, i) if i % stride == 0 => m -> q }
    }

  /** Row count and an order-insensitive hash of the rows' JSON images. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(positional.columns.map(col).toIndexedSeq: _*)))
    val r = positional.select(h.bitwiseAND(0xffffffffL).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    // recording covers the whole registry, so the sample can change later
    val queries =
      if (c.record.nonEmpty) graft.SparkEntry.defs.map(q => "" -> q)
      else selection(if (c.tiny) 1000 else Stride)
    val dir = c.dataDir

    // set-up pass: fingerprint each output (also warms the JIT and codegen)
    val prints = queries.map { case (_, q) =>
      val q0 = System.nanoTime()
      val print = Try(fingerprint(q.build(spark, dir)))
      c.log(f"checked ${q.name} in ${(System.nanoTime() - q0) / 1e9}%.2f s")
      q.name -> print
    }
    val messages = mutable.ArrayBuffer.empty[String]
    prints.foreach {
      case (n, Failure(e)) => messages += s"$n: failed in the check pass: ${e.getMessage}"
      case _ =>
    }
    c.record.foreach { path =>
      val body = prints.collect { case (n, Success((rows, hash))) =>
        s"""  "$n": {"rows": $rows, "hash": $hash}"""
      }.mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(path), body.getBytes("UTF-8"))
    }
    if (c.record.nonEmpty)
      return Outcome(messages.isEmpty, messages.toSeq, prints.size, messages.size,
        c.sinceStartS(), Nil, 0.0, Map.empty)
    val expected = {
      val root = Json.read(new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(c.expected)), "UTF-8"))
      root.properties().asScala.map { e =>
        e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asLong)
      }.toMap
    }
    prints.foreach {
      case (n, Success(got)) => expected.get(n) match {
        case None => messages += s"$n: no expected output recorded"
        case Some(want) if want != got =>
          messages += s"$n: rows/hash $got, expected $want"
        case _ =>
      }
      case _ =>
    }

    val setupS = c.sinceStartS()
    c.openWindow()
    // per query, its run times over the untraced and the traced passes
    val plain, traced = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    queries.foreach { case (_, q) =>
      plain(q.name) = mutable.ArrayBuffer.empty
      traced(q.name) = mutable.ArrayBuffer.empty
    }
    var plainS = 0.0
    val t0 = System.nanoTime()
    var pass = 0
    do {
      c.tracer.enabled = c.traced && pass % 2 == 1
      val times = if (c.tracer.enabled) traced else plain
      val p0 = System.nanoTime()
      new Random(c.seed * 1000003L + pass).shuffle(queries).foreach { case (m, q) =>
        val q0 = System.nanoTime()
        val ok = Try(c.tracer.span("bench", q.name) {
          val df = c.tracer.span(m, "build")(q.build(spark, dir))
          c.tracer.span(m, "run")(df.write.format("noop").mode("overwrite").save())
        }) match {
          case Success(_) => true
          case Failure(e) =>
            System.err.println(s"[perfbench] ${q.name} failed: ${e.getMessage}"); false
        }
        times(q.name) += (if (ok) (System.nanoTime() - q0) / 1e9 else Double.NaN)
      }
      if (!c.tracer.enabled) plainS += (System.nanoTime() - p0) / 1e9
      pass += 1
      System.gc() // between passes, so no pass pays the previous one's collections
    } while ((System.nanoTime() - t0) / 1e9 < c.seconds || pass < MinPasses)
    val runs = (plain.values ++ traced.values).flatten.toSeq
    val plainDone = plain.values.flatten.count(!_.isNaN)
    def perQuery(m: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]) =
      m.values.filter(_.nonEmpty).map(_.toSeq).toSeq

    val layers = c.closeWindow { report =>
      val perModule = ModuleNames.flatMap { m =>
        val build = report.outermost(m, Some("build"))
        val run = report.outermost(m, Some("run"))
        val sp = report.spark(build ++ run)
        Seq(s"$m.build_ms" -> report.durationMs(build), s"$m.run_ms" -> report.durationMs(run)) ++
          Seq("catalyst_ms", "jobs", "job_busy_ms", "driver_gap_ms", "shuffle_write_bytes",
            "scan_bytes").map(k => s"$m.$k" -> sp(k))
      }
      perModule.toMap
    }

    Outcome(
      correct = messages.isEmpty,
      messages = messages.toSeq,
      attempted = runs.size,
      failed = runs.count(_.isNaN),
      setupS = setupS,
      // per query, its times over the passes; run.py takes their median
      latencies = perQuery(plain),
      throughputPerS = plainDone / plainS,
      extra = Map("passes" -> pass.toDouble, "queries" -> queries.size.toDouble) ++
        plain.map { case (n, ts) => s"median_s.$n" -> Stats.medianWithFailures(ts.toSeq) },
      tracedLatencies = perQuery(traced),
      layers = layers)
  }
}
