package perfbench

import graft.pipelines.{Fixtures, Medallion}
import graft.sources.DeltaLog
import graft.sources.MergeClause.{MatchedUpdate, NotMatchedInsert}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** `cdc_stream`: the reference's continuous bronze → silver path feeding
  * the gold fact, driven open-loop.
  *
  * One generator thread lands pre-rendered Debezium-envelope trip-event
  * files into a landing directory at a fixed rate (plain file IO with an
  * atomic rename, standing in for Kafka). A seeded schedule spreads each
  * trip's lifecycle events over several files. One streaming query reads
  * the directory, parses bronze and drops redelivered events with
  * `dropDuplicatesWithinWatermark` (the engine's cross-batch dedup); each
  * micro-batch appends bronze and silver with `DeltaLog.write` and MERGEs
  * the recomputed gold fact rows of the trips it touched. Freshness of a
  * file runs from its due time to the end of the gold commit of the
  * micro-batch that took it. */
object CdcStream {
  /** Small files often, so that each file's wait for the next micro-batch
    * spreads evenly over a batch and the freshness percentiles do not
    * hinge on where one batch boundary falls. */
  val FilesPerSecond = 4
  /** Fixture copies per landed file: 18 trip events each. */
  val CopiesPerFile = 5
  val DrainTimeoutMs = 60000L
  /** Event-time horizon of the stream's dedup state: the fixture's events
    * span 130 minutes, so no event is ever late. */
  val DedupHorizon = "1 day"

  private val TripId = """\\"trip_id\\":\\"([^\\"]+)\\"""".r
  private val EventId = """\\"event_id\\":(\d+)""".r

  final case class Tables(root: String) {
    val landing = s"$root/landing"
    val staging = s"$root/staging"
    val ckpt = s"$root/checkpoint"
    val bronze = s"$root/bronze_trip_events"
    val silver = s"$root/silver_trips"
    val gold = s"$root/trip_fact"
  }

  final case class Dims(location: DataFrame, merchant: DataFrame)

  final case class Progress(batchId: Long, startMs: Long, endLogOffset: Long,
      durations: Map[String, Long])

  /** Assigns every event to a file: each trip starts in a seeded file and
    * each next lifecycle event lands 0–2 s later, a redelivered event too.
    * Returns the lines of each file. */
  def schedule(events: Seq[String], nFiles: Int, seed: Long): Array[Seq[String]] = {
    val rnd = new Random(seed)
    val files = Array.fill(nFiles)(mutable.ArrayBuffer.empty[String])
    val byTrip = events.groupBy(e => TripId.findFirstMatchIn(e).get.group(1)).toSeq.sortBy(_._1)
    byTrip.foreach { case (_, evs) =>
      var f = rnd.nextInt(nFiles)
      evs.sortBy(e => (EventId.findFirstMatchIn(e).get.group(1).toLong, e)).foreach { e =>
        files(f) += e
        f = math.min(nFiles - 1, f + rnd.nextInt(2 * FilesPerSecond + 1))
      }
    }
    files.map(lines => rnd.shuffle(lines.toSeq))
  }

  private def createTables(spark: SparkSession, t: Tables, dims: Dims): Unit = {
    val noRaw = spark.emptyDataFrame.select(lit("").as("raw_json"))
    val bronze = Medallion.bronze(noRaw, "trip_events")
    DeltaLog.write(spark, bronze, t.bronze)
    DeltaLog.write(spark, Medallion.silverTrips(bronze), t.silver)
    DeltaLog.write(spark, Medallion.tripFact(Medallion.silverTrips(bronze), dims.location,
      dims.merchant), t.gold)
    Seq(t.landing, t.staging).foreach(d => Files.createDirectories(Paths.get(d)))
  }

  /** One micro-batch of deduplicated bronze rows: bronze append, silver
    * append, gold MERGE of the touched trips' fact rows recomputed from
    * their whole silver history. */
  private def processBatch(c: Ctx, t: Tables, dims: Dims, bronze: DataFrame): Unit = {
    val spark = c.spark
    val tr = c.tracer
    tr.span("bench", "batch") {
      // the batch carries the dedup state's commit: evaluate it once
      bronze.persist()
      try {
        tr.span("sources", "bronze_append")(DeltaLog.write(spark, bronze, t.bronze, "append"))
        val silver = tr.span("pipelines", "silver")(Medallion.silverTrips(bronze))
        tr.span("sources", "silver_append")(DeltaLog.write(spark, silver, t.silver, "append"))
        val history = tr.span("sources", "readback")(DeltaLog.read(spark, t.silver))
        val touched = history.join(silver.select("trip_id").distinct(), Seq("trip_id"), "left_semi")
        val fact = tr.span("pipelines", "trip_fact")(
          Medallion.tripFact(touched, dims.location, dims.merchant))
        tr.span("sources", "gold_upsert")(DeltaLog.merge(spark, t.gold, fact, Seq("trip_id"),
          Seq(MatchedUpdate(None, Map.empty), NotMatchedInsert(None, Map.empty))))
      } finally bronze.unpersist()
    }
  }

  /** A traced run traces the odd micro-batches of the measured stream. */
  private def tracedBatch(c: Ctx, id: Long): Boolean = c.traced && id % 2 == 1

  private def startStream(c: Ctx, t: Tables, dims: Dims, trigger: Trigger,
      batchEnds: mutable.Map[Long, Long], measured: Boolean) = {
    val raw = c.spark.readStream.format("text").load(t.landing)
    Medallion.bronze(raw.select(col("value").as("raw_json")), "trip_events")
      .withWatermark("event_time", DedupHorizon)
      .dropDuplicatesWithinWatermark("event_id")
      .writeStream
      .foreachBatch { (batch: Dataset[Row], id: Long) =>
        c.tracer.enabled = measured && tracedBatch(c, id)
        processBatch(c, t, dims, batch)
        c.log(s"batch $id done")
        val end = System.currentTimeMillis()
        batchEnds.synchronized(batchEnds(id) = end)
        if (c.tracer.enabled) c.tracer.span("sources", "snapshot")(DeltaLog.snapshot(c.spark, t.gold))
        ()
      }
      .option("checkpointLocation", t.ckpt)
      .trigger(trigger)
      .start()
  }

  private def land(t: Tables, name: String, lines: Seq[String]): Long = {
    val staged = Paths.get(t.staging, name)
    Files.write(staged, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(staged, Paths.get(t.landing, name), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  private def fileName(i: Int): String = f"f$i%05d.txt"

  /** File index → source-log batch, read from the stream's checkpoint:
    * the file source logs one JSON line per file with its `path` and
    * `batchId`, and every tenth log file is a `.compact` rollup. */
  private def sourceLog(t: Tables): Map[Int, Long] = {
    val dir = Paths.get(t.ckpt, "sources", "0")
    if (!Files.isDirectory(dir)) return Map.empty
    val entry = """"path":"[^"]*/f(\d+)\.txt".*?"batchId":(\d+)""".r
    Files.list(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.matches("""\d+(\.compact)?"""))
      .flatMap { p =>
        val text = scala.util.Try(new String(Files.readAllBytes(p), "UTF-8")).getOrElse("")
        entry.findAllMatchIn(text).map(m => m.group(1).toInt -> m.group(2).toLong)
      }.toMap
  }

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    // a batch without data would only advance the dedup watermark, yet
    // foreachBatch would still make its three empty commits
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    val nFiles = c.seconds * FilesPerSecond
    val copiesPerFile = if (c.tiny) 2 else CopiesPerFile
    val copies = nFiles * copiesPerFile
    val topics = Fixtures.topicsScaled(spark, copies)

    // static entity side, landed once: what the gold fact joins against
    val merchant = Medallion.silverMerchant(Medallion.bronze(topics("merchant"), "merchant"))
    val eater = Medallion.silverEater(Medallion.bronze(topics("eater"), "eater"))
    def landed(df: DataFrame, name: String): DataFrame = {
      val p = s"${c.workDir}/cdc_dims/$name"
      df.write.mode("overwrite").parquet(p)
      spark.read.parquet(p)
    }
    val dims = Dims(landed(Medallion.dimLocation(eater, merchant), "dim_location"),
      landed(merchant, "silver_merchant"))

    c.log("dims landed")
    val events = topics("trip_events").select("raw_json").collect().map(_.getString(0)).toSeq
    val files = schedule(events, nFiles, c.seed)

    c.log("events rendered")
    // warm-up on throwaway tables: one micro-batch of one second's files
    val warm = Tables(s"${c.workDir}/cdc_warm")
    createTables(spark, warm, dims)
    files.take(FilesPerSecond).zipWithIndex.foreach { case (lines, i) =>
      land(warm, fileName(i), lines)
    }
    startStream(c, warm, dims, Trigger.AvailableNow(), mutable.Map.empty, false)
      .awaitTermination()

    c.log("warm-up done")
    val t = Tables(s"${c.workDir}/cdc")
    createTables(spark, t, dims)
    val progress = mutable.ArrayBuffer.empty[Progress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.durationMs.containsKey("addBatch")) progress.synchronized {
          progress += Progress(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
            Json.read(p.sources.head.endOffset).path("logOffset").asLong(-1L),
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
        }
      }
    }
    spark.streams.addListener(listener)
    val batchEnds = mutable.HashMap.empty[Long, Long]
    val query = startStream(c, t, dims, Trigger.ProcessingTime(0L), batchEnds, true)

    val setupS = c.sinceStartS()
    c.openWindow()
    val periodMs = 1000L / FilesPerSecond
    val firstDue = System.currentTimeMillis() + periodMs
    val due = Array.tabulate(nFiles)(i => firstDue + i * periodMs)
    val landedAt = new Array[Long](nFiles)
    val generator = new Thread(() => {
      files.indices.foreach { i =>
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        landedAt(i) = land(t, fileName(i), files(i))
      }
    }, "perfbench-generator")
    generator.start()
    generator.join()

    // drain: wait until every landed file's micro-batch has committed gold
    def microBatchOf: Map[Int, Long] = {
      val log = sourceLog(t)
      val ends = progress.synchronized(progress.toList).sortBy(_.endLogOffset)
      log.flatMap { case (f, logBatch) =>
        ends.find(_.endLogOffset >= logBatch).map(p => f -> p.batchId)
      }
    }
    def visibleAt(mb: Map[Int, Long]): Map[Int, Long] =
      batchEnds.synchronized(mb.flatMap { case (f, b) => batchEnds.get(b).map(f -> _) })
    val drainStart = System.currentTimeMillis()
    while (visibleAt(microBatchOf).size < nFiles &&
        System.currentTimeMillis() - drainStart < DrainTimeoutMs && query.isActive)
      Thread.sleep(100)
    c.log("drained")
    query.stop()
    spark.streams.removeListener(listener)
    val visible = visibleAt(microBatchOf)
    val streamError = query.exception.map(_.getMessage)

    val fresh = due.indices.map(i => visible.get(i).map(v => (v - due(i)) / 1e3)
      .getOrElse(Double.NaN))
    val lateness = due.indices.map(i => landedAt(i) - due(i))
    val byBatch = microBatchOf
    val isTraced = due.indices.map(i => byBatch.get(i).exists(tracedBatch(c, _)))
    val eventsIn = files.map(_.size)
    val visibleEvents = visible.keys.toSeq.map(eventsIn).sum
    val lastVisible = if (visible.isEmpty) firstDue else visible.values.max
    val throughput = visibleEvents / math.max(1e-3, (lastVisible - firstDue) / 1e3)

    val batches = progress.synchronized(progress.toList).sortBy(_.batchId)
    val layers = c.closeWindow { report =>
      def ms(name: String) = report.durationMs(report.outermost("sources", Some(name)))
      def dur(key: String) = batches.map(_.durations.getOrElse(key, 0L)).sum.toDouble
      // files landed but not yet committed to gold when a batch started
      val backlog = batches.map { b =>
        val landedBefore = landedAt.count(_ <= b.startMs)
        val done = byBatch.count { case (_, mb) =>
          batchEnds.synchronized(batchEnds.get(mb)).exists(_ <= b.startMs)
        }
        landedBefore - done
      }
      // commits in the three logs, table creation included
      val versions = Seq(t.bronze, t.silver, t.gold)
        .map(p => DeltaLog.snapshot(spark, p).version + 1).sum
      Map(
        "sources.bronze_append_ms" -> ms("bronze_append"),
        "sources.silver_append_ms" -> ms("silver_append"),
        "sources.gold_upsert_ms" -> ms("gold_upsert"),
        "sources.readback_ms" -> ms("readback"),
        "sources.snapshot_ms" -> ms("snapshot"),
        "sources.log_versions" -> versions.toDouble,
        "pipelines.plan_ms" -> report.durationMs(report.outermost("pipelines")),
        "streaming.latest_offset_ms" -> dur("latestOffset"),
        "streaming.get_batch_ms" -> dur("getBatch"),
        "streaming.add_batch_ms" -> dur("addBatch"),
        "streaming.planning_ms" -> dur("queryPlanning"),
        "streaming.wal_commit_ms" -> dur("walCommit"),
        "streaming.batches" -> batches.size.toDouble,
        "streaming.files_per_batch" -> byBatch.size.toDouble / math.max(1, batches.size),
        "streaming.backlog_files_max" -> (if (backlog.isEmpty) 0 else backlog.max).toDouble,
        "self.streaming_ms" -> (dur("triggerExecution") - dur("addBatch")),
        "bench.gen_late_max_ms" -> lateness.max.toDouble)
    }

    // correctness: gold equals the batch fact over every landed event, and
    // silver holds each event_id once
    val messages = mutable.ArrayBuffer.empty[String]
    streamError.foreach(e => messages += s"stream failed: $e")
    val allRaw = spark.read.text(t.landing).select(col("value").as("raw_json"))
    val batchFact = Medallion.tripFact(
      Medallion.silverTrips(Medallion.bronze(allRaw, "trip_events")), dims.location, dims.merchant)
    // materialise both sides: they share the dim subplans (see StreamingMedallionSpec)
    val want = batchFact.localCheckpoint(true)
    val got = DeltaLog.read(spark, t.gold).select(batchFact.columns.map(col).toIndexedSeq: _*)
      .localCheckpoint(true)
    val (gotRows, wantRows) = (got.count(), want.count())
    if (wantRows != 3L * copies) messages += s"batch fact has $wantRows rows, expected ${3L * copies}"
    if (got.exceptAll(want).count() != 0 || want.exceptAll(got).count() != 0)
      messages += s"gold fact ($gotRows rows) differs from the batch fact ($wantRows rows)"
    val silver = DeltaLog.read(spark, t.silver)
    val (silverRows, silverIds) =
      (silver.count(), silver.select("event_id").distinct().count())
    if (silverRows != silverIds) messages += s"silver holds $silverRows rows for $silverIds event ids"
    c.log("checked")
    val half = nFiles / 2

    Outcome(
      correct = messages.isEmpty,
      messages = messages.toSeq,
      attempted = nFiles,
      failed = nFiles - visible.size,
      setupS = setupS,
      latencies = due.indices.filterNot(isTraced).map(i => Seq(fresh(i))),
      throughputPerS = throughput,
      extra = Map(
        "files" -> nFiles.toDouble,
        "events" -> eventsIn.sum.toDouble,
        "batches" -> batches.size.toDouble,
        "gen_late_max_ms" -> lateness.max.toDouble,
        "fresh_p50_first_half_s" -> Stats.medianWithFailures(fresh.take(half)),
        "fresh_p50_second_half_s" -> Stats.medianWithFailures(fresh.drop(half))),
      tracedLatencies = due.indices.filter(isTraced).map(i => Seq(fresh(i))),
      layers = layers)
  }
}
