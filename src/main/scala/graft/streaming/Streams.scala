package graft.streaming

import graft.QueryDef
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Structured Streaming layer — the reference's continuous pipelines
  * (ST1–ST6: /root/reference/jobs/bronze_pipeline_config.json:23,
  * /root/reference/pipelines/silver_pipeline.py:215,271,321) rebuilt on
  * file-source micro-batches with `Trigger.AvailableNow` so the same
  * code is testable offline and deployable against Kafka unchanged
  * (swap `readStream.parquet` for `readStream.format("kafka")`).
  *
  * Deliberate improvement over the reference (SURVEY §2.7 ST4): every
  * stateful stream here carries a WATERMARK — the reference's
  * unwatermarked streaming dropDuplicates grows state without bound,
  * which does not survive 100 TB. `dropDuplicatesWithinWatermark` bounds
  * dedup state to the watermark horizon; windowed aggregation state is
  * similarly evictable.
  *
  * Scale notes: the streaming plans are the same Catalyst plans as
  * batch — narrow parse/project stages pipeline in the micro-batch;
  * the only shuffles are the stateful aggregation/dedup exchanges, hash
  * partitioned by group/dedup key across `shuffle.partitions` state
  * stores.
  */
object Streams {

  /** events.parquet schema for the file stream source. A file stream
    * needs an explicit schema, and `ts` has shipped in two physical
    * encodings across testdata generations (TIMESTAMP(NANOS) → raw
    * LONG under the nanosAsLong conf; timestamp[us] → TIMESTAMP_NTZ),
    * so the type is taken from the actual footer — forcing LongType
    * over a micros column would silently read raw micros and collapse
    * every event time 1000×. */
  private def eventsSchema(tsType: DataType) = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over the events table with event-time timestamp
    * — same type dispatch as [[graft.Tables.events]]. */
  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val tsType = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val raw = spark.readStream
      .schema(eventsSchema(tsType))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    tsType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }

  /** S1: the production Kafka entry point — one topic per source table,
    * earliest offsets, loss-tolerant, exactly the reference's options
    * (bronze_pipeline.py:109-131). Returns the raw frame whose `value`
    * feeds Debezium.parseEnvelope; swap-in replacement for
    * [[eventsStream]]'s file source with no downstream change. Requires a
    * broker, so it is exercised in production, not in this offline
    * environment. */
  def kafkaDebeziumSource(spark: SparkSession, brokers: String, topic: String): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("failOnDataLoss", "false")
      .load()
      .selectExpr("CAST(key AS STRING) AS kafka_key",
        "CAST(value AS STRING) AS raw_json",
        "topic AS kafka_topic", "partition AS kafka_partition",
        "offset AS kafka_offset", "timestamp AS kafka_timestamp")

  /** S4: managed streaming table sink — checkpointed `toTable`, the
    * engine's stand-in for a DLT materialized streaming table
    * (bronze_pipeline.py:137-141). Runs to completion under AvailableNow;
    * under ProcessingTime in production. */
  def toManagedTable(df: DataFrame, table: String, checkpoint: String): Unit = {
    val q = df.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .toTable(table)
    q.awaitTermination()
  }

  /** Streaming append into an open-format Delta table with PROTOCOL-level
    * exactly-once: each micro-batch commits through
    * [[graft.sources.DeltaLog.write]] carrying a `txn` (SetTransaction)
    * action `(appId, batchId)`, and a batch whose id is ≤ the table's
    * last recorded txn version for this appId is skipped — so a replayed
    * micro-batch (checkpoint recovery re-running the last batch, or a
    * lost driver racing its successor) cannot double-append. This is the
    * same idempotence mechanism real streaming Delta sinks use, and it
    * makes exactly-once hold even though foreachBatch itself is
    * at-least-once.
    *
    * Scale: each commit appends only the batch's files to the log (KBs);
    * the txn probe replays log metadata, bounded by the latest
    * checkpoint ([[graft.sources.DeltaLog.checkpoint]] persists txn
    * state, so vacuumed JSON prefixes don't lose it).
    *
    * CAVEAT — `appId` identifies ONE checkpoint lineage. The guard keys
    * on (appId, batchId) and batch ids restart at 0 whenever the
    * checkpoint directory is replaced, so re-pointing an already-used
    * appId at a fresh checkpoint makes genuinely new low-numbered
    * batches look already-applied and silently drops them. Derive the
    * appId from the checkpoint path, or retire appId and checkpoint
    * together — never reuse an appId whose txn state outlives its
    * checkpoint. (The same documented caveat as production Delta
    * streaming sinks' idempotent-writes contract.) */
  def foreachBatchDeltaAppend(df: DataFrame, table: String, checkpoint: String,
      appId: String): Unit = {
    val q = df.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          batchId: Long) =>
        val spark = batch.sparkSession
        val applied = graft.sources.DeltaLog.lastTxn(spark, table, appId)
        if (!applied.exists(_ >= batchId))
          graft.sources.DeltaLog.write(spark, batch, table, "append",
            txn = Some(appId -> batchId))
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming MERGE into an open-format Delta table: each micro-batch
    * upserts through the copy-on-write
    * [[graft.sources.DeltaLog.mergeUpsert]] — only files containing
    * matched keys are rewritten, each batch is one atomic protocol
    * commit, and replay is idempotent at the ROW level via the recency
    * guard (a re-merged batch rewrites rows to values they already
    * hold; a [[graft.sources.DeltaLog.changesBetween]] consumer sees
    * cancelling delete+insert pairs, so incremental gold maintenance
    * stays exact across restarts). This is the reference's streaming
    * upsert sink (S8) expressed against the open protocol. */
  def foreachBatchDeltaMerge(df: DataFrame, table: String, checkpoint: String,
      keys: Seq[String], recencyCol: String): Unit = {
    val q = df.writeStream
      .outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        graft.sources.DeltaLog.mergeUpsert(batch.sparkSession, table, batch,
          keys, recencyCol)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Run a streaming DataFrame to completion (AvailableNow) into a memory
    * sink and return the materialized result. Fresh checkpoint per run —
    * results are deterministic, so recovery state is not reused across
    * verification runs.
    *
    * `statePartitions` is the stateful-operator sharding: Spark freezes
    * `shuffle.partitions` into the checkpoint at first start, so unlike
    * batch (where AQE coalesces) this number must be CHOSEN, sized to
    * steady-state state volume (≈ state bytes / 128 MiB per store), not
    * inherited from the batch shuffle default. Every store pays a
    * per-micro-batch commit, so oversharding a small stream buys pure
    * overhead — the opposite economics of batch oversizing. */
  def runToMemory(df: DataFrame, name: String, outputMode: String,
      statePartitions: Int = 8,
      // an INNER stream-stream join emits eagerly and its no-data
      // micro-batch only evicts state (no rows) — callers whose output
      // cannot depend on it skip that extra full state-store round.
      // Watermark-flushed shapes (append-mode windows/dedup) keep it.
      noDataBatches: Boolean = true): DataFrame = {
    val spark = df.sparkSession
    val checkpoint = Files.createTempDirectory(s"graft-ckpt-$name-").toString
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    val savedNoData = spark.conf
      .getOption("spark.sql.streaming.noDataMicroBatches.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", statePartitions)
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
      noDataBatches.toString)
    try {
      val q = df.writeStream
        .queryName(name)
        .outputMode(outputMode)
        .format("memory")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      savedNoData match {
        case Some(v) =>
          spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", v)
        case None =>
          spark.conf.unset("spark.sql.streaming.noDataMicroBatches.enabled")
      }
    }
    spark.table(name)
  }

  /** ST1+ST5: watermarked event-time windowed aggregation (1-day tumbling
    * windows × event_type), run continuously in production, AvailableNow
    * here. Complete output mode: every window in the result, exactly the
    * batch answer. */
  val qWindowedAgg: QueryDef = QueryDef.sql(
    "q_stream_windowed_agg",
    """SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS win_start,
      |  event_type,
      |  count(*) AS n_events,
      |  CAST(round(sum(CAST(value AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2""".stripMargin) { (spark, dir) =>
    val agg = eventsStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(38, 10))), 2)
          .cast("double").as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))
    runToMemory(agg, "q_stream_windowed_agg_sink", "complete")
  }

  /** ST4: watermarked streaming dedup over an at-least-once stream (the
    * source unioned with itself = every event delivered twice).
    * dropDuplicatesWithinWatermark keeps state only inside the watermark
    * horizon — the bounded-state fix for silver_pipeline.py:215. */
  val qDedupWatermark: QueryDef = QueryDef.sql(
    "q_stream_dedup_watermark",
    "SELECT DISTINCT event_id, event_type, value FROM events") { (spark, dir) =>
    val once = eventsStream(spark, dir)
    val twice = once.unionByName(eventsStream(spark, dir))
    val deduped = twice
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"), col("value"))
    runToMemory(deduped, "q_stream_dedup_sink", "append")
  }

  /** Stream-stream inner join with an event-time range condition — the
    * click→purchase attribution shape: each purchase joins the same
    * user's clicks from the preceding hour. Watermarks on BOTH sides
    * plus the range predicate bound the join state: a buffered click is
    * evictable once the purchase-side watermark passes click_ts + 1h.
    * Inner joins emit eagerly, so the AvailableNow run equals the batch
    * interval join exactly (no flush sentinel needed, unlike
    * [[Sessions]]). */
  val qStreamJoin: QueryDef = QueryDef.sql(
    "q_stream_join",
    """SELECT a.user_id, a.event_id AS click_id, b.event_id AS purchase_id,
      |  CAST(a.ts AS TIMESTAMP) AS click_ts, CAST(b.ts AS TIMESTAMP) AS purchase_ts
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR
      |WHERE a.event_type = 'click' AND b.event_type = 'purchase'""".stripMargin) {
    (spark, dir) =>
      val clicks = eventsStream(spark, dir)
        .where(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
        .withWatermark("click_ts", "0 seconds")
      val purchases = eventsStream(spark, dir)
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
          col("ts").as("purchase_ts"))
        .withWatermark("purchase_ts", "0 seconds")
      val joined = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("INTERVAL 1 HOUR"))
        .select(col("user_id"), col("click_id"), col("purchase_id"),
          col("click_ts"), col("purchase_ts"))
      runToMemory(joined, "q_stream_join_sink", "append",
        noDataBatches = false)
  }

  /** Stream–static enrichment join: the micro-batch stream against a
    * static dimension — the reference's silver enrichment shape and
    * the most common streaming join in production. Stateless: no
    * watermark, no state store; each micro-batch joins and emits, so
    * throughput is scan-bound. The static side is re-read per
    * micro-batch, picking up dimension updates between batches. The
    * join side carries no broadcast hint: customer scales with SF, so
    * the planner's size stats pick broadcast while the dim fits and a
    * per-batch shuffle join once it doesn't. */
  val qStreamEnrich: QueryDef = QueryDef.sql(
    "q_stream_enrich",
    """SELECT event_id, user_id, c_mktsegment AS segment, event_type, value
      |FROM events JOIN customer ON user_id = c_custkey""".stripMargin) { (spark, dir) =>
    val dim = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val enriched = eventsStream(spark, dir)
      .join(dim, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("segment"),
        col("event_type"), col("value"))
    runToMemory(enriched, "q_stream_enrich_sink", "append")
  }

  /** S2: stream FROM a managed protocol table — the reference's
    * `dlt.read_stream` (silver_pipeline.py:107). The events feed is
    * landed in a Delta table, then [[graft.streaming.DeltaStreamProvider]]
    * tails its LOG: offsets are log versions, each micro-batch reads
    * only newly-added files, deletion vectors apply, and checkpointed
    * offsets give crash-resume (StreamingMedallionSpec). Here the whole
    * table arrives as the initial-snapshot batch and the streamed
    * aggregate must equal the batch answer. */
  val qDeltaTail: QueryDef = QueryDef.sql(
    "q_stream_delta_tail",
    """SELECT event_type, count(*) AS n_events,
      |  CAST(round(sum(CAST(value AS DECIMAL(38,10))), 2) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1""".stripMargin) { (spark, dir) =>
    val tbl = Files.createTempDirectory("graft-delta-tail-").toString + "/events"
    graft.sources.DeltaLog.write(spark, graft.Tables.events(spark, dir), tbl)
    val agg = spark.readStream.format("graft-delta").load(tbl)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast(DecimalType(38, 10))), 2)
          .cast("double").as("sum_value"))
    // complete-mode aggregation with no watermark: every data batch
    // re-emits the full result, a no-data batch adds nothing
    runToMemory(agg, "q_stream_delta_tail_sink", "complete",
      noDataBatches = false)
  }

  /** S2 on the SECOND format: stream FROM an Iceberg table by tailing
    * its snapshot chain ([[graft.streaming.IcebergStreamProvider]] —
    * offsets are snapshot ids, each micro-batch is the row-level
    * changelog of its commits). Anchored past the FIRST wave
    * (`startingSnapshot`), capped to one commit per trigger, with a
    * merge-on-read DELETE commit in the middle that `skipChangeCommits`
    * must skip WHOLE (append-only semantics: already-streamed rows are
    * never retracted). The oracle recomputes exactly waves 2 and 3. */
  val qIcebergTail: QueryDef = QueryDef.sql(
    "q_stream_iceberg_tail",
    """SELECT event_id, user_id, event_type, value FROM events
      |WHERE event_id % 3 = 1
      |UNION ALL
      |SELECT event_id, user_id, event_type, value FROM events
      |WHERE event_id % 3 = 2""".stripMargin) { (spark, dir) =>
    val tbl = Files.createTempDirectory("graft-ice-tail-").toString + "/events"
    val ev = graft.Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "value")
    def wave(i: Int) = ev.where(col("event_id") % 3 === i)
    graft.sources.IcebergTable.writeAppend(spark, wave(0), tbl)
    val anchor = graft.sources.IcebergTable.refSnapshotId(spark, tbl, "main")
    graft.sources.IcebergTable.writeAppend(spark, wave(1), tbl)
    graft.sources.IcebergTable.deleteWhere(spark, tbl,
      col("user_id") % 10 === 0)
    graft.sources.IcebergTable.writeAppend(spark, wave(2), tbl)
    // per-commit chunking (maxSnapshotsPerTrigger) is spec-covered in
    // IcebergStreamSpec; the bench row lets the catch-up land as ONE
    // changelog batch — the production steady-state shape
    val tail = spark.readStream.format("graft-iceberg")
      .option("startingSnapshot", anchor.toString)
      .option("skipChangeCommits", "true")
      .load(tbl)
    runToMemory(tail, "q_stream_iceberg_tail_sink", "append")
  }

  /** Streaming CDF, oracle-verified: a customer table takes a DV
    * DELETE (v1) then an append (v2); the `readChangeFeed` stream
    * anchored at version 1 must emit exactly the masked rows as
    * `delete` events and the appended rows as `insert` events, each
    * stamped with its commit version — the same per-commit contract
    * DuckDB expresses as two filtered projections. */
  val qStreamCdf: QueryDef = QueryDef.sql(
    "q_stream_cdf",
    """SELECT c_custkey, c_nationkey,
      |  'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      |FROM customer WHERE c_custkey % 11 = 0
      |UNION ALL
      |SELECT c_custkey, c_nationkey + 7, 'insert', CAST(2 AS BIGINT)
      |FROM customer WHERE c_custkey % 13 = 0""".stripMargin) { (spark, dir) =>
    val tbl = Files.createTempDirectory("graft-stream-cdf-").toString + "/t"
    val cust = graft.Tables.customer(spark, dir)
      .select("c_custkey", "c_nationkey")
    graft.sources.DeltaLog.write(spark, cust.repartition(4), tbl)
    graft.sources.DeltaLog.deleteWhere(spark, tbl, col("c_custkey") % 11 === 0)
    graft.sources.DeltaLog.write(spark,
      cust.where(col("c_custkey") % 13 === 0)
        .select(col("c_custkey"), (col("c_nationkey") + 7).as("c_nationkey")),
      tbl, mode = "append")
    val changes = spark.readStream.format("graft-delta")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .load(tbl)
    runToMemory(changes, "q_stream_cdf_sink", "append")
  }

  /** Streaming CDF on the SECOND format
    * ([[graft.streaming.IcebergCdfStreamSource]]): a position-delete
    * commit and an append, streamed as typed change rows from the
    * Iceberg row-level changelog — the same per-commit contract as
    * `q_stream_cdf`, anchored at the first snapshot. (The
    * `_commit_snapshot_id` stamp is runtime-minted, so the oracle row
    * projects the deterministic columns; the id stamp is asserted in
    * IcebergStreamSpec.) */
  val qStreamIcebergCdf: QueryDef = QueryDef.sql(
    "q_stream_iceberg_cdf",
    """SELECT c_custkey, c_nationkey, 'delete' AS _change_type
      |FROM customer WHERE c_custkey % 11 = 0
      |UNION ALL
      |SELECT c_custkey, c_nationkey + 7, 'insert'
      |FROM customer WHERE c_custkey % 13 = 0""".stripMargin) { (spark, dir) =>
    val tbl = Files.createTempDirectory("graft-ice-cdf-").toString + "/t"
    val cust = graft.Tables.customer(spark, dir)
      .select("c_custkey", "c_nationkey")
    graft.sources.IcebergTable.writeAppend(spark, cust, tbl)
    val anchor = graft.sources.IcebergTable.refSnapshotId(spark, tbl, "main")
    graft.sources.IcebergTable.deleteWhere(spark, tbl,
      col("c_custkey") % 11 === 0)
    graft.sources.IcebergTable.writeAppend(spark,
      cust.where(col("c_custkey") % 13 === 0)
        .select(col("c_custkey"), (col("c_nationkey") + 7).as("c_nationkey")),
      tbl)
    val changes = spark.readStream.format("graft-iceberg")
      .option("readChangeFeed", "true")
      .option("startingSnapshot", anchor.toString)
      .load(tbl)
      .select("c_custkey", "c_nationkey", "_change_type")
    runToMemory(changes, "q_stream_iceberg_cdf_sink", "append")
  }

  /** The graft-delta streaming SINK under the oracle: a log-to-log
    * pipeline — protocol source → narrow transform → protocol sink,
    * each micro-batch one atomic commit with a SetTransaction — whose
    * read-back must equal DuckDB computing the same projection. The
    * exactly-once replay contract is spec-verified
    * (StreamingMedallionSpec); this row pins data fidelity through the
    * full streaming write path (S4 expressed on the open protocol). */
  val qDeltaSink: QueryDef = QueryDef.sql(
    "q_stream_delta_sink",
    """SELECT o_orderkey, o_custkey,
      |  CAST(o_totalprice AS DOUBLE) * 2 AS doubled
      |FROM orders""".stripMargin) { (spark, dir) =>
    val base = Files.createTempDirectory("graft-delta-sink-q-").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    graft.sources.DeltaLog.write(spark,
      graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("price")), src)
    val q = spark.readStream.format("graft-delta").load(src)
      .select(col("o_orderkey"), col("o_custkey"),
        (col("price") * 2).as("doubled"))
      .writeStream.format("graft-delta")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(dst)
    q.awaitTermination()
    graft.sources.DeltaLog.read(spark, dst)
  }

  /** Streaming MERGE sink, oracle-verified end-to-end: an orders-derived
    * change log lands in two waves (per-key representatives of the even
    * orders, then of the odd), each wave streamed off the protocol log
    * and MERGED into a keyed table by the graft-delta sink
    * (`mergeKeys`/`recencyCol`) — matched-and-newer replaced, new keys
    * inserted, exactly-once via the commit-riding SetTransaction. The
    * final keyed state must equal DuckDB's per-key argmax over the WHOLE
    * log (the winner between the two wave representatives is the global
    * latest; o_orderkey is unique, so the recency guard never ties). */
  val qStreamMergeSink: QueryDef = QueryDef.sql(
    "q_stream_merge_sink",
    """SELECT o_custkey AS id, CAST(max(o_orderkey) AS BIGINT) AS ts,
      |  CAST(max_by(o_totalprice, o_orderkey) AS DOUBLE) AS price
      |FROM orders GROUP BY 1""".stripMargin) { (spark, dir) =>
    val base = Files.createTempDirectory("graft-stream-msink-").toString
    val src = s"$base/src"
    val dst = s"$base/dst"
    val o = graft.Tables.orders(spark, dir)
    def wave(parity: Int): DataFrame = o
      .where(col("o_orderkey") % 2 === parity)
      .groupBy(col("o_custkey").as("id"))
      .agg(max(col("o_orderkey")).cast("bigint").as("ts"),
        max_by(col("o_totalprice"), col("o_orderkey")).cast("double").as("price"))
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft-delta").load(src)
        .writeStream.format("graft-delta")
        .option("mergeKeys", "id").option("recencyCol", "ts")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start(dst)
      q.awaitTermination()
    }
    graft.sources.DeltaLog.write(spark, wave(0), src)
    runOnce()
    graft.sources.DeltaLog.write(spark, wave(1), src, mode = "append")
    runOnce()
    graft.sources.DeltaLog.read(spark, dst)
  }

  val all: Seq[QueryDef] = Seq(qWindowedAgg, qDedupWatermark, qStreamJoin,
    qStreamEnrich, qDeltaTail, qIcebergTail, qStreamCdf, qStreamIcebergCdf,
    qDeltaSink, qStreamMergeSink)
}
