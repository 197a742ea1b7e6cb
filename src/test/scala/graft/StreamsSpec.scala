package graft

import graft.sources.{Debezium, DeltaLog}
import graft.streaming.Streams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.file.Files

/** Streaming layer: Debezium parse over a MemoryStream micro-batch,
  * envelope escaping round-trip, and checkpointed offset tracking
  * (ST2: a restarted query must not reprocess consumed files). */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  private val afterSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType)))

  test("Debezium envelope roundtrip survives quotes, backslashes and tabs") {
    val inner = Seq(
      (1L, """he said "hi""""),
      (2L, """path\with\backslashes"""),
      (3L, "tab\there")).toDF("id", "name")
      .select(concat(
        lit("""{"id":"""), col("id").cast("string"),
        lit(""","name":""""),
        // JSON-escape the raw name exactly as a producer would
        regexp_replace(regexp_replace(regexp_replace(col("name"),
          "\\\\", "\\\\\\\\"), "\"", "\\\\\""), "\t", "\\\\t"),
        lit("\"}")).as("inner"),
        col("id"))
    val enveloped = inner.select(
      Debezium.wrapEnvelope(col("inner"), lit("u"), lit(1700000000000L), "t").as("raw"))
    val parsed = Debezium.parseEnvelope(enveloped, col("raw"), afterSchema)
      .select(col("id"), col("name"), col("cdc_operation"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(parsed.toSeq == Seq(
      (1L, """he said "hi"""", "u"),
      (2L, """path\with\backslashes""", "u"),
      (3L, "tab\there", "u")))
  }

  test("bronze parse runs unchanged on a MemoryStream micro-batch (ST3)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    ms.addData((1L, "alpha"), (2L, "beta"))
    val raw = ms.toDF().select(
      Debezium.wrapEnvelope(
        concat(lit("""{"id":"""), col("_1").cast("string"),
          lit(""","name":""""), col("_2"), lit("\"}")),
        lit("c"), lit(1700000000000L), "t").as("raw"))
    val parsed = Debezium.parseEnvelope(raw, col("raw"), afterSchema)
    val q = parsed.writeStream
      .queryName("bronze_memstream_test")
      .outputMode("append")
      .format("memory")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val out = spark.table("bronze_memstream_test")
      .select(col("id"), col("name"), col("cdc_operation"))
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "alpha", "c"), (2L, "beta", "c")))
  }

  test("toManagedTable materializes a checkpointed streaming table (S4/S9)") {
    dropManagedTable("stream_managed_t")
    val checkpoint = Files.createTempDirectory("graft-ckpt-s4-").toString
    Streams.toManagedTable(
      Streams.eventsStream(spark, sfDir).select(col("event_id"), col("event_type")),
      "stream_managed_t", checkpoint)
    assert(spark.catalog.tableExists("stream_managed_t")) // S9 probe
    assert(spark.table("stream_managed_t").count() > 0)
  }

  test("streaming read of a managed table feeds a downstream stage (S2)") {
    // bronze table materialized by the S4 test (or here if run alone)
    if (!spark.catalog.tableExists("stream_managed_t")) {
      dropManagedTable("stream_managed_t")
      Streams.toManagedTable(
        Streams.eventsStream(spark, sfDir).select(col("event_id"), col("event_type")),
        "stream_managed_t", Files.createTempDirectory("graft-ckpt-s2a-").toString)
    }
    val silver = spark.readStream.table("stream_managed_t")
      .where(col("event_type") =!= "")
    val out = Streams.runToMemory(silver, "s2_silver_sink", "append")
    assert(out.count() == spark.table("stream_managed_t").count())
  }

  test("append-mode batch write accumulates increments (S6)") {
    val dir = Files.createTempDirectory("graft-append-").toString + "/t"
    val first = Tables.events(spark, sfDir).limit(10).select("event_id")
    first.write.mode("append").parquet(dir)
    first.write.mode("append").parquet(dir)
    assert(spark.read.parquet(dir).count() == 20)
  }

  test("checkpointed file-source query does not reprocess consumed input (ST2)") {
    val checkpoint = Files.createTempDirectory("graft-ckpt-st2-").toString
    val sink = Files.createTempDirectory("graft-sink-st2-").toString
    def runOnce(): Unit = {
      val q = Streams.eventsStream(spark, sfDir)
        .select(col("event_id"), col("event_type"))
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", sink)
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runOnce()
    val n1 = spark.read.parquet(sink).count()
    runOnce() // same checkpoint: offsets already committed, nothing new
    val n2 = spark.read.parquet(sink).count()
    assert(n1 > 0)
    assert(n1 == n2)
  }

  test("crash mid-stream + restart delivers exactly-once (file-sink txn log)") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft-crash-src-").toString
    val ckpt = Files.createTempDirectory("graft-crash-ckpt-").toString
    val sink = Files.createTempDirectory("graft-crash-sink-").toString
    (0L until 6L).foreach(i =>
      Seq((i, s"e$i")).toDF("id", "v").write.mode("append").parquet(src))
    val schema = spark.read.parquet(src).schema
    def reader = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(src)
    // phase 1: start, let at least one micro-batch commit, then hard-stop
    // (the crash): offsets for consumed files are in the checkpoint, some
    // files are still unread
    val q1 = reader.writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt).start()
    var tries = 0
    while (q1.recentProgress.map(_.numInputRows).sum < 1 && tries < 200) {
      Thread.sleep(50); tries += 1
    }
    q1.stop()
    assert(tries < 200, "first micro-batch never committed")
    // phase 2: restart from the same checkpoint and drain the rest
    val q2 = reader.writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    // exactly-once: every input row exactly one time, none lost, none
    // duplicated — the file sink's transaction log discards any batch the
    // crash left half-written
    val out = spark.read.parquet(sink).select("id").as[Long].collect().sorted.toSeq
    assert(out == (0L until 6L).toSeq, s"got $out")
  }

  test("streaming Delta append: replayed micro-batch skipped via txn guard") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[Long]
    val table = Files.createTempDirectory("graft-sda-").toString + "/t"
    val ckpt1 = Files.createTempDirectory("graft-sda-ckpt1-").toString
    def run(ckpt: String): Unit = Streams.foreachBatchDeltaAppend(
      ms.toDF().toDF("x"), table, ckpt, appId = "stream-x")
    ms.addData(1L, 2L)
    run(ckpt1)
    assert(DeltaLog.read(spark, table).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // a FRESH checkpoint replays the same data as batch 0 again — the
    // at-least-once failure mode the txn action exists to absorb: the
    // guard sees txn(stream-x) >= 0 and skips, so no duplicate rows
    val ckpt2 = Files.createTempDirectory("graft-sda-ckpt2-").toString
    run(ckpt2)
    assert(DeltaLog.read(spark, table).as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // resuming the ORIGINAL checkpoint with new data appends batch 1
    ms.addData(3L)
    run(ckpt1)
    assert(DeltaLog.read(spark, table).as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(DeltaLog.snapshot(spark, table).txns == Map("stream-x" -> 1L))
  }

  test("foreachBatch append under the caller's session stages INT64 timestamps, footer stats") {
    // a foreachBatch frame belongs to the stream's cloned session; the
    // write is handed the CALLER's session, so INT64 staging must follow
    // the frame or the commit falls back to the stats read-back job
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp)]
    val table = Files.createTempDirectory("graft-fbts-").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-fbts-ckpt-").toString
    ms.addData((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2024-06-30 12:34:56.789")))
    val before = DeltaLog.footerStatsCounters
    ms.toDF().toDF("id", "ts").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          _: Long) =>
        assert(!(batch.sparkSession eq spark))
        DeltaLog.write(spark, batch, table, "append"); ()
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    val after = DeltaLog.footerStatsCounters
    assert(after._1 > before._1 && after._2 == before._2,
      s"footer stats did not serve the batch commit: $before -> $after")
    assert(DeltaLog.read(spark, table).count() == 2L)
    val conf = spark.sessionState.newHadoopConf()
    val staged = DeltaLog.snapshot(spark, table).files
    assert(staged.nonEmpty)
    staged.foreach { rel =>
      val path = new org.apache.hadoop.fs.Path(table, rel)
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
      val ts = try {
        val schema = rd.getFooter.getFileMetaData.getSchema
        schema.getType(schema.getFieldIndex("ts")).asPrimitiveType.getPrimitiveTypeName
      } finally rd.close()
      assert(ts == org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64,
        s"$rel staged ts as $ts")
    }
  }

  test("foreachBatch streaming MERGE upserts across restarts (S8/ST6)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val target = Files.createTempDirectory("graft-fbu-").toString + "/t"
    val ckpt = Files.createTempDirectory("graft-fbu-ckpt-").toString
    def run(): Unit = Streams.foreachBatchDeltaMerge(
      ms.toDF().toDF("id", "payload", "updated_at"), target, ckpt,
      Seq("id"), "updated_at")
    // first run: initial load
    ms.addData((1L, "a", 10L), (2L, "b", 10L))
    run()
    assert(DeltaLog.read(spark, target).count() == 2)
    // second run, same checkpoint: a newer update for 1, a STALE row for
    // 2 (must be rejected by the recency guard), and a new key 3
    ms.addData((1L, "a2", 20L), (2L, "stale", 5L), (3L, "c", 20L))
    run()
    val state = DeltaLog.read(spark, target)
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(state == Seq((1L, "a2", 20L), (2L, "b", 10L), (3L, "c", 20L)))
  }
}
