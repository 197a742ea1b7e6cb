package graft.streaming

import graft.sources.DeltaLog
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** Structured Streaming source over the engine's Delta-protocol tables —
  * the reference's S2 shape (`dlt.read_stream` from a managed table,
  * /root/reference/pipelines/silver_pipeline.py:107) on the open log:
  *
  * {{{
  *   spark.readStream.format("graft-delta").load("/path/to/table")
  * }}}
  *
  * Offsets ARE log positions: each micro-batch reads exactly the files
  * ADDED in `(lastCommitted, latest]` — the log IS the write-ahead
  * queue, so no directory diffing, no reprocessing, and the engine's
  * offset checkpointing gives crash-resume for free (a restarted query
  * resumes from the last committed position). The very first batch
  * reads the full snapshot at the then-latest version. Deletion
  * vectors apply on both paths: a masked row never enters the stream.
  *
  * `.option("maxFilesPerTrigger", n)` bounds each micro-batch to n
  * files — without it the initial snapshot of a 100 TB table arrives
  * as ONE batch. Offsets then carry `(version, fileIndex)` into a
  * deterministically-ordered (by path) per-version feed, so a chunk
  * boundary survives restart exactly.
  *
  * Commits that REMOVE files (MERGE/DELETE/OPTIMIZE with dataChange)
  * refuse loudly — an append-only feed cannot represent them; pass
  * `.option("skipChangeCommits", "true")` (Delta's option of the same
  * name) to skip such commits whole instead.
  *
  * Scale: per micro-batch work is O(new commits) driver metadata + a
  * distributed scan of only the added files. A 100 TB table with a
  * trickle of appends streams the trickle.
  */
final class DeltaStreamSource(ctx: SQLContext, table: String,
    skipChangeCommits: Boolean, maxFilesPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long] = None,
    startingVersion: Option[String] = None,
    ignoreDeletes: Boolean = false) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import DeltaStreamSource.Pos

  private val spark = ctx.sparkSession
  require(DeltaLog.isDeltaTable(spark, table),
    s"graft-delta stream source: not a Delta table: $table")
  maxFilesPerTrigger.foreach(n =>
    require(n > 0, s"maxFilesPerTrigger must be positive, got $n"))
  maxBytesPerTrigger.foreach(n =>
    require(n > 0, s"maxBytesPerTrigger must be positive, got $n"))
  require(maxFilesPerTrigger.isEmpty || maxBytesPerTrigger.isEmpty,
    "set maxFilesPerTrigger OR maxBytesPerTrigger, not both")

  override val schema: StructType = DeltaStreamSource.schemaOf(ctx, table)

  /** `startingVersion` (Delta's option): SKIP the initial snapshot and
    * tail the log from this commit on — `"latest"` means only commits
    * after stream start. At 100 TB this is the difference between
    * re-reading the whole table and tailing the trickle. The anchor is
    * the version just BEFORE the first streamed commit; in tail mode
    * that version's feed is EMPTY (never the snapshot), and the anchor
    * rides the checkpointed offsets' `snap` field, so restarts resume
    * exactly. */
  private val tailAnchor: Option[Long] = startingVersion.map { sv =>
    sv.trim.toLowerCase match {
      case "latest" => DeltaLog.latestVersion(spark, table).getOrElse(-1L)
      case n =>
        val v = n.toLong
        require(v >= 1,
          s"startingVersion must be >= 1 or 'latest' (omit the option to " +
            s"include the initial snapshot): $sv")
        v - 1L
    }
  }
  private def tailMode: Boolean = tailAnchor.isDefined

  // ------------------------------------------------------------- offsets

  private def parse(o: OffsetV1): Pos = o match {
    case s: SerializedOffset => Pos.fromJson(s.json)
    case l: LongOffset => Pos(l.offset, -1L, l.offset) // legacy whole-version
    case other => Pos.fromJson(other.json())
  }

  /** One log position's feed, deterministically ordered by path: the
    * snapshot at `snap` for the initial version, that version's adds
    * otherwise. Driver state is BOUNDED: the initial snapshot is never
    * materialized whole — its SIZE is one distributed count and each
    * batch collects only its [from, until) slice
    * ([[DeltaLog.snapshotFileSlice]]), so a 10⁶-file table streamed
    * with maxFilesPerTrigger=n holds ≤n entries at a time. Per-version
    * ADD feeds are O(that commit) and evicted once their version is
    * consumed ([[getBatch]]); a restart recomputes them from the log. */
  private val addsCache = scala.collection.mutable.HashMap.empty[Long, IndexedSeq[DeltaLog.FileEntry]]
  private var snapState: Option[(Long, DeltaLog.Snapshot, Long)] = None

  private def snapInfo(snapV: Long): (Long, DeltaLog.Snapshot, Long) =
    snapState match {
      case Some(s) if s._1 == snapV => s
      case _ =>
        val sn = DeltaLog.snapshot(spark, table, Some(snapV))
        val st = (snapV, sn, DeltaLog.snapshotFileCount(sn))
        snapState = Some(st); st
    }

  /** Version `v`'s adds, with their declared sizes, from one read of
    * its commit. */
  private def addsOf(v: Long): IndexedSeq[DeltaLog.FileEntry] =
    addsCache.getOrElseUpdate(v, {
      val commit = DeltaLog.commitsIn(spark, table, v - 1, v)
      // Delta's streaming contract: schema fixed at stream start; a
      // schema-evolving commit fails the stream loudly (a restart picks
      // up the new shape) instead of silently dropping new columns
      DeltaLog.schemaChangeIn(commit, schema).foreach {
        case (cv, ns) => throw new IllegalStateException(
          s"graft-delta stream on $table: schema changed at version $cv " +
            s"(stream started with ${schema.simpleString}, table now " +
            s"${ns.simpleString}) — restart the stream to pick up the new schema")
      }
      val adds = DeltaLog.addedFileEntries(commit, skipChangeCommits, ignoreDeletes)
        .sortBy(_.path).toIndexedSeq
      DeltaStreamSource.meterCollect(adds.size)
      adds
    })

  /** Byte-batch exclusive end indexes of the initial-snapshot feed —
    * ONE distributed cumulative-sum job per stream, O(batches) driver. */
  private var snapByteEnds: Option[(Long, IndexedSeq[Long])] = None
  private def byteEndsOf(snapV: Long, budget: Long): IndexedSeq[Long] =
    snapByteEnds match {
      case Some((v, e)) if v == snapV => e
      case _ =>
        val e = DeltaLog.snapshotByteBatchEnds(snapInfo(snapV)._2, budget)
        snapByteEnds = Some((snapV, e)); e
    }

  /** End index (exclusive) of the byte-batch containing `idx` in
    * version `v`'s feed under `budget` bytes per trigger. */
  private def byteBatchEnd(v: Long, snapV: Long, idx: Long, budget: Long): Long =
    if (v == snapV) {
      val ends = byteEndsOf(snapV, budget)
      ends.find(_ > idx).getOrElse(feedSize(v, snapV))
    } else {
      val adds = addsOf(v)
      def size(i: Long): Long = math.max(adds(i.toInt).size, 0L)
      var i = idx
      var acc = 0L
      while (i < adds.size && (i == idx || acc + size(i) <= budget)) {
        acc += size(i); i += 1
      }
      i
    }

  private def feedSize(v: Long, snapV: Long): Long =
    if (v == snapV) { if (tailMode) 0L else snapInfo(snapV)._3 }
    else addsOf(v).size.toLong

  private def feedSlice(v: Long, snapV: Long,
      from: Long, until: Long): Seq[DeltaLog.FileEntry] =
    if (v == snapV) {
      if (tailMode) Seq.empty
      else {
        val es = DeltaLog.snapshotFileSlice(snapInfo(snapV)._2, from, until)
        DeltaStreamSource.meterCollect(es.size)
        es
      }
    } else addsOf(v).slice(from.toInt, until.toInt)

  /** The last position this source planned or recovered — where the
    * next getOffset continues from. */
  private var highWater: Option[Pos] = None
  private def advanceHighWater(p: Pos): Unit =
    if (!highWater.exists(h =>
        DeltaStreamSource.posOrdering.gteq(h.orderKey, p.orderKey)))
      highWater = Some(p)

  /** Trigger.AvailableNow freezes the end of the run at prepare time:
    * without this the engine falls back to ONE batch, defeating
    * maxFilesPerTrigger's chunking. */
  private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = DeltaLog.latestVersion(spark, table)

  // SupportsAdmissionControl (pulled in by SupportsTriggerAvailableNow):
  // the engine calls latestOffset instead of getOffset once a source
  // declares admission control; rate limiting stays the source-level
  // maxFilesPerTrigger option, so the engine's ReadLimit passes through
  override def getDefaultReadLimit:
      org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit):
      org.apache.spark.sql.connector.read.streaming.Offset =
    getOffset.orNull

  override def getOffset: Option[OffsetV1] = {
    val actual = DeltaLog.latestVersion(spark, table).getOrElse(return highWater)
    val latest = availableNowCap.fold(actual)(math.min(actual, _))
    val next = (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (None, None) =>
        val snapV = highWater.map(_.snap)
          .getOrElse(tailAnchor.getOrElse(latest))
        val cur = highWater.getOrElse(Pos(-1L, -1L, snapV))
        if (cur.version >= latest && cur.consumed) cur
        else Pos(latest, -1L, snapV)
      case (None, Some(bytes)) =>
        // byte-budget admission: ONE ≈bytes batch per trigger, never
        // spanning a version boundary (rate limits are approximate by
        // contract; a version's leftover tail forms the next batch)
        val snapV = highWater.map(_.snap)
          .getOrElse(tailAnchor.getOrElse(latest))
        val cur = highWater.getOrElse(Pos(snapV, 0L, snapV))
        var v = cur.version
        var idx = cur.index(feedSize(v, snapV))
        while (v < latest && idx >= feedSize(v, snapV)) { v += 1; idx = 0L }
        if (idx >= feedSize(v, snapV)) cur
        else {
          val end = byteBatchEnd(v, snapV, idx, bytes)
          Pos(v, if (end >= feedSize(v, snapV)) -1L else end, snapV)
        }
      case (Some(budget), _) =>
        val snapV = highWater.map(_.snap)
          .getOrElse(tailAnchor.getOrElse(latest))
        var cur = highWater.getOrElse(Pos(snapV, 0L, snapV))
        var left = budget.toLong
        // walk versions, consuming up to `budget` files — sizes only
        // (the snapshot size is one distributed count, cached; no
        // entry ever reaches the driver during admission control)
        var out = cur
        var v = cur.version
        var idx = cur.index(feedSize(v, snapV))
        while (left > 0 && (v < latest || idx < feedSize(v, snapV))) {
          val size = feedSize(v, snapV)
          if (idx >= size) { v += 1; idx = 0L }
          else {
            val take = math.min(left, size - idx)
            idx += take; left -= take
            out = Pos(v, if (idx >= size) -1L else idx, snapV)
          }
        }
        if (out == cur && cur.version >= latest && cur.consumed) cur else out
    }
    advanceHighWater(next)
    if (next.version < 0) None else Some(next)
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val e = parse(end)
    advanceHighWater(e) // restart recovery: resume planning past this batch
    val entries: Seq[DeltaLog.FileEntry] = start.map(parse) match {
      case None =>
        sliceTo(e)
      case Some(s) if DeltaStreamSource.posOrdering.gteq(s.orderKey, e.orderKey) =>
        Seq.empty
      case Some(s) =>
        sliceBetween(s, e)
    }
    val df =
      if (entries.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else DeltaLog.readEntriesAt(spark, table, entries, e.version)
    // a version's ADD feed is consumed once planned through `e`; evict
    // so a long-lived stream's driver state stays O(one batch), not
    // O(stream lifetime) — a restart-recovery getBatch recomputes the
    // evicted feed from the log
    addsCache.filterInPlace { case (v, _) => v > e.version }
    // normalize to the declared column order (a partitioned read
    // surfaces partition columns last); the engine asserts getBatch
    // frames are MARKED streaming, hence the shim
    org.apache.spark.sql.GraftSqlShim.asStreaming(
      df.select(schema.fieldNames.toIndexedSeq.map(col): _*))
  }

  /** Everything from the stream start through `e`. */
  private def sliceTo(e: Pos): Seq[DeltaLog.FileEntry] =
    (e.snap to e.version).flatMap { v =>
      val size = feedSize(v, e.snap)
      val until = if (v < e.version) size else e.index(size)
      feedSlice(v, e.snap, 0L, until)
    }

  /** Everything in `(s, e]`. A fully-consumed start version is skipped
    * without touching its feed (legacy whole-version offsets carry a
    * `snap` that must not reinterpret it). */
  private def sliceBetween(s: Pos, e: Pos): Seq[DeltaLog.FileEntry] = {
    val firstV = if (s.consumed) s.version + 1 else s.version
    (firstV to e.version).flatMap { v =>
      val size = feedSize(v, e.snap)
      val from = if (v == s.version) s.index(size) else 0L
      val until = if (v == e.version) e.index(size) else size
      if (until > from) feedSlice(v, e.snap, from, until) else Seq.empty
    }
  }

  override def stop(): Unit = ()

  override def toString: String = s"DeltaStreamSource[$table]"
}

object DeltaStreamSource {
  /** Test gauge: the largest single driver-side FileEntry collect any
    * source performed since the last [[resetCollectMeter]] — a spec
    * over a many-file table asserts it stays ≤ maxFilesPerTrigger
    * (i.e. the initial snapshot was chunked, never materialized
    * whole). Shared across sources; reset per test. */
  private val maxCollected = new java.util.concurrent.atomic.AtomicLong(0L)
  private[streaming] def meterCollect(n: Int): Unit =
    maxCollected.getAndAccumulate(n.toLong, math.max)
  private[graft] def resetCollectMeter(): Unit = maxCollected.set(0L)
  private[graft] def maxDriverEntriesPerCollect: Long = maxCollected.get()

  private[streaming] def schemaOf(ctx: SQLContext, table: String): StructType =
    DeltaLog.snapshot(ctx.sparkSession, table).schema.getOrElse(
      throw new IllegalArgumentException(
        s"graft-delta stream source: table $table declares no schema"))

  /** A log position: `version` + how many files of that version's feed
    * are consumed (`index`; -1 = all), plus the stream's initial
    * snapshot version `snap` (whose feed is the full snapshot, not the
    * version's adds). Total order: (version, index-with--1-as-∞). */
  private[streaming] final case class Pos(version: Long, rawIndex: Long, snap: Long)
      extends OffsetV1 {
    def consumed: Boolean = rawIndex < 0
    def index(size: Long): Long = if (rawIndex < 0) size else rawIndex
    def orderKey: (Long, Long) = (version, if (rawIndex < 0) Long.MaxValue else rawIndex)
    override def json: String =
      s"""{"version":$version,"index":$rawIndex,"snap":$snap}"""
  }
  private[streaming] object Pos {
    def apply(version: Long, rawIndex: Long, snap: Long): Pos =
      new Pos(version, rawIndex, snap)
    private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def fromJson(s: String): Pos = {
      val t = s.trim
      if (t.startsWith("{")) {
        val n = mapper.readTree(t)
        Pos(n.get("version").asLong(), n.get("index").asLong(), n.get("snap").asLong())
      } else {
        // legacy whole-version LongOffset checkpoint: fully consumed
        val v = t.toLong
        Pos(v, -1L, v)
      }
    }
  }
  private[streaming] val posOrdering: Ordering[(Long, Long)] =
    Ordering.Tuple2(Ordering.Long, Ordering.Long)
}

/** Change-data-feed mode of the graft-delta stream source — Delta's
  * `.option("readChangeFeed", "true")` contract
  * (/root/reference/pipelines/silver_pipeline.py's CDC consumption
  * shape) on the open log, with the feed derived purely from the
  * remove/add commit diff (no change files needed):
  *
  * {{{
  *   spark.readStream.format("graft-delta")
  *     .option("readChangeFeed", "true")
  *     .option("startingVersion", 0)           // default: only NEW commits
  *     .option("changeKeys", "id")             // opt-in update_pre/postimage
  *     .load("/path/to/table")
  * }}}
  *
  * Each micro-batch emits the row-level changes of the commits in
  * `(lastCommitted, latest]`, stamped with `_change_type` and
  * `_commit_version`. Without `changeKeys` the feed carries
  * insert/delete events ([[DeltaLog.changesBetween]]: copy-on-write
  * rewrites net out, DV updates surface only newly-masked rows); with
  * `changeKeys` each commit's delete/insert pairs resolve into
  * `update_preimage`/`update_postimage` ([[DeltaLog.changesWithUpdates]],
  * whose per-side key-uniqueness guard then applies per commit).
  * `maxCommitsPerTrigger` bounds a catch-up batch.
  *
  * Offsets are plain log versions, so checkpoint recovery replays
  * exactly the uncommitted suffix. Scale: per batch, O(files touched by
  * its commits) — a trickle of MERGEs on a 100 TB table streams the
  * trickle. */
final class DeltaCdfStreamSource(ctx: SQLContext, table: String,
    startingVersion: Option[Long], changeKeys: Seq[String],
    maxCommitsPerTrigger: Option[Int]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val spark = ctx.sparkSession
  require(DeltaLog.isDeltaTable(spark, table),
    s"graft-delta CDF stream source: not a Delta table: $table")
  maxCommitsPerTrigger.foreach(n =>
    require(n > 0, s"maxCommitsPerTrigger must be positive, got $n"))

  override val schema: StructType = DeltaCdfStreamSource.schemaOf(ctx, table)
  /** The base table schema the stream anchored on (without the _change
    * columns) — what a schema-evolving commit is compared against. */
  private val baseSchema: StructType = DeltaStreamSource.schemaOf(ctx, table)

  /** One before the first version whose changes stream: the requested
    * `startingVersion`, else the table's current head (Delta's default —
    * an unanchored CDF stream reads only FUTURE commits). */
  private val initialFrom: Long = startingVersion.map(_ - 1L)
    .orElse(DeltaLog.latestVersion(spark, table)).getOrElse(-1L)

  private var highWater: Long = initialFrom
  private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = DeltaLog.latestVersion(spark, table)

  override def getDefaultReadLimit:
      org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit):
      org.apache.spark.sql.connector.read.streaming.Offset =
    getOffset.orNull

  override def getOffset: Option[OffsetV1] = {
    val actual = DeltaLog.latestVersion(spark, table)
      .getOrElse(return if (highWater < 0) None else Some(LongOffset(highWater)))
    val latest = availableNowCap.fold(actual)(math.min(actual, _))
    val next = maxCommitsPerTrigger.fold(latest)(n =>
      math.min(latest, highWater + n))
    if (next > highWater) highWater = next
    if (highWater < 0) None else Some(LongOffset(highWater))
  }

  private def parseV(o: OffsetV1): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json().trim.toLong
  }

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val e = parseV(end)
    if (e > highWater) highWater = e // restart recovery
    val s = start.map(parseV).getOrElse(initialFrom)
    // same streaming contract as the base source: a schema-evolving
    // commit inside the batch window fails the stream for a restart
    if (s < e)
      DeltaLog.schemaChangeIn(DeltaLog.commitsIn(spark, table, s, e), baseSchema).foreach {
        case (cv, ns) => throw new IllegalStateException(
          s"graft-delta CDF stream on $table: schema changed at version $cv " +
            s"(stream started with ${baseSchema.simpleString}, table now " +
            s"${ns.simpleString}) — restart the stream to pick up the new schema")
      }
    // per-commit emission (the CDF contract stamps each row with ITS
    // commit); every term is O(that commit's touched files)
    val df =
      if (s >= e)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else DeltaLog.changesRange(spark, table, s + 1, e, changeKeys)
    // the change plan contains full-outer joins (changesWithUpdates):
    // collapse to one streaming-marked RDD leaf so incremental planning
    // cannot reinterpret it as a stream-stream join
    org.apache.spark.sql.GraftSqlShim.asStreamingRdd(
      df.select(schema.fieldNames.toIndexedSeq.map(col): _*))
  }

  override def stop(): Unit = ()

  override def toString: String = s"DeltaCdfStreamSource[$table]"
}

object DeltaCdfStreamSource {
  private[streaming] def schemaOf(ctx: SQLContext, table: String): StructType =
    DeltaStreamSource.schemaOf(ctx, table)
      .add("_change_type", org.apache.spark.sql.types.StringType)
      .add("_commit_version", org.apache.spark.sql.types.LongType)
}

/** Exactly-once streaming SINK into a protocol table — Delta's
  * `writeStream.format("delta")` shape on the open log:
  *
  * {{{
  *   df.writeStream.format("graft-delta")
  *     .option("checkpointLocation", ckpt)
  *     .start("/path/to/table")                 // append mode
  * }}}
  *
  * Each micro-batch lands as ONE atomic protocol commit carrying a
  * SetTransaction `(appId, batchId)` — a replayed batch (crash between
  * sink write and engine checkpoint) is detected from the table's own
  * txn state and skipped, so rows land exactly once without any
  * side-channel. `appId` defaults to a checkpoint-stable identity via
  * `.option("txnAppId", …)`; Complete mode overwrites per batch.
  * Partition columns pass through `partitionBy(...)`.
  *
  * MERGE (upsert) mode — the CDC-to-silver shape (a change stream
  * maintains a keyed table instead of appending history):
  *
  * {{{
  *   changes.writeStream.format("graft-delta")
  *     .option("mergeKeys", "id").option("recencyCol", "ts")
  *     .option("checkpointLocation", ckpt).start(path)
  * }}}
  *
  * Each micro-batch MERGEs into the table (matched-and-newer rows
  * replaced, new keys inserted — [[graft.sources.DeltaLog.mergeUpsert]],
  * copy-on-write O(touched files), or mask-and-append on a DV table)
  * with the SetTransaction riding the SAME atomic commit, so a replayed
  * batch is skipped exactly like the append sink: end-to-end
  * exactly-once upserts with no side-channel. */
final class DeltaStreamSink(table: String, partitionBy: Seq[String],
    outputMode: OutputMode, appIdOpt: Option[String],
    mergeKeys: Seq[String] = Seq.empty, recencyCol: Option[String] = None)
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    // default identity: the streaming query id — checkpoint-stable
    // across restarts (stored in the checkpoint's metadata), distinct
    // between two queries feeding the same table
    val appId = appIdOpt.getOrElse("graft-delta-sink:" + Option(
      spark.sparkContext.getLocalProperty("sql.streaming.queryId")).getOrElse(table))
    if (DeltaLog.isDeltaTable(spark, table) &&
        DeltaLog.lastTxn(spark, table, appId).exists(_ >= batchId)) return
    val batch = org.apache.spark.sql.GraftSqlShim.asBatch(data)
    if (mergeKeys.nonEmpty) {
      DeltaLog.mergeUpsert(spark, table, batch, mergeKeys,
        recencyCol.getOrElse(sys.error(
          "graft-delta merge sink: mergeKeys needs recencyCol")),
        txn = Some(appId -> batchId))
    } else {
      val mode =
        if (outputMode == OutputMode.Complete()) "overwrite" else "append"
      DeltaLog.write(spark, batch, table, mode, partitionBy = partitionBy,
        txn = Some(appId -> batchId))
    }
    ()
  }

  override def toString: String = s"DeltaStreamSink[$table]"
}

/** `format("graft-delta")` registration (DSv1 streaming source + sink +
  * batch relation — the same integration layer Delta Lake's own
  * streaming uses). The batch read is the LIVE relation
  * ([[graft.sources.GraftDeltaFileIndex]]): its file list resolves at
  * every planning, so a stream-static join's dimension side tracks the
  * table between micro-batches. */
final class DeltaStreamProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with org.apache.spark.sql.sources.RelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-delta"

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): org.apache.spark.sql.sources.BaseRelation = {
    val table = tableOf(parameters)
    // batch CDF read — delta-spark's reader-option spelling of the
    // change feed: each commit in [startingVersion, endingVersion]
    // (ending defaults to the head) resolves to its row-level changes,
    // stamped _change_type/_commit_version; `changeKeys` opts into
    // update pre/post-image pairs
    if (isCdf(parameters)) {
      val from = parameters.getOrElse("startingVersion", sys.error(
        "graft-delta batch CDF read needs .option(\"startingVersion\", n)"))
        .trim.toLong
      val to = parameters.get("endingVersion").map(_.trim.toLong)
        .orElse(graft.sources.DeltaLog.latestVersion(ctx.sparkSession, table))
        .getOrElse(sys.error(s"graft-delta: empty log at $table"))
      val keys = parameters.get("changeKeys").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val frame = graft.sources.DeltaLog
        .changesRange(ctx.sparkSession, table, math.max(1L, from), to, keys)
      return new org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan {
        override def sqlContext: SQLContext = ctx
        override def schema: StructType = frame.schema
        override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
          frame.rdd
      }
    }
    // time travel: versionAsOf / timestampAsOf pin the relation to one
    // immutable snapshot (no live tracking — the point is the past);
    // without either, the relation is LIVE and re-lists per planning
    val pinned: Option[Long] =
      (parameters.get("versionAsOf"), parameters.get("timestampAsOf")) match {
        case (Some(_), Some(_)) => sys.error(
          "graft-delta: set versionAsOf OR timestampAsOf, not both")
        case (Some(v), None) => Some(v.trim.toLong)
        case (None, Some(ts)) => Some(graft.sources.DeltaLog
          .versionAtTimestamp(ctx.sparkSession, table,
            java.sql.Timestamp.valueOf(
              if (ts.trim.length == 10) ts.trim + " 00:00:00" else ts.trim)
              .getTime))
        case _ => None
      }
    val snap = graft.sources.DeltaLog.snapshot(ctx.sparkSession, table, pinned)
    val schema = snap.schema.getOrElse(
      sys.error(s"graft-delta: $table declares no schema"))
    require(snap.columnMappingMode == "none",
      s"graft-delta batch relation: $table is column-mapped " +
        "(physical names differ) — use DeltaLog.read")
    graft.sources.DeltaRelation.relationOf(ctx.sparkSession, table, schema,
      snap.partitionColumns, pinned.map(_ => snap.version))
  }

  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    val mergeKeys = parameters.get("mergeKeys").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val recency = parameters.get("recencyCol").map(_.trim).filter(_.nonEmpty)
    if (mergeKeys.nonEmpty) {
      require(recency.nonEmpty,
        "graft-delta merge sink: .option(\"mergeKeys\", …) needs " +
          ".option(\"recencyCol\", …) to order same-key changes")
      require(outputMode == OutputMode.Append() || outputMode == OutputMode.Update(),
        s"graft-delta merge sink runs in Append or Update mode, got $outputMode")
    } else {
      require(recency.isEmpty,
        "graft-delta sink: .option(\"recencyCol\", …) needs .option(\"mergeKeys\", …)")
      require(outputMode == OutputMode.Append() || outputMode == OutputMode.Complete(),
        s"graft-delta sink supports Append and Complete output modes, got $outputMode")
    }
    new DeltaStreamSink(tableOf(parameters), partitionColumns, outputMode,
      parameters.get("txnAppId"), mergeKeys, recency)
  }

  private def tableOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-delta stream source needs a table path: .load(\"/path/to/table\")"))

  private def isCdf(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("graft-delta", schema.getOrElse(
      if (isCdf(parameters)) DeltaCdfStreamSource.schemaOf(ctx, tableOf(parameters))
      else DeltaStreamSource.schemaOf(ctx, tableOf(parameters))))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    if (isCdf(parameters))
      new DeltaCdfStreamSource(ctx, tableOf(parameters),
        parameters.get("startingVersion").map(_.toLong),
        parameters.get("changeKeys").toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
        parameters.get("maxCommitsPerTrigger").map(_.toInt))
    else
      new DeltaStreamSource(ctx, tableOf(parameters),
        parameters.get("skipChangeCommits").exists(_.equalsIgnoreCase("true")),
        parameters.get("maxFilesPerTrigger").map(_.toInt),
        parameters.get("maxBytesPerTrigger").map(_.toLong),
        parameters.get("startingVersion"),
        parameters.get("ignoreDeletes").exists(_.equalsIgnoreCase("true")))
}
