package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-version table checksums — Delta's `<version>.crc` files.
  *
  * delta-spark writes a `VersionChecksum` JSON next to every commit:
  * aggregate table state (`tableSizeBytes`, `numFiles`, the effective
  * `metadata` and `protocol`) that lets a reader (a) cross-check log
  * replay for corruption and (b) answer state questions without
  * replaying anything. The files are strictly OPTIONAL — a reader that
  * finds none behaves identically — so writing them is best-effort and
  * must never fail a commit.
  *
  * Scale shape: EVERY commit this writer produces updates incrementally
  * from the previous checksum plus the in-memory commit actions (and a
  * streamed tail's counts) —
  * O(commit) with zero Spark jobs — because remove actions carry the
  * removed file's `size` (the protocol's optional RemoveFile.size).
  * Only a missing baseline or a foreign log line without a remove size
  * falls back to ONE distributed aggregation (count + sum(size) over
  * `allFiles`, metadata-sized rows; never data files).
  */
object Checksum {

  private val mapper = new ObjectMapper()

  /** Parsed checksum state. */
  case class VersionChecksum(version: Long, tableSizeBytes: Long,
      numFiles: Long, metadataJson: Option[String], protocolJson: Option[String])

  private def crcPath(table: String, v: Long): Path =
    new Path(DeltaLog.logDir(table), f"$v%020d.crc")

  /** Read the checksum for `version` — None when absent/unreadable. */
  def read(spark: SparkSession, table: String, version: Long): Option[VersionChecksum] =
    try {
      val f = DeltaLog.fs(spark, table)
      val p = crcPath(table, version)
      if (!f.exists(p)) return None
      val len = f.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = f.open(p)
      try in.readFully(0, buf) finally in.close()
      val raw = new String(buf, "UTF-8")
      val n = mapper.readTree(raw)
      Some(VersionChecksum(version,
        n.get("tableSizeBytes").asLong(), n.get("numFiles").asLong(),
        Option(n.get("metadata")).filterNot(_.isNull).map(mapper.writeValueAsString),
        Option(n.get("protocol")).filterNot(_.isNull).map(mapper.writeValueAsString)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Write the checksum for a just-committed `version` from its action
    * lines plus, for a commit with a streamed tail (wide DML, clones and
    * converts whose actions never reached the driver), the counts taken
    * while streaming. Best-effort: any failure is swallowed (the commit
    * already won; crc files are an optional integrity layer).
    * Incremental — zero Spark jobs — on top of the previous checksum or
    * at version 0; one distributed metadata aggregation when the
    * baseline is missing or a remove carried no size. A streamed tail
    * whose sizes are unknown writes nothing: the next writer's crc
    * self-heals through the recompute. */
  private[sources] def update(spark: SparkSession, table: String,
      version: Long, actions: Seq[String],
      streamed: Option[DeltaLog.TailCounts] = None): Unit =
    try {
      val parsed = actions.map(mapper.readTree)
      val adds = parsed.filter(_.has("add")).map(_.get("add"))
      val removes = parsed.filter(_.has("remove")).map(_.get("remove"))
      // incremental only when every remove recorded its size (the
      // writers in this repo always do; a foreign log line without one
      // falls back to the recompute below)
      val sizedRemoves = removes.forall(r =>
        r.hasNonNull("size") && r.get("size").asLong(-1L) >= 0L)
      if (streamed.exists(t => !t.sizesKnown || !sizedRemoves)) return
      val tail = streamed.getOrElse(DeltaLog.TailCounts())
      val numAdds = adds.size + tail.adds
      val addBytes = adds.map(_.get("size").asLong()).sum + tail.addBytes
      val numRemoves = removes.size + tail.removes
      def removeBytes = removes.map(_.get("size").asLong()).sum + tail.removeBytes
      val metaJson = parsed.find(_.has("metaData"))
        .map(n => mapper.writeValueAsString(n.get("metaData")))
      val protoJson = parsed.find(_.has("protocol"))
        .map(n => mapper.writeValueAsString(n.get("protocol")))
      val prev = if (version == 0L) None else read(spark, table, version - 1)

      val (numFiles, sizeBytes, snapFallback) = prev match {
        case Some(p) if sizedRemoves =>
          (p.numFiles + numAdds - numRemoves,
            p.tableSizeBytes + addBytes - removeBytes, None)
        // version 0: there IS no prior state — the commit's own deltas
        // are the whole table
        case None if version == 0L && sizedRemoves =>
          (numAdds - numRemoves, addBytes - removeBytes, None)
        case _ =>
          // no baseline or a size-less remove: ONE distributed
          // aggregation over the metadata frame (O(files) rows, never
          // data files)
          val snap = DeltaLog.snapshot(spark, table, Some(version))
          val r = snap.allFiles.agg(
            count(lit(1)), coalesce(sum(col("size")), lit(0L))).head
          (r.getLong(0), r.getLong(1), Some(snap))
      }

      writeCrc(spark, table, version, numFiles, sizeBytes,
        metaJson.orElse(prev.flatMap(_.metadataJson))
          .orElse(snapFallback.flatMap(_.metaDataJson)),
        protoJson.orElse(prev.flatMap(_.protocolJson))
          .orElse(snapFallback.flatMap(_.protocolJson)))
    } catch { case scala.util.control.NonFatal(_) => () }

  private def writeCrc(spark: SparkSession, table: String, version: Long,
      numFiles: Long, sizeBytes: Long,
      effMeta: Option[String], effProto: Option[String]): Unit = {
    val out = mapper.createObjectNode()
    out.put("tableSizeBytes", sizeBytes)
    out.put("numFiles", numFiles)
    out.put("numMetadata", 1L)
    out.put("numProtocol", 1L)
    effMeta.foreach(m => out.set[ObjectNode]("metadata", mapper.readTree(m)))
    effProto.foreach(p => out.set[ObjectNode]("protocol", mapper.readTree(p)))
    val f = DeltaLog.fs(spark, table)
    val o = f.create(crcPath(table, version), false)
    try o.write((mapper.writeValueAsString(out) + "\n").getBytes("UTF-8"))
    finally o.close()
  }

  /** Validate the newest checksum against actual log-replay state: the
    * file frame's (count, total size) must equal the recorded values,
    * and the recorded metadata/protocol must match the snapshot's.
    * Returns None when no checksum exists at the snapshot version;
    * Some(report) otherwise. ONE distributed aggregation. */
  def validate(spark: SparkSession, table: String): Option[Map[String, Boolean]] = {
    val snap = DeltaLog.snapshot(spark, table)
    read(spark, table, snap.version).map { crc =>
      val r = snap.allFiles.agg(
        count(lit(1)), coalesce(sum(col("size")), lit(0L))).head
      Map(
        "numFiles" -> (r.getLong(0) == crc.numFiles),
        "tableSizeBytes" -> (r.getLong(1) == crc.tableSizeBytes),
        "metadata" -> crc.metadataJson.forall(m =>
          snap.metaDataJson.map(mapper.readTree).contains(mapper.readTree(m))),
        "protocol" -> crc.protocolJson.forall(p =>
          snap.protocolJson.map(mapper.readTree).contains(mapper.readTree(p))))
    }
  }
}
