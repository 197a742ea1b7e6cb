package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Reader/writer for the open Delta Lake table format — the format the
  * reference's tables actually use (`USING DELTA`,
  * /root/reference/databricks_DW/02_create_tables.sql:3-184). Implemented
  * from the public Delta transaction-log protocol: a table is a directory
  * whose `_delta_log/` holds ordered commits `<version%020d>.json`, each a
  * set of newline-delimited JSON actions (`add`, `remove`, `metaData`,
  * `protocol`, `txn`, `commitInfo`); the live file set at version V is the
  * replay of all commits ≤ V (last action per path wins). Periodic parquet
  * checkpoints (`<v>.checkpoint.parquet`) compact the replay so nobody
  * reads an unbounded JSON tail. Every reader and writer finds the
  * commits and the newest complete checkpoint from one listing of
  * `_delta_log` ([[logSegment]]); the checkpoint writer still writes the
  * `_last_checkpoint` hint for other readers, but no read here needs it.
  *
  * Scale architecture — file-level state NEVER lives on the driver:
  * [[Snapshot.allFiles]] is a DataFrame (the checkpoint parquet read
  * as-is, unioned with the JSON commit tail parsed under an explicit
  * schema, add/remove resolved by a per-path window — the same
  * distributed state reconstruction a production Delta runtime runs).
  * Zone-map pruning ([[pruneFiles]]) is a DataFrame filter over the
  * parsed per-file stats, so only the SURVIVING file list is ever
  * collected; checkpoints are written straight from the state DataFrame.
  * At ~10⁶ files / 100 TB the driver holds file PATHS only where a scan
  * plan needs them (the same footprint as Spark's own file index), never
  * the stats/partition-value payload. The JSON tail stays bounded by
  * auto-checkpointing every N commits ([[Txn.postCommit]]).
  *
  * Interop scope: reads tables written by current Delta writers —
  * partitioned layouts, single- and multi-part checkpoints, deletion
  * vectors (row-level deletes, decoded by [[DeletionVectors]] and applied
  * as a `_metadata.row_index` anti-filter), and name-/id-mode column
  * mapping (physical→logical rename on read; logical→physical staging
  * translation on write, so MERGE/DELETE/UPDATE/OPTIMIZE work on mapped
  * tables too — only ADDING a column to a mapped table refuses, since
  * that needs a minted physicalName/columnId). Protocol gating stays
  * honest: reader features that would change read semantics and are NOT
  * implemented refuse loudly instead of silently misreading; unknown
  * informational fields (`stats`, `tags`) are tolerated per the
  * protocol's forward-compatibility rules.
  */
/** A commit lost the version race to a concurrent writer: the caller's
  * read-modify-write is stale. Row-level DML recomputes from a fresh
  * snapshot and retries ([[DeltaLog.withDmlRetry]]); pinned-fold
  * consumers (the materialized view) surface it to re-fold.
  *
  * Subclasses classify WHY the concurrent history could not be rebased
  * over — the same taxonomy delta-spark's conflict checker raises, so a
  * caller can distinguish "someone appended under Serializable" from
  * "someone deleted the rows I was rewriting". All of them extend this
  * class: any `catch`-site that retried races before keeps working. */
class CommitRaceException(msg: String) extends RuntimeException(msg)

/** A concurrent transaction added files this one should have read. */
final class ConcurrentAppendException(msg: String) extends CommitRaceException(msg)
/** A concurrent transaction deleted a file this one read. */
final class ConcurrentDeleteReadException(msg: String) extends CommitRaceException(msg)
/** A concurrent transaction deleted a file this one also deletes. */
final class ConcurrentDeleteDeleteException(msg: String) extends CommitRaceException(msg)
/** A concurrent transaction changed the table metadata (schema,
  * properties, partitioning, or a metadata domain). */
final class MetadataChangedException(msg: String) extends CommitRaceException(msg)
/** A concurrent transaction upgraded the table protocol. */
final class ProtocolChangedException(msg: String) extends CommitRaceException(msg)
/** A concurrent transaction committed under the same SetTransaction
  * appId — the idempotence watermark this one asserted is stale. */
final class ConcurrentTransactionException(msg: String) extends CommitRaceException(msg)

object DeltaLog {

  /** One live data file: its path and, when present, the deletion-vector
    * descriptor whose row indexes must be filtered out on read. */
  case class FileEntry(path: String, dv: Option[DeletionVectors.Descriptor] = None,
      // recorded add-action size; -1 = unknown (not loaded / not live).
      // Carried into remove actions so [[Checksum]] can decrement
      // incrementally instead of recomputing table state per DML commit.
      size: Long = -1L)

  /** Hadoop `Configuration` is not `java.io.Serializable`; this wrapper
    * ships one to executors (broadcast) via its own write/readFields —
    * how task-side filesystem access gets its conf on a real cluster. */
  private[sources] class SerializableHadoopConf(
      @transient var value: org.apache.hadoop.conf.Configuration) extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new org.apache.hadoop.conf.Configuration(false)
      value.readFields(in)
    }
  }

  /** Live state of the table at one version. File-level state
    * (path, partitionValues, size, modificationTime, stats JSON,
    * deletionVector) stays DISTRIBUTED in [[allFiles]]; the driver-side
    * fields are the small metadata: schema, partition columns,
    * SetTransaction watermarks, column-mapping mode, and the raw
    * metaData/protocol JSON (persisted verbatim into checkpoints). */
  case class Snapshot(
      version: Long,
      schema: Option[StructType],
      partitionColumns: Seq[String],
      txns: Map[String, Long],
      columnMappingMode: String,
      metaDataJson: Option[String],
      protocolJson: Option[String],
      allFiles: DataFrame,
      domainMetadata: Map[String, String] = Map.empty,
      // SetTransaction lastUpdated stamps (absent when the action carried
      // none) — drives delta.setTransactionRetentionDuration expiry
      txnTimes: Map[String, Long] = Map.empty) {

    /** Version of the last whole-scope clustering OPTIMIZE, from the
      * `graft.clustering.progress` domain — the O(1) state behind
      * incremental clustering (None until the first bare OPTIMIZE). */
    lazy val clusteringProgress: Option[Long] =
      domainMetadata.get("graft.clustering.progress").flatMap { cfg =>
        val n = mapper.readTree(cfg)
        if (n.has("lastClustered")) Some(n.get("lastClustered").asLong())
        else None
      }

    /** Clustering columns from the `delta.clustering` metadata domain
      * (Delta's liquid-clustering declaration; empty when unclustered). */
    lazy val clusteringColumns: Seq[String] =
      domainMetadata.get("delta.clustering").toSeq.flatMap { cfg =>
        val n = mapper.readTree(cfg)
        if (!n.has("clusteringColumns")) Seq.empty
        else {
          val it = n.get("clusteringColumns").elements()
          val b = Seq.newBuilder[String]
          while (it.hasNext) {
            val part = it.next()
            // each entry is a (possibly nested) name path; top-level only
            if (part.isArray && part.size() > 0) b += part.get(0).asText()
            else if (part.isTextual) b += part.asText()
          }
          b.result()
        }
      }

    /** Path + deletion vector + size of every live file, collected ONCE
      * and cached — the driver needs paths to build any multi-file scan
      * (the same footprint Spark's InMemoryFileIndex pays); stats and
      * partition values stay distributed. Reuses [[chunkMemo]] when a
      * chunked read already collected the same columns, so a DML
      * statement that both reads and probes the snapshot pays ONE
      * collect job, not two. */
    lazy val fileEntries: Seq[FileEntry] = {
      val r = Option(chunkMemo.get()).map(_.sortBy(_.path)).getOrElse {
        allFiles.select("path", "deletionVector", "size").collect().toSeq
          .map(entryOfRow).sortBy(_.path)
      }
      fileEntriesReady = true
      r
    }

    /** True once [[fileEntries]] materialized — the signal that
      * metadata lookups ([[entriesFor]], the chunked-read probe) can be
      * answered from driver state with ZERO Spark jobs. */
    @transient @volatile private[sources] var fileEntriesReady = false

    /** path → entry over [[fileEntries]] (built on first use). */
    @transient private[sources] lazy val entryIndex: Map[String, FileEntry] =
      fileEntries.map(e => e.path -> e).toMap

    /** Memo for [[readSnapshotChunked]]'s one-chunk fast path: the
      * (probedChunkSize, entries) of a successful head probe. A DML
      * flow touches the file frame of the SAME (LRU-cached) snapshot
      * 4–6 times — probe, rewrite, CDF stage, read-back — and each
      * touch was one limit-collect Spark job; the memo makes all but
      * the first free. Bounded by the chunk rule (only a ≤ chunkSize
      * result is ever stored); multi-chunk tables keep streaming. */
    @transient private[sources] lazy val chunkMemo =
      new java.util.concurrent.atomic.AtomicReference[Seq[FileEntry]]()

    /** Live file paths (relative to the table root), sorted. */
    def files: Seq[String] = fileEntries.map(_.path)

    /** Table properties from the metaData `configuration` map —
      * delta.appendOnly, delta.constraints.*, … (empty when absent). */
    lazy val configuration: Map[String, String] =
      metaDataJson.map(raw => configurationOf(mapper.readTree(raw))).getOrElse(Map.empty)

    /** logical → physical column name under column mapping (top level;
      * empty when mapping is off). Stats and partition values are keyed
      * by physicalName in BOTH name and id mode. */
    lazy val columnMapping: Map[String, String] =
      if (columnMappingMode != "name" && columnMappingMode != "id") Map.empty
      else schema.map(_.fields.map(f => f.name -> physicalName(f)).toMap)
        .getOrElse(Map.empty)

    /** Entries for a specific path subset — a DISTRIBUTED semi-join
      * against the file frame, so a MERGE/OPTIMIZE removing 10 files of
      * a 10⁶-file table collects 10 entries, never the whole snapshot
      * (the full-overwrite case passes every path and pays O(files),
      * which is also the size of the commit it is building). Paths not
      * in the snapshot come back as plain entries, preserving the
      * caller's remove-whatever-it-asked contract. */
    private[sources] def entriesFor(paths: Seq[String]): Seq[FileEntry] = {
      if (paths.isEmpty) return Seq.empty
      // a huge path set (full overwrite) would make a poor broadcast —
      // and needs ~every entry anyway, so the cached full collect wins.
      // Likewise when the full entry list ALREADY sits on the driver
      // (a probe or chunked read materialized it): answering from the
      // index costs zero Spark jobs instead of a semi-join.
      if (paths.size > 100000 || fileEntriesReady) {
        val byPath = entryIndex
        return paths.map(p => byPath.getOrElse(p, FileEntry(p)))
      }
      val spark = allFiles.sparkSession
      import spark.implicits._
      val wanted = paths.toDF("__want")
      val matched = allFiles.select(col("path"), col("deletionVector"), col("size"))
        .join(broadcast(wanted), col("path") === col("__want"), "left_semi")
        .collect().map(entryOfRow)
      val byPath = matched.map(e => e.path -> e).toMap
      paths.map(p => byPath.getOrElse(p, FileEntry(p)))
    }
  }

  /** The `configuration` map of a metaData action's body. */
  private def configurationOf(meta: JsonNode): Map[String, String] =
    if (!meta.has("configuration") || meta.get("configuration").isNull) Map.empty
    else {
      val it = meta.get("configuration").fields()
      val b = Map.newBuilder[String, String]
      while (it.hasNext) {
        val e = it.next()
        if (!e.getValue.isNull) b += e.getKey -> e.getValue.asText()
      }
      b.result()
    }

  /** Decode one `allFiles` row (path, deletionVector) into a FileEntry. */
  private def entryOfRow(r: Row): FileEntry = {
    val dv =
      if (r.isNullAt(1)) None
      else {
        val s = r.getStruct(1)
        Some(DeletionVectors.Descriptor(
          s.getString(0), s.getString(1),
          if (s.isNullAt(2)) None else Some(s.getInt(2)),
          if (s.isNullAt(3)) 0 else s.getInt(3),
          if (s.isNullAt(4)) 0L else s.getLong(4)))
      }
    FileEntry(r.getString(0), dv,
      if (r.length < 3 || r.isNullAt(2)) -1L else r.getLong(2))
  }

  /** Live-file count of a snapshot — ONE distributed count, no entry
    * materialization on the driver (the streaming source's admission
    * control needs only the size of the initial-snapshot feed). */
  private[graft] def snapshotFileCount(snap: Snapshot): Long = snap.allFiles.count()

  /** Path-ordered slice [from, until) of a snapshot's live file
    * entries, collecting ONLY the slice on the driver — the chunked
    * initial-snapshot path: a 10⁶-file table streamed with
    * maxFilesPerTrigger=1000 holds 1000 entries at a time, never all.
    * Ordering is the distributed sort on `path` (binary UTF-8 — equal
    * to the JVM sort for the ASCII paths the writer mints), so chunk
    * boundaries are stable across calls and restarts. */
  private[graft] def snapshotFileSlice(snap: Snapshot,
      from: Long, until: Long): Seq[FileEntry] =
    if (until <= from) Seq.empty
    else snap.allFiles.select("path", "deletionVector").orderBy("path")
      .offset(from.toInt).limit((until - from).toInt)
      .collect().toSeq.map(entryOfRow)

  /** Byte-budget batch boundaries over the path-ordered snapshot feed:
    * element k is the EXCLUSIVE end index of byte-batch k, where a file
    * belongs to batch ⌊bytes-before-it / budget⌋ — each batch is ≥1
    * file and ≈budget bytes. Computed DISTRIBUTED (two-phase cumulative
    * sum: partitioned running totals + broadcast per-partition offsets
    * — no single-partition window); the driver holds only the O(total
    * bytes / budget) boundary list. The ordering is the same
    * distributed path sort [[snapshotFileSlice]] slices by, so byte
    * batches and index slices agree. */
  private[graft] def snapshotByteBatchEnds(snap: Snapshot,
      budget: Long): IndexedSeq[Long] = {
    require(budget > 0, s"byte budget must be positive: $budget")
    val spark = snap.allFiles.sparkSession
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    val base = snap.allFiles
      .select(col("path"), coalesce(col("size"), lit(0L)).as("sz"))
      .repartitionByRange(parts, col("path")).sortWithinPartitions("path")
      .withColumn("pid", spark_partition_id())
    val pw = Window.partitionBy("pid").orderBy("path")
    val local = base.withColumn("lrn", row_number().over(pw).cast("long"))
      .withColumn("lcum", sum(col("sz")).over(pw))
    val offs = local.groupBy("pid")
      .agg(count(lit(1)).as("n"), sum("sz").as("bytes"))
      .orderBy("pid").collect()
    var rowOff = Map.empty[Int, Long]
    var byteOff = Map.empty[Int, Long]
    var rAcc = 0L
    var bAcc = 0L
    offs.foreach { r =>
      rowOff += r.getInt(0) -> rAcc; byteOff += r.getInt(0) -> bAcc
      rAcc += r.getLong(1); bAcc += r.getLong(2)
    }
    if (rAcc == 0L) return IndexedSeq.empty
    local.select(
        (element_at(typedLit(rowOff), col("pid")) + col("lrn")).as("rn"),
        (element_at(typedLit(byteOff), col("pid")) + col("lcum")).as("cum"),
        col("sz"))
      .withColumn("k", expr(s"(cum - sz) div $budget"))
      .groupBy("k").agg(max("rn").as("end"))
      .orderBy("k").select("end").collect().map(_.getLong(0)).toIndexedSeq
  }

  private val mapper = new ObjectMapper()

  private[sources] def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[sources] def logDir(table: String) = new Path(table, "_delta_log")

  private val commitRe = """(\d{20})\.json""".r
  private val compactedRe = """(\d{20})\.(\d{20})\.compacted\.json""".r
  private val classicCpRe = """(\d{20})\.checkpoint\.parquet""".r
  private val partCpRe = """(\d{20})\.checkpoint\.(\d{10})\.(\d{10})\.parquet""".r
  private val v2CpRe = """(\d{20})\.checkpoint\.[^.]+\.(?:parquet|json)""".r

  /** A checkpoint this reader understands, complete in the listing:
    * classic parquet (one file, or every part of a multi-part set), or
    * V2 (one manifest — parquet or JSON — whose `sidecarFile` actions
    * point into `_delta_log/_sidecars/`). */
  private[sources] sealed trait CpShape { def version: Long }
  private case class CpClassic(version: Long, paths: Seq[String]) extends CpShape
  private case class CpV2(version: Long, manifest: String, isJson: Boolean) extends CpShape

  /** One listing of `_delta_log`, parsed: the JSON commits, the
    * log-compaction files `<x>.<y>.compacted.json` (each covering the
    * inclusive commit range x..y, ascending by x), and the complete
    * checkpoints (ascending). Every Delta reader and writer takes its log
    * state from one of these ([[logSegment]]). The `_last_checkpoint`
    * hint plays no part: the protocol calls it a hint, the listing
    * already names every checkpoint, and a torn hint or one naming a
    * vanished checkpoint must not fail a read. */
  private[sources] final case class LogSegment(statuses: Seq[FileStatus],
      commits: scala.collection.immutable.SortedMap[Long, FileStatus],
      compactions: Seq[(Long, Long, FileStatus)], checkpoints: Seq[CpShape]) {

    /** Newest version: a commit, a compaction range end or a checkpoint.
      * The checkpoint counts: after a checkpoint + JSON cleanup the
      * listing holds no commits, yet reusing version 0 would commit
      * BELOW the checkpoint, where replay ignores it. */
    val latest: Option[Long] = (commits.keys ++ compactions.map(_._2) ++
      checkpoints.map(_.version)).maxOption

    /** Versions with a commit or a checkpoint, ascending. */
    def versions: Seq[Long] = (commits.keySet ++ checkpoints.map(_.version)).toSeq.sorted

    /** The newest checkpoint at or below `v`. */
    def checkpointAt(v: Long): Option[CpShape] =
      checkpoints.takeWhile(_.version <= v).lastOption
  }

  /** The one listing of `_delta_log` (an empty segment when absent). A
    * multi-part checkpoint missing a part is not a checkpoint; of two
    * layouts at one version the classic file wins, then the first V2
    * manifest by name. */
  private[sources] def logSegment(f: FileSystem, table: String): LogSegment = {
    val statuses =
      try f.listStatus(logDir(table)).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    val commits = scala.collection.immutable.SortedMap.newBuilder[Long, FileStatus]
    val compactions = Seq.newBuilder[(Long, Long, FileStatus)]
    val classic = mutable.Map.empty[Long, CpShape]
    val v2 = mutable.Map.empty[Long, String]
    val parts = mutable.Map.empty[(Long, Int), Map[Int, String]]
    def path(name: String) = new Path(logDir(table), name).toString
    statuses.foreach { st =>
      val name = st.getPath.getName
      name match {
        case commitRe(v) => commits += v.toLong -> st
        case compactedRe(x, y) => compactions += ((x.toLong, y.toLong, st))
        case classicCpRe(v) => classic(v.toLong) = CpClassic(v.toLong, Seq(path(name)))
        case partCpRe(v, i, n) =>
          val k = (v.toLong, n.toInt)
          parts(k) = parts.getOrElse(k, Map.empty) + (i.toInt -> path(name))
        case v2CpRe(v) => if (v2.get(v.toLong).forall(_ > name)) v2(v.toLong) = name
        case _ =>
      }
    }
    val multiPart = parts.collect { case ((v, n), ps) if (1 to n).forall(ps.contains) =>
      v -> (CpClassic(v, (1 to n).map(ps)): CpShape)
    }
    val manifests = v2.map { case (v, name) =>
      v -> (CpV2(v, path(name), name.endsWith(".json")): CpShape)
    }
    LogSegment(statuses, commits.result(), compactions.result().sortBy(_._1),
      (multiPart ++ manifests ++ classic).values.toSeq.sortBy(_.version))
  }

  /** Committed versions present as JSON commits (ascending). */
  def listVersions(spark: SparkSession, table: String): Seq[Long] =
    logSegment(fs(spark, table), table).commits.keys.toSeq

  /** Log-compaction ranges present (ascending start). */
  def listCompactions(spark: SparkSession, table: String): Seq[(Long, Long)] =
    logSegment(fs(spark, table), table).compactions.map(c => (c._1, c._2))

  private[sources] def compactedPath(table: String, x: Long, y: Long) =
    new Path(logDir(table), f"$x%020d.$y%020d.compacted.json")

  /** Newest committed version ([[LogSegment.latest]]): what a streaming
    * tail polls. */
  def latestVersion(spark: SparkSession, table: String): Option[Long] =
    logSegment(fs(spark, table), table).latest

  private[sources] def commitPath(table: String, v: Long) =
    new Path(logDir(table), f"$v%020d.json")

  /** Raw action lines of one commit file (diagnostics and specs). */
  private[graft] def readCommitActions(spark: SparkSession, table: String,
      v: Long): Seq[String] =
    readCommit(fs(spark, table), table, v).map(mapper.writeValueAsString)

  private def readCommit(f: FileSystem, table: String, v: Long): Seq[JsonNode] = {
    val in = f.open(commitPath(table, v))
    try {
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      src.getLines().filter(_.nonEmpty).map(mapper.readTree).toList
    } finally in.close()
  }

  private val sidecarFileSchema = new StructType()
    .add("path", StringType).add("sizeInBytes", LongType)
    .add("modificationTime", LongType)

  /** Resolve a V2 manifest's file-level state: the manifest's own `add`
    * rows (if any) plus every referenced sidecar parquet under
    * `_delta_log/_sidecars/` — each normalized through [[cpFileState]].
    * Only sidecar NAMES reach the driver; the add rows stay distributed. */
  private def v2FileState(spark: SparkSession, table: String,
      man: DataFrame, cpVersion: Long): Option[DataFrame] = {
    val sidecarNames: Seq[String] =
      if (!man.columns.contains("sidecarFile")) Seq.empty
      else man.where("sidecarFile IS NOT NULL AND sidecarFile.path IS NOT NULL")
        .select("sidecarFile.path").collect().map(_.getString(0)).toSeq
    val sidecarPaths = sidecarNames
      .map(p => new Path(new Path(logDir(table), "_sidecars"), p).toString)
    val manAdds =
      if (!man.columns.contains("add")) Seq.empty
      else Seq(cpFileState(man, cpVersion))
    val sidecarAdds =
      if (sidecarPaths.isEmpty) Seq.empty
      else Seq(cpFileState(spark.read.parquet(sidecarPaths: _*), cpVersion))
    (manAdds ++ sidecarAdds).reduceOption(_.unionByName(_))
  }

  // ---------------------------------------------------- protocol gating

  /** Reader features this implementation actually honors. Anything else
    * changes READ semantics, so an unknown feature must refuse loudly
    * rather than silently misread. */
  private val supportedReaderFeatures =
    Set("timestampNtz", "columnMapping", "vacuumProtocolCheck",
      "deletionVectors", "v2Checkpoint", "typeWidening", "variantType")

  private def gateProtocol(p: JsonNode): Unit = {
    val mrv = if (p.has("minReaderVersion")) p.get("minReaderVersion").asInt() else 1
    require(mrv <= 3, s"unsupported Delta minReaderVersion $mrv (max supported: 3)")
    if (p.has("readerFeatures") && !p.get("readerFeatures").isNull) {
      val it = p.get("readerFeatures").elements()
      val feats = Seq.newBuilder[String]
      while (it.hasNext) feats += it.next().asText()
      val unsupported = feats.result().toSet -- supportedReaderFeatures
      require(unsupported.isEmpty,
        s"unsupported Delta reader features: ${unsupported.toSeq.sorted.mkString(", ")} " +
          "— refusing to read rather than silently misread")
    }
  }

  private def mappingModeOf(m: JsonNode): String =
    if (!m.has("configuration") || m.get("configuration").isNull) "none"
    else Option(m.get("configuration").get("delta.columnMapping.mode"))
      .filterNot(_.isNull).map(_.asText()).getOrElse("none")

  private def gateMetaData(m: JsonNode): Unit = {
    val mode = mappingModeOf(m)
    require(mode == "none" || mode == "name" || mode == "id",
      s"Delta column mapping mode '$mode' not supported — refusing to read")
  }

  // --------------------------------------------- column mapping (name/id)

  private val PhysNameKey = "delta.columnMapping.physicalName"
  private val FieldIdKey = "delta.columnMapping.id"

  // ------------------------------------- generated & identity columns
  // (Delta writer features `generatedColumns` / `identityColumns`: the
  // column's StructField metadata carries the generation expression or
  // the identity start/step/highWaterMark — the protocol's own keys, so
  // tables created by delta-spark round-trip)
  private[graft] val GenExprKey = "delta.generationExpression"
  private[graft] val IdStartKey = "delta.identity.start"
  private[graft] val IdStepKey = "delta.identity.step"
  private[graft] val IdHwmKey = "delta.identity.highWaterMark"
  private[graft] val IdAllowKey = "delta.identity.allowExplicitInsert"
  /** Column DEFAULT values (writer feature `allowColumnDefaults`): the
    * SQL default expression under Spark's own field-metadata key, so
    * delta-spark round-trips. Writes lacking the column materialize the
    * default; existing rows are NEVER backfilled (per spec, SET DEFAULT
    * affects future inserts only). */
  private[graft] val DefaultKey = "CURRENT_DEFAULT"
  /** Spark's parquet reader resolves columns by this metadata key when
    * `spark.sql.parquet.fieldId.read.enabled` is set. */
  private val ParquetFieldIdKey = "parquet.field.id"

  private def physicalName(f: StructField): String =
    if (f.metadata.contains(PhysNameKey)) f.metadata.getString(PhysNameKey) else f.name

  /** Recursively rename a logical schema to its physical (parquet) field
    * names — column mapping's read-side translation. With `fieldIds`
    * (id-mode), each field additionally carries its
    * `delta.columnMapping.id` as `parquet.field.id`, so the scan matches
    * parquet columns by FIELD ID — the parquet file's own column names
    * (which id-mode lets drift from `physicalName`) stop mattering. */
  private def physicalType(dt: DataType, fieldIds: Boolean = false): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map { f =>
        val nf = f.copy(name = physicalName(f),
          dataType = physicalType(f.dataType, fieldIds))
        if (fieldIds && f.metadata.contains(FieldIdKey))
          nf.copy(metadata = new MetadataBuilder().withMetadata(nf.metadata)
            .putLong(ParquetFieldIdKey, f.metadata.getLong(FieldIdKey)).build())
        else nf
      })
    case a: ArrayType => a.copy(elementType = physicalType(a.elementType, fieldIds))
    case m: MapType =>
      m.copy(keyType = physicalType(m.keyType, fieldIds),
        valueType = physicalType(m.valueType, fieldIds))
    case x => x
  }

  // -------------------------------------------------- action shape (JSON)

  private val dvDdl =
    "STRUCT<storageType: STRING, pathOrInlineDv: STRING, offset: INT, " +
      "sizeInBytes: INT, cardinality: BIGINT>"
  private val dvSchema = StructType.fromDDL(
    "storageType STRING, pathOrInlineDv STRING, offset INT, " +
      "sizeInBytes INT, cardinality BIGINT")
  private val addSchema = new StructType()
    .add("path", StringType).add("partitionValues", MapType(StringType, StringType))
    .add("size", LongType).add("modificationTime", LongType)
    .add("dataChange", BooleanType).add("stats", StringType)
    .add("deletionVector", dvSchema)
    .add("baseRowId", LongType).add("defaultRowCommitVersion", LongType)
  private val removeSchema = new StructType()
    .add("path", StringType).add("deletionTimestamp", LongType)
    .add("dataChange", BooleanType).add("deletionVector", dvSchema)
  private val metaDataSchema = new StructType()
    .add("id", StringType).add("name", StringType).add("description", StringType)
    .add("format", new StructType().add("provider", StringType)
      .add("options", MapType(StringType, StringType)))
    .add("schemaString", StringType).add("partitionColumns", ArrayType(StringType))
    .add("configuration", MapType(StringType, StringType)).add("createdTime", LongType)
  private val protocolSchema = new StructType()
    .add("minReaderVersion", IntegerType).add("minWriterVersion", IntegerType)
    .add("readerFeatures", ArrayType(StringType))
    .add("writerFeatures", ArrayType(StringType))
  private val txnSchema = new StructType()
    .add("appId", StringType).add("version", LongType).add("lastUpdated", LongType)
  private val domainMetadataSchema = new StructType()
    .add("domain", StringType).add("configuration", StringType)
    .add("removed", BooleanType)

  /** The action schema used to parse the JSON commit tail distributed
    * AND to lay out checkpoint parquet rows — one shape, both directions. */
  private val actionSchema = new StructType()
    .add("add", addSchema).add("remove", removeSchema)
    .add("metaData", metaDataSchema).add("protocol", protocolSchema)
    .add("txn", txnSchema).add("domainMetadata", domainMetadataSchema)

  /** V2 checkpoint manifests add sidecar pointers (and a
    * checkpointMetadata marker) to the action vocabulary. */
  private val v2ManifestSchema = actionSchema
    .add("sidecarFile", sidecarFileSchema)
    .add("checkpointMetadata", new StructType().add("version", LongType))

  // ------------------------------------------------------------- snapshot

  /** Checkpoint `add` rows → the normalized file-state columns, tolerant
    * of foreign checkpoints that carry fewer/more fields. */
  private def cpFileState(cp: DataFrame, cpVersion: Long): DataFrame = {
    val addType = cp.schema("add").dataType.asInstanceOf[StructType]
    def has(n: String) = addType.fieldNames.contains(n)
    def sel(n: String, tpe: String) =
      if (has(n)) s"add.$n AS $n" else s"CAST(NULL AS $tpe) AS $n"
    val dvExpr =
      if (!has("deletionVector")) s"CAST(NULL AS $dvDdl) AS deletionVector"
      else {
        val dvType = addType("deletionVector").dataType.asInstanceOf[StructType]
        def f(n: String, tpe: String) =
          if (dvType.fieldNames.contains(n)) s"add.deletionVector.$n"
          else s"CAST(NULL AS $tpe)"
        "CASE WHEN add.deletionVector IS NULL THEN " +
          s"CAST(NULL AS $dvDdl) ELSE named_struct(" +
          s"'storageType', ${f("storageType", "STRING")}, " +
          s"'pathOrInlineDv', ${f("pathOrInlineDv", "STRING")}, " +
          s"'offset', ${f("offset", "INT")}, " +
          s"'sizeInBytes', ${f("sizeInBytes", "INT")}, " +
          s"'cardinality', ${f("cardinality", "BIGINT")}) END AS deletionVector"
      }
    cp.where("add IS NOT NULL AND add.path IS NOT NULL")
      .selectExpr("add.path AS path", sel("partitionValues", "MAP<STRING,STRING>"),
        sel("size", "BIGINT"), sel("modificationTime", "BIGINT"),
        sel("stats", "STRING"), dvExpr,
        sel("baseRowId", "BIGINT"), sel("defaultRowCommitVersion", "BIGINT"))
      .withColumn("__v", lit(cpVersion)).withColumn("__kind", lit("add"))
  }

  /** Replay the log to the live state at `versionAsOf` (default: latest).
    * Uses the newest parquet checkpoint ≤ target when one exists; falls
    * back to full JSON replay (time travel to before the checkpoint
    * requires the JSON commits to still exist — same rule as Delta).
    *
    * Driver work is O(metadata): the checkpoint contributes only its
    * protocol/metaData/txn rows (collected — a handful), and the JSON
    * tail is STREAMED line-by-line with a cheap substring prefilter so
    * only metadata lines are parsed; add/remove lines — the O(files)
    * part — are parsed distributed into [[Snapshot.allFiles]]. */
  def snapshot(spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None): Snapshot =
    snapshotAt(spark, table, logSegment(fs(spark, table), table), versionAsOf)

  /** The latest snapshot, or None when `table` holds no Delta log — one
    * listing answers both. */
  private def latestSnapshot(spark: SparkSession, table: String): Option[Snapshot] = {
    val seg = logSegment(fs(spark, table), table)
    seg.latest.map(_ => snapshotAt(spark, table, seg))
  }

  /** [[snapshot]] from a segment already listed: its newest checkpoint
    * at or below the target, then the commits after it. */
  private def snapshotAt(spark: SparkSession, table: String, seg: LogSegment,
      versionAsOf: Option[Long] = None): Snapshot = {
    val f = fs(spark, table)
    // a log whose JSON tail was fully replaced by compaction files is
    // still a table: compaction range-ends count as reachable versions
    val compEnds = seg.compactions.map(_._2)
    require(seg.latest.nonEmpty, s"not a Delta table (no _delta_log commits): $table")
    val target = versionAsOf.getOrElse(seg.latest.get)
    versionAsOf.foreach { v =>
      require(seg.commits.contains(v) || seg.checkpoints.exists(_.version == v) ||
          compEnds.contains(v),
        s"version $v not present in $table/_delta_log " +
          s"(have ${seg.commits.keys.mkString(",")})")
    }

    val cpShape = seg.checkpointAt(target)
    val replayFrom = cpShape.fold(0L)(_.version + 1)
    // Replay SEGMENTS from replayFrom to target: a log-compaction file
    // (`<x>.<y>.compacted.json`, the protocol's minor compaction)
    // whose range starts exactly at the cursor substitutes for its
    // whole range — bounded replay between checkpoints; otherwise the
    // per-version commit. Coverage must be gap-free: on a foreign
    // table whose old commits were metadata-cleaned
    // (delta.logRetentionDuration), a version below the retained window
    // would otherwise replay only the surviving suffix — a silently
    // partial (wrong) file set. Delta errors on non-contiguous replay;
    // so do we.
    val compactions = seg.compactions
      .collect { case (x, y, _) if x >= replayFrom && y <= target => (x, y) }
    val segB = Seq.newBuilder[Path]
    var sv = replayFrom
    while (sv <= target) {
      val covering = compactions.filter(_._1 == sv)
      if (covering.nonEmpty) {
        val y = covering.map(_._2).max
        segB += compactedPath(table, sv, y)
        sv = y + 1
      } else {
        require(seg.commits.contains(sv),
          s"non-contiguous _delta_log for $table: need versions " +
            s"$replayFrom..$target beyond the checkpoint, missing $sv — " +
            "older commits were vacuumed/log-cleaned; time travel to this " +
            "version is gone")
        segB += commitPath(table, sv)
        sv += 1
      }
    }
    val segPaths = segB.result()

    // SNAPSHOT CACHE: a snapshot is immutable once its inputs are fixed,
    // and its inputs are exactly the log directory's contents — so the
    // key is the target version plus a fingerprint (name:length:mtime)
    // of every file in `_delta_log`, plus the session identity (the
    // cached frames are session-bound). Everything above this line is
    // filesystem LISTING only; the log replay, checkpoint frame
    // construction, and the lazily-cached fileEntries collect below are
    // what a hit skips. A new commit, checkpoint, compaction, log
    // cleanup — or a DROP + re-create minting a fresh version 0 at the
    // same path — all change the fingerprint, so staleness is
    // structural, not timed. The key stores a digest, not the listing
    // itself: at 10^6 retained commits the raw fingerprint would be
    // tens of MB per entry.
    val digest = java.security.MessageDigest.getInstance("MD5")
    // the fingerprint scopes to files that can influence THIS version's
    // state: anything whose leading version component is ≤ target, plus
    // every non-versioned name except `_last_checkpoint` (a hint the
    // read never consults). A later commit therefore does NOT invalidate
    // cached HISTORICAL snapshots — a CDF/time-travel chain revisiting
    // version v after more commits hits the cache instead of replaying
    // the log and re-collecting file entries.
    val verPrefix = """^(\d{20})\.""".r
    def fpIncluded(name: String): Boolean = name match {
      case commitRe(v) => v.toLong <= target
      case compactedRe(_, y) => y.toLong <= target
      case "_last_checkpoint" => false
      case n => verPrefix.findFirstMatchIn(n).forall(_.group(1).toLong <= target)
    }
    seg.statuses.filter(st => fpIncluded(st.getPath.getName))
      .map(st =>
        s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted
      .foreach(s => digest.update(s.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    val logStat = java.util.Base64.getEncoder.encodeToString(digest.digest())
    val cacheKey = (System.identityHashCode(spark).toLong, table, target, logStat)
    val cachedSnap = snapshotCache.get(cacheKey)
    if (cachedSnap != null) return cachedSnap

    var schema: Option[StructType] = None
    var partCols: Seq[String] = Seq.empty
    var mappingMode = "none"
    var metaRaw: Option[String] = None
    var protoRaw: Option[String] = None
    val txns = mutable.Map.empty[String, Long]
    val txnTimes = mutable.Map.empty[String, Long]
    // metadata domains (delta.clustering, …): last writer per domain
    // wins, a removed=true tombstone drops it — metadata-sized, so the
    // replay is driver-side like metaData/protocol/txn
    val domains = mutable.Map.empty[String, String]
    def applyDomain(d: JsonNode): Unit = {
      val name = d.get("domain").asText()
      if (d.has("removed") && d.get("removed").asBoolean(false)) domains.remove(name)
      else domains.put(name,
        if (d.has("configuration") && !d.get("configuration").isNull)
          d.get("configuration").asText() else "")
      ()
    }
    def applyMetaData(m: JsonNode, raw: String): Unit = {
      gateMetaData(m)
      schema = Some(DataType.fromJson(m.get("schemaString").asText())
        .asInstanceOf[StructType])
      partCols =
        if (!m.has("partitionColumns") || m.get("partitionColumns").isNull) Seq.empty
        else {
          val it = m.get("partitionColumns").elements()
          val b = Seq.newBuilder[String]
          while (it.hasNext) b += it.next().asText()
          b.result()
        }
      mappingMode = mappingModeOf(m)
      metaRaw = Some(raw)
    }

    // metadata-bearing frame + normalized file-state frame, by layout
    val cpFrames: Option[(DataFrame, Option[DataFrame])] = cpShape.map {
      case CpClassic(v, paths) =>
        val frame = spark.read.parquet(paths: _*)
        (frame, Some(cpFileState(frame, v)))
      case CpV2(v, manifest, isJson) =>
        val man =
          if (isJson) spark.read.schema(v2ManifestSchema).json(manifest)
          else spark.read.parquet(manifest)
        (man, v2FileState(spark, table, man, v))
    }
    cpFrames.map(_._1).foreach { cp =>
      // checkpoint-carried protocol/metaData/txn: a vacuumed table has
      // them ONLY here; gate exactly as the JSON replay does
      if (cp.columns.contains("protocol"))
        cp.where("protocol IS NOT NULL AND protocol.minReaderVersion IS NOT NULL")
          .select(to_json(col("protocol"))).collect().foreach { r =>
            gateProtocol(mapper.readTree(r.getString(0)))
            protoRaw = Some(r.getString(0))
          }
      if (cp.columns.contains("metaData"))
        cp.where("metaData IS NOT NULL AND metaData.schemaString IS NOT NULL")
          .select(to_json(col("metaData"))).collect().foreach { r =>
            applyMetaData(mapper.readTree(r.getString(0)), r.getString(0))
          }
      if (cp.columns.contains("txn"))
        cp.where("txn IS NOT NULL AND txn.appId IS NOT NULL")
          .select("txn.appId", "txn.version", "txn.lastUpdated").collect()
          .foreach { r =>
            txns.put(r.getString(0), r.getLong(1))
            if (!r.isNullAt(2)) txnTimes.put(r.getString(0), r.getLong(2))
            else txnTimes.remove(r.getString(0))
          }
      if (cp.columns.contains("domainMetadata"))
        cp.where("domainMetadata IS NOT NULL AND domainMetadata.domain IS NOT NULL")
          .select(to_json(col("domainMetadata"))).collect()
          .foreach(r => applyDomain(mapper.readTree(r.getString(0))))
    }

    // adds-only detection for the replay fast path below: a log tail
    // with no remove action (substring test — a stats payload that
    // merely MENTIONS "remove" is a harmless false positive that keeps
    // the safe path) cannot have two actions for one path, so the
    // last-action-per-path window is a no-op and its shuffle can be
    // skipped. Typical winners: fresh tables and append-only streaming
    // sinks, whose every snapshot probe then costs ONE job.
    var sawRemove = false
    segPaths.foreach { p =>
      val in = f.open(p)
      try {
        scala.io.Source.fromInputStream(in, "UTF-8").getLines().foreach { line =>
          if (!sawRemove && line.contains("\"remove\"")) sawRemove = true
          // substring prefilter: add/remove lines (the O(files) bulk) are
          // never JSON-parsed on the driver; false positives (e.g. a
          // stats payload mentioning "txn") parse and fall through
          if (line.contains("\"metaData\"") || line.contains("\"protocol\"") ||
              line.contains("\"txn\"") || line.contains("\"domainMetadata\"")) {
            val action = mapper.readTree(line)
            if (action.has("protocol")) {
              gateProtocol(action.get("protocol"))
              protoRaw = Some(mapper.writeValueAsString(action.get("protocol")))
            } else if (action.has("metaData")) {
              val m = action.get("metaData")
              applyMetaData(m, mapper.writeValueAsString(m))
            } else if (action.has("txn")) {
              val t = action.get("txn")
              txns.put(t.get("appId").asText(), t.get("version").asLong())
              if (t.has("lastUpdated") && !t.get("lastUpdated").isNull)
                txnTimes.put(t.get("appId").asText(), t.get("lastUpdated").asLong())
              else txnTimes.remove(t.get("appId").asText())
            } else if (action.has("domainMetadata")) {
              applyDomain(action.get("domainMetadata"))
            }
          }
        }
      } finally in.close()
    }

    // file-level state, fully distributed: checkpoint rows ∪ JSON tail,
    // last action per path wins, survivors are the adds
    val tailFrame: Option[DataFrame] =
      if (segPaths.isEmpty) None
      else Some {
        val paths = segPaths.map(_.toString)
        // ordering version: a commit file's own version, or — for a
        // compaction segment, already netted per path at write time —
        // its range END, so later segments/commits supersede it
        val raw = spark.read.schema(actionSchema).json(paths: _*)
          .withColumn("__v", coalesce(
            nullif(regexp_extract(col("_metadata.file_path"),
              """/(\d{20})\.json$""", 1), lit("")),
            nullif(regexp_extract(col("_metadata.file_path"),
              """/\d{20}\.(\d{20})\.compacted\.json$""", 1), lit("")))
            .cast("long"))
        val adds = raw.where("add IS NOT NULL AND add.path IS NOT NULL")
          .select(col("add.path").as("path"),
            col("add.partitionValues").as("partitionValues"),
            col("add.size").as("size"),
            col("add.modificationTime").as("modificationTime"),
            col("add.stats").as("stats"),
            col("add.deletionVector").as("deletionVector"),
            col("add.baseRowId").as("baseRowId"),
            col("add.defaultRowCommitVersion").as("defaultRowCommitVersion"),
            col("__v"), lit("add").as("__kind"))
        val removes = raw.where("remove IS NOT NULL AND remove.path IS NOT NULL")
          .select(col("remove.path").as("path"),
            lit(null).cast("MAP<STRING,STRING>").as("partitionValues"),
            lit(null).cast("BIGINT").as("size"),
            lit(null).cast("BIGINT").as("modificationTime"),
            lit(null).cast("STRING").as("stats"),
            lit(null).cast(dvDdl).as("deletionVector"),
            lit(null).cast("BIGINT").as("baseRowId"),
            lit(null).cast("BIGINT").as("defaultRowCommitVersion"),
            col("__v"), lit("remove").as("__kind"))
        adds.unionByName(removes)
      }
    val events = (cpFrames.flatMap(_._2).toSeq ++ tailFrame.toSeq)
    val allFiles = events match {
      case Seq() =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], new StructType()
          .add("path", StringType)
          .add("partitionValues", MapType(StringType, StringType))
          .add("size", LongType).add("modificationTime", LongType)
          .add("stats", StringType).add("deletionVector", dvSchema)
          .add("baseRowId", LongType).add("defaultRowCommitVersion", LongType))
      // adds-only fast path: no checkpoint to overlap with and no
      // remove action anywhere in the tail ⇒ every path appears exactly
      // once (this engine's writers never re-add a live path without a
      // remove), so the window below would keep every row — skip its
      // shuffle and the frame plans as a pure scan (one-job probes)
      case dfs if !sawRemove && cpFrames.isEmpty =>
        dfs.reduce(_.unionByName(_))
          .where(col("__kind") === "add")
          .select("path", "partitionValues", "size", "modificationTime",
            "stats", "deletionVector", "baseRowId", "defaultRowCommitVersion")
      case dfs =>
        // tie-break within one version: the add wins — a DV update
        // (remove+add of the SAME path in one commit) nets to the add
        // carrying the new descriptor. Explicit, not union-order luck.
        val w = Window.partitionBy("path")
          .orderBy(col("__v").desc, when(col("__kind") === "add", 0).otherwise(1))
        dfs.reduce(_.unionByName(_))
          .withColumn("__rn", row_number().over(w))
          .where(col("__rn") === 1 && col("__kind") === "add")
          // null-valued partition entries are KEPT: `key present, value
          // null` is the protocol's encoding of a null partition value,
          // and the pruning comparators use it to prove a file all-null
          // (an ABSENT key proves nothing — a foreign writer may simply
          // have omitted it)
          .select("path", "partitionValues", "size", "modificationTime",
            "stats", "deletionVector", "baseRowId", "defaultRowCommitVersion")
    }
    val built = Snapshot(target, schema, partCols, txns.toMap, mappingMode,
      metaRaw, protoRaw, allFiles, domains.toMap, txnTimes.toMap)
    // a commit we made seeded this version's entry memo (see
    // [[seedNextSnapshot]]): adopt it iff the commit file on disk is
    // byte-identical to the one the seeder wrote (length + mtime pin —
    // a DROP + re-create minting the same version cannot match)
    Option(pendingMemo.get(table))
      .filter(p => p.version == target && seg.commits.get(target).exists(st =>
        st.getLen == p.commitLen && st.getModificationTime == p.commitMtime))
      .foreach { p =>
        built.chunkMemo.compareAndSet(null, p.entries)
        built.fileEntries // materializes from the memo → entriesReady
        ()
      }
    snapshotCache.put(cacheKey, built)
    built
  }

  /** Bounded LRU of built snapshots, keyed by (session, table, version,
    * log-directory fingerprint) — see the cache note in [[snapshot]].
    * Small: each entry is driver metadata + lazy plans (plus the
    * fileEntries collect once someone forces it, which is exactly the
    * reuse that pays). */
  private val snapshotCache: java.util.Map[(Long, String, Long, String), Snapshot] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[(Long, String, Long, String), Snapshot](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[(Long, String, Long, String), Snapshot]): Boolean =
          // 48: one multi-version DML chain + its CDF replay touches
          // ~6 snapshots per table and a flow often spans several
          // tables — at 16, historical versions evicted mid-statement were
          // rebuilt WITHOUT their seeded entry memos (a fileEntries
          // collect job each). Each entry is driver metadata + a lazy
          // memo that only materializes for tables actually read.
          size() > 48
      })

  /** Test hook: drop every cached snapshot (e.g. after mutating log
    * files in place without changing their names). */
  private[graft] def invalidateSnapshotCache(): Unit = {
    snapshotCache.clear()
    pendingMemo.clear()
  }

  /** Next-snapshot entry memos seeded by a WON commit: the committer
    * derives version v's (path, dv, size) set from the v−1 snapshot's
    * driver-resident memo plus its own add/remove actions, so the next
    * [[snapshot]] of v answers the chunked-read probe, [[Snapshot.fileEntries]]
    * and [[Snapshot.entriesFor]] with ZERO Spark jobs — a DML statement's
    * read-back / CDF staging / next verb no longer re-collects file
    * state it just wrote. Guarded against history replacement (DROP +
    * re-create minting the same version number) by pinning the exact
    * commit file's (length, mtime); bounded to one memo per table, 64
    * tables, ≤ the chunked-read cap of entries. */
  private final case class PendingMemo(version: Long, commitLen: Long,
      commitMtime: Long, entries: Seq[FileEntry])
  private val pendingMemo: java.util.Map[String, PendingMemo] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, PendingMemo](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, PendingMemo]): Boolean =
          size() > 64
      })

  /** Derive and stash version `version`'s entry memo from `prevEntries`
    * (the v−1 state, MUST be driver-resident already) + the commit's
    * own actions. Never throws — seeding is purely an optimization. */
  private def seedNextSnapshot(f: FileSystem, table: String, version: Long,
      actions: Seq[String], prevEntries: Seq[FileEntry]): Unit =
    try {
      val adds = Seq.newBuilder[FileEntry]
      val removed = scala.collection.mutable.HashSet.empty[String]
      actions.foreach { a =>
        if (a.contains("\"add\"") || a.contains("\"remove\"")) {
          val n = mapper.readTree(a)
          if (n.has("add") && !n.get("add").isNull) {
            val ad = n.get("add")
            val p = ad.get("path").asText()
            removed += p // a re-add (DV update) supersedes the old entry
            adds += FileEntry(p, dvOf(ad),
              if (ad.has("size") && !ad.get("size").isNull) ad.get("size").asLong()
              else -1L)
          } else if (n.has("remove") && !n.get("remove").isNull) {
            removed += n.get("remove").get("path").asText(); ()
          }
        }
      }
      val out = prevEntries.filterNot(e => removed(e.path)) ++ adds.result()
      if (out.length <= 200000) {
        val st = f.getFileStatus(commitPath(table, version))
        pendingMemo.put(table,
          PendingMemo(version, st.getLen, st.getModificationTime, out))
        ()
      } else { pendingMemo.remove(table); () }
    } catch {
      case scala.util.control.NonFatal(_) => pendingMemo.remove(table); ()
    }

  /** The driver-resident entries of `snap`, if any — never a job. */
  private def residentEntries(snap: Snapshot): Option[Seq[FileEntry]] =
    Option(snap.chunkMemo.get())
      .orElse(if (snap.fileEntriesReady) Some(snap.fileEntries) else None)

  /** Whether `table` has a Delta log with at least one commit or
    * checkpoint — the explicit "does the table exist" probe. This is
    * deliberately NOT `Try(snapshot).isSuccess`: a table whose log
    * exists but is unreadable (transient IO error, corrupt commit) must
    * surface as an exception from [[snapshot]], never as `false` — a
    * caller deciding create-vs-append would otherwise treat "unreadable"
    * as "absent" and silently overwrite the table. */
  def isDeltaTable(spark: SparkSession, table: String): Boolean =
    latestVersion(spark, table).nonEmpty

  /** Last transaction version committed for `appId` (the protocol's
    * SetTransaction state) — how a streaming writer discovers which
    * micro-batches already landed. */
  def lastTxn(spark: SparkSession, table: String, appId: String): Option[Long] =
    latestSnapshot(spark, table).flatMap(_.txns.get(appId))

  // ------------------------------------------------------------- reading

  /** Multi-file parquet read of `entries` with the log's DECLARED schema
    * when present: no footer merging across (at scale) millions of
    * files, files written before a schema evolution surface nulls in
    * the added columns, and partition columns come from directory
    * discovery under `basePath` — exactly the protocol's read semantics.
    *
    * Deletion vectors: each DV'd entry's bitmap is decoded ONCE on the
    * driver (bounded by the DV's on-disk size — roaring-compressed KBs
    * for millions of deletes), broadcast, and applied distributed as a
    * `_metadata.row_index` anti-filter after the scan.
    *
    * Name-mode column mapping: the scan runs under the PHYSICAL schema
    * (parquet + partition-directory names), then renames to logical.
    * Empty entry set → empty frame with the declared logical schema. */
  private def readEntries(spark: SparkSession, table: String,
      entries: Seq[FileEntry], schema: Option[StructType],
      mappingMode: String, withProvenance: Boolean = false): DataFrame = {
    val mapped = (mappingMode == "name" || mappingMode == "id") && schema.isDefined
    if (entries.isEmpty) {
      val base = schema.getOrElse(new StructType())
      val s =
        if (!withProvenance) base
        else base.add(FpCol, StringType).add(RiCol, LongType)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
    }
    // id-mode: the scan must match parquet columns by field id, not name.
    // Spark only honors this through the session conf, and the returned
    // frame is lazy — a save/restore around read() would un-set it before
    // execution. So the flag is flipped on a CHILD session (shared
    // SparkContext, own SQLConf): the HadoopFsRelation captures that
    // session and builds its per-scan hadoopConf from it at execution
    // time, so the flip never leaks into how later scans on the caller's
    // session resolve columns carrying parquet.field.id metadata.
    val readSession =
      if (mappingMode == "id") {
        val s = spark.newSession()
        s.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        s
      } else spark
    val readSchema =
      if (mapped)
        schema.map(s => physicalType(s, mappingMode == "id").asInstanceOf[StructType])
      else schema
    // A shallow clone's log references EXTERNAL files by absolute path
    // (cloneShallow); basePath cannot span roots and Spark's partition
    // discovery refuses mixed prefixes, so entries group by root — the
    // table's own files under `table`, external files under the root
    // above their `k=v` partition directories — one scan per root (one
    // external root in practice), unioned by name. Provenance
    // (`_metadata` resolves only on a direct scan, never a union) is
    // materialized per group when needed: for the DV anti-filter, and
    // as __graft_file_path/__graft_row_index columns when the caller
    // asks (`withProvenance` — the DML probe contract).
    def isExternal(p: String): Boolean = p.startsWith("/") || p.contains(":/")
    def rootOf(p: Path): String = {
      var cur = p.getParent
      while (cur != null && cur.getName.contains("=")) cur = cur.getParent
      cur.toString
    }
    val dvEntries = entries.filter(_.dv.isDefined)
    val needMeta = withProvenance || dvEntries.nonEmpty
    def withMeta(df: DataFrame): DataFrame =
      if (!needMeta) df
      else df.select(col("*"), col("_metadata.file_path").as(FpCol),
        col("_metadata.row_index").as(RiCol))
    def readGroup(basePath: String, paths: Seq[String]): DataFrame = {
      val r = readSession.read.option("basePath", basePath)
      withMeta(readSchema.fold(r.parquet(paths: _*))(s =>
        r.schema(s).parquet(paths: _*)))
    }
    val (extEntries, localEntries) = entries.partition(e => isExternal(e.path))
    // the log already knows every local file's path and size — plan the
    // scan from that metadata ([[StaticRelation]]: no per-file stat, no
    // listing job), falling back to Spark's discovery for layouts the
    // static index cannot prove (no declared schema, mixed partition
    // segments). External (clone-referenced) roots keep discovery: their
    // absolute paths do not sit under one staged root.
    def localGroup(): DataFrame = {
      val staticOn = spark.conf.getOption("spark.graft.read.staticIndex")
        .forall(_.toBoolean)
      val static =
        if (!staticOn) None
        else readSchema.flatMap(s => StaticRelation.read(readSession,
          table, localEntries.map(e => StaticRelation.StaticFile(e.path, e.size)), s))
      static.map(withMeta).getOrElse(readGroup(table,
        localEntries.map(e => new Path(table, e.path).toString)))
    }
    val groups =
      (if (localEntries.isEmpty) Seq.empty else Seq(localGroup())) ++
        extEntries.groupBy(e => rootOf(new Path(e.path))).toSeq.sortBy(_._1)
          .map { case (root, es) => readGroup(root, es.map(_.path)) }
    val df0 = groups.reduce(_ unionByName _)
    val df1 =
      if (dvEntries.isEmpty) df0
      else {
        val fsys = fs(spark, table)
        val byBase: Map[String, Seq[(String, Array[Long])]] = dvEntries
          .map(e => basename(e.path) ->
            (pathSuffix(e.path) -> DeletionVectors.deletedRows(fsys, table, e.dv.get)))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        val bc = spark.sparkContext.broadcast(byBase)
        val keep = udf((fp: String, idx: Long) =>
          bc.value.get(fp.substring(fp.lastIndexOf('/') + 1))
            .forall(_.forall { case (suffix, deleted) =>
              !(fp.endsWith(suffix) &&
                java.util.Arrays.binarySearch(deleted, idx) >= 0)
            }))
        df0.where(keep(col(FpCol), col(RiCol)))
      }
    val df2 = if (needMeta && !withProvenance) df1.drop(FpCol, RiCol) else df1
    if (!mapped) df2
    else df2.select(schema.get.fields.toSeq.map { fld =>
      val phys = physicalName(fld)
      val c = col(s"`$phys`")
      // positional struct cast renames nested physical fields back
      val renamed =
        if (physicalType(fld.dataType) == fld.dataType) c else c.cast(fld.dataType)
      renamed.as(fld.name)
    } ++ (if (withProvenance) Seq(col(FpCol), col(RiCol)) else Seq.empty): _*)
  }

  /** Batch-read the table (optionally `VERSION AS OF`). */
  def read(spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, table, versionAsOf)
    readSnapshotChunked(spark, table, snap)
  }

  /** Plan a full-table scan with BOUNDED driver state: entries stream
    * off the DISTRIBUTED file frame in chunks of
    * `spark.graft.read.maxEntriesPerChunk` (default 200k), one
    * multi-file relation per chunk, unioned by name — an unfiltered
    * SELECT * over a 10⁶-file table never holds every FileEntry on the
    * driver at once. The common case (≤ one chunk — every testdata
    * table) takes a single limit-collect and produces EXACTLY the
    * one-relation plan the old path built, so Catalyst sees no union
    * and nothing changes downstream; filters and pruning push into
    * every union branch when chunking does kick in. */
  private[graft] def readSnapshotChunked(spark: SparkSession, table: String,
      snap: Snapshot, withProvenance: Boolean = false): DataFrame = {
    val chunkSize = spark.conf.getOption("spark.graft.read.maxEntriesPerChunk")
      .map(_.toInt).getOrElse(200000)
    require(chunkSize > 0, s"spark.graft.read.maxEntriesPerChunk must be > 0")
    // sizes ride along so the memo can double as [[Snapshot.fileEntries]]
    // (checksum decrements need them) — one collect serves both
    val frame = snap.allFiles.select("path", "deletionVector", "size")
    // fast path: one job, one relation — identical to the pre-chunking
    // plan whenever the table fits one chunk; the snapshot memoizes the
    // probe so repeated reads of the same cached snapshot cost no job.
    // A probe that already materialized fileEntries counts too.
    val memo = Option(snap.chunkMemo.get())
      .orElse(if (snap.fileEntriesReady) Some(snap.fileEntries) else None)
      .orNull
    if (memo != null && memo.length <= chunkSize) {
      meterReadCollect(memo.length)
      return readEntries(spark, table, memo,
        snap.schema, snap.columnMappingMode, withProvenance)
    }
    val head = frame.limit(chunkSize + 1).collect()
    if (head.length <= chunkSize) {
      meterReadCollect(head.length)
      val entries = head.toSeq.map(entryOfRow)
      snap.chunkMemo.compareAndSet(null, entries)
      return readEntries(spark, table, entries,
        snap.schema, snap.columnMappingMode, withProvenance)
    }
    // big-table path: partition the file frame so each partition is one
    // chunk, then iterate partition-at-a-time (toLocalIterator holds
    // exactly one partition of entries on the driver)
    val n = frame.count()
    val parts = math.max(1L, (n + chunkSize - 1) / chunkSize).toInt
    val it = frame.repartition(parts).toLocalIterator()
    val dfs = Seq.newBuilder[DataFrame]
    val buf = scala.collection.mutable.ArrayBuffer.empty[FileEntry]
    def flush(): Unit = if (buf.nonEmpty) {
      meterReadCollect(buf.size)
      dfs += readEntries(spark, table, buf.toSeq,
        snap.schema, snap.columnMappingMode, withProvenance)
      buf.clear()
    }
    while (it.hasNext) {
      buf += entryOfRow(it.next())
      if (buf.size >= chunkSize) flush()
    }
    flush()
    dfs.result().reduce(_ unionByName _)
  }

  /** Batch read surfacing STABLE ROW IDS (`_row_id`, `_row_commit_version`)
    * on a row-tracked table: each row's id is its file's `baseRowId` plus
    * its physical position — the Delta `rowTracking` read semantics.
    * Deletion vectors compose exactly (a masked row's id simply never
    * surfaces; survivors keep theirs). The id attach is a DISTRIBUTED
    * join of the scan against the file frame on file basename (nonce
    * names are unique), so no per-file map ever sits on the driver. */
  def readWithRowIds(spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, table, versionAsOf)
    require(snap.configuration.get(RowTrackingKey).contains("true"),
      s"readWithRowIds: $table does not enable $RowTrackingKey")
    val df = readSnapshotChunked(spark, table, snap, withProvenance = true)
    val fileIds = snap.allFiles.where(col("baseRowId").isNotNull)
      .select(element_at(split(col("path"), "/"), -1).as("__rt_name"),
        col("baseRowId").as("__rt_base"),
        col("defaultRowCommitVersion").as("__rt_dcv"))
    df.join(fileIds, provFileName === col("__rt_name"), "left")
      .withColumn("_row_id", col("__rt_base") + col(RiCol))
      .withColumn("_row_commit_version", col("__rt_dcv"))
      .drop(FpCol, RiCol, "__rt_name", "__rt_base", "__rt_dcv")
  }

  /** Test gauge: largest single driver-side entry collect a chunked
    * read performed since the last reset. */
  private val readMeter = new java.util.concurrent.atomic.AtomicLong(0L)
  private def meterReadCollect(n: Int): Unit =
    readMeter.getAndAccumulate(n.toLong, (a: Long, b: Long) => math.max(a, b))
  private[graft] def resetReadCollectMeter(): Unit = readMeter.set(0L)
  private[graft] def maxDriverEntriesPerReadChunk: Long = readMeter.get()

  /** Test gauge: largest single driver-side entry collect a DML verb
    * performed since the last reset — the streamed wide DELETE must
    * keep this at O(boundary files), never O(matched files). */
  private val dmlMeter = new java.util.concurrent.atomic.AtomicLong(0L)
  private def meterDmlCollect(n: Int): Unit =
    dmlMeter.getAndAccumulate(n.toLong, (a: Long, b: Long) => math.max(a, b))
  private[graft] def resetDmlCollectMeter(): Unit = dmlMeter.set(0L)
  private[graft] def maxDriverEntriesPerDmlCollect: Long = dmlMeter.get()

  /** `TIMESTAMP AS OF`: the newest version whose commit timestamp
    * (commitInfo, falling back to the commit file's mtime for foreign
    * logs without one) is ≤ `tsMillis` — the protocol's timestamp
    * time-travel resolution rule. Errors when the table's first commit
    * is already later than the asked-for time. */
  def versionAtTimestamp(spark: SparkSession, table: String, tsMillis: Long): Long = {
    val f = fs(spark, table)
    val commits = logSegment(f, table).commits
    val versions = commits.keys.toSeq
    require(versions.nonEmpty,
      s"timestamp travel needs JSON commits (checkpoint-only log): $table")
    // in-commit timestamps take precedence over the wall-clock field
    // and over file mtimes (which backup/restore or object-store
    // migration scramble) — the feature's whole point
    def commitTs(v: Long): Long =
      readCommit(f, table, v).collectFirst {
        case a if a.has("commitInfo") &&
            (a.get("commitInfo").has("inCommitTimestamp") ||
              a.get("commitInfo").has("timestamp")) =>
          val ci = a.get("commitInfo")
          if (ci.has("inCommitTimestamp")) ci.get("inCommitTimestamp").asLong()
          else ci.get("timestamp").asLong()
      }.getOrElse(commits(v).getModificationTime)
    val eligible = versions.filter(commitTs(_) <= tsMillis)
    require(eligible.nonEmpty,
      s"no version of $table committed at or before $tsMillis " +
        s"(earliest commit: ${commitTs(versions.head)})")
    eligible.max
  }

  /** Batch-read the table as of a wall-clock time. */
  def readAsOfTimestamp(spark: SparkSession, table: String, tsMillis: Long): DataFrame =
    read(spark, table, Some(versionAtTimestamp(spark, table, tsMillis)))

  /** DESCRIBE HISTORY: one row per JSON commit — (version, timestamp,
    * operation) from the commitInfo actions, the audit surface every
    * lakehouse exposes. Foreign commits without commitInfo get a null
    * operation and the commit file's mtime. Touches log metadata only. */
  def history(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val f = fs(spark, table)
    logSegment(f, table).commits.toSeq.map { case (v, st) =>
      val ci = readCommit(f, table, v).find(_.has("commitInfo"))
        .map(_.get("commitInfo"))
      val ts = ci.filter(_.has("inCommitTimestamp"))
        .map(_.get("inCommitTimestamp").asLong())
        .orElse(ci.filter(_.has("timestamp")).map(_.get("timestamp").asLong()))
        .getOrElse(st.getModificationTime)
      val op = ci.filter(_.has("operation")).map(_.get("operation").asText())
      val params: Map[String, String] = ci
        .filter(n => n.has("operationParameters") &&
          n.get("operationParameters").isObject)
        .map { n =>
          val it = n.get("operationParameters").fields()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) {
            val e = it.next()
            if (!e.getValue.isNull) b += e.getKey -> e.getValue.asText()
          }
          b.result()
        }.getOrElse(Map.empty)
      val metrics: Map[String, String] = ci
        .filter(n => n.has("operationMetrics") &&
          n.get("operationMetrics").isObject)
        .map { n =>
          val it = n.get("operationMetrics").fields()
          val b = Map.newBuilder[String, String]
          while (it.hasNext) {
            val e = it.next()
            if (!e.getValue.isNull) b += e.getKey -> e.getValue.asText()
          }
          b.result()
        }.getOrElse(Map.empty)
      (v, ts, op, params, metrics)
    }.toDF("version", "timestamp", "operation", "operationParameters",
      "operationMetrics")
  }

  /** DESCRIBE DETAIL: Delta's one-row table summary — format, location,
    * file count and bytes, partition columns, properties, protocol
    * versions. numFiles/sizeInBytes aggregate over the DISTRIBUTED
    * [[Snapshot.allFiles]] (two longs reach the driver, never the file
    * list) — the shape that still answers instantly on a 10M-file
    * table. */
  def detail(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val snap = snapshot(spark, table)
    val agg = snap.allFiles.agg(
      count(lit(1)), coalesce(sum(col("size")), lit(0L))).head()
    val (minR, minW) = snap.protocolJson.map { p =>
      val n = mapper.readTree(p)
      (n.get("minReaderVersion").asInt(), n.get("minWriterVersion").asInt())
    }.getOrElse((1, 2))
    Seq((
      "delta", table, snap.version, agg.getLong(0), agg.getLong(1),
      snap.partitionColumns, snap.clusteringColumns, snap.configuration,
      minR, minW))
      .toDF("format", "location", "version", "numFiles", "sizeInBytes",
        "partitionColumns", "clusteringColumns", "properties",
        "minReaderVersion", "minWriterVersion")
  }

  /** SHOW CREATE TABLE: reconstruct the CREATE statement from the
    * snapshot's declaration — schema (Spark DDL types), partitioning or
    * clustering, and table properties. What a user pastes to recreate
    * the table's shape elsewhere (data not included, naturally). */
  def showCreateTable(spark: SparkSession, table: String): String = {
    val snap = snapshot(spark, table)
    val schema = snap.schema.getOrElse(
      sys.error(s"SHOW CREATE TABLE: $table declares no schema"))
    val cols = schema.fields.map { f =>
      val nn = if (f.nullable) "" else " NOT NULL"
      s"  ${quoteIdent(f.name)} ${f.dataType.sql}$nn"
    }.mkString(",\n")
    val layout =
      if (snap.partitionColumns.nonEmpty)
        s"\nPARTITIONED BY (${snap.partitionColumns.map(quoteIdent).mkString(", ")})"
      else if (snap.clusteringColumns.nonEmpty)
        s"\nCLUSTER BY (${snap.clusteringColumns.map(quoteIdent).mkString(", ")})"
      else ""
    val props = snap.configuration.toSeq.sortBy(_._1)
    val propsSql =
      if (props.isEmpty) ""
      else "\nTBLPROPERTIES (\n" + props.map { case (k, v) =>
        s"  '${k.replace("'", "''")}' = '${v.replace("'", "''")}'"
      }.mkString(",\n") + ")"
    s"CREATE TABLE delta.`$table` (\n$cols)\nUSING delta$layout$propsSql"
  }

  private def quoteIdent(name: String): String =
    if (name.matches("[A-Za-z_][A-Za-z0-9_]*")) name
    else s"`${name.replace("`", "``")}`"

  /** SHALLOW CLONE (Delta's `CREATE TABLE … SHALLOW CLONE`): a new
    * table whose version-0 log REFERENCES the source's data files in
    * place — absolute-path add actions, zero bytes copied, instant
    * fork of a table of any size. Stats, partition values, and
    * deletion vectors carry over (u-type DV descriptors become p-type
    * absolute sidecar references). Subsequent DML on the clone is
    * ordinary copy-on-write against the CLONE's log: the source never
    * sees it, and VACUUM on the clone only ever deletes files under
    * the clone's root (a referenced absolute path is not its file).
    *
    * Scale: O(source files) driver-side metadata to build the one
    * commit — the same cost Delta's clone pays; no data motion. */
  def cloneShallow(spark: SparkSession, source: String, target: String,
      versionAsOf: Option[Long] = None): Long = {
    val srcLog = logSegment(fs(spark, source), source)
    require(srcLog.latest.nonEmpty,
      s"shallow clone needs a Delta-protocol source: $source")
    require(!isDeltaTable(spark, target),
      s"shallow clone target is already a Delta table: $target")
    val snap = snapshotAt(spark, source, srcLog, versionAsOf)
    val meta = snap.metaDataJson.getOrElse(
      sys.error(s"source $source declares no metaData; cannot clone"))
    val srcFs = fs(spark, source)
    def absData(rel: String): String =
      srcFs.makeQualified(new Path(source, rel)).toString
    val now = System.currentTimeMillis()

    val actions = Seq.newBuilder[String]
    actions += s"""{"protocol":${snap.protocolJson.getOrElse("""{"minReaderVersion":1,"minWriterVersion":2}""")}}"""
    val metaNode = mapper.readTree(meta).asInstanceOf[ObjectNode]
    metaNode.put("id", java.util.UUID.randomUUID().toString)
    actions += s"""{"metaData":${mapper.writeValueAsString(metaNode)}}"""
    snap.allFiles
      .select("path", "partitionValues", "size", "modificationTime", "stats",
        "deletionVector").collect().foreach { r =>
      val pv: Map[String, String] = {
        val m = r.getMap[String, String](1)
        if (m == null) Map.empty else m.toMap
      }
      val dvField =
        if (r.isNullAt(5)) ""
        else {
          val s = r.getStruct(5)
          val d = DeletionVectors.Descriptor(
            s.getString(0), s.getString(1),
            if (s.isNullAt(2)) None else Some(s.getInt(2)),
            if (s.isNullAt(3)) 0 else s.getInt(3),
            if (s.isNullAt(4)) 0L else s.getLong(4))
          val abs = d.storageType match {
            case "u" => d.copy(storageType = "p",
              pathOrInlineDv = srcFs.makeQualified(
                DeletionVectors.sidecarPath(source, d.pathOrInlineDv)).toString)
            case _ => d
          }
          "," + dvJson(abs)
        }
      val statsField =
        if (r.isNullAt(4)) "" else s""","stats":${jsonStr(r.getString(4))}"""
      val mt = if (r.isNullAt(3)) now else r.getLong(3)
      actions += s"""{"add":{"path":${jsonStr(absData(r.getString(0)))},""" +
        s""""partitionValues":${pvJsonOf(pv)},"size":${r.getLong(2)},""" +
        s""""modificationTime":$mt,"dataChange":true$statsField$dvField}}"""
    }
    fs(spark, target).mkdirs(logDir(target))
    Txn.commit(spark, target, None, "CLONE", actions.result(),
      onRace = Some(s"clone target $target gained a commit concurrently"))
  }

  /** DEEP CLONE: an independent copy of the source table at (optionally)
    * a past version. Data files AND deletion-vector sidecars are copied
    * ON EXECUTORS — the driver streams fully-formed add actions from the
    * copy tasks into the target's version-0 commit and never holds the
    * file list. Unlike [[cloneShallow]] the target owns its bytes:
    * vacuuming or rewriting the source cannot break it, and the target's
    * own VACUUM/DML work with no absolute-reference carve-outs.
    *
    * A deep clone OF a shallow clone localizes the absolute references:
    * externally-referenced data files are copied under a minted relative
    * name (partitionValues on the add action — the protocol's source of
    * truth — carry the partitioning; directory layout is cosmetic), and
    * external p-mode DV references are copied into the target. */
  def cloneDeep(spark: SparkSession, source: String, target: String,
      versionAsOf: Option[Long] = None): Long = {
    val srcLog = logSegment(fs(spark, source), source)
    require(srcLog.latest.nonEmpty,
      s"deep clone needs a Delta-protocol source: $source")
    require(!isDeltaTable(spark, target),
      s"deep clone target is already a Delta table: $target")
    val snap = snapshotAt(spark, source, srcLog, versionAsOf)
    val meta = snap.metaDataJson.getOrElse(
      sys.error(s"source $source declares no metaData; cannot clone"))
    val srcFs = fs(spark, source)
    val srcRoot = srcFs.makeQualified(new Path(source)).toString
    val tgtFs = fs(spark, target)
    tgtFs.mkdirs(new Path(target))
    val tgtRoot = tgtFs.makeQualified(new Path(target)).toString
    val now = System.currentTimeMillis()
    val bcConf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))

    // copy on executors; each task RETURNS the add actions for the files
    // it copied (paths/DVs rewritten to target-local form)
    import spark.implicits._
    val addActions: Dataset[String] = snap.allFiles
      .select("path", "partitionValues", "size", "stats", "deletionVector")
      .as[(String, Option[Map[String, String]], Long, Option[String],
        Option[(String, String, Option[Int], Option[Int], Option[Long])])]
      .mapPartitions { rows =>
        val conf = bcConf.value.value
        val sf = new Path(srcRoot).getFileSystem(conf)
        val tf = new Path(tgtRoot).getFileSystem(conf)
        def copyTo(src: Path, dst: Path): Unit = {
          if (tf.exists(dst)) return // shared sidecar already copied
          tf.mkdirs(dst.getParent)
          val tmp = new Path(dst.getParent,
            s".${dst.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
          org.apache.hadoop.fs.FileUtil.copy(
            src.getFileSystem(conf), src, tf, tmp, false, conf)
          if (!tf.rename(tmp, dst)) tf.delete(tmp, false) // racer won; same bytes
        }
        rows.map { case (path, pv, size, stats, dv) =>
          val u = new Path(path)
          val external = u.toUri.getScheme != null || u.isAbsolute
          val rel = if (!external) path
            else s"cloned-${java.util.UUID.randomUUID().toString.take(12)}.snappy.parquet"
          copyTo(if (external) u else new Path(srcRoot, path), new Path(tgtRoot, rel))
          val dvField = dv.fold("") { case (st, enc, off, len, card) =>
            val d = DeletionVectors.Descriptor(st, enc, off,
              len.getOrElse(0), card.getOrElse(0L))
            val local = st match {
              case "u" =>
                copyTo(DeletionVectors.sidecarPath(srcRoot, enc),
                  DeletionVectors.sidecarPath(tgtRoot, enc))
                d
              case "p" =>
                val dstRel = s"deletion_vectors/cloned-${java.util.UUID.randomUUID().toString.take(12)}.bin"
                copyTo(new Path(enc), new Path(tgtRoot, dstRel))
                d.copy(pathOrInlineDv = new Path(tgtRoot, dstRel).toString)
              case _ => d // inline: the descriptor IS the bitmap
            }
            "," + dvJson(local)
          }
          val statsField = stats.fold("")(s => s""","stats":${jsonStr(s)}""")
          s"""{"add":{"path":${jsonStr(rel)},""" +
            s""""partitionValues":${pvJsonOf(pv.getOrElse(Map.empty))},""" +
            s""""size":$size,"modificationTime":$now,"dataChange":true""" +
            s"""$statsField$dvField}}"""
        }
      }

    // the version-0 commit: protocol/metaData, then the adds streamed as
    // the copy tasks deliver them (their sizes are not counted: no .crc)
    tgtFs.mkdirs(logDir(target))
    val metaNode = mapper.readTree(meta).asInstanceOf[ObjectNode]
    metaNode.put("id", java.util.UUID.randomUUID().toString)
    Txn.commit(spark, target, None, "CLONE DEEP",
      Seq(s"""{"protocol":${snap.protocolJson.getOrElse(
          """{"minReaderVersion":1,"minWriterVersion":2}""")}}""",
        s"""{"metaData":${mapper.writeValueAsString(metaNode)}}"""),
      parameters = Map("source" -> source, "sourceVersion" -> snap.version.toString),
      tail = Some { line =>
        var n = 0L
        val it = addActions.toLocalIterator()
        while (it.hasNext) { line(it.next()); n += 1 }
        TailCounts(adds = n, sizesKnown = false)
      },
      onRace = Some(s"clone target $target gained a commit concurrently"))
  }

  /** Selective overwrite — Delta's `replaceWhere`: atomically delete
    * every row matching `predicate` and insert `df`, whose rows must
    * ALL satisfy the predicate (refused otherwise — the contract that
    * makes partition-scoped reloads safe). Zone-map pruning finds the
    * candidate files; only those are rewritten (surviving non-matching
    * rows carried over), everything else stays live untouched —
    * O(candidate files), the partition-reload shape at 100 TB. Pinned
    * at the read snapshot: a concurrent writer fails the commit loudly.
    * Returns the committed version. */
  def replaceWhere(spark: SparkSession, table: String, df: DataFrame,
      predicate: Column): Long = withDmlRetry(3) {
    val snap = latestSnapshot(spark, table).getOrElse(throw new IllegalArgumentException(
      s"replaceWhere needs an existing Delta-protocol table at $table"))
    val violations = df.where(!coalesce(predicate, lit(false))).limit(1).count()
    require(violations == 0L,
      "replaceWhere: the new data contains rows NOT matching the predicate")
    val candidates = pruneEntries(spark, snap, predicate, Some(table))
    // survivors: rows in candidate files where the predicate is false
    // or null (DELETE-complement semantics)
    val keep = readEntries(spark, table, candidates, snap.schema,
      snap.columnMappingMode).where(!coalesce(predicate, lit(false)))
    commitWrite(spark, keep.unionByName(df, allowMissingColumns = true), table,
      snap.partitionColumns, txn = None,
      removePaths = _ => candidates.map(_.path), widenSchema = false,
      dataChange = true, operation = "REPLACE WHERE",
      pin = Some(snap),
      operationParameters = Map("predicate" -> predSql(predicate)),
      readInfo = Some(TxnReadInfo(candidates.map(_.path).toSet,
        candidates.map(_.path).toSet,
        addSkip = zoneSkip(spark, snap, predicate).map(_._2))))
  }

  /** Metadata-only row count — Delta's `SELECT count(*)` fast path:
    * when every live file carries `numRecords` stats, the answer is
    * Σ numRecords − Σ deletion-vector cardinality, computed as one
    * aggregate over the DISTRIBUTED file frame (two longs reach the
    * driver; zero data files open). Falls back to a real scan when any
    * stats are missing. On a 100 TB table this is the difference
    * between milliseconds of log metadata and a full scan. */
  def countRows(spark: SparkSession, table: String,
      versionAsOf: Option[Long] = None): Long = {
    val snap = snapshot(spark, table, versionAsOf)
    val r = snap.allFiles.select(
      get_json_object(col("stats"), "$.numRecords").cast("long").as("n"),
      coalesce(col("deletionVector.cardinality"), lit(0L)).as("dv"))
      .agg(count(lit(1)), count(col("n")),
        coalesce(sum(col("n")), lit(0L)), coalesce(sum(col("dv")), lit(0L)))
      .head()
    if (r.getLong(0) == r.getLong(1)) r.getLong(2) - r.getLong(3)
    else readSnapshotChunked(spark, table, snap).count()
  }

  /** COPY INTO: idempotent bulk file ingestion (Databricks' loading
    * verb for landed files). Every source file is ingested AT MOST
    * once — the ingestion state is one SetTransaction per file
    * (`appId = "copy-into:" + absolute path`), carried in the SAME
    * atomic commit as the data, replayed from log + checkpoint like
    * any txn. Re-running after a crash or on a directory that has
    * gained files ingests exactly the missing ones; a concurrent
    * writer invalidates the read-modify-write via the baseVersion pin
    * instead of double-loading. Existing-table loads project BY NAME
    * onto the table schema (missing columns null, extra file columns
    * refused) — COPY INTO's contract.
    *
    * Returns (committed version, files ingested). Scale: the file
    * listing and per-file txn state are O(source files) metadata; the
    * data path is one distributed scan of only the new files. */
  def copyInto(spark: SparkSession, table: String, sourceDir: String,
      format: String = "parquet", pattern: Option[String] = None): (Long, Int) = {
    val srcFs = new Path(sourceDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matcher = pattern.map(p =>
      java.nio.file.FileSystems.getDefault.getPathMatcher("glob:" + p))
    val listed = {
      val it = srcFs.listFiles(new Path(sourceDir), true)
      val b = Seq.newBuilder[String]
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath
        val name = p.getName
        if (!name.startsWith("_") && !name.startsWith(".") &&
            matcher.forall(_.matches(java.nio.file.Paths.get(
              p.toUri.getPath).getFileName)))
          b += srcFs.makeQualified(p).toString
      }
      b.result().sorted
    }
    val snap = latestSnapshot(spark, table)
    val done = snap.map(_.txns.keySet).getOrElse(Set.empty)
    val fresh = listed.filterNot(p => done.contains(s"copy-into:$p"))
    if (fresh.isEmpty)
      return (snap.map(_.version).getOrElse(-1L), 0)
    val raw = spark.read.format(format).load(fresh: _*)
    val df = snap.flatMap(_.schema) match {
      case None => raw
      case Some(s) =>
        val extra = raw.columns.filterNot(c => s.fieldNames.contains(c))
        require(extra.isEmpty,
          s"COPY INTO: source carries columns not in the table: ${extra.mkString(", ")}")
        raw.select(s.fields.toSeq.map { f =>
          if (raw.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
          else lit(null).cast(f.dataType).as(f.name)
        }: _*)
    }
    val txns = fresh.map(p => s"copy-into:$p" -> 0L)
    val v = commitWrite(spark, df, table,
      partitionBy = snap.map(_.partitionColumns).getOrElse(Seq.empty),
      txn = None, removePaths = _ => Seq.empty, widenSchema = false,
      dataChange = true, operation = "COPY INTO",
      pin = snap, extraTxns = txns)
    (v, fresh.size)
  }

  // ---------------------------------------------------------- change feeds

  private def isDataChange(n: JsonNode): Boolean =
    !n.has("dataChange") || n.get("dataChange").asBoolean(true)

  private def dvOf(action: JsonNode): Option[DeletionVectors.Descriptor] =
    if (!action.has("deletionVector") || action.get("deletionVector").isNull) None
    else {
      val d = action.get("deletionVector")
      Some(DeletionVectors.Descriptor(
        d.get("storageType").asText(), d.get("pathOrInlineDv").asText(),
        if (d.has("offset") && !d.get("offset").isNull) Some(d.get("offset").asInt())
        else None,
        d.get("sizeInBytes").asInt(), d.get("cardinality").asLong()))
    }

  /** Incremental change feed for append-only consumption: the rows in
    * files ADDED in versions `(fromVersion, toVersion]` — how a Delta
    * table is consumed as a stream source (each micro-batch reads only
    * the new add actions, never rescanning the table). Commits that
    * remove files (overwrites/merges) are rejected rather than silently
    * misread: a batch-with-removes feed needs the full CDF semantics of
    * [[changesBetween]]. With `skipChangeCommits` (Delta's streaming
    * option of the same name) such commits are instead skipped WHOLE —
    * their adds too, since those re-add rewritten old rows, not new
    * data. An added file carrying a deletion vector reads with the DV
    * applied — still pure-insert semantics. */
  def addedSince(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long,
      skipChangeCommits: Boolean = false): DataFrame = {
    val added = addedFileEntries(commitsIn(spark, table, fromVersion, toVersion),
      skipChangeCommits)
    val snap = snapshot(spark, table, Some(toVersion))
    readEntries(spark, table, added, snap.schema, snap.columnMappingMode)
  }

  /** The JSON commits in `(fromVersion, toVersion]`, from one listing,
    * each read once. Every window commit must still exist as JSON: a
    * checkpointed-away (log-cleaned) commit would silently drop its
    * changes from a feed. */
  private[graft] def commitsIn(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): Seq[(Long, Seq[JsonNode])] = {
    require(fromVersion <= toVersion, s"$fromVersion > $toVersion")
    val f = fs(spark, table)
    val present = logSegment(f, table).commits
      .range(fromVersion + 1, toVersion + 1).keys.toSeq
    require(present == ((fromVersion + 1) to toVersion),
      s"log truncated in ($fromVersion, $toVersion] of $table " +
        s"(present: ${present.mkString(",")}) — rebuild the consumer from a snapshot")
    present.map(v => v -> readCommit(f, table, v))
  }

  /** The file entries behind [[addedSince]] — metadata only, no read —
    * each with its add's declared size (-1 when absent). Deterministically
    * ordered (commit order, then action order), so a rate-limited
    * streaming consumer can slice the same feed across restarts. */
  private[graft] def addedFileEntries(commits: Seq[(Long, Seq[JsonNode])],
      skipChangeCommits: Boolean, ignoreDeletes: Boolean = false): Seq[FileEntry] = {
    // dataChange=false actions (OPTIMIZE rewrites) are pure reorganizations
    // and are invisible to the feed — compaction must not break append-only
    // consumption; a file compacted away was already consumed when added
    val added = Seq.newBuilder[FileEntry]
    commits.foreach { case (v, actions) =>
      val hasRemoves = actions.exists(a =>
        a.has("remove") && isDataChange(a.get("remove")))
      // ignoreDeletes (Delta's option): a PURE delete commit (removes,
      // zero dataChange adds — the retention-sweep shape) is skipped;
      // a rewrite commit (removes AND adds) still refuses, because its
      // adds would re-emit rows the consumer already saw
      val pureDelete = hasRemoves && !actions.exists(a =>
        a.has("add") && isDataChange(a.get("add")))
      if (hasRemoves && !skipChangeCommits && !(ignoreDeletes && pureDelete))
        sys.error(s"version $v removes files; addedSince is append-only — " +
          "use changesBetween for overwrite/merge feeds, skipChangeCommits " +
          "to ignore change commits, or ignoreDeletes for delete-only commits")
      if (!hasRemoves) actions.foreach { a =>
        if (a.has("add") && isDataChange(a.get("add"))) {
          val add = a.get("add")
          added += FileEntry(add.get("path").asText(), dvOf(add),
            if (add.has("size")) add.get("size").asLong() else -1L)
        }
      }
    }
    added.result()
  }

  /** Read a specific entry subset under the table's schema/mapping at
    * `versionAsOf` — the rate-limited streaming source's batch reader. */
  private[graft] def readEntriesAt(spark: SparkSession, table: String,
      entries: Seq[FileEntry], versionAsOf: Long): DataFrame = {
    val snap = snapshot(spark, table, Some(versionAsOf))
    readEntries(spark, table, entries, snap.schema, snap.columnMappingMode)
  }

  /** First schema-CHANGING metaData commit among `commits` ([[commitsIn]])
    * relative to `baseline`, comparing names/types/nullability only — field METADATA
    * churns on perfectly ordinary commits (identity high-water marks
    * advance inside schema metadata on every identity append) and is NOT
    * a schema change. The streaming sources fail loudly on a hit:
    * Delta's streaming contract fixes the schema at stream start, and an
    * evolution (ADD COLUMNS, widening, RENAME) requires a restart to
    * pick up the new shape — silently projecting old columns would drop
    * the new data, and a widened type would break the declared source
    * schema mid-stream. */
  private[graft] def schemaChangeIn(commits: Seq[(Long, Seq[JsonNode])],
      baseline: StructType): Option[(Long, StructType)] = {
    def strip(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        StructField(f.name, strip(f.dataType), f.nullable)))
      case a: ArrayType => a.copy(elementType = strip(a.elementType))
      case m: MapType =>
        m.copy(keyType = strip(m.keyType), valueType = strip(m.valueType))
      case other => other
    }
    val base = strip(baseline)
    commits.iterator.flatMap { case (v, actions) =>
      actions.iterator.collect {
        case a if a.has("metaData") && a.get("metaData").has("schemaString") =>
          (v, DataType.fromJson(a.get("metaData").get("schemaString").asText())
            .asInstanceOf[StructType])
      }.filter { case (_, st) => strip(st) != base }
    }.nextOption()
  }

  /** Row-level change feed for the commits in `(fromVersion, toVersion]`:
    * every row VISIBLE in a file removed by a window commit surfaces as
    * `_change_type='delete'` and every row visible in an added file as
    * `'insert'` — the file-granular CDC a Delta reader computes for
    * MERGE/overwrite commits when no explicit change files exist. EXACT
    * for any linear fold (e.g.
    * [[graft.maintenance.IncrementalAgg.applyDelta]]): a row rewritten
    * unchanged contributes a cancelling delete+insert pair, an update
    * contributes delete(old)+insert(new).
    *
    * Deletion vectors participate exactly: each side reads under ITS
    * action's descriptor. A DV update (remove(path, dvOld) + add(path,
    * dvNew) — what [[deleteWhere]] commits) takes a fast path when the
    * descriptor only GREW: the feed reads just the newly-masked rows
    * once and emits them as deletes, instead of the whole file on both
    * sides — CDC of a 10-row DELETE in a 1M-row file reads 10 rows. A
    * non-monotone descriptor change falls back to the exact two-sided
    * emission. A file re-added with the SAME descriptor inside the
    * window cancels and is never read; add/remove actions with
    * `dataChange=false` ([[optimize]] rewrites) are invisible, so
    * compaction does not pollute the feed.
    *
    * With the copy-on-write [[mergeUpsert]] the feed reads O(files
    * touched by the window's commits), never O(table). Deletes read with
    * the window-end declared schema (pre-evolution files surface nulls
    * in added columns), matching how the consumer's aggregate saw those
    * rows inserted. */
  def changesBetween(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long): DataFrame = {
    val f = fs(spark, table)
    val commits = commitsIn(spark, table, fromVersion, toVersion)
    val added = mutable.LinkedHashMap.empty[String, Option[DeletionVectors.Descriptor]]
    val removed = mutable.LinkedHashMap.empty[String, Option[DeletionVectors.Descriptor]]
    // change-data files: a commit carrying `cdc` actions describes its
    // row-level changes COMPLETELY through them (the protocol's CDF
    // contract) — its add/remove actions are ignored for the feed, and
    // the change files are read directly instead of reconstructing from
    // the file diff. Commits without cdc actions reconstruct as before,
    // so mixed windows (foreign CDF writer + plain writer) stay exact.
    val cdcFiles = mutable.ArrayBuffer.empty[(String, Map[String, String])]
    commits.foreach { case (_, acts) =>
      val cdcActs = acts.filter(_.has("cdc"))
      if (cdcActs.nonEmpty) cdcActs.foreach { a =>
        val c = a.get("cdc")
        val pv =
          if (!c.has("partitionValues") || c.get("partitionValues").isNull)
            Map.empty[String, String]
          else {
            val it = c.get("partitionValues").fields()
            val b = Map.newBuilder[String, String]
            while (it.hasNext) {
              val e = it.next()
              b += e.getKey -> (if (e.getValue.isNull) null else e.getValue.asText())
            }
            b.result()
          }
        cdcFiles += ((c.get("path").asText(), pv))
      }
      else acts.foreach { a =>
        if (a.has("add") && isDataChange(a.get("add"))) {
          val add = a.get("add")
          added.put(add.get("path").asText(), dvOf(add))
        } else if (a.has("remove") && isDataChange(a.get("remove"))) {
          val rm = a.get("remove")
          val p = rm.get("path").asText()
          val dv = dvOf(rm)
          // cancellation is CONTENT-level: an in-window add only cancels
          // when the remove carries the same descriptor (a DV update of
          // an in-window file must still surface its net deletes)
          if (added.get(p).contains(dv)) added.remove(p) else removed.put(p, dv)
        }
      }
    }
    val snap = snapshot(spark, table, Some(toVersion))
    // DV-update fast path: a path on BOTH sides whose descriptor only
    // grew nets to deletes of the newly-masked row indexes — read those
    // rows once instead of the whole file twice. (Skipped under column
    // mapping: the mapped projection drops `_metadata`.)
    val dvDiffs = mutable.ArrayBuffer.empty[(String, Array[Long])]
    if (snap.columnMappingMode == "none")
      removed.keys.toSeq.filter(added.contains).foreach { p =>
        val oldRows = removed(p)
          .map(DeletionVectors.deletedRows(f, table, _)).getOrElse(Array.empty[Long])
        val newRows = added(p)
          .map(DeletionVectors.deletedRows(f, table, _)).getOrElse(Array.empty[Long])
        val newSet = newRows.toSet
        if (oldRows.forall(newSet.contains)) {
          val oldSet = oldRows.toSet
          dvDiffs += ((p, newRows.filterNot(oldSet))) // sorted: newRows is
          removed.remove(p); added.remove(p)
        }
      }
    def side(m: mutable.LinkedHashMap[String, Option[DeletionVectors.Descriptor]],
        tag: String) =
      readEntries(spark, table, m.toSeq.map { case (p, dv) => FileEntry(p, dv) },
        snap.schema, snap.columnMappingMode)
        .withColumn("_change_type", lit(tag))
    val base = side(removed, "delete").unionByName(side(added, "insert"))
    val withDv = if (dvDiffs.isEmpty) base
    else {
      val byBase = dvDiffs.toSeq.map { case (p, d) => basename(p) -> (pathSuffix(p), d) }
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val bc = spark.sparkContext.broadcast(byBase)
      val hit = udf((fp: String, idx: Long) =>
        bc.value.get(fp.substring(fp.lastIndexOf('/') + 1))
          .exists(_.exists { case (suffix, diff) =>
            fp.endsWith(suffix) &&
              java.util.Arrays.binarySearch(diff, idx) >= 0
          }))
      val diffRows = readEntries(spark, table,
        dvDiffs.toSeq.map { case (p, _) => FileEntry(p) }, snap.schema, "none",
        withProvenance = true)
        .where(hit(col(FpCol), col(RiCol)))
        .drop(FpCol, RiCol)
        .withColumn("_change_type", lit("delete"))
      base.unionByName(diffRows)
    }
    if (cdcFiles.isEmpty) withDv
    else withDv.unionByName(readCdcFiles(spark, table, cdcFiles.toSeq, snap))
  }

  /** Read change-data (`cdc`-action) parquet files under the window-end
    * declared schema and fold them into [[changesBetween]]'s two-type
    * contract (`update_preimage` → `delete`, `update_postimage` →
    * `insert` — exact for any linear fold; [[changesWithUpdates]]
    * re-resolves the pairs when a consumer wants them). Change files
    * carry the table's DATA columns (physical names under column
    * mapping, parquet field ids in id mode) plus the protocol's literal
    * `_change_type` column; partition columns are attached from each
    * action's `partitionValues` — the spec's source of truth — never
    * from directory names. */
  private def readCdcFiles(spark: SparkSession, table: String,
      files: Seq[(String, Map[String, String])], snap: Snapshot): DataFrame = {
    val schema = snap.schema.getOrElse(new StructType())
    val partCols = snap.partitionColumns
    val dataFields = schema.fields.filterNot(f => partCols.contains(f.name)).toSeq
    val mappingMode = snap.columnMappingMode
    // same per-read child-session isolation as readEntries: id-mode
    // field-id resolution must not leak into the caller's session
    val readSession =
      if (mappingMode == "id") {
        val s = spark.newSession()
        s.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
        s
      } else spark
    val physData = physicalType(StructType(dataFields), fieldIds = mappingMode == "id")
      .asInstanceOf[StructType]
    val readSchema = physData.add("_change_type", StringType)
    val byName = schema.fields.map(f => f.name -> f).toMap
    files.groupBy(_._2).toSeq.map { case (pv, group) =>
      val paths = group.map { case (p, _) => new Path(table, p).toString }
      val raw = readSession.read.schema(readSchema).parquet(paths: _*)
      val dataCols = dataFields.zip(physData.fields).map { case (lf, pf) =>
        col(pf.name).as(lf.name)
      }
      val partColsOut = partCols.map { c =>
        val dt = byName(c).dataType
        val v = Option(pv.getOrElse(snap.columnMapping.getOrElse(c, c),
          pv.getOrElse(c, null)))
        v.fold(lit(null).cast(dt))(s => lit(s).cast(dt)).as(c)
      }
      raw.select(dataCols ++ partColsOut :+ col("_change_type"): _*)
    }.reduce(_ unionByName _)
      .select(schema.fields.toSeq.map(f => col(f.name)) :+
        when(col("_change_type") === "update_preimage", "delete")
          .when(col("_change_type") === "update_postimage", "insert")
          .otherwise(col("_change_type")).as("_change_type"): _*)
  }

  /** Per-commit change feed over an inclusive version range — Delta's
    * `table_changes(t, from, to)` shape: each commit's
    * [[changesBetween]] (or [[changesWithUpdates]] when `keys` are
    * given) stamped with its `_commit_version`. Every term is O(that
    * commit's touched files). */
  def changesRange(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long,
      keys: Seq[String] = Seq.empty): DataFrame = {
    require(fromVersion <= toVersion, s"$fromVersion > $toVersion")
    (fromVersion to toVersion).map { v =>
      val c =
        if (keys.nonEmpty) changesWithUpdates(spark, table, v - 1, v, keys)
        else changesBetween(spark, table, v - 1, v)
      c.withColumn("_commit_version", lit(v))
    }.reduce(_ unionByName _)
  }

  /** CDF-shaped change feed: [[changesBetween]] with the file-level
    * rewrites resolved into row-level change events by joining the
    * window's deletes and inserts on `keys` (which must be unique per
    * side — the MERGE invariant, ASSERTED here: a duplicate-keyed window
    * fails loudly naming the offending keys instead of silently
    * exploding the join into fabricated update pairs):
    *   - key on both sides, rows identical → NO event (the copy-on-write
    *     rewrite of an untouched neighbor row);
    *   - key on both sides, rows differ → `update_preimage` (old row) +
    *     `update_postimage` (new row);
    *   - delete-only → `delete`; insert-only → `insert`.
    * This is Delta CDF's output contract for MERGE commits, derived
    * purely from the remove/add file diff — no change files needed.
    * Scale: one join keyed on `keys` over the O(touched) window delta,
    * never the table; the uniqueness guard is one extra aggregation of
    * the same O(touched) delta. */
  def changesWithUpdates(spark: SparkSession, table: String,
      fromVersion: Long, toVersion: Long, keys: Seq[String]): DataFrame = {
    val c = changesBetween(spark, table, fromVersion, toVersion)
    val dupes = c.groupBy(col("_change_type") +: keys.map(col): _*)
      .count().where(col("count") > 1).limit(5).collect()
    require(dupes.isEmpty,
      s"changesWithUpdates requires keys (${keys.mkString(",")}) unique per " +
        s"change side in ($fromVersion, $toVersion] of $table — the MERGE " +
        s"invariant; offending: ${dupes.mkString("; ")}")
    val cols = c.columns.filterNot(n => keys.contains(n) || n == "_change_type").toSeq
    def side(t: String, as: String) =
      c.where(col("_change_type") === t)
        .select(keys.map(col) :+ struct(cols.map(col): _*).as(as): _*)
    val j = side("delete", "__old").join(side("insert", "__new"), keys, "full_outer")
    def ev(row: Column, t: String) = struct(row.as("row"), lit(t).as("t"))
    val none = slice(array(ev(col("__new"), "")), 1, 0) // typed empty array
    val events = j.select(keys.map(col) :+ explode(
      when(col("__old").isNull, array(ev(col("__new"), "insert")))
        .when(col("__new").isNull, array(ev(col("__old"), "delete")))
        .when(col("__old") <=> col("__new"), none)
        .otherwise(array(ev(col("__old"), "update_preimage"),
          ev(col("__new"), "update_postimage")))).as("__e"): _*)
    events.select(keys.map(col) ++
      cols.map(n => col(s"__e.row.$n").as(n)) :+
      col("__e.t").as("_change_type"): _*)
  }

  // ------------------------------------------------------- data skipping

  /** Column types zone maps support (stats are WRITTEN for these). */
  private def isStatType(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case StringType | DateType | TimestampType | BooleanType => true
    case _ => false
  }

  /** Column types the PRUNER compares (timestamps/booleans are statted
    * but not range-pruned — their literal forms don't round-trip the
    * JSON stats reliably; their files survive, which is always sound). */
  private def isPruneType(dt: DataType): Boolean = dt match {
    case _: ByteType | _: ShortType | _: IntegerType | _: LongType => true
    case _: FloatType | _: DoubleType | _: DecimalType => true
    case StringType | DateType => true
    case _ => false
  }

  /** Delta's dataSkippingNumIndexedCols default: stats on the first 32
    * eligible columns only (stats strings must stay log-metadata-sized). */
  private val statsMaxCols = 32

  /** One prunable conjunct of a predicate. */
  private sealed trait Bound { def colName: String }
  private final case class Cmp(colName: String, op: String, value: Column) extends Bound
  private final case class InList(colName: String, values: Seq[Column]) extends Bound
  private final case class Prefix(colName: String, prefix: String) extends Bound
  private final case class NullCheck(colName: String, isNull: Boolean) extends Bound

  /** Catalyst literal (internal value + type) → a comparison Column.
    * Floats widen through their exact double value, matching the
    * FloatType-then-widen parse of the stats side — the pair that keeps
    * float zone maps sound against foreign writers' shortest-repr stats.
    * Unsupported types (timestamps, binaries) prune nothing. */
  private def litColumn(v: Any, dt: DataType): Option[Column] = (v, dt) match {
    case (null, _) => None
    case (x: java.lang.Number, _: ByteType | _: ShortType | _: IntegerType |
        _: LongType) => Some(lit(x.longValue()))
    case (x: java.lang.Number, _: FloatType | _: DoubleType) =>
      // NaN/Infinity have no zone-map semantics — fall back to no pruning
      val d = x.doubleValue()
      if (java.lang.Double.isFinite(d)) Some(lit(d)) else None
    case (x: Decimal, _) => Some(lit(x.toJavaBigDecimal))
    case (x, StringType) => Some(lit(x.toString))
    case (days: java.lang.Integer, DateType) =>
      Some(lit(java.time.LocalDate.ofEpochDay(days.longValue())))
    case _ => None
  }

  private def boundsOf(e: org.apache.spark.sql.catalyst.expressions.Expression): Seq[Bound] = {
    import org.apache.spark.sql.catalyst.expressions._
    object C { // post-analysis column reference
      def unapply(x: Expression): Option[String] = x match {
        case a: AttributeReference => Some(a.name)
        case _ => None
      }
    }
    object L { // literal, unwrapping the analyzer's coercion Cast
      def unapply(x: Expression): Option[(Any, DataType)] = x match {
        case Literal(v, dt) => Some((v, dt))
        case c: Cast if c.child.isInstanceOf[Literal] && c.foldable =>
          Some((c.eval(null), c.dataType))
        case _ => None
      }
    }
    def cmp(n: String, op: String, v: Any, dt: DataType) =
      litColumn(v, dt).map(Cmp(n, op, _)).toSeq
    e match {
      case And(l, r) => boundsOf(l) ++ boundsOf(r)
      case EqualTo(C(n), L(v, dt)) => cmp(n, "=", v, dt)
      case EqualTo(L(v, dt), C(n)) => cmp(n, "=", v, dt)
      case LessThan(C(n), L(v, dt)) => cmp(n, "<", v, dt)
      case LessThan(L(v, dt), C(n)) => cmp(n, ">", v, dt)
      case LessThanOrEqual(C(n), L(v, dt)) => cmp(n, "<=", v, dt)
      case LessThanOrEqual(L(v, dt), C(n)) => cmp(n, ">=", v, dt)
      case GreaterThan(C(n), L(v, dt)) => cmp(n, ">", v, dt)
      case GreaterThan(L(v, dt), C(n)) => cmp(n, "<", v, dt)
      case GreaterThanOrEqual(C(n), L(v, dt)) => cmp(n, ">=", v, dt)
      case GreaterThanOrEqual(L(v, dt), C(n)) => cmp(n, "<=", v, dt)
      case IsNull(C(n)) => Seq(NullCheck(n, isNull = true))
      case IsNotNull(C(n)) => Seq(NullCheck(n, isNull = false))
      case In(C(n), list) =>
        val vs = list.map { case L(v, dt) => litColumn(v, dt); case _ => None }
        if (vs.nonEmpty && vs.forall(_.isDefined)) Seq(InList(n, vs.flatten))
        else Seq.empty
      case StartsWith(C(n), L(v, _)) if v != null => Seq(Prefix(n, v.toString))
      case _ => Seq.empty // unsupported shape: prunes nothing, still exact
    }
  }

  /** Zone-map + partition-value file skipping, evaluated DISTRIBUTED: a
    * filter over [[Snapshot.allFiles]] with the stats JSON parsed by
    * `from_json` under the declared column types (floats parse as floats
    * and widen exactly — sound against shortest-repr foreign stats), so
    * only the surviving entries are ever collected. Sound, never
    * complete: only top-level AND-ed comparisons against literals prune;
    * files without usable stats always survive; the caller re-applies
    * the predicate exactly. At 100 TB this is the difference between
    * scanning a table and scanning the handful of files whose min/max
    * ranges overlap the query — and the driver never materializes the
    * pruned-away file metadata at all. */
  /** The zone-map/partition-value SKIP expression for `predicate`,
    * evaluable over any frame carrying (`partitionValues`, `stats`)
    * columns — [[Snapshot.allFiles]] in [[pruneEntries]], or a frame of
    * a WINNING commit's add actions in [[checkConflicts]], where it
    * decides whether concurrently-added files might match a pinned
    * transaction's read predicate. Returns the extracted bounds plus the
    * skip column; None when the predicate yields no prunable bound (the
    * caller must then stay conservative). Bloom-index probes are NOT
    * included — they join a per-file index frame, so [[pruneEntries]]
    * layers them on separately. */
  private def zoneSkip(spark: SparkSession, snap: Snapshot,
      predicate: Column): Option[(Seq[Bound], Column)] = {
    // resolve the predicate against the declared schema (an empty frame
    // through the analyzer) so bounds see coerced catalyst expressions —
    // EqualTo(attr, Literal) with types already unified
    val schema = snap.schema.getOrElse(return None)
    val analyzed = spark
      .createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .where(predicate).queryExecution.analyzed
    val bounds = analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => boundsOf(f.condition)
    }.flatten
    if (bounds.isEmpty) return None
    val partCols = snap.partitionColumns.toSet
    val byName = schema.fields.map(f => f.name -> f).toMap
    val phys: String => String = n => snap.columnMapping.getOrElse(n, n)

    // stats sub-schema for the referenced data columns: min/max under
    // the column's DECLARED type, nullCount as long — physical names
    // (what a mapped writer keys the stats JSON with)
    val refCols = bounds.map(_.colName).distinct
      .filterNot(partCols).filter(byName.contains)
    val mmFields = refCols.filter(c => isPruneType(byName(c).dataType))
      .map(c => StructField(phys(c), byName(c).dataType))
    val ncFields = refCols.map(c => StructField(phys(c), LongType))
    val statsSchema = new StructType()
      .add("numRecords", LongType)
      .add("minValues", StructType(mmFields))
      .add("maxValues", StructType(mmFields))
      .add("nullCount", StructType(ncFields))
    val st = from_json(col("stats"), statsSchema)
    def mn(c: String) = st.getField("minValues").getField(phys(c))
    def mx(c: String) = st.getField("maxValues").getField(phys(c))
    def nc(c: String) = st.getField("nullCount").getField(phys(c))
    val n = st.getField("numRecords")
    val allNull = (nc(_: String)).andThen(x => x === n && n > lit(0L))

    def skipCmp(c: String, op: String, v: Column): Column =
      if (partCols.contains(c)) {
        // partition value: min = max = the directory value (try_* forms:
        // a malformed foreign value must survive, not throw under ANSI).
        // A present-but-null entry is the protocol's null partition
        // value: no comparison can match it, so the file skips; an
        // ABSENT key proves nothing and never skips.
        val raw = try_element_at(col("partitionValues"), lit(phys(c)))
        val pvv = raw.try_cast(byName(c).dataType)
        val miss = op match {
          case "=" => pvv =!= v
          case "<" => pvv >= v
          case "<=" => pvv > v
          case ">" => pvv <= v
          case ">=" => pvv < v
        }
        map_contains_key(col("partitionValues"), lit(phys(c))) &&
          (raw.isNull || miss)
      } else if (!isPruneType(byName(c).dataType)) lit(false)
      else {
        val range = op match {
          case "=" => v < mn(c) || v > mx(c)
          case "<" => v <= mn(c)  // min >= lit → nothing < lit
          case "<=" => v < mn(c)
          case ">" => v >= mx(c)  // max <= lit → nothing > lit
          case ">=" => v > mx(c)
        }
        // no min/max recorded: skip only when provably all-null
        coalesce(range, lit(false)) || coalesce(allNull(c), lit(false))
      }

    def skipBound(b: Bound): Column = b match {
      case _ if !byName.contains(b.colName) => lit(false)
      case Cmp(c, op, v) => skipCmp(c, op, v)
      case InList(c, vs) =>
        // IN prunes when EVERY listed value misses the zone map
        vs.map(v => coalesce(skipCmp(c, "=", v), lit(false))).reduce(_ && _)
      case Prefix(c, p) if partCols.contains(c) =>
        val pvv = try_element_at(col("partitionValues"), lit(phys(c)))
        // null partition value matches no prefix; absent key never skips
        map_contains_key(col("partitionValues"), lit(phys(c))) &&
          (pvv.isNull || !startswith(pvv, lit(p)))
      case Prefix(c, p) if byName(c).dataType == StringType =>
        // col LIKE 'p%': rows live in [p, p+"￿..."]; skip when the
        // file's string range cannot intersect that prefix interval
        // (UTF-8 binary order — Spark's native string comparison)
        mx(c) < lit(p) || (mn(c) > lit(p) && !startswith(mn(c), lit(p)))
      case Prefix(_, _) => lit(false)
      case NullCheck(c, wantNull) if partCols.contains(c) =>
        // partition column: its null-ness is the directory value, not a
        // stats field (refCols excludes partCols, so nc(c)/allNull(c)
        // would reference a field the stats struct doesn't carry and
        // fail at analysis). A present non-null value proves every row
        // non-null (skip under IS NULL); a present NULL value proves
        // every row null (skip under IS NOT NULL); an absent key proves
        // nothing (a foreign writer may have omitted the column).
        if (wantNull)
          try_element_at(col("partitionValues"), lit(phys(c))).isNotNull
        else
          map_contains_key(col("partitionValues"), lit(phys(c))) &&
            try_element_at(col("partitionValues"), lit(phys(c))).isNull
      case NullCheck(c, wantNull) =>
        if (wantNull) nc(c) === lit(0L) else allNull(c)
    }
    val skip = bounds.map(b => coalesce(skipBound(b), lit(false))).reduce(_ || _)
    Some((bounds, skip))
  }

  private def pruneEntries(spark: SparkSession, snap: Snapshot,
      predicate: Column, table: Option[String] = None): Seq[FileEntry] =
    Snapshot(snap.version, snap.schema, snap.partitionColumns,
      snap.txns, snap.columnMappingMode, snap.metaDataJson, snap.protocolJson,
      pruneFrame(spark, snap, predicate, table)).fileEntries

  /** Distributed form of [[pruneEntries]]: the surviving
    * (path, deletionVector, size) frame under `predicate`, never
    * collected — wide-DML callers stream it ([[deleteWhere]]) instead
    * of holding O(matched files) entries on the driver. */
  private def pruneFrame(spark: SparkSession, snap: Snapshot,
      predicate: Column, table: Option[String] = None,
      wide: Boolean = false): DataFrame = {
    // wide: carry the full add-action metadata so a DML caller that
    // needs (partitionValues, stats, row-tracking fields) for its
    // re-add actions can take them from ITS OWN collect instead of a
    // second join against the file frame
    val outCols =
      (if (!wide) Seq("path", "deletionVector", "size")
       else Seq("path", "deletionVector", "size", "partitionValues",
         "modificationTime", "stats", "baseRowId",
         "defaultRowCommitVersion")).map(col)
    def all = snap.allFiles.select(outCols: _*)
    val schema = snap.schema.getOrElse(return all)
    val (bounds, zskip) = zoneSkip(spark, snap, predicate)
      .getOrElse(return all)
    val partCols = snap.partitionColumns.toSet
    val byName = schema.fields.map(f => f.name -> f).toMap
    val phys: String => String = n => snap.columnMapping.getOrElse(n, n)
    // ---- per-file bloom-index probes: equality / IN bounds on indexed
    // columns add `bloom present && provably absent` skip terms. Files
    // without a bloom row (pre-index files, fresh compaction output)
    // never bloom-skip — zone maps still apply, results stay exact.
    val idxCols = BloomIndex.settings(snap.configuration)._1
      .filterNot(partCols).filter(c => byName.get(c).exists(f =>
        BloomIndex.eligible(f.dataType)))
    val bloomProbes: Seq[(String, Seq[Column])] =
      if (idxCols.isEmpty) Nil
      else bounds.collect {
        case Cmp(c, "=", v) if idxCols.contains(c) => c -> Seq(v)
        case InList(c, vs) if idxCols.contains(c) => c -> vs
      }
    val (withBlooms, bloomSkip) =
      if (bloomProbes.isEmpty) (snap.allFiles, lit(false))
      else table.flatMap(t => BloomIndex.frame(spark, t)) match {
        case None => (snap.allFiles, lit(false))
        case Some(idx) =>
          val probeCols = bloomProbes.map(_._1).distinct
          val joined = probeCols.zipWithIndex.foldLeft(snap.allFiles) {
            case (df, (c, i)) => df.join(
              idx.where(col("col") === phys(c))
                .select(col("file").as("path"), col("bloom").as(s"__bloom_$i")),
              Seq("path"), "left")
          }
          val terms = bloomProbes.map { case (c, vs) =>
            val i = probeCols.indexOf(c)
            val dt = byName(c).dataType
            // hashes of the probe literals under the SAME width-stable
            // normalization the build used — constant-folded, one array
            val hashes = array(vs.map(v =>
              BloomIndex.hashInput(v.cast(dt), dt)): _*)
            col(s"__bloom_$i").isNotNull &&
              !BloomIndex.mightContainAny(col(s"__bloom_$i"), hashes)
          }
          (joined, terms.reduce(_ || _))
      }
    val skip = zskip || coalesce(bloomSkip, lit(false))
    withBlooms.where(!skip).select(outCols: _*)
  }

  /** Surviving file paths under `predicate` — see [[pruneEntries]].
    * Passing `table` additionally engages the bloom-filter index (when
    * one exists) for equality/IN bounds. */
  private[graft] def pruneFiles(spark: SparkSession, snap: Snapshot,
      predicate: Column, table: Option[String] = None): Seq[String] =
    pruneEntries(spark, snap, predicate, table).map(_.path)

  /** Column over [[Snapshot.allFiles]] that is true for files whose
    * EVERY row provably satisfies `predicate` —
    * the DUAL of [[zoneSkip]], and the key to metadata-only DML: a
    * full-match file can be REMOVED whole without ever being opened,
    * so the retention-sweep DELETE (drop an expired partition of a
    * 100 TB table) is one remove-bearing commit with ZERO data I/O.
    * delta-spark takes this path only for partition-column predicates;
    * the zone-map terms here extend it to stats-provable range sweeps
    * on unpartitioned layouts.
    *
    * Proof obligations are strictly conjunctive: the predicate must
    * decompose into top-level AND-ed atoms and EVERY atom must hold for
    * ALL rows, from the file's partition values or its zone maps plus
    * nullCount=0 (a null row evaluates an atom to not-TRUE and would
    * survive a DELETE — it must disqualify the file). One unsupported
    * atom ⇒ nothing proves (the caller routes every file through the
    * row-level path); stats bounds are OUTER bounds, so truncated
    * foreign string stats stay sound (all values live inside
    * [recorded min, recorded max]). Returned as a COLUMN so the caller
    * evaluates it distributed — a wide sweep's proven set never needs
    * to reach the driver (None = nothing provable). */
  private def fullMatchCondition(spark: SparkSession, snap: Snapshot,
      predicate: Column): Option[Column] = {
    import org.apache.spark.sql.catalyst.expressions._
    val schema = snap.schema.getOrElse(return None)
    val analyzed = spark
      .createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      .where(predicate).queryExecution.analyzed
    val cond = analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
    }.headOption.getOrElse(return None)
    def atoms(e: Expression): Seq[Expression] = e match {
      case And(l, r) => atoms(l) ++ atoms(r)
      case x => Seq(x)
    }
    object C {
      def unapply(x: Expression): Option[String] = x match {
        case a: AttributeReference => Some(a.name)
        case _ => None
      }
    }
    object L {
      def unapply(x: Expression): Option[(Any, DataType)] = x match {
        case Literal(v, dt) => Some((v, dt))
        case c: Cast if c.child.isInstanceOf[Literal] && c.foldable =>
          Some((c.eval(null), c.dataType))
        case _ => None
      }
    }
    // same Bound vocabulary as the skip side — but here each atom must
    // BE its bound exactly (a bound is only a necessary condition of an
    // unrecognized atom, which proves nothing for all-rows)
    def atomBound(e: Expression): Option[Bound] = e match {
      case EqualTo(C(n), L(v, dt)) => litColumn(v, dt).map(Cmp(n, "=", _))
      case EqualTo(L(v, dt), C(n)) => litColumn(v, dt).map(Cmp(n, "=", _))
      case LessThan(C(n), L(v, dt)) => litColumn(v, dt).map(Cmp(n, "<", _))
      case LessThan(L(v, dt), C(n)) => litColumn(v, dt).map(Cmp(n, ">", _))
      case LessThanOrEqual(C(n), L(v, dt)) => litColumn(v, dt).map(Cmp(n, "<=", _))
      case LessThanOrEqual(L(v, dt), C(n)) => litColumn(v, dt).map(Cmp(n, ">=", _))
      case GreaterThan(C(n), L(v, dt)) => litColumn(v, dt).map(Cmp(n, ">", _))
      case GreaterThan(L(v, dt), C(n)) => litColumn(v, dt).map(Cmp(n, "<", _))
      case GreaterThanOrEqual(C(n), L(v, dt)) => litColumn(v, dt).map(Cmp(n, ">=", _))
      case GreaterThanOrEqual(L(v, dt), C(n)) => litColumn(v, dt).map(Cmp(n, "<=", _))
      case IsNull(C(n)) => Some(NullCheck(n, isNull = true))
      case IsNotNull(C(n)) => Some(NullCheck(n, isNull = false))
      case In(C(n), list) =>
        val vs = list.map { case L(v, dt) => litColumn(v, dt); case _ => None }
        if (vs.nonEmpty && vs.forall(_.isDefined)) Some(InList(n, vs.flatten))
        else None
      case StartsWith(C(n), L(v, _)) if v != null => Some(Prefix(n, v.toString))
      case _ => None
    }
    val bounds = atoms(cond).map(atomBound)
    if (bounds.exists(_.isEmpty)) return None // an unprovable atom
    val partCols = snap.partitionColumns.toSet
    val byName = schema.fields.map(f => f.name -> f).toMap
    if (bounds.exists(b => !byName.contains(b.get.colName))) return None
    val phys: String => String = n => snap.columnMapping.getOrElse(n, n)
    val refCols = bounds.map(_.get.colName).distinct.filterNot(partCols)
    val mmFields = refCols.filter(c => isPruneType(byName(c).dataType))
      .map(c => StructField(phys(c), byName(c).dataType))
    val statsSchema = new StructType()
      .add("numRecords", LongType)
      .add("minValues", StructType(mmFields))
      .add("maxValues", StructType(mmFields))
      .add("nullCount", StructType(refCols.map(c => StructField(phys(c), LongType))))
    val st = from_json(col("stats"), statsSchema)
    def mn(c: String) = st.getField("minValues").getField(phys(c))
    def mx(c: String) = st.getField("maxValues").getField(phys(c))
    def nc(c: String) = st.getField("nullCount").getField(phys(c))
    val n = st.getField("numRecords")

    def pvRaw(c: String) = try_element_at(col("partitionValues"), lit(phys(c)))
    def pvPresent(c: String) = map_contains_key(col("partitionValues"), lit(phys(c)))
    def allCmp(c: String, op: String, v: Column): Column =
      if (partCols.contains(c)) {
        // the directory value IS every row's value: evaluate exactly
        // (try_cast: a malformed foreign value goes null ⇒ unproven)
        val pvv = pvRaw(c).try_cast(byName(c).dataType)
        val hit = op match {
          case "=" => pvv === v
          case "<" => pvv < v
          case "<=" => pvv <= v
          case ">" => pvv > v
          case ">=" => pvv >= v
        }
        pvPresent(c) && hit
      } else if (!isPruneType(byName(c).dataType)) lit(false)
      else {
        val range = op match {
          case "=" => mn(c) === v && mx(c) === v
          case "<" => mx(c) < v
          case "<=" => mx(c) <= v
          case ">" => mn(c) > v
          case ">=" => mn(c) >= v
        }
        range && nc(c) === lit(0L)
      }
    def allBound(b: Bound): Column = b match {
      case Cmp(c, op, v) => allCmp(c, op, v)
      case InList(c, vs) if partCols.contains(c) =>
        val pvv = pvRaw(c).try_cast(byName(c).dataType)
        pvPresent(c) && vs.map(pvv === _).reduce(_ || _)
      case InList(c, vs) if isPruneType(byName(c).dataType) =>
        // constant file (min = max) whose one value is listed
        mn(c) === mx(c) && vs.map(mn(c) === _).reduce(_ || _) &&
          nc(c) === lit(0L)
      case InList(_, _) => lit(false)
      case Prefix(c, p) if partCols.contains(c) =>
        pvPresent(c) && startswith(pvRaw(c), lit(p))
      case Prefix(c, p) if byName(c).dataType == StringType =>
        // both outer bounds carry the prefix ⇒ every value between them
        // does too (binary order: first |p| bytes are pinned)
        startswith(mn(c), lit(p)) && startswith(mx(c), lit(p)) &&
          nc(c) === lit(0L)
      case Prefix(_, _) => lit(false)
      case NullCheck(c, wantNull) if partCols.contains(c) =>
        if (wantNull) pvPresent(c) && pvRaw(c).isNull
        else pvPresent(c) && pvRaw(c).isNotNull
      case NullCheck(c, wantNull) =>
        if (wantNull) nc(c) === n && n > lit(0L)
        else nc(c) === lit(0L)
    }
    val proven = bounds.map(b => coalesce(allBound(b.get), lit(false)))
      .reduce(_ && _)
    // a provably empty file (numRecords=0) trivially full-matches
    Some(coalesce(n === lit(0L), lit(false)) || proven)
  }

  /** Batch read with stats-based file skipping: files whose zone maps
    * prove no row can match `predicate` are never listed in the scan;
    * the predicate is then applied exactly, so the result equals
    * `read(...).where(predicate)` row for row. */
  def readPruned(spark: SparkSession, table: String,
      predicate: Column, versionAsOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(spark, table, versionAsOf)
    readEntries(spark, table, pruneEntries(spark, snap, predicate, Some(table)),
      snap.schema, snap.columnMappingMode)
      .where(predicate)
  }

  // -------------------------------------------------------------- writing

  private def jsonStr(s: String): String = mapper.writeValueAsString(s)

  /** partitionValues as protocol JSON — a null value (null partition
    * value) serializes as JSON null, never a sentinel string. */
  private def pvJsonOf(pv: scala.collection.Map[String, String]): String =
    pv.map { case (k, v) => s"${jsonStr(k)}:${if (v == null) "null" else jsonStr(v)}" }
      .mkString("{", ",", "}")

  private def basename(p: String): String = p.substring(p.lastIndexOf('/') + 1)

  /** Materialized provenance columns (`readEntries(withProvenance =
    * true)`): the scanned file's `_metadata.file_path`/`row_index`,
    * surfaced as real columns so they survive the per-root union a
    * shallow-clone read needs. */
  private val FpCol = "__graft_file_path"
  private val RiCol = "__graft_row_index"

  /** File name (basename) from the materialized provenance column. */
  private def provFileName: Column = element_at(split(col(FpCol), "/"), -1)

  /** Best-effort SQL rendering of a predicate for
    * `commitInfo.operationParameters` — audit metadata only, never
    * parsed back. (Column.toString renders the column node; the
    * catalyst-expression route prints an opaque wrapper on Spark 4's
    * ColumnNode API.) */
  private def predSql(c: Column): String = c.toString

  /** Suffix that provenance-matches a log path against a scanned
    * `_metadata.file_path` URI: the scheme-less absolute path for an
    * external (shallow-clone) reference, the "/"-prefixed relative
    * path otherwise. */
  private def pathSuffix(rel: String): String = {
    val p = new Path(rel).toUri.getPath
    if (p.startsWith("/")) p else "/" + p
  }

  /** basename -> relative path, or None when basenames collide (a
    * foreign layout this writer never produces; callers fall back to
    * provenance-free behavior). */
  private[sources] def basenameIndex(rels: Seq[String]): Option[Map[String, String]] = {
    val m = rels.map(p => basename(p) -> p).toMap
    if (m.size == rels.size) Some(m) else None
  }

  /** The basename of the file each row was read from. */
  private[sources] def fileNameCol: Column =
    element_at(split(col("_metadata.file_path"), "/"), -1)

  private def putStat(node: ObjectNode, k: String, v: Any): Unit = v match {
    case null => ()
    case i: java.lang.Integer => node.put(k, i.intValue())
    case l: java.lang.Long => node.put(k, l.longValue())
    case s: java.lang.Short => node.put(k, s.intValue())
    case b: java.lang.Byte => node.put(k, b.intValue())
    case d: java.lang.Double => node.put(k, d.doubleValue())
    // floats serialize through their double value: the shortest FLOAT
    // repr ("0.1") would re-parse as a different double than the widened
    // float literal the pruner compares against (0.10000000149...);
    // the read side ALSO parses float stats as floats first, so both
    // own-written and foreign shortest-repr stats compare exactly
    case fl: java.lang.Float => node.put(k, fl.doubleValue())
    case bd: java.math.BigDecimal => node.put(k, bd)
    case sc: scala.math.BigDecimal => node.put(k, sc.bigDecimal)
    case s: String => node.put(k, s)
    case b: java.lang.Boolean => node.put(k, b.booleanValue())
    case d: java.sql.Date => node.put(k, d.toString)            // ISO yyyy-MM-dd
    case t: java.sql.Timestamp => node.put(k, t.toInstant.toString)
    case other => node.put(k, other.toString)
  }

  /** The columns a commit collects stats for — Delta's own knobs: an
    * explicit delta.dataSkippingStatsColumns list wins (uncapped);
    * otherwise the first delta.dataSkippingNumIndexedCols eligible
    * columns (-1 = all, default 32). */
  private def statFields(dataSchema: StructType, partitionBy: Seq[String],
      cfg: Map[String, String]): Seq[StructField] = {
    val requested = cfg.get("delta.dataSkippingStatsColumns")
      .map(_.split(",").map(_.trim.stripPrefix("`").stripSuffix("`"))
        .filter(_.nonEmpty).toSet)
    val maxCols = cfg.get("delta.dataSkippingNumIndexedCols")
      .map(_.trim.toInt).getOrElse(statsMaxCols)
    val base = dataSchema.fields.toSeq
      .filterNot(f => partitionBy.contains(f.name))
      .filter(f => isStatType(f.dataType))
    requested match {
      case Some(cols) => base.filter(f => cols.contains(f.name))
      case None => if (maxCols < 0) base else base.take(maxCols)
    }
  }

  private final class FooterStatsUnsupported(msg: String)
    extends RuntimeException(msg)

  /** Stage the engine's own data files with INT64-micros timestamps
    * instead of Spark's INT96 default: INT96 carries no ordered footer
    * stats, so any timestamp-bearing commit used to pay the
    * [[collectFileStats]] read-back job. These parquet files are
    * engine-internal (all reads go back through Spark, session UTC, so
    * the adjusted-to-UTC micros annotation reads as the identical
    * TimestampType values); the oracle only ever reads the original
    * test tables, never engine-staged files. The setting goes on the
    * session of the frame `body` writes — the one its parquet writer
    * reads; a foreachBatch frame belongs to the stream's cloned
    * session, not the caller's. Restores the previous setting
    * afterwards so user-facing writes (e.g. Verify's result dumps,
    * which DuckDB reads) keep their encoding. */
  private[sources] def withMicrosStaging[T](staged: DataFrame)(body: => T): T = {
    val conf = staged.sparkSession.conf
    val k = "spark.sql.parquet.outputTimestampType"
    val prev = conf.getOption(k)
    conf.set(k, "TIMESTAMP_MICROS")
    try body finally prev match {
      case Some(v) => conf.set(k, v)
      case None => conf.unset(k)
    }
  }

  /** A per-row write invariant: a row for which `violated` holds
    * refuses the whole commit with `message`. */
  private final case class RowGuard(violated: Column, message: String)

  /** `df` with every guard folded into a projection of its first
    * column, so the staging write itself checks each row it writes and
    * a commit evaluates its frame once (delta-spark's
    * DeltaInvariantCheckerExec shape). A projection, never a Filter:
    * Catalyst may push a filter below a join, where it would judge rows
    * that never reach the output. A violating row raises a tag naming
    * the guard by index; `tag` (the commit's nonce) keeps it apart from
    * any other raised error. */
  private def guarded(df: DataFrame, guards: Seq[RowGuard], tag: String): DataFrame =
    if (guards.isEmpty) df
    else {
      val host = df.schema.fields.head
      def raise(i: Int) = raise_error(lit(s"graft.rowGuard.$tag#$i"))
      val checked = guards.zipWithIndex.foldRight(col(host.name)) {
        case ((g, i), rest) => when(g.violated, raise(i)).otherwise(rest)
      }
      df.withColumn(host.name, checked.as(host.name, host.metadata))
    }

  /** Index of the [[guarded]] guard (tagged `tag`) that failed `e`. */
  private def failedGuard(e: Throwable, tag: String): Option[Int] = {
    val tripped = (java.util.regex.Pattern.quote(s"graft.rowGuard.$tag#") + "(\\d+)").r
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage).flatMap(tripped.findFirstMatchIn))
      .map(_.group(1).toInt).nextOption()
  }

  /** Per-file protocol stats straight from the parquet FOOTERS the
    * write just produced — zero Spark jobs, replacing the read-back
    * aggregation on the happy path (one scheduled scan+shuffle per
    * commit adds up fast across a DML flow). Returns None — and the
    * caller falls back to [[collectFileStats]] — whenever exact parity
    * with the scan path cannot be guaranteed: decimal columns (several
    * physical encodings), INT96 timestamps (no ordered footer stats —
    * external files only, now that [[withMicrosStaging]] stages the
    * engine's own writes as INT64 micros),
    * dropped/oversized binary stats, unknown null counts, dotted
    * column names. Parity rules encoded here: string order is unsigned
    * UTF-8 bytes (Spark's UTF8String order), float/double merge via
    * java.lang compare (NaN largest, Spark's ordering), dates render
    * as epoch-day ISO, micros timestamps as Instant ISO — byte-for-byte
    * the JSON [[putStat]] produces from the aggregation row. Zero-row
    * files are OMITTED from the map, the signal the empty-file filter
    * keys on, exactly like the scan path. */
  private def footerFileStats(spark: SparkSession, table: String,
      rels: Seq[String], dataSchema: StructType,
      partitionBy: Seq[String],
      cfg: Map[String, String]): Option[Map[String, String]] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import org.apache.parquet.schema.LogicalTypeAnnotation
    if (spark.conf.getOption("spark.graft.stats.fromFooters").contains("false"))
      return None
    val fields = statFields(dataSchema, partitionBy, cfg)
    if (fields.exists(f => f.dataType.isInstanceOf[DecimalType]) ||
      fields.exists(_.name.contains("."))) return None
    val conf = spark.sessionState.newHadoopConf()
    def unsupported(msg: String): Nothing =
      throw new FooterStatsUnsupported(msg)
    // raw-value comparator in the same total order Spark's min/max use
    def lt(dt: DataType, a: Any, b: Any): Boolean = dt match {
      case ByteType | ShortType | IntegerType | DateType =>
        Integer.compare(a.asInstanceOf[Number].intValue(),
          b.asInstanceOf[Number].intValue()) < 0
      case LongType | TimestampType =>
        java.lang.Long.compare(a.asInstanceOf[Number].longValue(),
          b.asInstanceOf[Number].longValue()) < 0
      case FloatType => java.lang.Float.compare(
        a.asInstanceOf[Number].floatValue(), b.asInstanceOf[Number].floatValue()) < 0
      case DoubleType => java.lang.Double.compare(
        a.asInstanceOf[Number].doubleValue(), b.asInstanceOf[Number].doubleValue()) < 0
      case BooleanType =>
        java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean]) < 0
      case StringType =>
        val x = a.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
        val y = b.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
        var i = 0
        val n = math.min(x.length, y.length)
        while (i < n) {
          val c = (x(i) & 0xff) - (y(i) & 0xff)
          if (c != 0) return c < 0
          i += 1
        }
        x.length < y.length
      case other => unsupported(s"no footer order for $other")
    }
    // raw footer value -> the exact value shape putStat sees from the
    // aggregation row (or the identical JSON string)
    def render(fld: StructField,
        pt: org.apache.parquet.schema.PrimitiveType, v: Any): Any = fld.dataType match {
      case ByteType | ShortType | IntegerType => v.asInstanceOf[Number].intValue()
      case LongType => v.asInstanceOf[Number].longValue()
      case FloatType => v.asInstanceOf[java.lang.Float]
      case DoubleType => v.asInstanceOf[java.lang.Double]
      case BooleanType => v.asInstanceOf[java.lang.Boolean]
      case StringType =>
        v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
      case DateType =>
        java.time.LocalDate.ofEpochDay(
          v.asInstanceOf[Number].intValue().toLong).toString
      case TimestampType =>
        val micros = pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS =>
            v.asInstanceOf[Number].longValue()
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
              if t.getUnit == LogicalTypeAnnotation.TimeUnit.MILLIS =>
            v.asInstanceOf[Number].longValue() * 1000L
          case other => unsupported(s"timestamp annotation $other")
        }
        java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
          Math.floorMod(micros, 1000000L) * 1000L).toString
      case other => unsupported(s"no footer render for $other")
    }
    def statsOfFile(rel: String): Option[(String, String)] = {
      val path = new Path(table, rel)
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
      // conf passed through — no per-call Configuration XML re-parse
      val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in,
        org.apache.parquet.HadoopReadOptions.builder(conf, path).build())
      val md = try rd.getFooter finally rd.close()
      import scala.jdk.CollectionConverters._
      val blocks = md.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      if (rows == 0L) return None // omitted, like an empty group in the scan
      val rootN = mapper.createObjectNode()
      rootN.put("numRecords", rows)
      val mins = rootN.putObject("minValues")
      val maxs = rootN.putObject("maxValues")
      val ncs = rootN.putObject("nullCount")
      fields.foreach { fld =>
        val chunks = blocks.flatMap(_.getColumns.asScala
          .filter(c => c.getPath.size() == 1 && c.getPath.toDotString == fld.name))
        if (chunks.isEmpty) unsupported(s"column ${fld.name} not in footer")
        if (fld.dataType == TimestampType &&
          chunks.head.getPrimitiveType.getPrimitiveTypeName != PrimitiveTypeName.INT64)
          unsupported("non-INT64 timestamp (INT96 has no ordered stats)")
        var nulls = 0L
        var mn: Any = null
        var mx: Any = null
        chunks.foreach { c =>
          val st = c.getStatistics
          if (st == null || !st.isNumNullsSet) unsupported(s"${fld.name}: null count unknown")
          nulls += st.getNumNulls
          if (st.hasNonNullValue) {
            val (lo, hi) = (st.genericGetMin, st.genericGetMax)
            if (lo == null || hi == null) unsupported(s"${fld.name}: stats dropped")
            if (mn == null || lt(fld.dataType, lo, mn)) mn = lo
            if (mx == null || lt(fld.dataType, mx, hi)) mx = hi
          } else if (c.getValueCount > st.getNumNulls)
            unsupported(s"${fld.name}: min/max dropped for non-null chunk")
        }
        if (mn != null) {
          putStat(mins, fld.name, render(fld, chunks.head.getPrimitiveType, mn))
          putStat(maxs, fld.name, render(fld, chunks.head.getPrimitiveType, mx))
        }
        ncs.put(fld.name, nulls)
      }
      Some(rel -> mapper.writeValueAsString(rootN))
    }
    try {
      // footer opens are independent metadata round trips — run them on
      // a bounded pool so a many-file commit on a remote store pays
      // max(latency), not sum(latency); small commits stay inline
      val stats: Seq[(String, String)] =
        if (rels.size <= 8) rels.flatMap(statsOfFile)
        else {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          implicit val ec: ExecutionContext = ExecutionContext.global
          Await.result(
            Future.traverse(rels.toSeq)(r => Future(statsOfFile(r))),
            Duration.Inf).flatten
        }
      footerStatsHits.incrementAndGet()
      Some(stats.toMap)
    } catch {
      case _: FooterStatsUnsupported =>
        footerStatsFallbacks.incrementAndGet()
        None
      case e: java.util.concurrent.ExecutionException
          if e.getCause.isInstanceOf[FooterStatsUnsupported] =>
        footerStatsFallbacks.incrementAndGet()
        None
    }
  }

  /** Test gauges: commits whose stats came from footers vs commits that
    * fell back to the read-back aggregation. */
  private val footerStatsHits = new java.util.concurrent.atomic.AtomicLong(0L)
  private val footerStatsFallbacks = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def footerStatsCounters: (Long, Long) =
    (footerStatsHits.get(), footerStatsFallbacks.get())

  private def collectFileStats(spark: SparkSession, table: String,
      rels: Seq[String], dataSchema: StructType,
      partitionBy: Seq[String],
      cfg: Map[String, String] = Map.empty): Map[String, String] = {
    // numRecords is always collected — row tracking, the metadata
    // COUNT(*) fast path, and the empty-file filter need it.
    val fields = statFields(dataSchema, partitionBy, cfg)
    val byName = basenameIndex(rels).getOrElse(return Map.empty)
    val abs = rels.map(p => new Path(table, p).toString)
    val df = spark.read.option("basePath", table).parquet(abs: _*)
    val fname = fileNameCol
    val aggs: Seq[Column] =
      Seq(count(lit(1)).as("__n")) ++ fields.zipWithIndex.flatMap { case (fld, i) =>
        Seq(min(col(fld.name)).as(s"__mn_$i"), max(col(fld.name)).as(s"__mx_$i"),
          sum(when(col(fld.name).isNull, 1L).otherwise(0L)).as(s"__nc_$i"))
      }
    val rows = df.groupBy(fname.as("__f")).agg(aggs.head, aggs.tail: _*).collect()
    rows.flatMap { r =>
      byName.get(r.getString(0)).map { rel =>
        val rootN = mapper.createObjectNode()
        rootN.put("numRecords", r.getLong(1))
        val mins = rootN.putObject("minValues")
        val maxs = rootN.putObject("maxValues")
        val ncs = rootN.putObject("nullCount")
        fields.zipWithIndex.foreach { case (fld, i) =>
          putStat(mins, fld.name, r.get(2 + 3 * i))
          putStat(maxs, fld.name, r.get(3 + 3 * i))
          ncs.put(fld.name, r.getLong(4 + 3 * i))
        }
        rel -> mapper.writeValueAsString(rootN)
      }
    }.toMap
  }

  /** What a pinned read-modify-write transaction READ and intends to
    * REMOVE — the inputs the conflict checker ([[checkConflicts]]) needs
    * to decide whether concurrent commits can be rebased over. Paths are
    * table-relative, exactly as the log's add/remove actions carry them.
    *
    * `addSkip` refines the concurrent-ADD check: the transaction's read
    * predicate compiled to a zone-map skip expression ([[zoneSkip]],
    * built once at plan time against the pinned schema). A winning
    * commit's added file whose stats/partition values PROVABLY cannot
    * match the predicate does not conflict — stats-precise where
    * delta-spark is partition-precise, so two UPDATEs on provably
    * disjoint key ranges commute instead of recomputing. None = any
    * qualifying add conflicts (conservative); `Some(lit(true))` = adds
    * never conflict (a pure rewrite like OPTIMIZE, which read only its
    * own compaction set). */
  private[graft] final case class TxnReadInfo(
      readPaths: Set[String],
      removePaths: Set[String],
      appIds: Set[String] = Set.empty,
      addSkip: Option[Column] = None,
      // DISTRIBUTED read/remove set for wide DML (a `path`-columned
      // frame): membership of a winner's removed path is decided by ONE
      // semi-join on the conflict path instead of a driver-held Set of
      // O(matched files) paths. Checked IN ADDITION to the Sets.
      removeFrame: Option[DataFrame] = None)

  /** Test-only injection point: runs at the start of every commit
    * attempt, after the operation computed its actions from the pinned
    * snapshot and before the probe ([[Txn.run]]) — a spec installs a
    * concurrent writer here to exercise the conflict checker. No-op in
    * production; never set outside tests. */
  private[graft] var raceHook: (String, String) => Unit = (_, _) => ()

  /** Isolation level this table commits under: WriteSerializable (the
    * Delta default — blind appends never conflict with concurrent
    * read-modify-writes) or Serializable (every concurrent dataChange
    * add conflicts, giving a single serial order that includes reads). */
  private def isolationOf(cfg: scala.collection.Map[String, String]): String =
    cfg.getOrElse("delta.isolationLevel", "WriteSerializable")

  /** Delta-style conflict detection for a transaction pinned at
    * `base` when the log has advanced to `upTo`: replay the WINNING
    * commits `base+1 .. upTo` and decide whether this transaction's
    * read-modify-write is still valid (return) or stale (throw the
    * typed [[CommitRaceException]] subclass naming the conflict).
    *
    * Rules (delta-spark's ConflictChecker, from the public protocol's
    * concurrency semantics):
    *   - a winner's protocol action → [[ProtocolChangedException]];
    *   - a winner's metaData action (schema/property/partitioning
    *     change) or non-row-tracking domainMetadata →
    *     [[MetadataChangedException]] (row-tracking high-water-mark
    *     advances are fine: the rebased commit re-reads the fresh mark);
    *   - a winner's remove of a file this txn READ →
    *     [[ConcurrentDeleteReadException]]; of a file this txn also
    *     REMOVES → [[ConcurrentDeleteDeleteException]];
    *   - a winner's dataChange add: allowed under WriteSerializable when
    *     the winning commit declared itself a blind append (commitInfo
    *     `isBlindAppend`), because the history is equivalent to "this
    *     txn first, the append after". Under Serializable — or for a
    *     non-blind winner, whose adds came from ITS read-modify-write —
    *     → [[ConcurrentAppendException]];
    *   - a winner's SetTransaction under an appId this txn asserts →
    *     [[ConcurrentTransactionException]].
    *
    * Driver cost: O(intervening commits) small JSON reads — the same
    * files the loser would re-replay anyway. A missing commit file
    * (already log-cleaned) fails conservatively. At 1000-writer scale
    * this is what turns "every concurrent append aborts my MERGE" into
    * "the MERGE lands one version later, zero recompute". */
  private[graft] def checkConflicts(spark: SparkSession, table: String,
      base: Long, upTo: Long, info: TxnReadInfo,
      cfg: scala.collection.Map[String, String]): Unit = {
    val f = fs(spark, table)
    val serializable = isolationOf(cfg) == "Serializable"
    // winner adds this txn "should have read": checked against the
    // txn's read predicate (addSkip) in ONE small local job at the end —
    // a provably non-matching file does not conflict
    val suspectAdds = Seq.newBuilder[(String, Map[String, String], String)]
    var suspectCount = 0
    // winner-removed paths pending the distributed membership test —
    // O(intervening commits' removes), not O(this txn's matched files)
    val suspectRemoves = Seq.newBuilder[String]
    (base + 1 to upTo).foreach { v =>
      val lines =
        try readCommit(f, table, v)
        catch {
          case scala.util.control.NonFatal(_) => throw new CommitRaceException(
            s"concurrent commit: $table advanced from $base to $upTo and commit " +
              s"$v is no longer readable — re-read and retry")
        }
      def fail(e: CommitRaceException): Nothing = throw e
      val blind = lines.exists(n => n.has("commitInfo") &&
        n.get("commitInfo").path("isBlindAppend").asBoolean(false))
      lines.foreach { n =>
        if (n.has("protocol"))
          fail(new ProtocolChangedException(
            s"concurrent commit $v upgraded the protocol of $table"))
        if (n.has("metaData"))
          fail(new MetadataChangedException(
            s"concurrent commit $v changed the metadata of $table"))
        if (n.has("domainMetadata") &&
            n.get("domainMetadata").path("domain").asText("") != RowTrackingDomain)
          fail(new MetadataChangedException(
            s"concurrent commit $v changed metadata domain " +
              s"'${n.get("domainMetadata").path("domain").asText("")}' of $table"))
        if (n.has("txn")) {
          val appId = n.get("txn").path("appId").asText("")
          if (info.appIds.contains(appId))
            fail(new ConcurrentTransactionException(
              s"concurrent commit $v advanced SetTransaction '$appId' of $table"))
        }
        if (n.has("remove")) {
          val p = n.get("remove").path("path").asText("")
          if (info.removePaths.contains(p))
            fail(new ConcurrentDeleteDeleteException(
              s"concurrent commit $v deleted $p of $table, which this " +
                "transaction also deletes"))
          if (info.readPaths.contains(p))
            fail(new ConcurrentDeleteReadException(
              s"concurrent commit $v deleted $p of $table, which this " +
                "transaction read"))
          if (info.removeFrame.isDefined) suspectRemoves += p
        }
        if (n.has("add") && n.get("add").path("dataChange").asBoolean(false) &&
            (serializable || !blind)) info.addSkip match {
          case None =>
            fail(new ConcurrentAppendException(
              s"concurrent commit $v added files to $table" +
                (if (serializable) " under Serializable isolation"
                 else " from a read-modify-write (not a blind append)")))
          case Some(_) =>
            val a = n.get("add")
            val pv = mutable.Map.empty[String, String]
            if (a.has("partitionValues") && a.get("partitionValues").isObject) {
              val it = a.get("partitionValues").fields()
              while (it.hasNext) {
                val e = it.next()
                pv.put(e.getKey, if (e.getValue.isNull) null else e.getValue.asText())
              }
            }
            suspectAdds += ((a.path("path").asText(""), pv.toMap,
              if (a.has("stats") && !a.get("stats").isNull)
                a.get("stats").asText() else null))
            suspectCount += 1
        }
      }
    }
    if (suspectCount > 0) info.addSkip.foreach { skip =>
      import spark.implicits._
      val frame = suspectAdds.result()
        .toDF("path", "partitionValues", "stats")
      val overlapping = frame.where(!coalesce(skip, lit(false)))
        .select("path").limit(1).collect()
      overlapping.headOption.foreach { r =>
        throw new ConcurrentAppendException(
          s"concurrent commit added ${r.getString(0)} to $table, whose " +
            "stats may match rows this transaction read")
      }
    }
    // distributed read/remove set (wide DML): ONE broadcast semi-join
    // decides whether any winner-removed path belongs to this txn's
    // candidate set — the membership test the Sets above do, without
    // ever holding O(matched files) paths on the driver
    val suspects = suspectRemoves.result()
    if (suspects.nonEmpty) info.removeFrame.foreach { rf =>
      import spark.implicits._
      val hit = rf.select(col("path"))
        .join(broadcast(suspects.toDF("path")), Seq("path"), "left_semi")
        .limit(1).collect()
      hit.headOption.foreach { r =>
        throw new ConcurrentDeleteDeleteException(
          s"concurrent commit deleted ${r.getString(0)} of $table, which " +
            "this transaction read and also deletes")
      }
    }
  }

  /** Commit `df` to the table as one public-protocol Delta commit:
    * parquet data files land under the table root (partition-dir layout
    * when `partitionBy` is set), then ONE `_delta_log/<v>.json` appears
    * via one put-if-absent publish ([[Publish.publishIfAbsent]]) — a
    * concurrent writer racing to the same version, in any process, loses
    * the publish and errors rather than corrupting the log, and a
    * crash before the publish leaves only unreferenced data files (invisible
    * to readers, same guarantee real Delta gives). `overwrite` emits
    * `remove` actions for the previous snapshot's files; `append` only
    * adds. `baseVersion` pins a read-modify-write: the commit refuses
    * unless it lands at exactly `baseVersion + 1` (and a pinned append
    * does NOT silently retry past its base). Returns the committed
    * version. Any protocol-compliant reader (including [[read]]) sees
    * exactly the committed state. */
  def write(spark: SparkSession, df: DataFrame, table: String,
      mode: String = "overwrite", partitionBy: Seq[String] = Seq.empty,
      txn: Option[(String, Long)] = None,
      baseVersion: Option[Long] = None,
      properties: Map[String, String] = Map.empty): Long = {
    require(mode == "overwrite" || mode == "append", s"mode must be overwrite|append: $mode")
    // appends retry a lost version race (no conflict is possible: the
    // commit removes nothing and its file names are nonce-unique);
    // overwrites/merges must instead surface the conflict to the caller,
    // whose read-modify-write is stale after a concurrent commit. An
    // append into an identity table is the one append that CAN race
    // (its allocated ids are fenced on the snapshot that supplied the
    // high-water mark) — that race surfaces as CommitRaceException and
    // the operation-level retry here re-allocates from a fresh snapshot.
    // dynamic partition overwrite (Spark's partitionOverwriteMode=dynamic
    // on the protocol): an overwrite of a partitioned table replaces
    // ONLY the partitions the incoming frame carries — the nightly
    // partition-reload shape without spelling a replaceWhere predicate.
    // The removal set is a distributed semi-join of the file frame
    // against the frame's distinct partition tuples (typed, null-safe),
    // O(written partitions) driver state.
    val dynamic = mode == "overwrite" &&
      spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        .exists(_.equalsIgnoreCase("dynamic"))
    // a dynamic overwrite never changes the table's layout — inherit the
    // declared partitioning for the staged files when the caller omitted
    // partitionBy (the remove-bearing commit would otherwise land
    // unpartitioned files in a partitioned table)
    val effPartitionBy: Seq[String] =
      if (!dynamic || partitionBy.nonEmpty) partitionBy
      else latestSnapshot(spark, table).fold(partitionBy)(_.partitionColumns)
    // a caller's pin must still be the latest version — else its
    // read-modify-write is already stale — and staging validates
    // against it
    val pin = baseVersion.flatMap { b =>
      val log = logSegment(fs(spark, table), table)
      if (log.latest.getOrElse(-1L) != b)
        throw new CommitRaceException(Txn.raceMessage(table, b, mode.toUpperCase))
      log.latest.map(_ => snapshotAt(spark, table, log))
    }
    def run(): Long = commitWrite(spark, df, table, effPartitionBy, txn,
      removePaths = _ => Seq.empty,
      // overwrite removes STREAM from the distributed file frame into
      // the commit (full overwrite: every live file; dynamic: the
      // semi-join against the frame's partition tuples) — the driver
      // never holds the replaced set
      removeFrameOf =
        if (mode != "overwrite") None
        else Some(s =>
          if (dynamic && partitionColsOf(s, effPartitionBy).nonEmpty)
            dynamicOverwriteRemoveFrame(spark, s, df,
              partitionColsOf(s, effPartitionBy))
          else s.allFiles),
      widenSchema = mode == "append", dataChange = true,
      operation = mode.toUpperCase,
      retryOnRace = mode == "append" && baseVersion.isEmpty,
      pin = pin, properties = properties,
      // an append never read the table: declared blind so concurrent
      // read-modify-writes can rebase over it (WriteSerializable)
      blindAppend = mode == "append")
    if (mode == "append" && baseVersion.isEmpty) withDmlRetry(3)(run())
    else run()
  }

  /** The effective partition columns of an overwrite: the caller's
    * `partitionBy`, else the table's declared layout. */
  private def partitionColsOf(snap: Snapshot, partitionBy: Seq[String]): Seq[String] =
    if (partitionBy.nonEmpty) partitionBy else snap.partitionColumns

  /** Files whose partition tuple appears in `df` — the removal set of a
    * DYNAMIC partition overwrite. Typed, null-safe comparison: the
    * entry's directory value string casts to the declared type and
    * `<=>`-joins the frame's distinct tuples, so `p=5` matches whether
    * the incoming column is int or long, and a null partition value
    * matches exactly the frame's null tuple. Generated partition
    * columns missing from the frame are computed first (same expression
    * the stage writer applies). Collects only the matched paths.
    *
    * Driver footprint: O(files in the replaced partitions) — the same
    * order as the commit's OWN add actions (the overwrite stages new
    * files for exactly those partitions), so unlike the wide DELETE
    * ([[deleteWhereStreamed]], whose sweep writes nothing) there is no
    * asymmetric blow-up to stream away; the commit JSON itself is the
    * driver's working set either way. A partition holding pathological
    * millions of tiny files wants OPTIMIZE before reload, not a
    * different overwrite. */
  private def dynamicOverwriteRemoveFrame(spark: SparkSession, snap: Snapshot,
      df: DataFrame, partCols: Seq[String]): DataFrame = {
    val schema = snap.schema.getOrElse(return snap.allFiles)
    val byName = schema.fields.map(f => f.name -> f).toMap
    val phys: String => String = n => snap.columnMapping.getOrElse(n, n)
    // compute generated partition columns the frame omitted
    val withGen = partCols.foldLeft(df) { (d, c) =>
      if (d.columns.contains(c)) d
      else byName.get(c).filter(_.metadata.contains(GenExprKey)).fold(d)(fl =>
        d.withColumn(c, expr(fl.metadata.getString(GenExprKey)).cast(fl.dataType)))
    }
    val missing = partCols.filterNot(withGen.columns.contains)
    require(missing.isEmpty,
      s"dynamic partition overwrite: the frame lacks partition column(s) " +
        s"${missing.mkString(", ")}")
    val incoming = withGen.select(partCols.map(c =>
      col(c).cast(byName(c).dataType).as(s"__in_$c")): _*).distinct()
    // full file-state rows survive the filter: the caller streams them
    // straight into remove actions
    val keyed = partCols.foldLeft(snap.allFiles)((d, c) =>
      d.withColumn(s"__pv_$c",
        try_element_at(col("partitionValues"), lit(phys(c)))
          .try_cast(byName(c).dataType)))
    // The distinct partition-tuple side is one row per replaced
    // partition — the same order as the commit's own add actions, so
    // collecting it is bounded by driver state the commit holds anyway.
    // Folding the tuples into a LITERAL predicate keeps the remove
    // frame a pure filtered scan: no join for the optimizer to push
    // (the left-semi shape sent PushDownLeftSemiAntiJoin and
    // ColumnPruning/CollapseProject into a 100-iteration rule loop —
    // 200-400 ms of pure optimizer churn per overwrite) and no
    // broadcast build job. A reload replacing more partitions than the
    // literal cap falls back to the broadcast semi-join, which stays
    // correct, just slower to plan.
    val maxLiteral = spark.conf
      .getOption("spark.graft.dynamicOverwrite.maxLiteralPartitions")
      .map(_.toInt).getOrElse(1024)
    val tuples = incoming.limit(maxLiteral + 1).collect()
    if (tuples.length <= maxLiteral) {
      val pred = tuples.map { r =>
        partCols.zipWithIndex.map { case (c, i) =>
          val dt = byName(c).dataType
          val v = r.get(i)
          col(s"__pv_$c") <=> (if (v == null) lit(null).cast(dt)
            else lit(v).cast(dt))
        }.reduce(_ && _)
      }.reduceOption(_ || _).getOrElse(lit(false))
      keyed.where(pred).drop(partCols.map(c => s"__pv_$c"): _*)
    } else {
      val cond = partCols.map(c => col(s"__pv_$c") <=> col(s"__in_$c"))
        .reduce(_ && _)
      keyed.join(broadcast(incoming), cond, "left_semi")
        .drop(partCols.map(c => s"__pv_$c"): _*)
    }
  }

  /** Writer-feature compliance for generated and identity columns,
    * applied to every dataChange commit ([[commitWrite]]):
    *
    * Generated columns (`delta.generationExpression` field metadata):
    *   - user-data writes (APPEND/OVERWRITE/REPLACE WHERE/COPY INTO):
    *     a missing column is computed from its expression; a provided
    *     column is ENFORCED (`value <=> expr` per row, null-safe) by a
    *     [[RowGuard]] the staging write evaluates, and a violating write
    *     refuses whole — Delta's invariant semantics.
    *   - rewrites (MERGE/UPDATE), whose frame derives from the table
    *     itself: the column is RECOMPUTED unconditionally, so a SET or
    *     update-clause touching a base column keeps the invariant;
    *     untouched rows recompute to their existing value (the
    *     expression is deterministic over the row).
    *
    * Identity columns (`delta.identity.*` field metadata, BIGINT):
    *   - null slots (a missing column, explicit nulls, or MERGE-inserted
    *     rows) are allocated fresh values `highWaterMark + k·step`.
    *     Allocation is DISTRIBUTED: one light counting pre-pass gets the
    *     row count per input partition (collecting O(partitions)
    *     scalars), then each row's value is derived from
    *     `monotonically_increasing_id()` — partition offset plus
    *     in-partition index — with no shuffle and no window. Non-null
    *     rows consume allocation slots too (gaps, which the identity
    *     contract explicitly allows) so the id needs no per-row
    *     null-rank. The two evaluations of the frame (count pass +
    *     staging write) rely on deterministic partition contents —
    *     the same property Spark itself requires for task retries.
    *   - explicit non-null values refuse under GENERATED ALWAYS
    *     (`allowExplicitInsert` absent/false) on user-data writes — the
    *     counting pre-pass's provided extremum answers that, no extra
    *     job; rewrites carry existing values through untouched. Under BY
    *     DEFAULT the high-water mark advances past the provided values
    *     so later allocations never collide.
    *   - the advanced `delta.identity.highWaterMark` is committed in the
    *     SAME commit's metaData action (schema metadata), the protocol's
    *     allocation fence; a racing writer triggers a
    *     [[CommitRaceException]] and the operation-level retry
    *     re-allocates from the fresh snapshot.
    *
    * Returns the (possibly augmented) frame, the new high-water mark
    * per identity column (empty when nothing advanced), the release of
    * the frames pinned for staging, and the generated-column guards. */
  private def applyGeneratedIdentity(spark: SparkSession, df: DataFrame,
      declared: StructType, dataChange: Boolean, operation: String)
      : (DataFrame, Map[String, Long], () => Unit, Seq[RowGuard]) = {
    val genFields = declared.fields.filter(_.metadata.contains(GenExprKey)).toSeq
    val idFields = declared.fields.filter(_.metadata.contains(IdStartKey)).toSeq
    // column DEFAULTs: a data-changing write that does not name a
    // defaulted column gets the default MATERIALIZED (spec: defaults
    // fill at write time, never at read; an explicitly written NULL
    // stays NULL). Rewrite ops (MERGE/UPDATE) carry every column.
    val defFields = declared.fields.filter(_.metadata.contains(DefaultKey))
      .filterNot(fl => df.columns.contains(fl.name)).toSeq
    val dfFilled =
      if (!dataChange || defFields.isEmpty ||
          operation == "MERGE" || operation == "UPDATE") df
      else defFields.foldLeft(df)((d, fl) => d.withColumn(fl.name,
        expr(fl.metadata.getString(DefaultKey)).cast(fl.dataType)))
    val df0 = dfFilled
    if (!dataChange || (genFields.isEmpty && idFields.isEmpty))
      return (df0, Map.empty, () => (), Nil)
    // frames pinned for the duration of allocation + staging: the gid
    // tagging below is non-deterministic across re-evaluation (AQE
    // re-plan, non-deterministic source), so the counting pre-pass and
    // the staged write MUST observe the same materialization
    val pinned = Seq.newBuilder[DataFrame]
    val rewriteOp = operation == "MERGE" || operation == "UPDATE"
    var data = df0
    var guards = Seq.empty[RowGuard]
    if (genFields.nonEmpty) {
      if (rewriteOp) {
        genFields.foreach { fl =>
          if (data.columns.contains(fl.name))
            data = data.withColumn(fl.name,
              expr(fl.metadata.getString(GenExprKey)).cast(fl.dataType))
        }
      } else {
        val (present, absent) =
          genFields.partition(fl => data.columns.contains(fl.name))
        absent.foreach { fl =>
          data = data.withColumn(fl.name,
            expr(fl.metadata.getString(GenExprKey)).cast(fl.dataType))
        }
        if (present.nonEmpty)
          guards = Seq(RowGuard(present.map { fl =>
            !(col(fl.name) <=> expr(fl.metadata.getString(GenExprKey)).cast(fl.dataType))
          }.reduce(_ || _),
            s"generated-column invariant violated by $operation: " + present
              .map(fl => s"${fl.name} := ${fl.metadata.getString(GenExprKey)}")
              .mkString("; ")))
      }
    }
    var hwms = Map.empty[String, Long]
    idFields.foreach { fl =>
      val m = fl.metadata
      val start = if (m.contains(IdStartKey)) m.getLong(IdStartKey) else 1L
      val step = if (m.contains(IdStepKey)) m.getLong(IdStepKey) else 1L
      require(step != 0L, s"identity column ${fl.name}: step must be non-zero")
      val allowExplicit =
        scala.util.Try(m.getBoolean(IdAllowKey)).getOrElse(false)
      val hwm = if (m.contains(IdHwmKey)) m.getLong(IdHwmKey) else start - step
      val hadCol = data.columns.contains(fl.name)
      if (!hadCol) data = data.withColumn(fl.name, lit(null).cast(LongType))
      // counting pre-pass: rows + provided extremum per input partition
      // (monotonically_increasing_id encodes partition << 33 | index)
      val gidCol = "__graft_identity_gid"
      val tagged = data.withColumn(gidCol, monotonically_increasing_id())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val perPart = tagged
        .groupBy(shiftright(col(gidCol), 33).as("__pid"))
        .agg(count(lit(1)).as("__n"),
          sum(when(col(fl.name).isNull, 1L).otherwise(0L)).as("__nulls"),
          min(col(fl.name)).as("__mn"), max(col(fl.name)).as("__mx"))
        .collect()
      val totalRows = perPart.map(_.getAs[Long]("__n")).sum
      val anyNull = perPart.exists(_.getAs[Long]("__nulls") > 0L)
      val provided = perPart.flatMap { r =>
        Option(if (step > 0) r.getAs[Any]("__mx") else r.getAs[Any]("__mn"))
      }.map { case l: Long => l }
      val refused = hadCol && !rewriteOp && !allowExplicit && provided.nonEmpty
      if (refused) (pinned.result() :+ tagged).foreach(_.unpersist())
      require(!refused,
        s"identity column ${fl.name} is GENERATED ALWAYS — explicit values " +
          s"refused (set $IdAllowKey=true for GENERATED BY DEFAULT)")
      // the mark only ever advances in step direction — past both its
      // previous value and any explicitly provided ids
      val base =
        if (provided.isEmpty) hwm
        else if (step > 0) math.max(hwm, provided.max)
        else math.min(hwm, provided.min)
      if (anyNull) {
        val offsets: Map[Long, Long] = {
          val sorted = perPart.map(r =>
            r.getAs[Long]("__pid") -> r.getAs[Long]("__n")).sortBy(_._1)
          var acc = 0L
          sorted.map { case (pid, n) => val o = pid -> acc; acc += n; o }.toMap
        }
        val slot = element_at(typedLit(offsets), shiftright(col(gidCol), 33)) +
          col(gidCol).bitwiseAND(lit((1L << 33) - 1L)) + lit(1L)
        data = tagged.withColumn(fl.name,
            when(col(fl.name).isNull, lit(base) + lit(step) * slot)
              .otherwise(col(fl.name)))
          .drop(gidCol)
        pinned += tagged // released by the caller once staging completes
        hwms += fl.name -> (base + step * totalRows)
      } else {
        tagged.unpersist()
        if (base != hwm) hwms += fl.name -> base
      }
    }
    val toRelease = pinned.result()
    (data, hwms, () => toRelease.foreach(_.unpersist()), guards)
  }

  /** Core committer behind every write shape (overwrite, append,
    * copy-on-write MERGE, OPTIMIZE): stage `df`'s parquet files under
    * the table root, then append ONE atomic log commit that removes
    * `removePaths(previousSnapshot)` and adds the staged files.
    * `widenSchema` declares the union of the previous and new schema
    * (append-style evolution) instead of `df`'s schema. `dataChange`
    * stamps the commit's add/remove actions; `false` marks a pure
    * rewrite — same rows before and after — which [[changesBetween]]
    * skips, exactly the protocol's OPTIMIZE semantics. The commit tail
    * — probe, commitInfo, publish, memo/`.crc`, post-commit hooks — is
    * the shared [[Txn]] step. */
  private def commitWrite(spark: SparkSession, df: DataFrame, table: String,
      partitionBy: Seq[String], txn: Option[(String, Long)],
      removePaths: Snapshot => Seq[String], widenSchema: Boolean,
      dataChange: Boolean, operation: String,
      retryOnRace: Boolean = false, pin: Option[Snapshot] = None,
      properties: Map[String, String] = Map.empty,
      extraTxns: Seq[(String, Long)] = Seq.empty,
      operationParameters: Map[String, String] = Map.empty,
      cdc: Option[DataFrame] = None,
      // conflict-detection inputs: what a pinned txn read/removes (lets
      // the commit REBASE over non-conflicting concurrent commits
      // instead of aborting), and whether this commit is a blind append
      // (declared in commitInfo so OTHER writers' conflict checks can
      // rebase over it)
      readInfo: Option[TxnReadInfo] = None,
      blindAppend: Boolean = false,
      // version-dependent actions appended after the data actions (the
      // final version is only known post-rebase)
      extraActionsAt: Long => Seq[String] = _ => Nil,
      // the deletion-vector UPDATE path declares the deletionVectors
      // feature in the same commit that writes its first mask
      dvUpgrade: Boolean = false,
      // STREAMED removes for wide commits (full/dynamic OVERWRITE): a
      // frame of (path, deletionVector, size) whose rows flow into the
      // commit file via toLocalIterator — the driver never holds the
      // remove set (the compactLog pattern). Takes the place of
      // removePaths for action emission; recomputed from the fresh
      // snapshot on every retry attempt.
      removeFrameOf: Option[Snapshot => DataFrame] = None): Long = {
    val f = fs(spark, table)
    val root = new Path(table)
    f.mkdirs(logDir(table))

    // Column-mapped tables ARE writable: the staged frame is translated
    // logical→physical below, stats and partitionValues key by
    // physicalName, and the table's metaData keeps its mapping metadata
    // verbatim. Widening evolution mints a fresh physicalName/columnId
    // per new TOP-LEVEL column and bumps delta.columnMapping.maxColumnId
    // (mappedMinted below); a new column carrying nested structs refuses
    // — every nested field would need its own minted id, which this
    // writer does not do.
    def containsStruct(dt: DataType): Boolean = dt match {
      case _: StructType => true
      case a: ArrayType => containsStruct(a.elementType)
      case m: MapType => containsStruct(m.keyType) || containsStruct(m.valueType)
      case _ => false
    }
    def gateWritable(prevSnap: Option[Snapshot]): Unit =
      prevSnap.filter(_.columnMappingMode != "none").foreach { p =>
        val prevNames = p.schema.map(_.fieldNames.toSet).getOrElse(Set.empty)
        df.schema.fields.filterNot(f => prevNames.contains(f.name)).foreach { f =>
          require(widenSchema,
            s"cannot add column '${f.name}' to column-mapped Delta table $table " +
              "in an overwrite — append (widening evolution) mints the mapping")
          require(!containsStruct(f.dataType),
            s"cannot add nested-struct column '${f.name}' to a column-mapped " +
              s"Delta table $table — every nested field needs a minted columnId " +
              "(unsupported); add primitive/array/map-of-primitive columns only")
        }
      }

    // the state staging validates against, reused by the first commit
    // attempt: the caller's pin, else the latest snapshot (one listing)
    val firstPrev = pin.orElse(latestSnapshot(spark, table))
    val firstVersion = firstPrev.fold(0L)(_.version + 1)
    // widening evolution on a mapped table: new top-level columns get a
    // minted physicalName (col-<uuid>) and the next columnIds. Minted
    // ONCE per commitWrite call — the staged parquet carries these
    // physical names, so a commit retry must re-declare the SAME ones.
    val mappedMinted: Seq[StructField] = firstPrev match {
      case Some(p) if p.columnMappingMode != "none" && widenSchema =>
        val prev = p.schema.getOrElse(new StructType())
        val extra = df.schema.fields.filterNot(f => prev.fieldNames.contains(f.name))
        if (extra.isEmpty) Seq.empty
        else {
          val usedIds = prev.fields.collect {
            case f if f.metadata.contains(FieldIdKey) => f.metadata.getLong(FieldIdKey)
          } ++ p.configuration.get("delta.columnMapping.maxColumnId").map(_.toLong)
          val base = if (usedIds.isEmpty) 0L else usedIds.max
          extra.toSeq.zipWithIndex.map { case (f, i) =>
            f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
              .putLong(FieldIdKey, base + i + 1)
              .putString(PhysNameKey, s"col-${java.util.UUID.randomUUID()}")
              .build())
          }
        }
      case _ => Seq.empty
    }
    // validate + declare the schema BEFORE staging any data: a refused
    // commit (schema enforcement) must leave zero trace on disk. Re-run
    // per commit attempt — a concurrent append may have evolved the
    // schema between retries.
    def declaredSchema(prevSnap: Option[Snapshot], atVersion: Long = -1L): StructType =
      (widenSchema, prevSnap.flatMap(_.schema)) match {
        case (_, Some(prev)) if prevSnap.exists(_.columnMappingMode != "none") =>
          // column-mapped: the declaration's field metadata IS the
          // mapping, so it survives verbatim; emitting df.schema here
          // would strip physicalName/columnId metadata and corrupt the
          // table. New columns append with their minted mapping.
          df.schema.fields.foreach { fld =>
            prev.fields.find(_.name == fld.name).foreach { p =>
              require(DataType.equalsStructurally(fld.dataType, p.dataType,
                  ignoreNullability = true),
                s"schema enforcement: column '${fld.name}' is ${p.dataType.simpleString} " +
                  s"in the table but ${fld.dataType.simpleString} in the write")
            }
          }
          // staged parquet already carries OUR minted physical names: a
          // racing writer minting the same logical column would make the
          // declaration disagree with the staged bytes — refuse loudly
          mappedMinted.foreach(f => require(!prev.fieldNames.contains(f.name),
            s"concurrent schema evolution: column '${f.name}' appeared in $table " +
              s"while this $operation was staged — re-read and retry"))
          mappedMinted.foldLeft(prev)((s, f) => s.add(f))
        case (true, Some(prev)) =>
          // schema ENFORCEMENT before evolution: a same-name column with a
          // different type must refuse loudly — silently keeping the old
          // declaration would make the new files unreadable (parquet type
          // mismatch at scan), and silently replacing it would null out
          // every old file's column. Under delta.enableTypeWidening two
          // directions open up: a WIDER append re-declares the column at
          // the wide type (old narrow files keep reading, verified
          // reader-side; delta.typeChanges records provenance) and a
          // NARROWER append upcasts the incoming frame (below, before
          // staging) under the unchanged declaration.
          val widenOn = (prevSnap.map(_.configuration).getOrElse(Map.empty)
            ++ properties).get(TypeWideningKey).contains("true")
          df.schema.fields.foreach { fld =>
            prev.fields.find(_.name == fld.name).foreach { p =>
              require(p.dataType == fld.dataType ||
                  (widenOn && (canWiden(p.dataType, fld.dataType) ||
                    canWiden(fld.dataType, p.dataType))),
                s"schema enforcement: column '${fld.name}' is ${p.dataType.simpleString} " +
                  s"in the table but ${fld.dataType.simpleString} in the append — " +
                  "overwrite with the new schema to change a column's type" +
                  (if (widenOn) "" else
                    s" (or set $TypeWideningKey=true for a safe widening)"))
            }
          }
          val merged =
            if (!widenOn) prev
            else StructType(prev.fields.map { p =>
              df.schema.fields.find(_.name == p.name) match {
                case Some(fld) if canWiden(p.dataType, fld.dataType) =>
                  p.copy(dataType = fld.dataType,
                    metadata = typeChangeMeta(p, fld.dataType, atVersion))
                case _ => p
              }
            })
          val extra = df.schema.fields.filterNot(f => prev.fieldNames.contains(f.name))
          extra.foldLeft(merged)((s, f) => s.add(f))
        case _ => df.schema
      }
    gateWritable(firstPrev)
    // the feature-bearing view of the declared schema: an OVERWRITE
    // redeclares df's own schema, but generated/identity columns are
    // table-owned — the caller legitimately omits them (the writer
    // computes them), so they must survive the redeclaration instead of
    // silently vanishing on the first overwrite
    val featureSchema: StructType = {
      val base = declaredSchema(firstPrev)
      firstPrev.flatMap(_.schema)
        .map(_.fields.filter(fl => fl.metadata.contains(GenExprKey) ||
          fl.metadata.contains(IdStartKey)).toSeq)
        .getOrElse(Seq.empty)
        .filterNot(fl => base.fieldNames.contains(fl.name))
        .foldLeft(base)(_ add _)
    }
    // generated/identity columns: fill, enforce, or recompute against
    // the table's declared metadata; identityHwms carries the advanced
    // high-water marks for the metaData action below
    val (data, identityHwms, releaseIdentityPins, genGuards) =
      applyGeneratedIdentity(spark, df, featureSchema, dataChange, operation)
    // columns the feature pass ADDED (a generated/identity column the
    // caller's frame lacked) must be re-attached to the declaration —
    // with their feature metadata
    val featureAdded: Seq[StructField] =
      data.columns.filterNot(df.columns.contains).toSeq
        .flatMap(n => featureSchema.fields.find(_.name == n))
    def amendDeclared(s: StructType): StructType = {
      val widened = featureAdded.filterNot(fl => s.fieldNames.contains(fl.name))
        .foldLeft(s)((acc, fl) => acc.add(fl))
      if (identityHwms.isEmpty) widened
      else StructType(widened.fields.map { fl =>
        identityHwms.get(fl.name).fold(fl)(h => fl.copy(metadata =
          new MetadataBuilder().withMetadata(fl.metadata)
            .putLong(IdHwmKey, h).build()))
      })
    }
    // type widening, NARROW direction: an append whose column is
    // narrower than the declaration upcasts before staging — the
    // declaration stays put, the staged parquet carries the declared
    // type, and no reader ever sees a mixed-type file set
    val wideningOn = (firstPrev.map(_.configuration).getOrElse(Map.empty)
      ++ properties).get(TypeWideningKey).contains("true")
    val staged0 =
      if (!wideningOn || firstPrev.isEmpty) data
      else {
        val decl = declaredSchema(firstPrev, firstVersion)
        data.schema.fields.foldLeft(data) { (d, fld) =>
          decl.fields.find(_.name == fld.name) match {
            case Some(t) if t.dataType != fld.dataType &&
                canWiden(fld.dataType, t.dataType) =>
              d.withColumn(fld.name, col(fld.name).cast(t.dataType))
            case _ => d
          }
        }
      }
    // table-property enforcement (writer-side protocol compliance):
    // - delta.appendOnly: a dataChange commit must not remove files —
    //   refused BEFORE staging, so nothing is written
    // - delta.constraints.<name>: every row written must satisfy the
    //   CHECK expression (violated = evaluates to FALSE; null passes)
    // - NOT NULL column invariants (Delta's `invariants` writer
    //   feature, minWriterVersion 2): a null landing in a column the
    //   declared schema marks non-nullable refuses the whole commit
    // The per-row checks ride the staging write itself as [[RowGuard]]s
    // (with the generated-column guards): no separate pass over the
    // frame, and a refused commit deletes its scratch directory before
    // anything moves under the table root.
    val effConfig = firstPrev.map(_.configuration).getOrElse(Map.empty) ++ properties
    val rowGuards: Seq[RowGuard] = if (!dataChange) Nil else {
      // the remove-frame probe (one metadata-only limit-1 job) runs
      // ONLY when the table actually declares appendOnly — the common
      // case pays nothing
      require(!(effConfig.get("delta.appendOnly").contains("true") &&
          firstPrev.exists(p => removePaths(p).nonEmpty ||
            removeFrameOf.exists(rf => !rf(p).isEmpty))),
        s"table $table is append-only (delta.appendOnly=true): " +
          s"$operation would remove files — refused")
      val checks = effConfig.toSeq.collect {
        case (k, v) if k.startsWith("delta.constraints.") =>
          RowGuard(!coalesce(expr(v), lit(true)),
            s"CHECK constraint '${k.stripPrefix("delta.constraints.")}' ($v) " +
              s"violated by rows written to $table — refused")
      }
      // NOT NULL is guarded only for columns whose INCOMING field is
      // nullable: a staged field Catalyst already proves non-nullable
      // cannot produce a null (delta-spark skips the same way)
      val incomingNullable = staged0.schema.fields
        .filter(_.nullable).map(_.name).toSet
      val notNull = firstPrev.flatMap(_.schema).toSeq
        .flatMap(_.fields.filter(f => !f.nullable))
        .map(_.name).filter(incomingNullable.contains)
      val nullGuard = if (notNull.isEmpty) Nil else Seq(RowGuard(
        notNull.map(col(_).isNull).reduce(_ || _),
        s"NOT NULL invariant violated: a null reached one of " +
          s"(${notNull.mkString(", ")}) in rows written to $table — refused"))
      genGuards ++ checks ++ nullGuard
    }

    // stage the parquet files in a scratch dir, then move them under the
    // table root with nonce-unique names (dataChange only on log commit):
    // the nonce keeps a crashed or lost-race commit's orphans from ever
    // colliding with a later attempt, and lets a retried append commit
    // the SAME staged files at a later version (the version prefix in
    // the file name is cosmetic)
    val nameVersion = firstVersion
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val scratch = new Path(root, f".tmp-commit-$nameVersion%020d-$nonce")
    // column mapping: stage under PHYSICAL names (parquet columns,
    // partition directories, and therefore stats keys + partitionValues
    // all speak physicalName); id-mode additionally stamps each field's
    // parquet.field.id so the written files resolve by field id. The
    // caller's frame and partitionBy stay logical.
    val mappingMode = firstPrev.map(_.columnMappingMode).getOrElse("none")
    val checked = guarded(staged0, rowGuards, nonce)
    val stagedDf =
      if (mappingMode == "none") checked
      else {
        val byName = (firstPrev.flatMap(_.schema).get.fields ++ mappedMinted)
          .map(f => f.name -> f).toMap
        val mapped = StructType(checked.schema.fields.map(fld => byName(fld.name)))
        val phys = physicalType(mapped, fieldIds = mappingMode == "id")
          .asInstanceOf[StructType]
        checked.select(checked.schema.fields.zip(phys.fields).map { case (src, dst) =>
          col(src.name).cast(dst.dataType).as(dst.name, dst.metadata)
        }.toIndexedSeq: _*)
      }
    // append-shaped commits (no removes) into a partitioned table
    // inherit its partitioning for the STAGED LAYOUT too, not only the
    // metaData declaration below — otherwise an append without an
    // explicit partitionBy would land unpartitioned files (empty
    // partitionValues) in a table whose declaration promises pruning
    val effPartitionBy: Seq[String] =
      if (partitionBy.nonEmpty) partitionBy
      else firstPrev match {
        case Some(p) if removePaths(p).isEmpty && removeFrameOf.isEmpty =>
          p.partitionColumns
        case _ => Seq.empty
      }
    val physPartitionBy =
      if (mappingMode == "none") effPartitionBy
      else effPartitionBy.map(n => firstPrev.get.columnMapping.getOrElse(n, n))
    // optimizeWrite (delta.autoOptimize.optimizeWrite): AQE-rebalanced
    // pre-write shuffle — partition-value-aligned, skew-split output
    // bins instead of one small file per task per partition value. The
    // rebalance hint is exactly OSS Spark's optimize-write primitive:
    // AQE coalesces undersized bins and splits oversized ones at
    // runtime, so file count tracks DATA VOLUME, not task count — the
    // property that keeps a 1000-executor streaming append from minting
    // 1000 shards per trigger.
    val stagedOut =
      if (dataChange &&
          effConfig.get("delta.autoOptimize.optimizeWrite").contains("true")) {
        if (physPartitionBy.nonEmpty)
          stagedDf.hint("rebalance", physPartitionBy.map(col): _*)
        else stagedDf.hint("rebalance")
      } else stagedDf
    val w = stagedOut.write.mode("overwrite")
    try withMicrosStaging(stagedOut) {
      (if (physPartitionBy.nonEmpty) w.partitionBy(physPartitionBy: _*) else w)
        .parquet(scratch.toString)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // a failed staging write leaves nothing behind; a tripped guard
        // surfaces as the refusal it encodes
        scala.util.Try(f.delete(scratch, true))
        throw failedGuard(e, nonce).fold(e)(i => new IllegalArgumentException(
          s"requirement failed: ${rowGuards(i).message}", e))
    } finally releaseIdentityPins()
    val staged = f.listFiles(scratch, true)
    val moved = Seq.newBuilder[(String, Map[String, String])] // relPath -> partitionValues
    var idx = 0
    while (staged.hasNext) {
      val st = staged.next()
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet")) {
        // partition dirs between scratch root and the file, e.g. lang=en
        // (URI-relativize: listed paths are scheme-qualified, `scratch`
        // need not be)
        val relDir = f.makeQualified(scratch).toUri
          .relativize(st.getPath.getParent.toUri).getPath.stripSuffix("/")
        val pv = relDir.split("/").filter(_.contains("=")).map { seg =>
          val Array(k, v) = seg.split("=", 2)
          // a null partition value materializes as the Hive sentinel
          // directory; the protocol records it as JSON null — recording
          // the sentinel STRING instead would make a null-partition file
          // look non-null to the pruner and IS NULL would skip it
          k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null
                else java.net.URLDecoder.decode(v, "UTF-8"))
        }.toMap
        val destRel = (if (relDir.isEmpty) "" else relDir + "/") +
          f"part-$nameVersion%05d-$idx%05d-$nonce.snappy.parquet"
        idx += 1
        val dest = new Path(root, destRel)
        f.mkdirs(dest.getParent)
        require(f.rename(st.getPath, dest), s"stage move failed: $dest")
        moved += destRel -> pv
      }
    }
    f.delete(scratch, true)
    val movedFiles = moved.result()

    // per-file protocol stats (numRecords/minValues/maxValues/nullCount):
    // read straight from the just-written parquet FOOTERS when exact
    // parity holds ([[footerFileStats]] — zero Spark jobs), else one
    // read-back aggregation over the staged files — the scan cost every
    // stats-collecting Delta writer pays at write time; the stats feed
    // zone-map data skipping ([[pruneFiles]])
    val statsByFile: Map[String, String] =
      if (movedFiles.isEmpty) Map.empty
      else footerFileStats(spark, table, movedFiles.map(_._1), stagedDf.schema,
          physPartitionBy, effConfig)
        .getOrElse(collectFileStats(spark, table, movedFiles.map(_._1),
          stagedDf.schema, physPartitionBy, effConfig))

    // Zero-row staged files (an empty overwrite = truncate, a fully
    // filtered write) never enter the commit — real Delta writers do not
    // add empty files, and a full-table DELETE must be metadata-only.
    // Detectable exactly: a parquet file with no rows contributes no
    // group to the stats read-back. Only applied when stats collection
    // actually ran — the colliding-basename fallback (empty stats map)
    // must not drop every file.
    val liveFiles =
      if (movedFiles.isEmpty || basenameIndex(movedFiles.map(_._1)).isEmpty)
        movedFiles
      else {
        val (empties, live) = movedFiles.partition(m => !statsByFile.contains(m._1))
        empties.foreach { case (rel, _) =>
          try { f.delete(new Path(root, rel), false); () }
          catch { case scala.util.control.NonFatal(_) => () }
        }
        live
      }

    // bloom-index maintenance (graft.bloomIndex.columns): blooms for the
    // just-staged files land in the sidecar in the SAME pre-commit window
    // as stats. A lost commit race leaves only orphan sidecar rows keyed
    // by file names no snapshot references — harmless, the probe joins on
    // live paths (and the retried commit re-declares the same files, so
    // their blooms stay valid).
    if (liveFiles.nonEmpty) {
      val (bloomCols, bItems, bFpp) = BloomIndex.settings(effConfig)
      if (bloomCols.nonEmpty) {
        val m = firstPrev.map(_.columnMapping).getOrElse(Map.empty)
        BloomIndex.bloomsFor(spark, table, liveFiles.map(_._1),
          bloomCols.map(c => m.getOrElse(c, c)), bItems, bFpp)
          .foreach(BloomIndex.writeAppend(spark, table, _))
      }
    }

    // change-data files (CDF write path): staged ONCE like the data
    // files — a retried commit re-declares the same change files
    val cdcActions: Seq[String] =
      cdc.filter(_ => firstPrev.exists(cdfEnabled))
        .map(stageCdc(spark, table, _, firstPrev.get))
        .getOrElse(Seq.empty)

    // The [[Txn]] attempt loop; this body rebuilds the version-dependent
    // actions for each attempt's version. A commit whose inputs (merge
    // frame, compaction set, removePaths) were derived from the `pin`
    // snapshot is valid as a LATER version only when every
    // intervening commit is provably non-conflicting ([[checkConflicts]])
    // — then it REBASES: the staged files and fixed remove set are still
    // exactly right. Without readInfo any advance aborts. A commit
    // without a caller pin is pinned to the version its staging was
    // validated against unless it may land anywhere (retryOnRace, a
    // blind append): a commit landing while a full or dynamic OVERWRITE
    // staged would otherwise lose its files to the re-derived removes,
    // and two first-time COPY INTOs would both ingest the same files.
    val pinned = pin.map(_.version).orElse(
      if (retryOnRace || readInfo.nonEmpty) None else Some(firstVersion - 1))
    Txn.run(spark, table, operation, pinned, operationParameters, readInfo,
        effConfig, retryOnRace = retryOnRace) { (version, log) =>
      val prevSnap =
        if (version == firstVersion) firstPrev
        else if (version == 0L) None
        else Some(snapshotAt(spark, table, log, Some(version - 1)))
      gateWritable(prevSnap)
      // identity allocation is fenced on the snapshot it read its
      // high-water mark from: committing the staged ids at a LATER
      // version could collide with a concurrent writer's allocation, so
      // the race surfaces for an operation-level re-allocation instead
      if (identityHwms.nonEmpty && version != firstVersion)
        throw new CommitRaceException(
          s"concurrent commit: identity allocation for $operation on $table " +
            s"was computed against version ${firstVersion - 1} — re-read and retry")
      val declared = amendDeclared(declaredSchema(prevSnap, version))
      val now = System.currentTimeMillis()
      val actions = Seq.newBuilder[String]
      val ictOn = effConfig.get(IctEnableKey).contains("true")
      val rtOn = effConfig.get(RowTrackingKey).contains("true")
      // at most ONE protocol action per commit: the version-0 base and
      // every due feature upgrade (CDF, in-commit timestamps, type
      // widening, row tracking) CHAIN into a single action
      val proto0: Option[String] =
        if (version != 0L) None
        else Some(if (ictOn) ictProtocolUpgrade(None).get
          else """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""")
      def inner(action: String): String =
        mapper.writeValueAsString(mapper.readTree(action).get("protocol"))
      val protoBase0 = proto0.map(inner).orElse(prevSnap.flatMap(_.protocolJson))
      val dvUp = if (!dvUpgrade) None else dvProtocolUpgrade(protoBase0)
      val protoBase = dvUp.map(inner).orElse(protoBase0)
      val cdfUp = if (cdcActions.isEmpty) None else cdfProtocolUpgrade(protoBase)
      val ictUp = if (!ictOn || version == 0L) None
        else ictProtocolUpgrade(cdfUp.map(inner).orElse(protoBase))
      // a widening that actually re-typed a declared column upgrades to
      // the typeWidening table feature (reader AND writer side)
      val wideningOccurred = wideningOn && prevSnap.flatMap(_.schema).exists(prev =>
        declared.fields.exists(f =>
          prev.fields.find(_.name == f.name).exists(_.dataType != f.dataType)))
      val twUp = if (!wideningOccurred) None
        else twProtocolUpgrade(
          ictUp.orElse(cdfUp).map(inner).orElse(protoBase))
      val rtUp = if (!rtOn) None
        else writerFeatureUpgrade(
          twUp.orElse(ictUp).orElse(cdfUp).map(inner).orElse(protoBase),
          Seq("rowTracking", "domainMetadata"))
      // a VARIANT-typed column upgrades to the variantType table feature
      // (reader AND writer — pre-feature readers cannot decode the
      // physical struct<metadata,value> encoding)
      val vtUp = if (!containsVariant(declared)) None
        else readerWriterFeatureUpgrade(
          rtUp.orElse(twUp).orElse(ictUp).orElse(cdfUp).map(inner)
            .orElse(protoBase), "variantType")
      (vtUp.orElse(rtUp).orElse(twUp).orElse(ictUp).orElse(cdfUp).orElse(dvUp)
        .orElse(proto0)).foreach(actions += _)
      // metaData on the first commit, any schema change (evolution — the
      // widened union declares so older files read with nulls in the new
      // columns), or a property change. The PREVIOUS declaration's
      // id/format/configuration/createdTime are carried forward — a
      // schema-evolving append into a foreign table must not wipe its
      // table properties (constraints, appendOnly, CDF flags, …).
      if (version == 0L || !prevSnap.flatMap(_.schema).contains(declared) ||
          properties.nonEmpty) {
        val meta = prevSnap.flatMap(_.metaDataJson)
          .map(mapper.readTree(_).asInstanceOf[ObjectNode].deepCopy())
          .getOrElse(mapper.createObjectNode())
        if (!meta.has("id"))
          meta.put("id", java.util.UUID.randomUUID().toString)
        if (!meta.has("format")) {
          val fmt = meta.putObject("format")
          fmt.put("provider", "parquet"); fmt.putObject("options")
        }
        meta.put("schemaString", declared.json)
        // the declaration must match the STAGED layout: the inherited
        // (or explicit) partitioning computed above
        val pc = effPartitionBy
        val pcArr = meta.putArray("partitionColumns")
        pc.foreach(pcArr.add)
        if (properties.nonEmpty || !meta.has("configuration")) {
          val prevCfg = prevSnap.map(_.configuration).getOrElse(Map.empty)
          val cfg = meta.putObject("configuration")
          (prevCfg ++ properties).foreach { case (k, v) => cfg.put(k, v) }
        }
        // minted mapping ids claim their range: later writers must mint
        // ABOVE them (the protocol's duplicate-id protection)
        if (mappedMinted.nonEmpty) {
          val cfg =
            if (meta.has("configuration") && meta.get("configuration").isObject)
              meta.get("configuration").asInstanceOf[ObjectNode]
            else meta.putObject("configuration")
          cfg.put("delta.columnMapping.maxColumnId",
            mappedMinted.map(_.metadata.getLong(FieldIdKey)).max.toString)
        }
        if (!meta.has("createdTime")) meta.put("createdTime", now)
        actions += s"""{"metaData":${mapper.writeValueAsString(meta)}}"""
      }
      // removes carry the file's descriptor (protocol semantics: the
      // removed content is what consumers could see) — a change-feed
      // fold over a DV'd file would otherwise double-delete masked rows
      var removedFiles = 0L
      var removedBytes = 0L
      var removeSizesKnown = true
      def removeJson(e: FileEntry): String = {
        val dvField = e.dv.fold("")(d => "," + dvJson(d))
        val szField = if (e.size < 0) "" else s""","size":${e.size}"""
        removedFiles += 1
        if (e.size < 0) removeSizesKnown = false else removedBytes += e.size
        s"""{"remove":{"path":${jsonStr(e.path)},"deletionTimestamp":$now,"dataChange":$dataChange$szField$dvField}}"""
      }
      prevSnap.toSeq.foreach { ps =>
        ps.entriesFor(removePaths(ps)).foreach(actions += removeJson(_))
      }
      // wide removes stream into a side file (never the driver heap),
      // counted there for the commitInfo that precedes them, and ride
      // behind the head actions as the commit's streamed tail
      val removeTail: Option[(String => Unit) => TailCounts] =
        for (rf <- removeFrameOf; ps <- prevSnap) yield {
          val side = new Path(logDir(table),
            f".$version%020d-$nonce.removes.tmp")
          val (n0, b0) = (removedFiles, removedBytes)
          val so = f.create(side, true)
          try {
            val it = rf(ps).select("path", "deletionVector", "size")
              .toLocalIterator()
            while (it.hasNext)
              so.write((removeJson(entryOfRow(it.next())) + "\n").getBytes("UTF-8"))
          } finally so.close()
          val counts = TailCounts(removes = removedFiles - n0,
            removeBytes = removedBytes - b0, sizesKnown = removeSizesKnown)
          (line: String => Unit) => {
            val in = f.open(side)
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().foreach(line)
            finally { in.close(); f.delete(side, false); () }
            counts
          }
        }
      // row tracking: fresh contiguous baseRowId ranges for the staged
      // files (allocated from the delta.rowTracking domain's high-water
      // mark, advanced in the SAME commit). Preserving ids across a
      // dataChange=false rewrite would need MATERIALIZED row-id columns
      // — refused instead of silently re-numbering.
      if (rtOn && !dataChange && liveFiles.nonEmpty)
        sys.error(s"rewrite of row-tracked table $table would re-number rows " +
          "(row-id materialization is not implemented) — refused")
      var rtNext: Long =
        if (!rtOn) 0L
        else prevSnap.flatMap(_.domainMetadata.get(RowTrackingDomain))
          .map(cfg => mapper.readTree(cfg).path("rowIdHighWaterMark").asLong(-1L))
          .getOrElse(-1L) + 1L
      def rtFieldFor(rel: String): String =
        if (!rtOn) "" else {
          val nr = statsByFile.get(rel).map(mapper.readTree(_))
            .filter(_.has("numRecords")).map(_.get("numRecords").asLong())
            .getOrElse(sys.error(
              s"row tracking needs numRecords stats for $rel of $table"))
          val base = rtNext
          rtNext += nr
          s""","baseRowId":$base,"defaultRowCommitVersion":$version"""
        }
      var outBytes = 0L
      liveFiles.foreach { case (rel, pv) =>
        val pvJson = pvJsonOf(pv)
        val size = f.getFileStatus(new Path(root, rel)).getLen
        outBytes += size
        val statsField =
          statsByFile.get(rel).fold("")(s => s""","stats":${jsonStr(s)}""")
        actions += s"""{"add":{"path":${jsonStr(rel)},"partitionValues":$pvJson,""" +
          s""""size":$size,"modificationTime":$now,"dataChange":$dataChange""" +
          s"""$statsField${rtFieldFor(rel)}}}"""
      }
      if (rtOn && liveFiles.nonEmpty)
        actions += s"""{"domainMetadata":{"domain":${jsonStr(RowTrackingDomain)},""" +
          s""""configuration":${jsonStr(s"""{"rowIdHighWaterMark":${rtNext - 1}}""")},""" +
          """"removed":false}}"""
      cdcActions.foreach(actions += _)
      // caller-supplied actions that depend on the FINAL version (a
      // rebase may have moved it past the pin) — e.g. the clustering
      // progress domain records the commit it lands in
      extraActionsAt(version).foreach(actions += _)
      (txn.toSeq ++ extraTxns).foreach { case (appId, v) =>
        actions += s"""{"txn":{"appId":${jsonStr(appId)},"version":$v,"lastUpdated":$now}}"""
      }
      // operationMetrics (delta-spark's string-valued map in commitInfo):
      // all figures fall out of state already in hand — no extra jobs,
      // no extra filesystem calls
      val outRows = liveFiles.flatMap(lf => statsByFile.get(lf._1))
        .map(st => mapper.readTree(st).path("numRecords").asLong(0L)).sum
      Txn.Attempt(prevSnap, actions.result(), removeTail,
        metrics = Map("numFiles" -> liveFiles.size.toString,
          "numOutputRows" -> outRows.toString, "numOutputBytes" -> outBytes.toString,
          "numRemovedFiles" -> removedFiles.toString),
        blindAppend = blindAppend && removedFiles == 0,
        dataChange = dataChange, stagedFiles = liveFiles.nonEmpty, now = now)
    }
  }

  /** What a commit's streamed tail wrote, counted as it streamed: its
    * file actions and their bytes, for the `.crc` update (skipped when
    * `sizesKnown` is false) and to tell an empty commit. */
  private[sources] final case class TailCounts(adds: Long = 0L, addBytes: Long = 0L,
      removes: Long = 0L, removeBytes: Long = 0L, sizesKnown: Boolean = true) {
    def isEmpty: Boolean = adds == 0L && removes == 0L
  }

  /** The one Delta commit step. Every write goes through it, in order:
    *   1. the pin: a snapshot, or None for a version-0 creator;
    *   2. per attempt, [[raceHook]] and ONE listing of `_delta_log`
    *      ([[logSegment]]) for the latest version; an advance past the
    *      pin runs [[checkConflicts]] and rebases (the caller passed
    *      [[TxnReadInfo]]) or aborts;
    *   3. one commitInfo, built against the final version;
    *   4. commitInfo first (the in-commit-timestamp spec reads the clock
    *      from the head of the file; delta-spark writes it first too),
    *      then the caller's actions, then an optional streamed tail;
    *   5. [[Publish.publishIfAbsent]]: of any number of writers, in this
    *      JVM or not, exactly one wins the version; a lost race retries
    *      (up to ten attempts) only when the commit may rebase or land
    *      anywhere, else raises [[CommitRaceException]];
    *   6. the next snapshot's entry memo and the `.crc` checksum;
    *   7. [[postCommit]] under the configuration the commit declares.
    * [[run]] is the attempt loop; its caller builds each attempt's
    * content for the attempt's version and listing ([[commitWrite]]
    * rebuilds its version-dependent actions). [[commit]] runs it over
    * fixed actions. */
  private[sources] object Txn {

    /** One attempt's content, built for its final version: the state it
      * was computed against (`prev`: seeds the snapshot memo when it is
      * the version before, and supplies the configuration when the
      * commit declares no metaData), the actions, an optional streamed
      * tail, commitInfo's metrics and blind-append flag, whether it
      * changes data, and whether it staged new data files. */
    final case class Attempt(prev: Option[Snapshot], actions: Seq[String],
        tail: Option[(String => Unit) => TailCounts] = None,
        metrics: Map[String, String] = Map.empty, blindAppend: Boolean = false,
        dataChange: Boolean, stagedFiles: Boolean = false,
        now: Long = System.currentTimeMillis())

    def raceMessage(table: String, base: Long, operation: String): String =
      s"concurrent commit: $table advanced past version $base while this " +
        s"$operation was computed — re-read and retry"

    /** Steps 2–7 until one attempt publishes; returns its version. `base`
      * pins the commit (-1: the table must not exist yet; None: it may
      * land at any version). A lost publish retries only with `readInfo`
      * or `retryOnRace`. With `dropEmpty`, an attempt whose actions and
      * streamed tail came out empty is dropped unpublished and the
      * pinned version comes back. `onRace` replaces the race message. */
    def run(spark: SparkSession, table: String, operation: String,
        base: Option[Long], parameters: Map[String, String] = Map.empty,
        readInfo: Option[TxnReadInfo] = None,
        conflictCfg: scala.collection.Map[String, String] = Map.empty,
        retryOnRace: Boolean = false, dropEmpty: Boolean = false,
        onRace: Option[String] = None)(build: (Long, LogSegment) => Attempt): Long = {
      val f = fs(spark, table)
      var attempt = 0
      while (true) {
        raceHook(table, operation)
        val log = logSegment(f, table)
        val latest = log.latest.getOrElse(-1L)
        base.filter(_ != latest).foreach { b =>
          readInfo match {
            case Some(info) => checkConflicts(spark, table, b, latest, info, conflictCfg)
            case None => throw new CommitRaceException(
              onRace.getOrElse(raceMessage(table, b, operation)))
          }
        }
        val version = latest + 1
        val a = build(version, log)
        val cfg = declaredConfig(a.actions, a.prev)
        val info = commitInfo(spark, table, version, operation, cfg, a.now,
          parameters, a.metrics, a.blindAppend)
        val (tmp, counts) = write(f, table, version, info, a.actions, a.tail)
        if (dropEmpty && a.actions.isEmpty && counts.isEmpty) {
          f.delete(tmp, false)
          return base.getOrElse(latest)
        }
        if (Publish.publishIfAbsent(f, tmp, commitPath(table, version))) {
          settle(spark, table, version, a, counts)
          postCommit(spark, table, version, operation,
            a.dataChange || !counts.isEmpty, a.stagedFiles, cfg)
          return version
        }
        attempt += 1
        if ((readInfo.isEmpty && !retryOnRace) || attempt >= 10)
          throw new CommitRaceException(onRace.getOrElse(
            raceMessage(table, base.getOrElse(latest), operation)))
      }
      sys.error("unreachable")
    }

    /** [[run]] for one commit of fixed `actions` (plus an optional
      * streamed `tail`) computed against `pin`. A commit with nothing
      * to publish is dropped. */
    def commit(spark: SparkSession, table: String, pin: Option[Snapshot],
        operation: String, actions: Seq[String],
        parameters: Map[String, String] = Map.empty,
        readInfo: Option[TxnReadInfo] = None,
        tail: Option[(String => Unit) => TailCounts] = None,
        onRace: Option[String] = None,
        now: Long = System.currentTimeMillis()): Long =
      run(spark, table, operation, Some(pin.fold(-1L)(_.version)), parameters,
          readInfo, pin.fold(Map.empty[String, String])(_.configuration),
          dropEmpty = true, onRace = onRace) { (_, _) =>
        Attempt(pin, actions, tail, now = now, dataChange = actions.exists(a =>
          a.startsWith("""{"add"""") || a.startsWith("""{"remove"""")))
      }

    /** The configuration a commit declares: its own metaData action's
      * (an ALTER setting `delta.checkpointInterval` counts under the new
      * value), else the pinned snapshot's. */
    private def declaredConfig(actions: Seq[String], pin: Option[Snapshot]): Map[String, String] =
      actions.find(_.startsWith("""{"metaData""""))
        .map(a => configurationOf(mapper.readTree(a).get("metaData")))
        .getOrElse(pin.fold(Map.empty[String, String])(_.configuration))

    /** Step 3: the commit's one commitInfo, against its FINAL version —
      * a rebased commit's in-commit timestamp must stay monotonic over
      * the commits it moved past. */
    private def commitInfo(spark: SparkSession, table: String, version: Long,
        operation: String, cfg: Map[String, String], now: Long,
        parameters: Map[String, String], metrics: Map[String, String],
        blindAppend: Boolean): String =
      s"""{"commitInfo":{"timestamp":$now""" +
        ictValue(spark, table, version, cfg, now).fold("")(t => s""","inCommitTimestamp":$t""") +
        s""","operation":${jsonStr(operation)}""" +
        (if (parameters.isEmpty) "" else s""","operationParameters":${pvJsonOf(parameters)}""") +
        (if (metrics.isEmpty) "" else s""","operationMetrics":${pvJsonOf(metrics)}""") +
        s""","isBlindAppend":$blindAppend}}"""

    /** Step 4: commitInfo, the actions, then the streamed `tail` into a
      * temp file beside `version`; returns it with the tail's counts. A
      * failed write leaves no temp file. */
    private def write(f: FileSystem, table: String, version: Long, info: String,
        actions: Seq[String], tail: Option[(String => Unit) => TailCounts])
        : (Path, TailCounts) = {
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      val tmp = new Path(logDir(table), f".$version%020d-$nonce.json.tmp")
      try {
        val out = f.create(tmp, false)
        try {
          out.write(((info +: actions).mkString("\n") + "\n").getBytes("UTF-8"))
          (tmp, tail.fold(TailCounts())(_(s => out.write((s + "\n").getBytes("UTF-8")))))
        } finally out.close()
      } catch {
        case e: Throwable => f.delete(tmp, false); throw e
      }
    }

    /** Step 6: seed the next snapshot's entry memo from the attempt's
      * `prev` (when it is the v−1 state and driver-resident; a streamed
      * tail never reached the driver, so it seeds nothing) and update the
      * `.crc` checksum. */
    private def settle(spark: SparkSession, table: String, version: Long,
        a: Attempt, streamed: TailCounts): Unit = {
      if (a.tail.isEmpty)
        (if (version == 0L) Some(Seq.empty[FileEntry])
         else a.prev.filter(_.version == version - 1).flatMap(residentEntries))
          .foreach(seedNextSnapshot(fs(spark, table), table, version, a.actions, _))
      Checksum.update(spark, table, version, a.actions, a.tail.map(_ => streamed))
    }

    /** Step 7: the post-commit hooks. Each runs after every commit, gated
      * only by its own condition under `cfg` (the table property wins,
      * the session conf is the default). Best effort: the commit is
      * already durable, and a racing writer may legitimately do the same
      * work first.
      *   - auto-checkpoint every `delta.checkpointInterval` commits
      *     (default 10, Delta's own; 0 disables): bounded JSON replay;
      *   - log compaction every `delta.logCompaction.interval` commits
      *     (default 0 = off): one `<x>.<y>.compacted.json` per interval;
      *   - auto compaction (`delta.autoOptimize.autoCompact`) after a
      *     dataChange commit other than OPTIMIZE that staged new data
      *     files (a clone or convert adopts files it did not write;
      *     compacting them would turn a shallow clone into a copy): once
      *     at least `spark.graft.delta.autoCompact.minNumFiles` (default 50) files
      *     sit under `spark.graft.delta.autoCompact.minFileSize` (default
      *     16 MB), a bin-packing OPTIMIZE of just those — one distributed
      *     count to check, O(small files) to compact;
      *   - the symlink manifest
      *     (`delta.compatibility.symlinkFormatManifest.enabled`) after a
      *     dataChange commit, so Presto/Trino/Athena read the live set. */
    private def postCommit(spark: SparkSession, table: String, version: Long,
        operation: String, dataChange: Boolean, stagedFiles: Boolean,
        cfg: Map[String, String]): Unit = {
      def every(key: String, session: String, default: String): Int =
        cfg.getOrElse(key, spark.conf.get(session, default)).trim.toInt
      def on(key: String): Boolean = cfg.get(key).contains("true")
      val cpEvery = every("delta.checkpointInterval",
        "spark.graft.delta.checkpointInterval", "10")
      val compactEvery = every("delta.logCompaction.interval",
        "spark.graft.delta.logCompaction.interval", "0")
      Seq[(String, Boolean, () => Unit)](
        ("auto-checkpoint", cpEvery > 0 && version > 0 && version % cpEvery == 0,
          () => { checkpoint(spark, table); () }),
        ("log compaction", compactEvery > 1 && version > 0 &&
          (version + 1) % compactEvery == 0,
          () => { compactLog(spark, table, version - compactEvery + 1, version); () }),
        ("auto-compact", dataChange && stagedFiles && operation != "OPTIMIZE" &&
          on("delta.autoOptimize.autoCompact"), () => {
            val minSize = spark.conf.get("spark.graft.delta.autoCompact.minFileSize",
              (16L * 1024 * 1024).toString).toLong
            val minNum = spark.conf.get("spark.graft.delta.autoCompact.minNumFiles", "50").toInt
            if (snapshot(spark, table).allFiles.where(col("size") < minSize).count() >= minNum) {
              optimize(spark, table, minFileSize = minSize); ()
            }
          }),
        ("symlink manifest", dataChange &&
          on("delta.compatibility.symlinkFormatManifest.enabled"),
          () => { generateSymlinkManifest(spark, table); () })
      ).foreach { case (hook, due, act) =>
        if (due) try act() catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(s"[delta] $hook of $table at $version failed: ${e.getMessage}")
        }
      }
    }
  }

  /** The snapshots a [[withDmlRetry]] operation reads: `first`, already
    * in hand from its existence check, then a fresh one per retry. */
  private def attemptSnapshots(spark: SparkSession, table: String,
      first: Snapshot): Iterator[Snapshot] =
    Iterator.single(first) ++ Iterator.continually(snapshot(spark, table))

  /** Re-run a whole DML operation on a lost commit race — sound
    * because every operation below recomputes from a FRESH snapshot on
    * each attempt, and a failed attempt's staged data files / DV
    * sidecars are invisible orphans (vacuum-reclaimable). This is
    * Delta's optimistic concurrency at operation granularity: two
    * writers touching disjoint rows both land, serialized by the
    * commit rename; the loser pays one recompute. Pinned-fold
    * consumers ([[mergeGroups]], the materialized view) deliberately
    * bypass it — their inputs were computed from the pinned snapshot,
    * so a blind re-run would be wrong there. */
  private def withDmlRetry[T](attempts: Int)(op: => T): T = {
    var left = attempts
    while (true) {
      try return op
      catch {
        case e: CommitRaceException =>
          left -= 1
          if (left <= 0) throw e
      }
    }
    sys.error("unreachable")
  }

  /** Shared copy-on-write MERGE machinery: a provenance semi-join finds
    * the data files containing a source key, only those are rewritten
    * through `frame(touchedRows, source)`, and the commit removes just
    * the touched files, pinned at `snap.version` so a concurrent writer
    * invalidates the read-modify-write loudly. Untouched files stay
    * live — a MERGE touching a sliver of a 100 TB table rewrites a
    * sliver, and [[changesBetween]] sees O(touched) rows.
    *
    * Scale: the probe scans the target once with only keys + file
    * provenance projected (source keys are the small broadcast side);
    * only file NAMES reach the driver, bounded by the snapshot's file
    * count. Provenance is keyed by file basename — a foreign layout with
    * colliding basenames (this writer never produces one) falls back to
    * the correct-but-O(table) full rewrite. */
  private def mergeCore(spark: SparkSession, table: String, snap: Snapshot,
      source: DataFrame, keys: Seq[String],
      frame: (DataFrame, DataFrame) => DataFrame,
      txn: Option[(String, Long)], operation: String,
      probeByKeys: Boolean = true, rebase: Boolean = true): Long = {
    // column-mapped targets are fine: the rewrite frame is logical and
    // commitWrite stages it under physical names (stats/partitionValues
    // keyed by physicalName); gateWritable refuses only NEW columns
    def commit(touched: Seq[FileEntry]): Long = {
      val target = readEntries(spark, table, touched, snap.schema,
        snap.columnMappingMode)
      val out = frame(target, source)
      // CDF write path: change files describe the net row-level diff of
      // the rewrite (falls back to no cdc action — file-diff
      // reconstruction — when keys are not unique on a side)
      val cdcFrame = if (!cdfEnabled(snap)) None else mergeCdc(target, out, keys)
      commitWrite(spark, out, table, snap.partitionColumns, txn,
        removePaths = _ => touched.map(_.path), widenSchema = true,
        dataChange = true, operation = operation,
        pin = Some(snap),
        operationParameters = Map("mergeKeys" -> keys.mkString(",")),
        cdc = cdcFrame,
        // rebase over concurrent blind appends: the touched set is what
        // this MERGE read and removes. The materialized-view fold
        // (mergeGroups) opts out — its txn watermark must stay exact.
        readInfo = if (!rebase) None
          else Some(TxnReadInfo(touched.map(_.path).toSet,
            touched.map(_.path).toSet, txn.map(_._1).toSet)))
    }
    // the key-provenance probe is SEMANTIC, not just an optimization:
    // it keeps files without source keys live (no remove/re-add churn,
    // stable row ids, exact CDF file diffs), so it runs even when the
    // table is tiny and a blind rewrite would be cheaper
    basenameIndex(snap.files) match {
      case _ if !probeByKeys => commit(snap.fileEntries)
      case None => commit(snap.fileEntries)
      case Some(_) =>
        // the source plan evaluates twice (probe, then rewrite): persist
        // for the duration so the second pass reads the cache instead of
        // recomputing the (possibly expensive) source query. If the
        // CALLER already cached this plan, leave their entry alone —
        // persist/unpersist here would share the InMemoryRelation and
        // the unpersist would silently evict the caller's cache.
        val ownPersist =
          source.storageLevel == org.apache.spark.storage.StorageLevel.NONE
        if (ownPersist)
          source.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // no .distinct() on the source keys: a LEFT SEMI join never
          // multiplies rows, so deduping first only adds a shuffle
          val touchedNames = readEntries(spark, table, snap.fileEntries, snap.schema,
            snap.columnMappingMode, withProvenance = true)
            .withColumn("__fname", provFileName)
            .join(source.select(keys.map(col): _*), keys, "left_semi")
            .select("__fname").distinct().collect().map(_.getString(0)).toSet
          commit(snap.fileEntries.filter(e => touchedNames.contains(basename(e.path))))
        } finally { if (ownPersist) source.unpersist(false); () }
    }
  }

  /** MERGE upsert on the Delta protocol — the reference's S8 sink shape
    * (`DeltaTable.merge` with a recency guard, gold_pipeline.py:789-796)
    * on an open-format table, copy-on-write at file granularity
    * ([[mergeCore]]): matched-and-newer rows replaced, unmatched kept,
    * new keys inserted. The commit is atomic via the log rename and
    * every pre-merge version stays time-travelable. Returns the
    * committed version. */
  def mergeUpsert(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], recencyCol: String,
      txn: Option[(String, Long)] = None): Long =
    latestSnapshot(spark, table) match {
      case None => write(spark, source, table, txn = txn)
      case Some(first) =>
        val snaps = attemptSnapshots(spark, table, first)
        withDmlRetry(3) {
          mergeCore(spark, table, snaps.next(), source, keys,
            (target, src) => graft.operators.Scd2.mergedFrame(target, src, keys, recencyCol),
            txn = txn, operation = "MERGE")
        }
    }

  /** General clause-based MERGE — the reference's `DeltaTable.merge`
    * builder semantics (WHEN MATCHED [AND cond] UPDATE/DELETE, WHEN NOT
    * MATCHED [AND cond] INSERT, WHEN NOT MATCHED BY SOURCE UPDATE/
    * DELETE; first-match-wins per row class) over the same copy-on-write
    * [[mergeCore]] as [[mergeUpsert]]. `extraOn` is any ON predicate
    * beyond the key equalities. BY SOURCE clauses modify rows that have
    * NO source key, so they disable the key-provenance probe and rewrite
    * the full table — exactly Delta's behavior. Returns the committed
    * version. Build clauses directly or via [[Merge.into]]. */
  def merge(spark: SparkSession, table: String, source: DataFrame,
      keys: Seq[String], clauses: Seq[MergeClause],
      extraOn: Option[Column] = None,
      aliases: (String, String) = ("t", "s"),
      schemaEvolution: Boolean = false,
      // caller guarantees a key-distinct source — skips the
      // nondeterminism-guard aggregation (see Merge.applyClauses)
      uniqueSourceKeys: Boolean = false): Long = {
    val first = latestSnapshot(spark, table)
    require(first.nonEmpty,
      s"MERGE needs an existing Delta-protocol table at $table; write() it first")
    val snaps = attemptSnapshots(spark, table, first.get)
    val probe = !clauses.exists(c => c.isInstanceOf[MergeClause.BySourceUpdate] ||
      c.isInstanceOf[MergeClause.BySourceDelete])
    withDmlRetry(3) {
      val snap = snaps.next()
      // delta-spark's DV DML gate, same as UPDATE: a table declaring
      // delta.enableDeletionVectors=true takes the mask-and-append path
      // (O(modified rows) written, untouched neighbors never rewritten);
      // schema evolution composes — the evolved columns ride the append
      // side and existing files read null under the widened declaration.
      // Conf escape mirrors UPDATE's.
      val useDv = snap.configuration.get("delta.enableDeletionVectors")
        .contains("true") &&
        spark.conf.getOption("spark.graft.merge.useDeletionVectors")
          .forall(_.toBoolean)
      if (useDv)
        mergeDv(spark, table, snap, source, keys, clauses, extraOn, aliases,
          probe, schemaEvolution, uniqueSourceKeys)
      else
        mergeCore(spark, table, snap, source, keys,
          (target, src) => Merge.applyClauses(target, src, keys, extraOn, clauses,
            aliases._1, aliases._2, schemaEvolution, uniqueSourceKeys),
          txn = None, operation = "MERGE", probeByKeys = probe)
    }
  }

  /** Deletion-vector MERGE (delta-spark's DV DML shape, reached from
    * [[merge]] when the table declares `delta.enableDeletionVectors=
    * true`): target rows a modifying clause fires on are MASKED by
    * growing their files' deletion vectors, and ONLY the fired UPDATE
    * post-images plus fired INSERT rows are written — the untouched
    * neighbor rows of a touched file are never rewritten, or even
    * projected. A MERGE updating 0.1% of the rows in wide files
    * therefore writes O(modified rows) parquet + KB bitmaps where
    * copy-on-write rewrites O(touched file bytes) — on a 100 TB table
    * with big files, hours versus seconds. One atomic commit:
    * remove+re-add(same path, grown mask) per touched file (fully-
    * masked files just removed), post-image/insert adds, exact CDF
    * update pairs + insert/delete rows on CDF tables. The provenance
    * probe still bounds the join to files holding a source key unless
    * a BY SOURCE clause forces the full pass, exactly like Delta. */
  private def mergeDv(spark: SparkSession, table: String, snap: Snapshot,
      source: DataFrame, keys: Seq[String], clauses: Seq[MergeClause],
      extraOn: Option[Column], aliases: (String, String),
      probeByKeys: Boolean, schemaEvolution: Boolean = false,
      uniqueSourceKeys: Boolean = false): Long = {
    val candidates: Seq[FileEntry] = basenameIndex(snap.files) match {
      case _ if !probeByKeys => snap.fileEntries
      case None => snap.fileEntries
      case Some(_) =>
        // no .distinct() on the source keys: a LEFT SEMI join never
        // multiplies rows, so deduping first only adds a shuffle
        val touchedNames = readEntries(spark, table, snap.fileEntries, snap.schema,
          snap.columnMappingMode, withProvenance = true)
          .withColumn("__fname", provFileName)
          .join(source.select(keys.map(col): _*), keys, "left_semi")
          .select("__fname").distinct().collect().map(_.getString(0)).toSet
        snap.fileEntries.filter(e => touchedNames.contains(basename(e.path)))
    }
    val target = readEntries(spark, table, candidates, snap.schema,
      snap.columnMappingMode, withProvenance = true)
    val plan = Merge.applyClausesDv(target, source, keys, extraOn, clauses,
      (FpCol, RiCol), aliases._1, aliases._2, schemaEvolution,
      uniqueSourceKeys)
    try {
      val (metaByPath, results) = growDeletionVectorsFrom(spark, table, snap,
        candidates, plan.mask)
      if (results.isEmpty && plan.appends.limit(1).count() == 0L)
        return snap.version // nothing fired: no empty commits
      val touchedRel = results.map(_._1).toSet
      val touched = candidates.filter(e => touchedRel.contains(e.path))
      val dvReAdds = dvReAddActions(metaByPath, results)
      // newly-written rows recompute generated columns inside
      // commitWrite; the CDF post/insert images must show the same
      val genCols = snap.schema
        .map(_.fields.filter(_.metadata.contains(GenExprKey)).toSeq)
        .getOrElse(Seq.empty)
      def regen(df: DataFrame): DataFrame =
        genCols.foldLeft(df)((d, fl) => d.withColumn(fl.name,
          expr(fl.metadata.getString(GenExprKey)).cast(fl.dataType)))
      // allowMissingColumns: under schema evolution the pre-image and
      // delete frames lack the evolved columns — they pad to null,
      // exactly what those rows held
      val cdcFrame =
        if (!cdfEnabled(snap)) None
        else Some(
          plan.updatePre.withColumn("_change_type", lit("update_preimage"))
            .unionByName(regen(plan.updatePost)
              .withColumn("_change_type", lit("update_postimage")),
              allowMissingColumns = true)
            .unionByName(plan.deleted.withColumn("_change_type", lit("delete")),
              allowMissingColumns = true)
            .unionByName(regen(plan.inserted)
              .withColumn("_change_type", lit("insert")),
              allowMissingColumns = true))
      commitWrite(spark, plan.appends, table, snap.partitionColumns, None,
        removePaths = _ => touched.map(_.path), widenSchema = true,
        dataChange = true, operation = "MERGE",
        pin = Some(snap),
        operationParameters = Map("mergeKeys" -> keys.mkString(",")),
        cdc = cdcFrame,
        readInfo = Some(TxnReadInfo(candidates.map(_.path).toSet,
          touched.map(_.path).toSet)),
        extraActionsAt = _ => dvReAdds,
        dvUpgrade = true)
    } finally plan.release()
  }

  /** Group-replacement MERGE for maintained aggregates
    * ([[graft.maintenance.MaterializedView]]): every key in `groups`
    * REPLACES its target row — or deletes it when `deleteCol` is true —
    * and the SetTransaction offset advances in the SAME atomic commit.
    * Pinned at the caller-supplied `snap` (the snapshot the fold was
    * computed from), so two overlapping refreshes cannot both land: the
    * second fails loudly instead of double-folding the delta. */
  private[graft] def mergeGroups(spark: SparkSession, table: String,
      groups: DataFrame, keys: Seq[String], deleteCol: String,
      txn: Option[(String, Long)], snap: Snapshot): Long =
    mergeCore(spark, table, snap, groups, keys,
      (target, src) => target
        .join(src.select(keys.map(col): _*), keys, "left_anti")
        .unionByName(src.where(!col(deleteCol)).drop(deleteCol)),
      txn = txn, operation = "MERGE", rebase = false)

  /** The protocol line a DV-writing commit must carry: when the current
    * protocol does not already declare the `deletionVectors` feature,
    * upgrade to table features (reader 3 / writer 7), PRESERVING every
    * previously-declared feature and adding the legacy writer features
    * the old minWriterVersion implied — exactly the spec's upgrade rule.
    * None when the table already declares the feature. */
  private def dvProtocolUpgrade(existing: Option[String]): Option[String] = {
    val node = existing
      .map(mapper.readTree(_).asInstanceOf[ObjectNode])
      .getOrElse(mapper.readTree("""{"minReaderVersion":1,"minWriterVersion":2}""")
        .asInstanceOf[ObjectNode])
    def feats(field: String): Seq[String] =
      if (!node.has(field) || node.get(field).isNull) Seq.empty
      else {
        val it = node.get(field).elements()
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText()
        b.result()
      }
    val rf = feats("readerFeatures")
    if (rf.contains("deletionVectors")) return None
    val mwv = if (node.has("minWriterVersion")) node.get("minWriterVersion").asInt() else 2
    val legacyWriter = Seq(
      2 -> "appendOnly", 2 -> "invariants", 3 -> "checkConstraints",
      4 -> "changeDataFeed", 4 -> "generatedColumns", 5 -> "columnMapping",
      6 -> "identityColumns").collect { case (v, f) if mwv >= v && mwv < 7 => f }
    val wf = (feats("writerFeatures") ++ legacyWriter :+ "deletionVectors").distinct
    val out = mapper.createObjectNode()
    out.put("minReaderVersion", 3)
    out.put("minWriterVersion", 7)
    val rfArr = out.putArray("readerFeatures")
    (rf :+ "deletionVectors").distinct.foreach(rfArr.add)
    val wfArr = out.putArray("writerFeatures")
    wf.foreach(wfArr.add)
    Some(s"""{"protocol":${mapper.writeValueAsString(out)}}""")
  }

  /** Protocol-shaped `deletionVector` field (shared by add and remove
    * actions — a remove carries the descriptor its file had). */
  private def dvJson(d: DeletionVectors.Descriptor): String =
    s""""deletionVector":{"storageType":${jsonStr(d.storageType)},""" +
      s""""pathOrInlineDv":${jsonStr(d.pathOrInlineDv)},""" +
      d.offset.fold("")(o => s""""offset":$o,""") +
      s""""sizeInBytes":${d.sizeInBytes},"cardinality":${d.cardinality}}"""

  // ------------------------------------------------- change data feed (write)

  /** The table asked for write-time change files
    * (`delta.enableChangeDataFeed=true` — the property the reference
    * sets on every silver table,
    * /root/reference/pipelines/silver_pipeline.py:95). */
  private def cdfEnabled(snap: Snapshot): Boolean =
    snap.configuration.get("delta.enableChangeDataFeed").contains("true")

  private[graft] val ChangeDataDir = "_change_data"

  /** Stage a change frame (table columns + the protocol's literal
    * `_change_type` column) as parquet change files under
    * `_change_data/` and return the commit's `cdc` actions. Staging
    * mirrors the data path: physical column names (+ parquet field ids
    * in id mode) under column mapping, partition directories under the
    * table's physical partitioning with the values recorded on the
    * action (JSON null for a null partition value), nonce-unique names
    * so a lost-race commit's change files are invisible orphans. The
    * write is executor-parallel; the driver handles O(change files)
    * renames and action strings only. */
  private def stageCdc(spark: SparkSession, table: String, changes: DataFrame,
      snap: Snapshot): Seq[String] = {
    val f = fs(spark, table)
    val root = new Path(table)
    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val scratch = new Path(root, s".tmp-cdc-$nonce")
    val mappingMode = snap.columnMappingMode
    val staged =
      if (mappingMode == "none") changes
      else {
        val byName = snap.schema.get.fields.map(fl => fl.name -> fl).toMap
        changes.select(changes.schema.fields.toSeq.map { fld =>
          if (fld.name == "_change_type") col(fld.name)
          else {
            val declared = byName(fld.name)
            val phys = physicalType(StructType(Seq(declared)),
              fieldIds = mappingMode == "id").asInstanceOf[StructType].fields(0)
            col(fld.name).cast(phys.dataType).as(phys.name, phys.metadata)
          }
        }: _*)
      }
    val physPartitionBy =
      snap.partitionColumns.map(n => snap.columnMapping.getOrElse(n, n))
    val w = staged.write.mode("overwrite")
    (if (physPartitionBy.nonEmpty) w.partitionBy(physPartitionBy: _*) else w)
      .parquet(scratch.toString)
    val listed = f.listFiles(scratch, true)
    val actions = Seq.newBuilder[String]
    var idx = 0
    while (listed.hasNext) {
      val st = listed.next()
      if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
        val relDir = f.makeQualified(scratch).toUri
          .relativize(st.getPath.getParent.toUri).getPath.stripSuffix("/")
        val pv = relDir.split("/").filter(_.contains("=")).map { seg =>
          val Array(k, v) = seg.split("=", 2)
          k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null
                else java.net.URLDecoder.decode(v, "UTF-8"))
        }.toMap
        val destRel = s"$ChangeDataDir/" +
          (if (relDir.isEmpty) "" else relDir + "/") +
          f"cdc-$idx%05d-$nonce.snappy.parquet"
        idx += 1
        val dest = new Path(root, destRel)
        f.mkdirs(dest.getParent)
        require(f.rename(st.getPath, dest), s"cdc stage move failed: $dest")
        actions += s"""{"cdc":{"path":${jsonStr(destRel)},""" +
          s""""partitionValues":${pvJsonOf(pv)},""" +
          s""""size":${f.getFileStatus(dest).getLen},"dataChange":false}}"""
      }
    }
    f.delete(scratch, true)
    actions.result()
  }

  /** MERGE's change frame: the exact row-level diff of the rewritten
    * files, classified CDF-style by joining old and new on `keys` —
    * identical rows (copy-on-write carries of untouched neighbors)
    * produce NO event, so the change files describe only net changes.
    * Returns None when keys are not unique on a side (a raw upsert
    * target may hold duplicates): the commit then carries no cdc
    * actions and readers reconstruct from the file diff — still exact
    * for folds, just file-granular. Cost: two key-uniqueness
    * aggregations + one keyed join over the O(touched) delta, paid only
    * when the table enables CDF. */
  private def mergeCdc(old: DataFrame, nw: DataFrame,
      keys: Seq[String]): Option[DataFrame] = {
    if (keys.isEmpty) return None
    val outCols = nw.columns.toSeq
    val oldAligned = old.select(outCols.map(c =>
      if (old.columns.contains(c)) col(c)
      else lit(null).cast(nw.schema(c).dataType).as(c)): _*)
    def hasDupes(df: DataFrame) = df.groupBy(keys.map(col): _*)
      .count().where(col("count") > 1).limit(1).count() > 0
    if (hasDupes(oldAligned) || hasDupes(nw)) return None
    val cols = outCols.filterNot(keys.contains)
    def side(df: DataFrame, as: String) =
      df.select(keys.map(col) :+ struct(cols.map(col): _*).as(as): _*)
    val j = side(oldAligned, "__old").join(side(nw, "__new"), keys, "full_outer")
    def ev(row: Column, t: String) = struct(row.as("row"), lit(t).as("t"))
    val none = slice(array(ev(col("__new"), "")), 1, 0)
    val events = j.select(keys.map(col) :+ explode(
      when(col("__old").isNull, array(ev(col("__new"), "insert")))
        .when(col("__new").isNull, array(ev(col("__old"), "delete")))
        .when(col("__old") <=> col("__new"), none)
        .otherwise(array(ev(col("__old"), "update_preimage"),
          ev(col("__new"), "update_postimage")))).as("__e"): _*)
    Some(events.select(keys.map(col) ++
      cols.map(n => col(s"__e.row.$n").as(n)) :+
      col("__e.t").as("_change_type"): _*))
  }

  /** Protocol line a cdc-writing commit must carry when the table's
    * protocol predates the feature: CDF is a WRITER feature — legacy
    * minWriterVersion 4, or the `changeDataFeed` entry under table
    * features. None when already declared. */
  private def cdfProtocolUpgrade(existing: Option[String]): Option[String] = {
    val node = existing
      .map(mapper.readTree(_).asInstanceOf[ObjectNode])
      .getOrElse(mapper.readTree("""{"minReaderVersion":1,"minWriterVersion":2}""")
        .asInstanceOf[ObjectNode])
    val mwv = if (node.has("minWriterVersion")) node.get("minWriterVersion").asInt() else 2
    if (mwv >= 7) {
      val wf = node.get("writerFeatures")
      val have = wf != null && !wf.isNull && {
        val it = wf.elements()
        var found = false
        while (it.hasNext && !found) found = it.next().asText() == "changeDataFeed"
        found
      }
      if (have) None
      else {
        val out = node.deepCopy()
        val arr =
          if (out.has("writerFeatures") && out.get("writerFeatures").isArray)
            out.get("writerFeatures").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
          else out.putArray("writerFeatures")
        arr.add("changeDataFeed")
        Some(s"""{"protocol":${mapper.writeValueAsString(out)}}""")
      }
    } else if (mwv >= 4) None
    else {
      val out = node.deepCopy()
      out.put("minWriterVersion", 4)
      Some(s"""{"protocol":${mapper.writeValueAsString(out)}}""")
    }
  }

  // ------------------------------------------- in-commit timestamps
  // (writer feature `inCommitTimestamp`, minWriterVersion 7: when
  // `delta.enableInCommitTimestamps=true` every commit's commitInfo
  // carries a MONOTONIC logical clock, and timestamp time travel
  // resolves against it instead of file modification times — which
  // rsync, backup-restore, or object-store migration scramble)

  private[graft] val IctEnableKey = "delta.enableInCommitTimestamps"

  // ------------------------------------------------- row tracking
  // (writer feature `rowTracking` + its `domainMetadata` dependency):
  // every add action carries `baseRowId`/`defaultRowCommitVersion`,
  // fresh ranges allocated from the `delta.rowTracking` domain's
  // rowIdHighWaterMark in the same commit; a row's id is
  // baseRowId + its physical position. DV deletes and RESTORE preserve
  // the fields (no bytes move); copy-on-write rewrites re-number (the
  // protocol's fresh-row semantics absent materialized row-id columns),
  // and dataChange=false rewrites refuse rather than silently
  // re-numbering rows OPTIMIZE must keep stable.
  private[graft] val RowTrackingKey = "delta.enableRowTracking"
  private[graft] val RowTrackingDomain = "delta.rowTracking"

  /** The `,"inCommitTimestamp":N` fragment for a commitInfo about to be
    * written at `version` (empty when the feature is off). N is
    * `max(now, previous commit's clock + 1)` — strictly monotonic even
    * when the wall clock steps backwards. A vacuumed predecessor falls
    * back to wall time (the checkpointed prefix is pre-enablement or
    * already monotone). */
  private def ictValue(spark: SparkSession, table: String, version: Long,
      cfg: scala.collection.Map[String, String], now: Long): Option[Long] =
    if (!cfg.get(IctEnableKey).contains("true")) None
    else {
      val f = fs(spark, table)
      val prev =
        if (version == 0L) 0L
        else try readCommit(f, table, version - 1).collectFirst {
          case a if a.has("commitInfo") => a.get("commitInfo")
        }.map { ci =>
          if (ci.has("inCommitTimestamp")) ci.get("inCommitTimestamp").asLong()
          else if (ci.has("timestamp")) ci.get("timestamp").asLong()
          else 0L
        }.getOrElse(0L)
        catch { case scala.util.control.NonFatal(_) => 0L }
      Some(math.max(now, prev + 1))
    }

  // ------------------------------------------------- type widening
  // (table feature `typeWidening`, reader+writer: a column's type may
  // WIDEN in place — the old narrow parquet files read under the
  // widened schema with zero rewrite; verified against this Spark
  // build's parquet reader for every pair below)

  private[graft] val TypeWideningKey = "delta.enableTypeWidening"

  /** Safe in-place widenings: integer chain, float→double, int→double
    * (exact to 2^53 — the same loss contract Delta accepts), and
    * date→timestamp_ntz. Decimal precision changes are excluded
    * (scale semantics are not a plain reader widening). */
  private def canWiden(from: DataType, to: DataType): Boolean = (from, to) match {
    case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
    case (ShortType, IntegerType | LongType | DoubleType) => true
    case (IntegerType, LongType | DoubleType) => true
    case (FloatType, DoubleType) => true
    case (DateType, TimestampNTZType) => true
    case _ => false
  }

  /** Record a widening in the field's `delta.typeChanges` metadata —
    * the protocol's provenance trail (fromType/toType/tableVersion). */
  private def typeChangeMeta(p: StructField, to: DataType, v: Long): Metadata = {
    val prior: Array[Metadata] =
      if (p.metadata.contains("delta.typeChanges"))
        p.metadata.getMetadataArray("delta.typeChanges")
      else Array.empty
    val entry = new MetadataBuilder()
      .putString("fromType", p.dataType.typeName)
      .putString("toType", to.typeName)
      .putLong("tableVersion", v).build()
    new MetadataBuilder().withMetadata(p.metadata)
      .putMetadataArray("delta.typeChanges", prior :+ entry).build()
  }

  /** Protocol action adding the `typeWidening` table feature on BOTH
    * sides (a pre-feature reader would misparse narrow files under the
    * widened schema). None when already present. */
  private def twProtocolUpgrade(existing: Option[String]): Option[String] =
    readerWriterFeatureUpgrade(existing, "typeWidening")

  /** Does the schema carry a VARIANT anywhere (incl. nested)? */
  private def containsVariant(schema: StructType): Boolean = {
    def hv(dt: DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.VariantType => true
      case s: StructType => s.fields.exists(f => hv(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hv(a.elementType)
      case m: org.apache.spark.sql.types.MapType =>
        hv(m.keyType) || hv(m.valueType)
      case _ => false
    }
    schema.fields.exists(f => hv(f.dataType))
  }

  /** Protocol action adding `feature` as a READER+WRITER table feature
    * (minReaderVersion 3 / minWriterVersion 7), spelling out the legacy
    * features the OLD versions implied on both sides. None when already
    * present. */
  private def readerWriterFeatureUpgrade(existing: Option[String],
      feature: String): Option[String] = {
    val node = existing
      .map(mapper.readTree(_).asInstanceOf[ObjectNode])
      .getOrElse(mapper.readTree("""{"minReaderVersion":1,"minWriterVersion":2}""")
        .asInstanceOf[ObjectNode])
    def feats(field: String): Seq[String] =
      if (!node.has(field) || node.get(field).isNull) Seq.empty
      else {
        val it = node.get(field).elements()
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText()
        b.result()
      }
    if (feats("readerFeatures").contains(feature)) return None
    val mwv = if (node.has("minWriterVersion")) node.get("minWriterVersion").asInt() else 2
    val legacyWriter = Seq(
      2 -> "appendOnly", 2 -> "invariants", 3 -> "checkConstraints",
      4 -> "changeDataFeed", 4 -> "generatedColumns", 5 -> "columnMapping",
      6 -> "identityColumns").collect { case (v, f) if mwv >= v && mwv < 7 => f }
    val wf = (feats("writerFeatures") ++ legacyWriter :+ feature).distinct
    // bumping minReaderVersion to 3 switches readers to feature
    // enumeration: legacy reader features implied by the OLD version
    // must be spelled out (columnMapping at mrv>=2), mirroring
    // legacyWriter — otherwise readers would stop enforcing them
    val mrv = if (node.has("minReaderVersion")) node.get("minReaderVersion").asInt() else 1
    val legacyReader =
      Seq(2 -> "columnMapping").collect { case (v, f) if mrv >= v && mrv < 3 => f }
    val out = mapper.createObjectNode()
    out.put("minReaderVersion", 3)
    out.put("minWriterVersion", 7)
    val rfArr = out.putArray("readerFeatures")
    (feats("readerFeatures") ++ legacyReader :+ feature).distinct.foreach(rfArr.add)
    val wfArr = out.putArray("writerFeatures")
    wf.foreach(wfArr.add)
    Some(s"""{"protocol":${mapper.writeValueAsString(out)}}""")
  }

  /** Protocol action upgrading the table to carry the given WRITER
    * features (None when all already present): minWriterVersion 7 with
    * the legacy writer features spelled out, reader side untouched. */
  private def writerFeatureUpgrade(existing: Option[String],
      features: Seq[String]): Option[String] = {
    val node = existing
      .map(mapper.readTree(_).asInstanceOf[ObjectNode])
      .getOrElse(mapper.readTree("""{"minReaderVersion":1,"minWriterVersion":2}""")
        .asInstanceOf[ObjectNode])
    def feats(field: String): Seq[String] =
      if (!node.has(field) || node.get(field).isNull) Seq.empty
      else {
        val it = node.get(field).elements()
        val b = Seq.newBuilder[String]
        while (it.hasNext) b += it.next().asText()
        b.result()
      }
    if (features.forall(feats("writerFeatures").contains)) return None
    val mwv = if (node.has("minWriterVersion")) node.get("minWriterVersion").asInt() else 2
    val legacyWriter = Seq(
      2 -> "appendOnly", 2 -> "invariants", 3 -> "checkConstraints",
      4 -> "changeDataFeed", 4 -> "generatedColumns", 5 -> "columnMapping",
      6 -> "identityColumns").collect { case (v, f) if mwv >= v && mwv < 7 => f }
    val wf = (feats("writerFeatures") ++ legacyWriter ++ features).distinct
    val out = node.deepCopy()
    out.put("minWriterVersion", 7)
    val wfArr = out.putArray("writerFeatures")
    wf.foreach(wfArr.add)
    Some(s"""{"protocol":${mapper.writeValueAsString(out)}}""")
  }

  private def ictProtocolUpgrade(existing: Option[String]): Option[String] =
    writerFeatureUpgrade(existing, Seq("inCommitTimestamp"))

  /** Upsert (or tombstone) one metadata domain — the protocol's
    * `domainMetadata` action (writer feature v7): system and user
    * domains attach name-spaced configuration to the table that
    * survives checkpoints and replay; `delta.clustering` is the domain
    * liquid clustering declares its columns in. One commit; last
    * writer per domain wins. */
  def setDomainMetadata(spark: SparkSession, table: String, domain: String,
      configuration: String, removed: Boolean = false): Long = {
    val snap = snapshot(spark, table)
    if (!removed) mapper.readTree(configuration) // must be valid JSON
    Txn.commit(spark, table, Some(snap), "SET DOMAIN METADATA",
      writerFeatureUpgrade(snap.protocolJson, Seq("domainMetadata")).toSeq :+
        (s"""{"domainMetadata":{"domain":${jsonStr(domain)},""" +
          s""""configuration":${jsonStr(configuration)},"removed":$removed}}"""))
  }

  /** RESTORE TABLE … TO VERSION AS OF `version`: make the current state
    * equal the state at `version` via ONE new commit — remove the files
    * the target lacks, re-add the files the target had (original
    * partitionValues/stats/DV descriptors, and the target's metaData
    * when the declaration changed since). History is PRESERVED: the
    * restore is itself a commit, every intermediate version stays
    * time-travelable, and a change-feed consumer folding the restore
    * commit lands exactly on the restored state. Refuses when a needed
    * file was already vacuumed. O(diff) driver work, metadata-only
    * (no data file is read or written). */
  def restore(spark: SparkSession, table: String, version: Long): Long = {
    import spark.implicits._
    val log = logSegment(fs(spark, table), table)
    val cur = snapshotAt(spark, table, log)
    if (version == cur.version) return cur.version
    val tgt = snapshotAt(spark, table, log, Some(version))
    // diff at (path, descriptor) granularity: same path under a different
    // DV must be re-added under the target's descriptor
    val curBy = cur.fileEntries.map(e => e.path -> e.dv).toMap
    val tgtBy = tgt.fileEntries.map(e => e.path -> e.dv).toMap
    val removes = cur.fileEntries.filterNot(e => tgtBy.get(e.path).contains(e.dv))
    val readds = tgt.fileEntries.filterNot(e => curBy.get(e.path).contains(e.dv))
    val metaChanged = tgt.metaDataJson != cur.metaDataJson
    if (removes.isEmpty && readds.isEmpty && !metaChanged) return cur.version
    require(removes.isEmpty ||
        !cur.configuration.get("delta.appendOnly").contains("true"),
      s"table $table is append-only (delta.appendOnly=true): RESTORE would " +
        "remove files — refused")
    val f = fs(spark, table)
    readds.foreach { e =>
      require(f.exists(new Path(table, e.path)),
        s"RESTORE of $table to version $version impossible: data file " +
          s"${e.path} was vacuumed")
      // a re-added file's DV sidecar must also still exist: committing a
      // descriptor whose deletion_vector_*.bin was vacuumed would make
      // every later read of the restored version fail (or over-include
      // the supposedly-deleted rows if swallowed)
      e.dv.foreach { d =>
        val p = d.storageType match {
          case "u" => Some(DeletionVectors.sidecarPath(table, d.pathOrInlineDv))
          case "p" => Some(new Path(d.pathOrInlineDv))
          case _ => None // "i": inline, nothing on disk
        }
        p.foreach(sp => require(f.exists(sp),
          s"RESTORE of $table to version $version impossible: deletion-vector " +
            s"sidecar $sp for ${e.path} was vacuumed"))
      }
    }
    val metaByPath: Map[String, Row] =
      if (readds.isEmpty) Map.empty
      else tgt.allFiles
        .join(broadcast(readds.map(_.path).toDF("path")), Seq("path"))
        .select("path", "partitionValues", "size", "modificationTime", "stats",
          "baseRowId", "defaultRowCommitVersion")
        .collect().map(r => r.getString(0) -> r).toMap
    val now = System.currentTimeMillis()
    val actions = Seq.newBuilder[String]
    if (metaChanged) tgt.metaDataJson.foreach(m => actions += s"""{"metaData":$m}""")
    removes.foreach { e =>
      val dvField = e.dv.fold("")(d => "," + dvJson(d))
      val szField = if (e.size < 0) "" else s""","size":${e.size}"""
      actions += s"""{"remove":{"path":${jsonStr(e.path)},"deletionTimestamp":$now,"dataChange":true$szField$dvField}}"""
    }
    readds.foreach { e =>
      val m = metaByPath(e.path)
      val pv = Option(m.getMap[String, String](1)).getOrElse(Map.empty[String, String])
      val pvJson = pvJsonOf(pv)
      val statsField =
        Option(m.getString(4)).fold("")(s => s""","stats":${jsonStr(s)}""")
      val dvField = e.dv.fold("")(d => "," + dvJson(d))
      // restore re-adds keep the target version's row-tracking fields
      val rtField =
        if (m.isNullAt(5)) ""
        else s""","baseRowId":${m.getLong(5)},"defaultRowCommitVersion":${m.getLong(6)}"""
      actions += s"""{"add":{"path":${jsonStr(e.path)},"partitionValues":$pvJson,""" +
        s""""size":${if (m.isNullAt(2)) 0L else m.getLong(2)},""" +
        s""""modificationTime":${if (m.isNullAt(3)) now else m.getLong(3)},""" +
        s""""dataChange":true$dvField$statsField$rtField}}"""
    }
    Txn.commit(spark, table, Some(cur), "RESTORE", actions.result(), now = now)
  }

  // ------------------------------------------------------------------ DDL

  /** One metadata-only commit: the current declaration, mutated —
    * pinned at `snap` (a racing writer fails loudly). The
    * shape behind CREATE-less DDL verbs (ADD COLUMNS, TBLPROPERTIES). */
  private def commitMetaData(spark: SparkSession, snap: Snapshot, table: String,
      operation: String, extraActions: Seq[String] = Nil)
      (mutate: ObjectNode => Unit): Long = {
    val meta = snap.metaDataJson
      .map(mapper.readTree(_).asInstanceOf[ObjectNode].deepCopy())
      .getOrElse(mapper.createObjectNode())
    if (!meta.has("id")) meta.put("id", java.util.UUID.randomUUID().toString)
    if (!meta.has("format")) {
      val fmt = meta.putObject("format")
      fmt.put("provider", "parquet"); fmt.putObject("options")
    }
    if (!meta.has("partitionColumns")) {
      val pc = meta.putArray("partitionColumns")
      snap.partitionColumns.foreach(pc.add)
    }
    if (!meta.has("configuration")) meta.putObject("configuration")
    if (!meta.has("createdTime")) meta.put("createdTime", System.currentTimeMillis())
    mutate(meta)
    val now = System.currentTimeMillis()
    // in-commit timestamps: read the flag from the MUTATED configuration
    // (this very commit may be the one enabling it — per spec, the
    // enablement commit itself must carry the first clock, the writer
    // feature, and the enablement-provenance properties)
    val cfgNode = meta.get("configuration")
    val ictOn = cfgNode != null && cfgNode.has(IctEnableKey) &&
      cfgNode.get(IctEnableKey).asText() == "true"
    val wasOn = snap.configuration.get(IctEnableKey).contains("true")
    // the clock the commit will carry (a pinned commit never rebases, so
    // its version is fixed): Txn.commitInfo recomputes it from the same `now`
    if (ictOn && !wasOn) {
      val cn = cfgNode.asInstanceOf[ObjectNode]
      cn.put("delta.inCommitTimestampEnablementVersion", (snap.version + 1).toString)
      cn.put("delta.inCommitTimestampEnablementTimestamp",
        ictValue(spark, table, snap.version + 1, Map(IctEnableKey -> "true"), now).get.toString)
    }
    val protoUp = if (!ictOn) None else ictProtocolUpgrade(snap.protocolJson)
    Txn.commit(spark, table, Some(snap), operation, protoUp.toSeq ++ Seq(
      s"""{"metaData":${mapper.writeValueAsString(meta)}}""") ++ extraActions, now = now)
  }

  private def containsStructType(dt: DataType): Boolean = dt match {
    case _: StructType => true
    case a: ArrayType => containsStructType(a.elementType)
    case m: MapType => containsStructType(m.keyType) || containsStructType(m.valueType)
    case _ => false
  }

  /** CREATE TABLE: declare schema, partitioning, and properties as
    * commit 0 — metadata only, zero data files (the reference's DDL-first
    * star schema, /root/reference/databricks_DW/02_create_tables.sql:9-184,
    * creates every gold table before any pipeline writes it). Under a
    * `delta.columnMapping.mode` property every column gets a minted
    * physicalName/columnId and the protocol declares the legacy
    * column-mapping versions (2/5), like Delta's create-with-mapping.
    * Refuses when the table already exists. */
  def createTable(spark: SparkSession, table: String, schema: StructType,
      partitionBy: Seq[String] = Seq.empty,
      properties: Map[String, String] = Map.empty,
      clusterBy: Seq[String] = Seq.empty): Long = {
    require(!isDeltaTable(spark, table), s"CREATE TABLE: already exists: $table")
    val bad = partitionBy.filterNot(schema.fieldNames.contains)
    require(bad.isEmpty,
      s"PARTITIONED BY references unknown columns: ${bad.mkString(",")}")
    val badC = clusterBy.filterNot(schema.fieldNames.contains)
    require(badC.isEmpty,
      s"CLUSTER BY references unknown columns: ${badC.mkString(",")}")
    require(clusterBy.isEmpty || partitionBy.isEmpty,
      "CLUSTER BY and PARTITIONED BY are mutually exclusive (Delta's rule: " +
        "liquid clustering replaces hive partitioning)")
    require(clusterBy.size <= 4,
      s"CLUSTER BY supports at most 4 columns (Delta's own limit; one " +
        s"range key or a 2-4-D Morton key feed OPTIMIZE's clustering): " +
        clusterBy.mkString(","))
    val f = fs(spark, table)
    f.mkdirs(logDir(table))
    val mode = properties.getOrElse("delta.columnMapping.mode", "none")
    require(mode == "none" || mode == "name" || mode == "id",
      s"unsupported delta.columnMapping.mode: $mode")
    val (declared, cfg) =
      if (mode == "none") (schema, properties)
      else {
        schema.fields.foreach(fl => require(!containsStructType(fl.dataType),
          s"CREATE TABLE with column mapping: nested-struct column " +
            s"'${fl.name}' needs per-field ids (unsupported)"))
        val minted = StructType(schema.fields.zipWithIndex.map { case (fl, i) =>
          fl.copy(metadata = new MetadataBuilder().withMetadata(fl.metadata)
            .putLong(FieldIdKey, i + 1L)
            .putString(PhysNameKey, s"col-${java.util.UUID.randomUUID()}")
            .build())
        })
        (minted,
          properties + ("delta.columnMapping.maxColumnId" -> schema.fields.length.toString))
      }
    // writer features raise the legacy writer version they map to
    // (4 = generatedColumns, 5 = columnMapping, 6 = identityColumns);
    // the declared protocol is the max the schema demands
    val hasGen = schema.fields.exists(_.metadata.contains(GenExprKey))
    val hasIdent = schema.fields.exists(_.metadata.contains(IdStartKey))
    val hasDefault = schema.fields.exists(_.metadata.contains(DefaultKey))
    schema.fields.filter(_.metadata.contains(GenExprKey)).foreach { fl =>
      require(!fl.metadata.contains(IdStartKey),
        s"column ${fl.name} cannot be both generated and identity")
      // parse now: a typo'd expression must refuse at CREATE, not at
      // the first write
      spark.sessionState.sqlParser.parseExpression(
        fl.metadata.getString(GenExprKey))
    }
    schema.fields.filter(_.metadata.contains(DefaultKey)).foreach { fl =>
      require(!fl.metadata.contains(GenExprKey) &&
          !fl.metadata.contains(IdStartKey),
        s"column ${fl.name} cannot combine DEFAULT with generated/identity")
      spark.sessionState.sqlParser.parseExpression(
        fl.metadata.getString(DefaultKey))
    }
    schema.fields.filter(_.metadata.contains(IdStartKey)).foreach { fl =>
      require(fl.dataType == LongType,
        s"identity column ${fl.name} must be BIGINT, is ${fl.dataType.simpleString}")
    }
    val minWriter = Seq(2, if (hasGen) 4 else 2, if (mode != "none") 5 else 2,
      if (hasIdent) 6 else 2).max
    val minReader = if (mode == "none") 1 else 2
    // feature-bearing creations upgrade the declared protocol directly
    // (one protocol action): in-commit timestamps, clustering domains
    var proto =
      s"""{"protocol":{"minReaderVersion":$minReader,"minWriterVersion":$minWriter}}"""
    def innerOf(a: String): String =
      mapper.writeValueAsString(mapper.readTree(a).get("protocol"))
    if (properties.get(IctEnableKey).contains("true"))
      ictProtocolUpgrade(Some(innerOf(proto))).foreach(proto = _)
    if (clusterBy.nonEmpty)
      writerFeatureUpgrade(Some(innerOf(proto)),
        Seq("domainMetadata", "clustering")).foreach(proto = _)
    if (hasDefault)
      writerFeatureUpgrade(Some(innerOf(proto)),
        Seq("allowColumnDefaults")).foreach(proto = _)
    val meta = mapper.createObjectNode()
    meta.put("id", java.util.UUID.randomUUID().toString)
    val fmt = meta.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    meta.put("schemaString", declared.json)
    val pc = meta.putArray("partitionColumns")
    partitionBy.foreach(pc.add)
    val cfgNode = meta.putObject("configuration")
    cfg.foreach { case (k, v) => cfgNode.put(k, v) }
    meta.put("createdTime", System.currentTimeMillis())
    val clusterAction: Seq[String] =
      if (clusterBy.isEmpty) Seq.empty
      else {
        val cols = clusterBy.map(c => s"""[${jsonStr(c)}]""").mkString("[", ",", "]")
        Seq(s"""{"domainMetadata":{"domain":"delta.clustering",""" +
          s""""configuration":${jsonStr(s"""{"clusteringColumns":$cols}""")},""" +
          s""""removed":false}}""")
      }
    Txn.commit(spark, table, None, "CREATE TABLE", Seq(proto,
      s"""{"metaData":${mapper.writeValueAsString(meta)}}""") ++ clusterAction)
  }

  /** ALTER TABLE … CLUSTER BY (…): re-declare the clustering columns
    * (or NONE with an empty list — the domain is tombstoned). Layout
    * changes take effect at the next OPTIMIZE; no data moves here. */
  def alterClusterBy(spark: SparkSession, table: String,
      clusterBy: Seq[String]): Long = {
    val snap = snapshot(spark, table)
    val prev = snap.schema.getOrElse(sys.error(s"no schema declared for $table"))
    val bad = clusterBy.filterNot(prev.fieldNames.contains)
    require(bad.isEmpty, s"CLUSTER BY references unknown columns: ${bad.mkString(",")}")
    require(clusterBy.size <= 4,
      s"CLUSTER BY supports at most 4 columns (Delta's own limit): " +
        clusterBy.mkString(","))
    require(snap.partitionColumns.isEmpty,
      s"CLUSTER BY on a hive-partitioned table refused (mutually exclusive)")
    if (clusterBy.isEmpty)
      setDomainMetadata(spark, table, "delta.clustering", "{}", removed = true)
    else {
      val cols = clusterBy.map(c => s"""[${jsonStr(c)}]""").mkString("[", ",", "]")
      setDomainMetadata(spark, table, "delta.clustering",
        s"""{"clusteringColumns":$cols}""")
    }
  }

  /** ALTER TABLE … ADD COLUMNS: metadata-only schema evolution — the
    * reference's own migration shape (`ALTER TABLE dim_eater ADD COLUMNS
    * (updated_at TIMESTAMP)`,
    * /root/reference/databricks_DW/02_create_tables.sql:187-189).
    * Existing files simply surface null for the new columns; no data is
    * touched. Column-mapped tables mint a physicalName/columnId per new
    * column, exactly like widening-append evolution. */
  def alterAddColumns(spark: SparkSession, table: String,
      newCols: StructType): Long = {
    val snap = snapshot(spark, table)
    val prev = snap.schema.getOrElse(
      sys.error(s"ALTER TABLE: no schema declared for $table"))
    val clash = newCols.fieldNames.filter(prev.fieldNames.contains)
    require(clash.isEmpty,
      s"ADD COLUMNS: already present in $table: ${clash.mkString(",")}")
    val mode = snap.columnMappingMode
    val minted: Seq[StructField] =
      if (mode == "none") newCols.fields.toSeq
      else {
        newCols.fields.foreach(fl => require(!containsStructType(fl.dataType),
          s"ADD COLUMNS on a column-mapped table: nested-struct column " +
            s"'${fl.name}' needs per-field ids (unsupported)"))
        val usedIds = prev.fields.collect {
          case fl if fl.metadata.contains(FieldIdKey) => fl.metadata.getLong(FieldIdKey)
        } ++ snap.configuration.get("delta.columnMapping.maxColumnId").map(_.toLong)
        val base = if (usedIds.isEmpty) 0L else usedIds.max
        newCols.fields.toSeq.zipWithIndex.map { case (fl, i) =>
          fl.copy(metadata = new MetadataBuilder().withMetadata(fl.metadata)
            .putLong(FieldIdKey, base + i + 1)
            .putString(PhysNameKey, s"col-${java.util.UUID.randomUUID()}")
            .build())
        }
      }
    val declared = minted.foldLeft(prev)((s, fl) => s.add(fl))
    commitMetaData(spark, snap, table, "ADD COLUMNS") { meta =>
      meta.put("schemaString", declared.json)
      if (mode != "none") {
        val cfgNode =
          if (meta.has("configuration") && meta.get("configuration").isObject)
            meta.get("configuration").asInstanceOf[ObjectNode]
          else meta.putObject("configuration")
        cfgNode.put("delta.columnMapping.maxColumnId",
          minted.map(_.metadata.getLong(FieldIdKey)).max.toString)
      }
    }
  }

  /** ALTER TABLE … ALTER COLUMN c SET DEFAULT expr / DROP DEFAULT:
    * attach (or remove) the column's CURRENT_DEFAULT. Per the spec,
    * this affects FUTURE writes only — existing rows are never
    * backfilled (the defining difference from ADD COLUMN backfill
    * semantics, which Delta refuses for exactly this reason). The SET
    * commit carries the `allowColumnDefaults` writer-feature upgrade
    * when the protocol lacks it. */
  def alterColumnDefault(spark: SparkSession, table: String,
      colName: String, default: Option[String]): Long = {
    val snap = snapshot(spark, table)
    val prev = snap.schema.getOrElse(
      sys.error(s"ALTER COLUMN: no schema declared for $table"))
    val fl = prev.fields.find(_.name == colName).getOrElse(
      sys.error(s"ALTER COLUMN: no column $colName in $table"))
    default.foreach { d =>
      require(!fl.metadata.contains(GenExprKey) &&
          !fl.metadata.contains(IdStartKey),
        s"column $colName cannot combine DEFAULT with generated/identity")
      spark.sessionState.sqlParser.parseExpression(d)
    }
    val md = new MetadataBuilder().withMetadata(fl.metadata)
    default match {
      case Some(d) => md.putString(DefaultKey, d)
      case None => md.remove(DefaultKey)
    }
    val declared = StructType(prev.fields.map(f =>
      if (f.name == colName) f.copy(metadata = md.build()) else f))
    val upgrade: Seq[String] =
      if (default.isEmpty) Nil
      else writerFeatureUpgrade(snap.protocolJson,
        Seq("allowColumnDefaults")).toSeq
    commitMetaData(spark, snap, table,
      if (default.isDefined) "SET DEFAULT" else "DROP DEFAULT",
      extraActions = upgrade) { meta =>
      meta.put("schemaString", declared.json)
    }
  }

  /** ALTER TABLE … SET TBLPROPERTIES: merge `props` into the table
    * configuration — how a user enables CDF, appendOnly, or CHECK
    * constraints on a live table; writers enforce from the next commit.
    * Column-mapping-mode migration of existing data is refused. */
  def alterSetProperties(spark: SparkSession, table: String,
      props: Map[String, String]): Long = {
    val snap = snapshot(spark, table)
    props.get("delta.columnMapping.mode").foreach { m =>
      require(m == snap.columnMappingMode,
        s"cannot migrate column mapping mode of $table from " +
          s"'${snap.columnMappingMode}' to '$m' — existing files would need " +
          "rewritten metadata (unsupported); declare the mode at CREATE TABLE")
    }
    commitMetaData(spark, snap, table, "SET TBLPROPERTIES") { meta =>
      val cfgNode =
        if (meta.has("configuration") && meta.get("configuration").isObject)
          meta.get("configuration").asInstanceOf[ObjectNode]
        else meta.putObject("configuration")
      props.foreach { case (k, v) => cfgNode.put(k, v) }
    }
  }

  /** ALTER TABLE … UNSET TBLPROPERTIES. */
  def alterUnsetProperties(spark: SparkSession, table: String,
      keys: Seq[String]): Long = {
    val snap = snapshot(spark, table)
    keys.foreach(k => require(!k.startsWith("delta.columnMapping."),
      s"cannot unset $k — column-mapping state is load-bearing for every file"))
    commitMetaData(spark, snap, table, "UNSET TBLPROPERTIES") { meta =>
      if (meta.has("configuration") && meta.get("configuration").isObject) {
        val cfgNode = meta.get("configuration").asInstanceOf[ObjectNode]
        keys.foreach(cfgNode.remove)
      }
    }
  }

  /** Column names referenced by the table's CHECK constraints and
    * generation expressions (lowercased, top-level attribute heads) —
    * the columns a rename/drop must not silently break. */
  private def referencedColumns(spark: SparkSession, snap: Snapshot): Set[String] = {
    val exprs =
      snap.configuration.collect {
        case (k, v) if k.startsWith("delta.constraints.") => v
      } ++
      snap.schema.map(_.fields.collect {
        case fl if fl.metadata.contains(GenExprKey) => fl.metadata.getString(GenExprKey)
      }.toSeq).getOrElse(Seq.empty)
    exprs.flatMap { e =>
      spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.map(_.toLowerCase)
      }.flatten
    }.toSet
  }

  /** `ALTER TABLE … ALTER COLUMN c TYPE t`: EXPLICIT in-place type
    * widening (delta-spark's DDL spelling of the append-time evolution
    * path) — one metadata-only commit re-declaring the column at the
    * wider type with `delta.typeChanges` provenance and the
    * `typeWidening` protocol upgrade. Requires
    * `delta.enableTypeWidening=true` (delta-spark's own gate);
    * narrowings and non-widening changes refuse; same-type is a no-op.
    * Zero files rewritten — old narrow files read upcast. */
  def alterColumnType(spark: SparkSession, table: String,
      column: String, to: DataType): Long = {
    val snap = snapshot(spark, table)
    val prev = snap.schema.getOrElse(
      sys.error(s"ALTER COLUMN: no schema declared for $table"))
    val idx = prev.fieldNames.indexOf(column)
    require(idx >= 0, s"ALTER COLUMN: no column '$column' in $table")
    val p = prev.fields(idx)
    if (DataType.equalsStructurally(p.dataType, to, ignoreNullability = true))
      return snap.version
    require(snap.configuration.get(TypeWideningKey).contains("true"),
      s"ALTER COLUMN TYPE needs $TypeWideningKey=true on $table")
    require(canWiden(p.dataType, to),
      s"ALTER COLUMN: ${p.dataType.simpleString} -> ${to.simpleString} " +
        "is not a supported widening")
    require(snap.columnMappingMode == "none",
      s"ALTER COLUMN TYPE on column-mapped $table is unsupported " +
        "(widening is bypassed for mapped tables in this writer)")
    require(!snap.partitionColumns.contains(column),
      s"ALTER COLUMN: '$column' is a partition column — partition values " +
        "are directory-encoded strings; widening them is not supported")
    val fldNew = p.copy(dataType = to,
      metadata = typeChangeMeta(p, to, snap.version + 1))
    val declared = StructType(prev.fields.updated(idx, fldNew))
    commitMetaData(spark, snap, table, "CHANGE COLUMN",
      extraActions = twProtocolUpgrade(snap.protocolJson).toSeq) { meta =>
      meta.put("schemaString", declared.json)
    }
  }

  /** ALTER TABLE … RENAME COLUMN — metadata-only, and only possible
    * UNDER COLUMN MAPPING: the data files are keyed by the stable
    * physicalName/columnId, so re-declaring the logical name in
    * schemaString renames the column for every file, past and future,
    * without touching a byte of data (Delta's own precondition for
    * RENAME). Without mapping, files are bound to the old name and a
    * rename would null the column — refused. Partition columns rename
    * too (partitionColumns speaks logical names; the directory layout
    * and partitionValues stay keyed by physicalName). A column
    * referenced by a CHECK constraint or a generation expression
    * refuses — the stored expression text would dangle. */
  def alterRenameColumn(spark: SparkSession, table: String,
      from: String, to: String): Long = {
    val snap = snapshot(spark, table)
    require(snap.columnMappingMode != "none",
      s"RENAME COLUMN on $table needs column mapping " +
        "(delta.columnMapping.mode=name|id at CREATE TABLE) — without it " +
        "existing files are bound to the old name")
    val prev = snap.schema.getOrElse(sys.error(s"no schema declared for $table"))
    require(prev.fieldNames.contains(from), s"RENAME COLUMN: no such column: $from")
    require(!prev.fieldNames.contains(to), s"RENAME COLUMN: already exists: $to")
    require(!referencedColumns(spark, snap).contains(from.toLowerCase),
      s"RENAME COLUMN: $from is referenced by a CHECK constraint or a " +
        "generation expression — drop the constraint / recreate first")
    val declared = StructType(prev.fields.map(fl =>
      if (fl.name == from) fl.copy(name = to) else fl))
    // a clustering column renames WITH the table: rewrite the
    // delta.clustering domain in the same commit, else the next bare
    // OPTIMIZE would cluster by a name that no longer resolves
    val clusterRewrite =
      if (!snap.clusteringColumns.contains(from)) Nil
      else {
        val cols = snap.clusteringColumns
          .map(c => s"""[${jsonStr(if (c == from) to else c)}]""")
          .mkString("[", ",", "]")
        val cfg = jsonStr(s"""{"clusteringColumns":$cols}""")
        Seq(s"""{"domainMetadata":{"domain":"delta.clustering",""" +
          s""""configuration":$cfg,"removed":false}}""")
      }
    commitMetaData(spark, snap, table, "RENAME COLUMN", clusterRewrite) { meta =>
      meta.put("schemaString", declared.json)
      if (snap.partitionColumns.contains(from)) {
        val pc = meta.putArray("partitionColumns")
        snap.partitionColumns.foreach(c => pc.add(if (c == from) to else c))
      }
    }
  }

  /** ALTER TABLE … DROP COLUMN — metadata-only under column mapping:
    * the field leaves schemaString, existing files simply stop
    * projecting it (their physical column becomes dead weight until a
    * rewrite). The protocol's key property, asserted in spec: a later
    * ADD COLUMNS with the SAME logical name mints a FRESH
    * physicalName/columnId, so the old data is NOT resurrected — the
    * re-added column reads null everywhere. Partition columns and
    * constraint/generation-referenced columns refuse. */
  def alterDropColumn(spark: SparkSession, table: String, name: String): Long = {
    val snap = snapshot(spark, table)
    require(snap.columnMappingMode != "none",
      s"DROP COLUMN on $table needs column mapping — without it the column " +
        "cannot leave the schema while files still carry it under its own name")
    val prev = snap.schema.getOrElse(sys.error(s"no schema declared for $table"))
    require(prev.fieldNames.contains(name), s"DROP COLUMN: no such column: $name")
    require(prev.fields.length > 1, s"DROP COLUMN: cannot drop the last column")
    require(!snap.partitionColumns.contains(name),
      s"DROP COLUMN: $name is a partition column")
    require(!snap.clusteringColumns.contains(name),
      s"DROP COLUMN: $name is a clustering column (delta.clustering domain) — " +
        "ALTER TABLE … CLUSTER BY a different column first")
    require(!referencedColumns(spark, snap).contains(name.toLowerCase),
      s"DROP COLUMN: $name is referenced by a CHECK constraint or a " +
        "generation expression")
    val declared = StructType(prev.fields.filterNot(_.name == name))
    commitMetaData(spark, snap, table, "DROP COLUMN") { meta =>
      meta.put("schemaString", declared.json)
    }
  }

  /** ALTER TABLE … ADD CONSTRAINT name CHECK (expr): validates the
    * EXISTING rows first (one distributed anti-filter count — Delta's
    * own semantics: a constraint that current data violates refuses),
    * then records `delta.constraints.name`; every later dataChange
    * write enforces it inside its staging write. */
  def alterAddConstraint(spark: SparkSession, table: String,
      name: String, expression: String): Long = {
    val snap = snapshot(spark, table)
    val key = s"delta.constraints.$name"
    require(!snap.configuration.contains(key),
      s"ADD CONSTRAINT: $name already exists on $table")
    spark.sessionState.sqlParser.parseExpression(expression)
    val bad = read(spark, table)
      .where(!coalesce(expr(expression), lit(true))).limit(1).count()
    require(bad == 0L,
      s"ADD CONSTRAINT $name ($expression): existing rows violate it — refused")
    alterSetProperties(spark, table, Map(key -> expression))
  }

  /** ALTER TABLE … DROP CONSTRAINT name. */
  def alterDropConstraint(spark: SparkSession, table: String, name: String): Long =
    alterUnsetProperties(spark, table, Seq(s"delta.constraints.$name"))

  /** ALTER TABLE … SYNC IDENTITY: re-seat each identity column's
    * high-water mark on the actual extremum present in the table (one
    * distributed min/max over just those columns) — the repair step
    * after BY DEFAULT writers inserted explicit ids. The mark only
    * moves in step direction; an already-correct mark is a no-op
    * commit-free call. */
  def alterSyncIdentity(spark: SparkSession, table: String): Long = {
    val snap = snapshot(spark, table)
    val prev = snap.schema.getOrElse(sys.error(s"no schema declared for $table"))
    val idFields = prev.fields.filter(_.metadata.contains(IdStartKey)).toSeq
    require(idFields.nonEmpty, s"SYNC IDENTITY: $table has no identity columns")
    val aggs = idFields.flatMap(fl =>
      Seq(min(col(fl.name)).as(s"__mn_${fl.name}"),
        max(col(fl.name)).as(s"__mx_${fl.name}")))
    val row = read(spark, table).agg(aggs.head, aggs.tail: _*).head()
    val updates = idFields.flatMap { fl =>
      val m = fl.metadata
      val start = if (m.contains(IdStartKey)) m.getLong(IdStartKey) else 1L
      val step = if (m.contains(IdStepKey)) m.getLong(IdStepKey) else 1L
      val hwm = if (m.contains(IdHwmKey)) m.getLong(IdHwmKey) else start - step
      val ext = Option(row.getAs[Any](
        if (step > 0) s"__mx_${fl.name}" else s"__mn_${fl.name}"))
        .map { case l: Long => l }
      val next = ext.map(e =>
        if (step > 0) math.max(hwm, e) else math.min(hwm, e)).getOrElse(hwm)
      if (next != hwm) Some(fl.name -> next) else None
    }.toMap
    if (updates.isEmpty) return snap.version
    val declared = StructType(prev.fields.map { fl =>
      updates.get(fl.name).fold(fl)(h => fl.copy(metadata =
        new MetadataBuilder().withMetadata(fl.metadata)
          .putLong(IdHwmKey, h).build()))
    })
    commitMetaData(spark, snap, table, "SYNC IDENTITY") { meta =>
      meta.put("schemaString", declared.json)
    }
  }

  /** Distributed deletion-vector growth — the DML core shared by
    * DELETE and the deletion-vector UPDATE path. For every candidate
    * file holding ≥1 LIVE row matching `predicate` (the read applies
    * existing masks, so already-deleted rows never re-enter), each
    * executor task merges those rows' indexes with the file's existing
    * DV and writes ONE sidecar frame for its partition — bitmap bytes
    * never leave the executors. The driver receives only
    * (relPath, newCardinality, descriptor?) triples plus the
    * candidates' add-metadata rows (partitionValues/size/mtime/stats/
    * row-tracking fields, keyed by path): O(touched files), never row
    * data. A `None` descriptor means every physical row is now masked —
    * the file is dead and must be removed without a re-add. */
  private def growDeletionVectors(spark: SparkSession, table: String,
      snap: Snapshot, candidates: Seq[FileEntry], predicate: Column,
      metaOpt: Option[Map[String, Row]] = None)
      : (Map[String, Row], Array[(String, Long, Option[(String, Int, Int)])]) =
    growDeletionVectorsFrom(spark, table, snap, candidates,
      readEntries(spark, table, candidates, snap.schema, snap.columnMappingMode,
        withProvenance = true)
        .where(predicate)
        .select(col(FpCol).as("fp"), col(RiCol).as("ri")), metaOpt)

  /** Re-add actions for masked survivors of a DV DML commit: the SAME
    * path under its grown descriptor, metadata verbatim from the
    * snapshot row (stats stay valid — min/max bound the survivors,
    * numRecords stays physical; row-tracking fields preserved because
    * no physical row moved). Shared by the DV UPDATE and DV MERGE. */
  private def dvReAddActions(metaByPath: Map[String, Row],
      results: Array[(String, Long, Option[(String, Int, Int)])]): Seq[String] =
    results.toSeq.collect {
      case (rel, card, Some((z85, off, size))) =>
        val d = DeletionVectors.Descriptor("u", z85, Some(off), size, card)
        val m = metaByPath(rel)
        val pvJson = pvJsonOf(
          Option(m.getMap[String, String](1)).getOrElse(Map.empty[String, String]))
        val statsField =
          Option(m.getString(4)).fold("")(s => s""","stats":${jsonStr(s)}""")
        val rtField =
          if (m.isNullAt(5)) ""
          else s""","baseRowId":${m.getLong(5)},"defaultRowCommitVersion":${m.getLong(6)}"""
        s"""{"add":{"path":${jsonStr(rel)},"partitionValues":$pvJson,""" +
          s""""size":${m.getLong(2)},"modificationTime":${m.getLong(3)},""" +
          s""""dataChange":true,""" + dvJson(d) + s"$statsField$rtField}}"
    }

  /** [[growDeletionVectors]] from an explicit mask frame of
    * (`fp` = scanned file path, `ri` = physical row index) rows — the
    * form MERGE needs, where the masked set is a join outcome, not a
    * predicate. Same executor-side bitmap contract. */
  private def growDeletionVectorsFrom(spark: SparkSession, table: String,
      snap: Snapshot, candidates: Seq[FileEntry], maskRows: DataFrame,
      metaOpt: Option[Map[String, Row]] = None)
      : (Map[String, Row], Array[(String, Long, Option[(String, Int, Int)])]) = {
    import spark.implicits._
    // original add metadata for the CANDIDATE paths (O(candidate files)
    // on the driver — stats stay valid after a DV: min/max bound the
    // surviving rows, numRecords stays physical). A caller whose own
    // candidate collect already carried the metadata (the wide
    // pruneFrame) passes it in and this join never runs.
    val metaByPath: Map[String, Row] = metaOpt.getOrElse(snap.allFiles
      .join(broadcast(candidates.map(_.path).toDF("path")), Seq("path"))
      .select("path", "partitionValues", "size", "modificationTime", "stats",
        "baseRowId", "defaultRowCommitVersion")
      .collect().map(r => r.getString(0) -> r).toMap)
    def numRecordsOf(path: String): Option[Long] =
      Option(metaByPath(path).getString(4)).flatMap { s =>
        val n = mapper.readTree(s)
        if (n.has("numRecords")) Some(n.get("numRecords").asLong()) else None
      }
    // per-candidate lookup shipped to executors: basename →
    // (relPath, old descriptor, physical numRecords) — all metadata,
    // O(candidate files), never row data
    val infoByBase: Map[String, Seq[(String, Option[DeletionVectors.Descriptor], Option[Long])]] =
      candidates.map(e => (e.path, e.dv, numRecordsOf(e.path)))
        .groupBy(t => basename(t._1))
    val bcInfo = spark.sparkContext.broadcast(infoByBase)
    val bcConf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val tbl = table
    val results: Array[(String, Long, Option[(String, Int, Int)])] =
      maskRows
        .groupBy("fp").agg(sort_array(collect_list(col("ri"))).as("rows"))
        .as[(String, Array[Long])]
        .mapPartitions { it =>
          val buf = it.toArray
          if (buf.isEmpty) Iterator.empty
          else {
            val fsys = new Path(tbl).getFileSystem(bcConf.value.value)
            val resolved = buf.map { case (fp, rows) =>
              val base = fp.substring(fp.lastIndexOf('/') + 1)
              val (rel, oldDv, numRec) = bcInfo.value.getOrElse(base, Seq.empty)
                .find(c => fp.endsWith(pathSuffix(c._1)))
                .getOrElse(sys.error(s"DV growth: scanned file $fp not in the snapshot"))
              val all = oldDv match {
                case None => rows
                case Some(old) =>
                  (DeletionVectors.deletedRows(fsys, tbl, old) ++ rows).distinct.sorted
              }
              (rel, all, numRec)
            }
            // every physical row deleted → dead file: no frame written
            val (deadP, liveP) = resolved.partition { case (_, all, nr) =>
              nr.contains(all.length.toLong)
            }
            val descs =
              if (liveP.isEmpty) Seq.empty
              else DeletionVectors.writeDvFrames(fsys, tbl,
                liveP.toSeq.map(p => (DeletionVectors.serialize(p._2), p._2.length.toLong)))
            deadP.iterator.map { case (rel, all, _) =>
              (rel, all.length.toLong, None: Option[(String, Int, Int)])
            } ++ liveP.iterator.zip(descs.iterator).map { case ((rel, all, _), d) =>
              (rel, all.length.toLong, Some((d.pathOrInlineDv, d.offset.get, d.sizeInBytes)))
            }
          }
        }.collect()
    (metaByPath, results)
  }

  /** Row-level DELETE via deletion vectors: files whose zone maps prove
    * no row can match are never touched; every other file gets a roaring
    * bitmap of its deleted row indexes written as a sidecar frame, and
    * the commit re-adds the SAME path under the merged descriptor — no
    * data rewrite. A file whose every remaining live row matches is
    * simply removed. Deleting a sliver of a 100 TB table therefore
    * writes O(deleted rows) compressed bitmap bytes where a
    * copy-on-write rewrite pays O(touched files) parquet.
    *
    * Fully executor-side: each task groups its files' matching live row
    * indexes, merges with any existing DV, and writes ONE sidecar for
    * its partition — bitmap bytes never touch the driver, which
    * collects only (path, offset, size, cardinality) descriptors,
    * O(touched files). A GDPR-wide DELETE of 1% of a 100 TB table puts
    * GBs of bitmaps on executors and KBs of descriptors on the driver.
    * The commit upgrades the protocol to the `deletionVectors` table
    * feature when needed, pins the snapshot version (a concurrent
    * writer fails this DELETE loudly), and stamps `dataChange=true` —
    * so [[changesBetween]] nets the DV update to exactly the deleted
    * rows. [[optimize]] remains the DV purge. Returns the committed
    * version, or the current one when nothing matched (no empty
    * commits). */
  def deleteWhere(spark: SparkSession, table: String, predicate: Column): Long =
      withDmlRetry(3) {
    val snap = snapshot(spark, table)
    // column-mapped targets are fine: DELETE is name-agnostic — the
    // probe reads logically, pruning translates via phys(), and the
    // re-add copies the file's existing (physical-keyed) stats/pv
    require(!snap.configuration.get("delta.appendOnly").contains("true"),
      s"table $table is append-only (delta.appendOnly=true): DELETE refused")
    // metadata-only fast path: a file whose EVERY row provably matches
    // ([[fullMatchCondition]] — partition values or zone maps) is
    // removed WHOLE, never opened. With a provable predicate and no
    // change feed to stage, the whole-match set STREAMS from the file
    // frame into the commit (a GDPR/retention sweep matching half of a
    // 10⁶-file table holds only the boundary files on the driver);
    // otherwise the collected path below.
    val fullCond = fullMatchCondition(spark, snap, predicate)
    fullCond match {
      case Some(cond) if !cdfEnabled(snap) =>
        return deleteWhereStreamed(spark, table, snap, predicate, cond)
      case _ => ()
    }
    val candidates = pruneEntries(spark, snap, predicate, Some(table))
    meterDmlCollect(candidates.size)
    if (candidates.isEmpty) return snap.version
    val fullPaths: Set[String] = fullCond match {
      case None => Set.empty
      case Some(cond) => snap.allFiles.where(cond).select("path")
        .collect().map(_.getString(0)).toSet
    }
    val (whole, partial) = candidates.partition(e => fullPaths.contains(e.path))
    val (metaByPath, results) =
      if (partial.isEmpty)
        (Map.empty[String, Row],
          Array.empty[(String, Long, Option[(String, Int, Int)])])
      else growDeletionVectors(spark, table, snap, partial, predicate)
    if (results.isEmpty && whole.isEmpty) return snap.version

    val entryByPath = candidates.map(e => e.path -> e).toMap
    val merged: Seq[(FileEntry, Long)] =
      results.toSeq.map { case (rel, card, _) => (entryByPath(rel), card) }
    val dvd: Seq[(FileEntry, DeletionVectors.Descriptor)] = results.toSeq.collect {
      case (rel, card, Some((z85, off, size))) =>
        (entryByPath(rel), DeletionVectors.Descriptor("u", z85, Some(off), size, card))
    }

    // CDF write path: the matched live rows ARE the deleted set — stage
    // them as `delete`-typed change files so readers need not touch the
    // data files at all (and foreign CDF readers need not understand
    // the DV-update fast path). Staged before the pin check; a lost
    // race leaves vacuum-reclaimable orphans, like staged data files.
    val cdcActions: Seq[String] =
      if (!cdfEnabled(snap)) Seq.empty
      else stageCdc(spark, table,
        readEntries(spark, table, candidates, snap.schema, snap.columnMappingMode)
          .where(predicate).withColumn("_change_type", lit("delete")), snap)

    val now = System.currentTimeMillis()
    val actions = Seq.newBuilder[String]
    // one combined protocol action when both the DV and CDF features
    // need declaring: the CDF check runs against the DV-upgraded
    // protocol so the second upgrade extends, never overrides, the
    // first. A purely whole-file delete (no descriptor written) needs
    // no deletionVectors feature at all.
    val dvUp = if (dvd.isEmpty) None else dvProtocolUpgrade(snap.protocolJson)
    val protoAfterDv = dvUp
      .map(s => mapper.writeValueAsString(mapper.readTree(s).get("protocol")))
      .orElse(snap.protocolJson)
    val cdfUp =
      if (cdcActions.isEmpty) None else cdfProtocolUpgrade(protoAfterDv)
    cdfUp.orElse(dvUp).foreach(actions += _)
    // the remove carries the file's OLD descriptor (protocol semantics:
    // the removed content is what consumers could see) — without it a
    // change-feed fold would double-delete the already-masked rows
    (merged.map(_._1) ++ whole).foreach { e =>
      val dvField = e.dv.fold("")(d => "," + dvJson(d))
      val szField = if (e.size < 0) "" else s""","size":${e.size}"""
      actions += s"""{"remove":{"path":${jsonStr(e.path)},"deletionTimestamp":$now,"dataChange":true$szField$dvField}}"""
    }
    dvd.foreach { case (e, d) =>
      val m = metaByPath(e.path)
      val pv = Option(m.getMap[String, String](1)).getOrElse(Map.empty[String, String])
      val pvJson = pvJsonOf(pv)
      val statsField =
        Option(m.getString(4)).fold("")(s => s""","stats":${jsonStr(s)}""")
      // a DV re-add keeps the file's row-tracking fields: physical rows
      // (and so row ids) are untouched, only the mask grew
      val rtField =
        if (m.isNullAt(5)) ""
        else s""","baseRowId":${m.getLong(5)},"defaultRowCommitVersion":${m.getLong(6)}"""
      actions += s"""{"add":{"path":${jsonStr(e.path)},"partitionValues":$pvJson,""" +
        s""""size":${m.getLong(2)},"modificationTime":${m.getLong(3)},"dataChange":true,""" +
        dvJson(d) + s"$statsField$rtField}}"
    }
    cdcActions.foreach(actions += _)
    // pinned at the snapshot; rebases over provably non-conflicting
    // concurrent commits (blind appends), and otherwise throws the typed
    // CommitRaceException that withDmlRetry upstream turns into a
    // fresh-snapshot recompute
    Txn.commit(spark, table, Some(snap), "DELETE", actions.result(),
      parameters = Map("predicate" -> predSql(predicate)),
      readInfo = Some(TxnReadInfo(candidates.map(_.path).toSet,
        (merged.map(_._1.path) ++ whole.map(_.path)).toSet,
        addSkip = zoneSkip(spark, snap, predicate).map(_._2))),
      now = now)
  }

  /** The wide-sweep DELETE: whole-match removes STREAM from the
    * distributed file frame into the commit file via `toLocalIterator`
    * — the driver never holds the matched set (same pattern as
    * [[compactLog]]). Only the boundary-straddling files (predicate
    * provable for SOME rows, not all) are collected, for the row-level
    * deletion-vector path; a retention sweep on an aligned layout
    * collects ZERO entries. Conflict detection against concurrent
    * commits keeps the rebase semantics via the DISTRIBUTED read-set
    * (TxnReadInfo.removeFrame: one broadcast semi-join of the winners'
    * few removed paths against the candidate frame). The `.crc`
    * checksum updates from counters accumulated while streaming. */
  private def deleteWhereStreamed(spark: SparkSession, table: String,
      snap: Snapshot, predicate: Column, fullCond: Column): Long = {
    // WIDE frame: the boundary collect below carries the full add
    // metadata, so the DV-growth path never re-joins the file frame
    val survivors = pruneFrame(spark, snap, predicate, Some(table), wide = true)
    // boundary files only — the whole-match set never materializes
    val partialRows = survivors
      .where(!coalesce(fullCond, lit(false)))
      .collect().toSeq
    val partial: Seq[FileEntry] = partialRows.map(entryOfRow)
    meterDmlCollect(partial.size)
    // re-shape each wide row to the (path, partitionValues, size,
    // modificationTime, stats, baseRowId, defaultRowCommitVersion)
    // layout growDeletionVectors' consumers index positionally
    val partialMeta: Map[String, Row] = partialRows.map { r =>
      r.getString(0) -> Row(r.getString(0), r.get(3), r.get(2), r.get(4),
        r.get(5), r.get(6), r.get(7))
    }.toMap
    val (metaByPath, results) =
      if (partial.isEmpty)
        (Map.empty[String, Row],
          Array.empty[(String, Long, Option[(String, Int, Int)])])
      else growDeletionVectors(spark, table, snap, partial, predicate,
        Some(partialMeta))
    val entryByPath = partial.map(e => e.path -> e).toMap
    val merged: Seq[FileEntry] =
      results.toSeq.map { case (rel, _, _) => entryByPath(rel) }
    val dvd: Seq[(FileEntry, DeletionVectors.Descriptor)] = results.toSeq.collect {
      case (rel, card, Some((z85, off, size))) =>
        (entryByPath(rel), DeletionVectors.Descriptor("u", z85, Some(off), size, card))
    }
    val now = System.currentTimeMillis()
    def removeJson(e: FileEntry): String = {
      val dvField = e.dv.fold("")(d => "," + dvJson(d))
      val szField = if (e.size < 0) "" else s""","size":${e.size}"""
      s"""{"remove":{"path":${jsonStr(e.path)},"deletionTimestamp":$now,"dataChange":true$szField$dvField}}"""
    }
    // row-level path: removes + grown-DV re-adds for boundary files
    val actions =
      (if (dvd.isEmpty) Nil else dvProtocolUpgrade(snap.protocolJson).toSeq) ++
        merged.map(removeJson) ++ dvd.map { case (e, d) =>
          val m = metaByPath(e.path)
          val pv = Option(m.getMap[String, String](1)).getOrElse(Map.empty[String, String])
          val statsField =
            Option(m.getString(4)).fold("")(s => s""","stats":${jsonStr(s)}""")
          val rtField =
            if (m.isNullAt(5)) ""
            else s""","baseRowId":${m.getLong(5)},"defaultRowCommitVersion":${m.getLong(6)}"""
          s"""{"add":{"path":${jsonStr(e.path)},"partitionValues":${pvJsonOf(pv)},""" +
            s""""size":${m.getLong(2)},"modificationTime":${m.getLong(3)},"dataChange":true,""" +
            dvJson(d) + s"$statsField$rtField}}"
        }
    // whole-match removes stream as the tail, one partition of metadata
    // rows at a time; nothing matched at all = no commit
    Txn.commit(spark, table, Some(snap), "DELETE", actions,
      parameters = Map("predicate" -> predSql(predicate)),
      readInfo = Some(TxnReadInfo(partial.map(_.path).toSet, merged.map(_.path).toSet,
        addSkip = zoneSkip(spark, snap, predicate).map(_._2),
        removeFrame = Some(survivors))),
      tail = Some { line =>
        var n = 0L; var bytes = 0L; var known = true
        val it = survivors.where(coalesce(fullCond, lit(false))).toLocalIterator()
        while (it.hasNext) {
          val e = entryOfRow(it.next())
          line(removeJson(e))
          n += 1
          if (e.size < 0) known = false else bytes += e.size
        }
        TailCounts(removes = n, removeBytes = bytes, sizesKnown = known)
      },
      now = now)
  }

  /** Row-level UPDATE, copy-on-write at file granularity — the third
    * DML verb next to [[mergeUpsert]] and [[deleteWhere]]: zone maps
    * prune the candidate files, a probe finds the files that actually
    * contain a matching row, and ONLY those are rewritten with `set`
    * applied to matching rows (non-matching neighbor rows are carried
    * unchanged — copy-on-write). Untouched files stay live, so an
    * UPDATE touching a sliver of a 100 TB table rewrites a sliver, and
    * [[changesWithUpdates]] resolves the commit into exact
    * update_preimage/postimage pairs. Deletion vectors on touched files
    * are purged by the rewrite (only live rows are carried). The commit
    * pins the snapshot version — a concurrent writer fails this UPDATE
    * loudly. Returns the committed version (current one when nothing
    * matched: no empty commits). */
  def updateWhere(spark: SparkSession, table: String, predicate: Column,
      set: Map[String, Column]): Long = withDmlRetry(3) {
    val snap = snapshot(spark, table)
    // column-mapped targets are fine: the rewrite goes through
    // commitWrite's logical→physical staging translation
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    snap.schema.foreach { s =>
      val missing = set.keySet -- s.fieldNames
      require(missing.isEmpty,
        s"UPDATE SET references columns not in the table: ${missing.mkString(",")}")
      // generated columns recompute from their expression (below, via
      // commitWrite) and identity values are allocator-owned — a direct
      // SET on either would break the invariant
      val derived = s.fields.filter(fl => fl.metadata.contains(GenExprKey) ||
        fl.metadata.contains(IdStartKey)).map(_.name).toSet
      val badSet = set.keySet & derived
      require(badSet.isEmpty,
        s"UPDATE SET on generated/identity columns refused: ${badSet.mkString(",")}")
    }
    val candidates = pruneEntries(spark, snap, predicate, Some(table))
    if (candidates.isEmpty) return snap.version
    // delta-spark's DV DML gate: tables declaring
    // delta.enableDeletionVectors=true take the mask-and-append path
    // (O(matched rows) written, no file rewrite); everything else stays
    // copy-on-write. spark.graft.update.useDeletionVectors=false forces
    // copy-on-write even on a DV table (the REORG-free purge escape).
    val useDv = snap.configuration.get("delta.enableDeletionVectors")
      .contains("true") &&
      spark.conf.getOption("spark.graft.update.useDeletionVectors")
        .forall(_.toBoolean)
    if (useDv)
      return updateWhereDv(spark, table, snap, predicate, set, candidates)
    // probe: which candidate files hold >= 1 matching LIVE row (same
    // provenance pattern as mergeCore — only file NAMES reach the driver)
    val touched = basenameIndex(candidates.map(_.path)) match {
      case None => candidates // colliding basenames: rewrite all candidates
      case Some(_) =>
        val names = readEntries(spark, table, candidates, snap.schema,
          snap.columnMappingMode, withProvenance = true)
          .where(predicate)
          .select(provFileName.as("__fname")).distinct()
          .collect().map(_.getString(0)).toSet
        candidates.filter(e => names.contains(basename(e.path)))
    }
    if (touched.isEmpty) return snap.version
    val target = readEntries(spark, table, touched, snap.schema,
      snap.columnMappingMode)
    val out = target.select(target.columns.toSeq.map { c =>
      set.get(c).fold(col(c))(e => when(predicate, e).otherwise(col(c)).as(c))
    }: _*)
    // CDF write path: the matched rows, as the protocol's
    // update_preimage/update_postimage pairs — exactly the rows the SET
    // touched, never the carried neighbors
    val cdcFrame =
      if (!cdfEnabled(snap)) None
      else {
        val matched = target.where(predicate)
        val post0 = matched.select(matched.columns.toSeq.map { c =>
          set.get(c).fold(col(c))(e => e.as(c))
        }: _*)
        // the post-image must show the RECOMPUTED generated columns —
        // the same values commitWrite rewrites into the table
        val post = snap.schema.map(_.fields.filter(_.metadata.contains(GenExprKey)))
          .getOrElse(Array.empty[StructField])
          .foldLeft(post0)((d, fl) => d.withColumn(fl.name,
            expr(fl.metadata.getString(GenExprKey)).cast(fl.dataType)))
          .withColumn("_change_type", lit("update_postimage"))
        Some(matched.withColumn("_change_type", lit("update_preimage"))
          .unionByName(post))
      }
    commitWrite(spark, out, table, snap.partitionColumns, None,
      removePaths = _ => touched.map(_.path), widenSchema = true,
      dataChange = true, operation = "UPDATE", pin = Some(snap),
      operationParameters = Map("predicate" -> predSql(predicate),
        "setColumns" -> set.keys.toSeq.sorted.mkString(",")),
      cdc = cdcFrame,
      readInfo = Some(TxnReadInfo(candidates.map(_.path).toSet,
        touched.map(_.path).toSet,
        addSkip = zoneSkip(spark, snap, predicate).map(_._2))))
  }

  /** Deletion-vector UPDATE (delta-spark's DV DML shape, reached from
    * [[updateWhere]] when the table declares
    * `delta.enableDeletionVectors=true`): instead of rewriting every
    * file holding a matching row, the matched rows are MASKED by
    * growing each touched file's deletion vector
    * ([[growDeletionVectors]] — sidecars written on executors, only
    * descriptors collected), and ONLY the post-image rows are written
    * as new files. An UPDATE matching a sliver of a 100 TB table
    * therefore writes O(matched rows) parquet plus KB-sized bitmap
    * sidecars, where copy-on-write pays O(touched file bytes) — the
    * difference between seconds and hours on wide tables with narrow
    * updates. One atomic commit: remove(old entry, old descriptor) +
    * re-add(same path, grown mask — row-tracking fields PRESERVED,
    * physical rows untouched) per touched file, plus the post-image
    * adds (fresh row ids: an updated row is a new row, Delta's
    * fresh-row semantics absent materialized row-id columns). The
    * commit declares the `deletionVectors` feature when needed. CDF
    * tables stage exact update_preimage/postimage pairs, so feed
    * readers never observe the physical mask+append shape; on non-CDF
    * tables [[changesBetween]] resolves the commit to delete+insert
    * rows — the physical truth, matching delta-spark. */
  private def updateWhereDv(spark: SparkSession, table: String,
      snap: Snapshot, predicate: Column, set: Map[String, Column],
      candidates: Seq[FileEntry]): Long = {
    val (metaByPath, results) =
      growDeletionVectors(spark, table, snap, candidates, predicate)
    if (results.isEmpty) return snap.version
    val touchedRel = results.map(_._1).toSet
    val touched = candidates.filter(e => touchedRel.contains(e.path))
    // re-adds of the touched files under their grown masks: metadata
    // verbatim from the snapshot (stats stay valid — min/max bound the
    // survivors, numRecords stays physical; baseRowId untouched because
    // no physical row moved)
    val dvReAdds: Seq[String] = dvReAddActions(metaByPath, results)
    // post-image rows: the matched LIVE rows with SET applied (generated
    // columns recompute inside commitWrite, exactly like copy-on-write)
    val target = readEntries(spark, table, touched, snap.schema,
      snap.columnMappingMode)
    val matched = target.where(predicate)
    val out = matched.select(matched.columns.toSeq.map { c =>
      set.get(c).fold(col(c))(e => e.as(c))
    }: _*)
    val cdcFrame =
      if (!cdfEnabled(snap)) None
      else {
        val post = snap.schema.map(_.fields.filter(_.metadata.contains(GenExprKey)))
          .getOrElse(Array.empty[StructField])
          .foldLeft(out)((d, fl) => d.withColumn(fl.name,
            expr(fl.metadata.getString(GenExprKey)).cast(fl.dataType)))
          .withColumn("_change_type", lit("update_postimage"))
        Some(matched.withColumn("_change_type", lit("update_preimage"))
          .unionByName(post))
      }
    commitWrite(spark, out, table, snap.partitionColumns, None,
      removePaths = _ => touched.map(_.path), widenSchema = true,
      dataChange = true, operation = "UPDATE", pin = Some(snap),
      operationParameters = Map("predicate" -> predSql(predicate),
        "setColumns" -> set.keys.toSeq.sorted.mkString(",")),
      cdc = cdcFrame,
      readInfo = Some(TxnReadInfo(candidates.map(_.path).toSet,
        touched.map(_.path).toSet,
        addSkip = zoneSkip(spark, snap, predicate).map(_._2))),
      extraActionsAt = _ => dvReAdds,
      dvUpgrade = true)
  }

  /** OPTIMIZE: rewrite the current snapshot into (up to) `targetFiles`
    * files per partition value as one protocol commit (remove all
    * current adds, add the compacted files) — the small-file compaction
    * every streaming-append table needs. Readers of any version, before
    * or after, see identical rows; pre-optimize versions stay
    * time-travelable until [[vacuum]]. The commit's actions carry
    * `dataChange=false` — the protocol's marker for a pure rewrite — so
    * [[changesBetween]] consumers see compaction as a no-op. Reading
    * through any deletion vectors and rewriting clean files, OPTIMIZE
    * also serves as the DV-purge operation.
    *
    * `zorderBy`: OPTIMIZE ZORDER — one column range-clusters (tight
    * min/max per file on that column), two columns cluster on the true
    * Morton key so zone maps are tight on EITHER dimension. Because the
    * rewrite recollects stats, clustering immediately pays off in
    * [[readPruned]]/[[pruneFiles]] file skipping. */
  def optimize(spark: SparkSession, table: String, targetFiles: Int = 1,
      zorderBy: Seq[String] = Seq.empty,
      minFileSize: Long = Long.MaxValue,
      where: Option[Column] = None,
      full: Boolean = false): Long = {
    val snap = snapshot(spark, table)
    // Incremental liquid clustering: once a clustered table has been
    // through one whole-scope OPTIMIZE (recorded as `lastClustered` in
    // the graft.clustering.progress domain — O(1) state), the next bare
    // OPTIMIZE clusters ONLY the files that arrived since, into a new
    // zcube. That is the property that makes nightly OPTIMIZE cost
    // O(day's ingest) instead of O(100 TB table). `OPTIMIZE … FULL`
    // (delta-spark's verb) forces the whole-table rewrite — the layout
    // reset after enough incremental zcubes accumulate or the
    // clustering columns change.
    val recordProgress = where.isEmpty && zorderBy.isEmpty &&
      minFileSize == Long.MaxValue && snap.clusteringColumns.nonEmpty
    val incrementalBasis: Option[Long] =
      if (!recordProgress || full) None else snap.clusteringProgress
    // OPTIMIZE ... WHERE: partition-scoped maintenance — the verb a
    // 100 TB deployment actually runs (compact yesterday's partition,
    // not the table). The predicate must reference partition columns
    // ONLY, because only then is file pruning EXACT (min = max = the
    // directory value) — a data-column predicate would make the rewrite
    // scope depend on best-effort zone maps.
    val scoped: Seq[FileEntry] = (incrementalBasis, where) match {
      case (Some(basis), _) =>
        // new-since-clustering = live(now) \ live(basis-1) \ adds(basis):
        // the middle term drops everything the last clustering already
        // covered, the third drops its own zcube output. If the log was
        // cleaned past basis-1, degrade to live(now) \ live(basis) — a
        // file that RACED the clustering commit then stays unclustered
        // until FULL (bounded: one commit's worth of appends).
        def liveNotAt(v: Long): Seq[String] = {
          val prevLive = snapshot(spark, table, Some(v)).allFiles.select("path")
          snap.allFiles.join(prevLive, Seq("path"), "left_anti")
            .select("path").collect().map(_.getString(0)).toSeq
        }
        val newPaths: Seq[String] = scala.util.Try {
          val cubeAdds = readCommit(fs(spark, table), table, basis)
            .filter(_.has("add")).map(_.get("add").get("path").asText()).toSet
          liveNotAt(basis - 1).filterNot(cubeAdds)
        }.orElse(scala.util.Try(liveNotAt(basis)))
          .getOrElse(snap.fileEntries.map(_.path)) // log cleaned: full scope
        snap.entriesFor(newPaths)
      case (None, None) => snap.fileEntries
      case (None, Some(p)) =>
        val schema = snap.schema.getOrElse(sys.error(s"no schema at $table"))
        val refs = spark
          .createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          .where(p).queryExecution.analyzed.collect {
            case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
              f.condition.references.map(_.name).toSeq
          }.flatten.distinct
        val bad = refs.filterNot(snap.partitionColumns.contains)
        require(bad.isEmpty, "OPTIMIZE WHERE must reference partition " +
          s"columns only; non-partition: ${bad.mkString(",")}")
        pruneEntries(spark, snap, p, Some(table))
    }
    // liquid clustering: a clustered table's OPTIMIZE clusters by its
    // declared delta.clustering columns unless the caller overrides —
    // the property that makes `OPTIMIZE t` the only maintenance verb a
    // clustered table ever needs. Auto-compaction's scoped bin-packing
    // (minFileSize set) deliberately does NOT re-cluster: it must stay
    // O(small files).
    val effZorder =
      if (zorderBy.nonEmpty || minFileSize != Long.MaxValue) zorderBy
      else snap.clusteringColumns
    // Bin-packing scope: only files below `minFileSize` — plus any file
    // carrying a deletion vector (compaction doubles as the DV purge) —
    // are rewritten; large clean files stay live untouched. The default
    // compacts everything (the small-fixture behavior); a 100 TB
    // deployment passes Delta's ~128 MB threshold so OPTIMIZE is
    // O(small files), not O(table). ZORDER always takes the full scope:
    // clustering is a whole-table layout decision.
    val candidates =
      if (effZorder.nonEmpty || minFileSize == Long.MaxValue) scoped
      else {
        val smalls = snap.allFiles
          .where(col("size").isNull || col("size") < minFileSize)
          .select("path").collect().map(_.getString(0)).toSet
        scoped.filter(e => e.dv.isDefined || smalls.contains(e.path))
      }
    // nothing worth rewriting: a no-op, not an empty commit
    if (candidates.isEmpty ||
        (candidates.size < 2 && candidates.forall(_.dv.isEmpty)))
      return snap.version
    // column-mapped targets are fine: the compacted frame is logical and
    // commitWrite stages it under physical names
    // the compaction input is THIS snapshot's file set; pin it as
    // baseVersion so a concurrent append between read and commit fails
    // the OPTIMIZE instead of losing the appended file
    val df = readEntries(spark, table, candidates, snap.schema,
      snap.columnMappingMode)
    val compacted = effZorder match {
      case Seq(a) =>
        df.repartitionByRange(targetFiles, col(a)).sortWithinPartitions(col(a))
      case Seq() if snap.partitionColumns.isEmpty => df.coalesce(targetFiles)
      case Seq() =>
        // hash-clustering on the partition columns alone would land each
        // partition value in ONE task — one file per value no matter what
        // targetFiles says; a row-hash bucket splits each value across up
        // to targetFiles writing tasks (fewer when bucket hashes collide
        // into the same shuffle partition)
        val dataCols = df.columns.filterNot(snap.partitionColumns.contains)
        val bucketSrc = if (dataCols.nonEmpty) dataCols else df.columns
        val bucket = pmod(hash(bucketSrc.map(col).toSeq: _*), lit(targetFiles))
        df.repartition(snap.partitionColumns.map(col) :+ bucket: _*)
      case zs if zs.size <= 4 => graft.functions.ZOrderKey.zOrderFrame(df, targetFiles, zs)
      case other => sys.error(s"zorderBy supports 1 to 4 columns, got ${other.mkString(",")}")
    }
    commitWrite(spark, compacted, table, snap.partitionColumns, None,
      removePaths = _ => candidates.map(_.path), widenSchema = false,
      dataChange = false,
      operation = "OPTIMIZE", pin = Some(snap),
      // rebase over ANY concurrent add: the compaction set is fixed and
      // a pure rewrite read nothing else — an appended file (blind or
      // from a rewrite) simply misses this bin-pack. Only remove-overlap
      // or metadata changes conflict.
      readInfo = Some(TxnReadInfo(candidates.map(_.path).toSet,
        candidates.map(_.path).toSet, addSkip = Some(lit(true)))),
      // whole-scope clustering records its own commit as the new
      // incremental basis — atomically, in the same commit
      extraActionsAt = v =>
        if (!recordProgress) Nil
        else Seq(s"""{"domainMetadata":{"domain":"graft.clustering.progress",""" +
          s""""configuration":${jsonStr(s"""{"lastClustered":$v}""")},"removed":false}}"""))
  }

  /** `GENERATE symlink_format_manifest` — Delta's Presto/Trino/Athena
    * compatibility surface: `_symlink_format_manifest/[<k=v>/…]manifest`
    * text files listing the absolute URIs of the snapshot's live parquet
    * files (one manifest per partition directory), which Hive-protocol
    * engines read via SymlinkTextInputFormat. Refuses on tables carrying
    * deletion vectors — a manifest reader would include the deleted rows
    * (delta-spark refuses identically); REORG … APPLY (PURGE) first.
    *
    * Scale: the file→manifest grouping and the manifest WRITES all run
    * on executors (one task per partition-dir group); the driver sees
    * only the total count. Regeneration replaces the whole manifest
    * tree, so removed partitions cannot leak stale file lists. Auto
    * mode: `delta.compatibility.symlinkFormatManifest.enabled=true`
    * regenerates after every dataChange commit, like delta-spark.
    * Returns the number of listed files. */
  def generateSymlinkManifest(spark: SparkSession, table: String): Long = {
    import spark.implicits._
    val snap = snapshot(spark, table)
    val dvd = snap.allFiles.where(col("deletionVector").isNotNull)
      .limit(1).count()
    require(dvd == 0L,
      s"GENERATE symlink_format_manifest on $table: the table carries " +
        "deletion vectors, and a manifest reader would include the deleted " +
        "rows — run REORG … APPLY (PURGE) first")
    val f = fs(spark, table)
    val manifestRoot = new Path(table, "_symlink_format_manifest")
    if (f.exists(manifestRoot)) f.delete(manifestRoot, true)
    f.mkdirs(manifestRoot)
    val rootUri = f.makeQualified(new Path(table)).toString
    val bcConf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val tbl = table
    val counts = snap.allFiles.select(col("path")).as[String]
      .map { rel =>
        val i = rel.lastIndexOf('/')
        (if (i < 0) "" else rel.substring(0, i), rel)
      }
      .toDF("dir", "rel")
      .groupBy("dir").agg(collect_list(col("rel")).as("rels"))
      .as[(String, Seq[String])]
      .map { case (dir, rels) =>
        val fsys = new Path(tbl).getFileSystem(bcConf.value.value)
        val root = new Path(tbl, "_symlink_format_manifest")
        val mdir = if (dir.isEmpty) root else new Path(root, dir)
        fsys.mkdirs(mdir)
        val out = fsys.create(new Path(mdir, "manifest"), true)
        try rels.sorted.foreach(r =>
          out.write((rootUri + "/" + r + "\n").getBytes("UTF-8")))
        finally out.close()
        rels.size.toLong
      }.toDF("n")
    counts.agg(coalesce(sum(col("n")), lit(0L))).head().getLong(0)
  }

  /** Default VACUUM retention: 7 days, matching Delta's
    * `deletedFileRetentionDuration` default. */
  val defaultVacuumRetentionMillis: Long = 7L * 24 * 60 * 60 * 1000

  /** VACUUM: delete data files referenced by NONE of the last
    * `keepVersions` snapshots AND older than `retainMillis` (by
    * modification time). Time travel to older versions stops working for
    * their vacuumed files — the same contract as Delta's VACUUM, with
    * the retention window expressed in both versions (the unit this log
    * reasons in) and wall-clock age. The age guard is what makes vacuum
    * safe next to CONCURRENT writers: a racing commit's files are
    * already staged under their final names before its log rename, and
    * a commit landing after the live-set was computed is younger than
    * any sane retention window — both are skipped, never deleted.
    * Passing `retainMillis = 0` (tests, exclusive maintenance windows)
    * restores immediate reclamation. Returns the deleted file count. */
  /** VACUUM LITE — log-driven reclamation: candidates come from the
    * surviving commit JSONs' `remove` actions (deletionTimestamp aged
    * past retention), never from LISTING the table. At 10⁶ files the
    * recursive listing is the slowest part of a full VACUUM; the log
    * already knows exactly what was removed. Narrower by design —
    * Delta's documented VACUUM LITE contract: crash orphans (never
    * logged) and removes only recorded in already-cleaned commits are
    * out of reach; run a full [[vacuum]] occasionally for those.
    * Safety mirrors the full vacuum: a path live in any kept snapshot
    * survives (a removed-then-re-added file is live), only
    * table-root-relative paths are ever deleted (a shallow clone's
    * absolute source references are untouchable), and the
    * deletionTimestamp age guard keeps concurrent writers safe.
    * Deletes run on executors; the driver holds only the surviving
    * log's remove records — O(log tail), bounded by the checkpoint
    * interval. Returns the deleted (or reclaimable, dryRun) count. */
  /** CONVERT TO DELTA: mint a `_delta_log` over an existing plain-parquet
    * directory IN PLACE — zero data movement, zero rewrite. Reference
    * workload equivalent: promoting a historical parquet landing zone to
    * the transaction-log format without re-ingesting it.
    *
    * Scale shape (designed for 10⁶-file directories):
    *   - directory tree walked on the DRIVER at O(dirs) — Hive layouts
    *     have one dir per partition, orders of magnitude fewer than files;
    *   - per-directory file listing runs ON EXECUTORS (the same
    *     distributed-listing pattern as [[vacuum]]);
    *   - per-file zone-map stats come from ONE distributed scan grouped
    *     by filename (the cost every stats-collecting convert pays;
    *     `collectStats = false` skips it for scan-once archives);
    *   - add actions are STREAMED into the version-0 commit via
    *     `toLocalIterator` — the driver never holds the file list.
    *
    * Partitioned layouts (`k=v` directories) must declare `partitionBy`
    * (like delta-spark's required partition schema); partition column
    * TYPES are Spark's partition-discovery inference over the directory
    * names. Refuses when the directory already carries a log. */
  def convertToDelta(spark: SparkSession, table: String,
      partitionBy: Seq[String] = Seq.empty,
      collectStats: Boolean = true,
      properties: Map[String, String] = Map.empty): Long = {
    import spark.implicits._
    val f = fs(spark, table)
    val root = f.makeQualified(new Path(table))
    require(f.exists(root), s"CONVERT TO DELTA: no such directory $table")
    require(!isDeltaTable(spark, table),
      s"CONVERT TO DELTA: $table already carries a _delta_log")

    // directory tree: driver walk over DIRS only (hidden/log dirs skipped)
    val hidden = (n: String) => n.startsWith("_") || n.startsWith(".")
    val dirBuf = Seq.newBuilder[String]
    val stack = scala.collection.mutable.Stack(root)
    while (stack.nonEmpty) {
      val d = stack.pop()
      dirBuf += d.toString
      f.listStatus(d).foreach { st =>
        if (st.isDirectory && !hidden(st.getPath.getName)) stack.push(st.getPath)
      }
    }
    val allDirs = dirBuf.result()
    val rootStr = root.toString
    require(partitionBy.nonEmpty ||
        !allDirs.exists(d => d.length > rootStr.length && d.contains("=")),
      s"CONVERT TO DELTA: $table has a partitioned (k=v) layout — declare " +
        "the partition columns (PARTITIONED BY)")

    // file listing on executors: the driver sees a DataFrame, not a list
    val bcConf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val listDf = spark.createDataset(allDirs)
      .repartition(math.min(allDirs.size,
        math.max(1, spark.sparkContext.defaultParallelism)))
      .mapPartitions { ds =>
        val fsys = new Path(rootStr).getFileSystem(bcConf.value.value)
        val base = fsys.makeQualified(new Path(rootStr)).toUri
        ds.flatMap { d =>
          fsys.listStatus(new Path(d)).iterator
            .filter(st => st.isFile && !hidden(st.getPath.getName) &&
              st.getPath.getName.endsWith(".parquet"))
            .map(st => (base.relativize(st.getPath.toUri).getPath,
              st.getLen, st.getModificationTime))
        }
      }.toDF("rel", "size", "mtime")
      .withColumn("__b", element_at(split(col("rel"), "/"), -1))

    // schema: one footer-merging read; partition columns via Spark's
    // partition discovery (types inferred from the directory names)
    val full = spark.read.option("basePath", table).parquet(table)
    val schema = full.schema
    partitionBy.foreach(c => require(schema.fieldNames.contains(c),
      s"CONVERT TO DELTA: declared partition column '$c' not discovered in $table " +
        s"(found: ${schema.fieldNames.mkString(", ")})"))

    // zone-map stats: one distributed scan, one row per file, joined to
    // the listing by basename (collision → stats silently skipped, the
    // same degradation as commitWrite's fallback)
    val statFields = schema.fields.toSeq
      .filterNot(fl => partitionBy.contains(fl.name))
      .filter(fl => isStatType(fl.dataType)).take(statsMaxCols)
    val collide = collectStats && {
      val r = listDf.agg(count(lit(1)), countDistinct(col("__b"))).head()
      r.getLong(0) != r.getLong(1)
    }
    val joined =
      if (!collectStats || collide || statFields.isEmpty) {
        listDf.withColumn("__n", lit(null).cast("long"))
      } else {
        val aggs = Seq(count(lit(1)).as("__n")) ++
          statFields.zipWithIndex.flatMap { case (fld, i) =>
            Seq(min(col(fld.name)).as(s"__mn_$i"),
              max(col(fld.name)).as(s"__mx_$i"),
              sum(when(col(fld.name).isNull, 1L).otherwise(0L)).as(s"__nc_$i"))
          }
        val statsDf = full.groupBy(fileNameCol.as("__b"))
          .agg(aggs.head, aggs.tail: _*)
        listDf.join(statsDf, Seq("__b"), "left")
      }

    // version-0 commit, adds streamed — O(1) driver memory in files
    f.mkdirs(logDir(table))
    val meta = mapper.createObjectNode()
    meta.put("id", java.util.UUID.randomUUID().toString)
    val fmt = meta.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    meta.put("schemaString", schema.json)
    val pcArr = meta.putArray("partitionColumns")
    partitionBy.foreach(pcArr.add)
    val cfgNode = meta.putObject("configuration")
    properties.foreach { case (k, v) => cfgNode.put(k, v) }
    meta.put("createdTime", System.currentTimeMillis())
    Txn.commit(spark, table, None, "CONVERT",
      Seq("""{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
        s"""{"metaData":${mapper.writeValueAsString(meta)}}"""),
      parameters = Map("partitionedBy" -> partitionBy.mkString(","),
        "collectStats" -> collectStats.toString),
      tail = Some { line =>
        var nFiles = 0L
        var bytes = 0L
        val rows = joined.toLocalIterator()
        while (rows.hasNext) {
          val r = rows.next()
          val rel = r.getAs[String]("rel")
          val pv: Map[String, String] = rel.split("/").dropRight(1)
            .filter(_.contains("=")).map { seg =>
              val Array(k, v) = seg.split("=", 2)
              k -> (if (v == "__HIVE_DEFAULT_PARTITION__") null
                    else java.net.URLDecoder.decode(v, "UTF-8"))
            }.toMap
          require(pv.keySet == partitionBy.toSet,
            s"CONVERT TO DELTA: file $rel sits under partition dirs " +
              s"(${pv.keys.mkString(",")}) that disagree with the declared " +
              s"partitioning (${partitionBy.mkString(",")})")
          val statsField =
            if (r.isNullAt(r.fieldIndex("__n"))) ""
            else {
              val node = mapper.createObjectNode()
              node.put("numRecords", r.getAs[Long]("__n"))
              val mins = node.putObject("minValues")
              val maxs = node.putObject("maxValues")
              val ncs = node.putObject("nullCount")
              statFields.zipWithIndex.foreach { case (fld, i) =>
                putStat(mins, fld.name, r.get(r.fieldIndex(s"__mn_$i")))
                putStat(maxs, fld.name, r.get(r.fieldIndex(s"__mx_$i")))
                ncs.put(fld.name, r.getAs[Long](s"__nc_$i"))
              }
              s""","stats":${jsonStr(mapper.writeValueAsString(node))}"""
            }
          line(s"""{"add":{"path":${jsonStr(rel)},"partitionValues":${pvJsonOf(pv)},""" +
            s""""size":${r.getAs[Long]("size")},"modificationTime":${r.getAs[Long]("mtime")},""" +
            s""""dataChange":true$statsField}}""")
          nFiles += 1
          bytes += r.getAs[Long]("size")
        }
        require(nFiles > 0, s"CONVERT TO DELTA: no parquet files found under $table")
        TailCounts(adds = nFiles, addBytes = bytes)
      },
      onRace = Some(s"CONVERT TO DELTA: concurrent writer minted $table's log first"))
  }

  /** CONVERT an Iceberg table TO DELTA, in place and zero-copy: the
    * live file set comes from the ICEBERG MANIFESTS (never a directory
    * listing — an Iceberg data/ dir legitimately holds dead files from
    * superseded snapshots), each add carries numRecords stats from the
    * manifest's record counts, and the `_delta_log` lands next to the
    * untouched `metadata/` dir — both formats stay readable until the
    * owner retires one (the Databricks in-place convert shape). */
  def convertIcebergToDelta(spark: SparkSession, table: String): Long = {
    require(IcebergTable.isIcebergTable(spark, table),
      s"CONVERT FROM ICEBERG: no Iceberg metadata under $table")
    require(!isDeltaTable(spark, table),
      s"CONVERT FROM ICEBERG: $table already carries a _delta_log")
    val st = IcebergTable.state(spark, table)
    // a converted log would list the data files WITHOUT the delete
    // files' suppression — silently resurrecting deleted rows
    require(!st.hasDeletes,
      s"CONVERT FROM ICEBERG: $table carries merge-on-read delete files — " +
        "materialize them first (REORG TABLE iceberg.`…` APPLY (PURGE))")
    val f = fs(spark, table)
    val root = f.makeQualified(new Path(table))
    val rootUri = root.toUri
    val now = System.currentTimeMillis()
    f.mkdirs(logDir(table))
    val meta = mapper.createObjectNode()
    meta.put("id", java.util.UUID.randomUUID().toString)
    val fmt = meta.putObject("format")
    fmt.put("provider", "parquet"); fmt.putObject("options")
    meta.put("schemaString", st.schema.json)
    meta.putArray("partitionColumns")
    meta.putObject("configuration")
    meta.put("createdTime", now)
    val actions = Seq.newBuilder[String]
    actions += """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}"""
    actions += s"""{"metaData":${mapper.writeValueAsString(meta)}}"""
    st.dataFiles.zip(st.fileRecordCounts).foreach { case (p, rc) =>
      val abs = new Path(p)
      val rel = rootUri.relativize(f.makeQualified(abs).toUri).getPath
      require(!new Path(rel).isAbsolute && !rel.startsWith(".."),
        s"CONVERT FROM ICEBERG: data file $p lies outside the table root")
      val status = f.getFileStatus(abs)
      val statsField =
        s""","stats":${jsonStr(s"""{"numRecords":$rc}""")}"""
      actions += s"""{"add":{"path":${jsonStr(rel)},"partitionValues":{},""" +
        s""""size":${status.getLen},"modificationTime":${status.getModificationTime},""" +
        s""""dataChange":true$statsField}}"""
    }
    Txn.commit(spark, table, None, "CONVERT", actions.result(),
      parameters = Map("sourceFormat" -> "iceberg",
        "sourceSnapshotId" -> st.snapshotId.toString))
  }

  def vacuumLite(spark: SparkSession, table: String, keepVersions: Int = 1,
      retainMillis: Long = defaultVacuumRetentionMillis,
      dryRun: Boolean = false): Int = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    require(retainMillis >= 0, s"retainMillis must be >= 0: $retainMillis")
    val f = fs(spark, table)
    val cutoff = System.currentTimeMillis() - retainMillis
    val log = logSegment(f, table)
    // removed data paths from the surviving JSON tail — RELATIVE paths
    // only (an absolute/external reference belongs to a clone source)
    val removed: Seq[(String, Long)] = log.commits.keys.toSeq.flatMap(v =>
      readCommit(f, table, v).filter(_.has("remove")).flatMap { n =>
        val r = n.get("remove")
        val p = r.get("path").asText()
        // external reference = scheme-carrying URI (file:/…, s3://…) or
        // absolute path — a shallow clone's source files; never ours to
        // delete
        val u = new Path(p)
        if (u.toUri.getScheme != null || u.isAbsolute) None
        else Some((p, if (r.has("deletionTimestamp"))
          r.get("deletionTimestamp").asLong() else 0L))
      })
    val aged = removed.collect { case (p, ts) if ts <= cutoff => p }.distinct
    if (aged.isEmpty) return 0
    val liveData = log.versions.takeRight(keepVersions)
      .map(v => snapshotAt(spark, table, log, Some(v)).allFiles.select(col("path")))
      .reduce(_ union _)
    import spark.implicits._
    val candidates = aged.toDF("rel")
      .join(liveData, col("rel") === col("path"), "left_anti")
    if (dryRun) return candidates.count().toInt
    val rootStr = f.makeQualified(new Path(table)).toString
    val bcConf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    candidates.select("rel").as[String].mapPartitions { paths =>
      if (paths.isEmpty) Iterator.empty
      else {
        val fsys = new Path(rootStr).getFileSystem(bcConf.value.value)
        var c = 0L
        paths.foreach { rel =>
          if (fsys.delete(new Path(rootStr, rel), false)) c += 1
        }
        Iterator.single(c)
      }
    }.collect().sum.toInt
  }

  /** FSCK REPAIR TABLE: drop log references to files that no longer
    * exist in the filesystem — out-of-band deletions (bucket lifecycle
    * rules, manual rm, a botched restore) otherwise leave a table whose
    * every scan fails on FileNotFound forever. delta-spark's semantics:
    * repaired entries are REMOVED with dataChange=true (rows readers
    * could previously see are gone, downstream must re-plan), and an
    * entry whose DV SIDECAR vanished also drops — reading it would
    * either resurrect deleted rows or fail the frame CRC.
    *
    * Scale shape: existence probes run on EXECUTORS over the
    * distributed file frame — the driver lists nothing and holds only
    * the MISSING paths (normally zero or a handful); the repair commit
    * is O(missing). Probe cost at 10⁶ files is one FS HEAD per file
    * spread across the cluster — the same order as the scan planning
    * it repairs. Returns the repaired (or, DRY RUN, reparable)
    * relative paths. */
  def fsckRepair(spark: SparkSession, table: String,
      dryRun: Boolean = false): Seq[String] = withDmlRetry(3) {
    import spark.implicits._
    val snap = snapshot(spark, table)
    val rootStr = fs(spark, table).makeQualified(new Path(table)).toString
    val bcConf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val missing: Seq[String] = snap.allFiles
      .select(col("path"), col("deletionVector.storageType"),
        col("deletionVector.pathOrInlineDv"))
      .as[(String, Option[String], Option[String])]
      .mapPartitions { it =>
        if (it.isEmpty) Iterator.empty
        else {
          val fsys = new Path(rootStr).getFileSystem(bcConf.value.value)
          it.filter { case (p, st, pd) =>
            !fsys.exists(new Path(rootStr, p)) ||
              (st.contains("u") &&
                !fsys.exists(DeletionVectors.sidecarPath(rootStr, pd.get)))
          }.map(_._1)
        }
      }.collect().sorted.toSeq
    if (dryRun || missing.isEmpty) return missing
    // old DV descriptors for the removes (protocol semantics: the
    // removed content is what consumers could see) — O(missing) metadata
    val dvByPath: Map[String, (Option[DeletionVectors.Descriptor], Long)] =
      snap.allFiles.where(col("path").isin(missing: _*))
        .select(col("path"), col("deletionVector"), col("size")).collect()
        .map { r =>
          val dv = if (r.isNullAt(1)) None else {
            val s = r.getStruct(1)
            Some(DeletionVectors.Descriptor(s.getString(0), s.getString(1),
              if (s.isNullAt(2)) None else Some(s.getInt(2)),
              s.getInt(3), s.getLong(4)))
          }
          r.getString(0) -> (dv, if (r.isNullAt(2)) -1L else r.getLong(2))
        }.toMap
    val now = System.currentTimeMillis()
    val actions = Seq.newBuilder[String]
    missing.foreach { p =>
      val (dv, sz) = dvByPath.getOrElse(p, (None, -1L))
      val dvField = dv.fold("")(d => "," + dvJson(d))
      val szField = if (sz < 0) "" else s""","size":$sz"""
      actions += s"""{"remove":{"path":${jsonStr(p)},"deletionTimestamp":$now,"dataChange":true$szField$dvField}}"""
    }
    Txn.commit(spark, table, Some(snap), "FSCK", actions.result(),
      parameters = Map("numRemoved" -> missing.length.toString),
      readInfo = Some(TxnReadInfo(missing.toSet, missing.toSet)), now = now)
    missing
  }

  def vacuum(spark: SparkSession, table: String, keepVersions: Int = 1,
      retainMillis: Long = defaultVacuumRetentionMillis,
      dryRun: Boolean = false): Int = {
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    require(retainMillis >= 0, s"retainMillis must be >= 0: $retainMillis")
    val f = fs(spark, table)
    val log = logSegment(f, table)
    val keptSnaps = log.versions.takeRight(keepVersions)
      .map(v => snapshotAt(spark, table, log, Some(v)))
    import spark.implicits._
    // LIVE data paths stay DISTRIBUTED: the union of the kept
    // snapshots' file frames — never a 10⁶-path Set on the driver.
    val liveData = keptSnaps.map(_.allFiles.select(col("path")))
      .reduce(_ union _)
    // DV sidecars referenced by any kept snapshot stay; the rest are
    // reclaimable like data files (OPTIMIZE purges DVs but cannot
    // delete the sidecar while older versions still reference it).
    // Only the DISTINCT descriptors reach the driver (Z85→uuid decode
    // is a JVM-side function): O(distinct DVs), ≪ O(files).
    val tableRootQ = f.makeQualified(new Path(table))
    val liveSidecars: Seq[String] = keptSnaps.map(_.allFiles
        .where(col("deletionVector").isNotNull &&
          col("deletionVector.storageType") === "u")
        .select(col("deletionVector.pathOrInlineDv")))
      .reduce(_ union _).distinct().as[String].collect().toSeq
      .map(u => tableRootQ.toUri.relativize(
        f.makeQualified(DeletionVectors.sidecarPath(table, u)).toUri).getPath)
    val cutoff = System.currentTimeMillis() - retainMillis
    // change-data files referenced by any SURVIVING commit JSON stay —
    // [[changesBetween]] can still serve those windows; once the commit
    // is checkpointed away the cdc file becomes reclaimable like any
    // unreferenced data file. O(surviving commits) driver work, bounded
    // by the checkpoint interval.
    val liveCdc: Seq[String] = log.commits.keys.toSeq.flatMap(v =>
      readCommit(f, table, v).filter(_.has("cdc"))
        .map(_.get("cdc").get("path").asText()))
    // candidate listing PARALLELIZED per subtree: the driver lists only
    // the root's first level; executors walk their directories — a
    // Hive-partitioned 100 TB table lists its thousands of partition
    // dirs concurrently instead of one driver RemoteIterator.
    // underscore/hidden trees are engine metadata (the log, the bloom
    // index sidecar, symlink manifests) — never vacuum candidates, and
    // not worth walking. The ONE carve-out is `_change_data`: its cdc
    // parquet must stay reclaimable once the referencing commits are
    // checkpointed away (delta-spark's exact policy).
    val top = f.listStatus(tableRootQ).toSeq
      .filter { st =>
        val n = st.getPath.getName
        n == ChangeDataDir || (!n.startsWith("_") && !n.startsWith("."))
      }
    val rootUri = tableRootQ.toUri
    def relOf(p: Path): String = rootUri.relativize(p.toUri).getPath
    val topFileRows: Seq[(String, Long)] = top.filter(_.isFile)
      .map(st => (relOf(st.getPath), st.getModificationTime))
    val topDirs: Seq[String] = top.filter(_.isDirectory).map(_.getPath.toString)
    val bcConf = spark.sparkContext.broadcast(
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val rootStr = tableRootQ.toString
    val dirRows: Dataset[(String, Long)] =
      if (topDirs.isEmpty) spark.emptyDataset[(String, Long)]
      else spark.createDataset(topDirs)
        .repartition(math.min(topDirs.size,
          math.max(1, spark.sparkContext.defaultParallelism)))
        .mapPartitions { dirs =>
          if (dirs.isEmpty) Iterator.empty
          else {
            val fsys = new Path(rootStr).getFileSystem(bcConf.value.value)
            val base = fsys.makeQualified(new Path(rootStr)).toUri
            dirs.flatMap { d =>
              val out = Seq.newBuilder[(String, Long)]
              val walk = fsys.listFiles(new Path(d), true)
              while (walk.hasNext) {
                val st = walk.next()
                if (st.isFile)
                  out += ((base.relativize(st.getPath.toUri).getPath,
                    st.getModificationTime))
              }
              out.result()
            }
          }
        }
    val found = dirRows.union(topFileRows.toDS()).toDF("rel", "mtime")
    // reclaimable = aged-out data files or DV sidecars under the root
    // that NO kept snapshot references (left-anti against the
    // distributed live frame; sidecar/cdc keep-lists are small and
    // broadcast via isin)
    val isData = col("rel").endsWith(".parquet")
    val isSidecar = element_at(split(col("rel"), "/"), -1)
      .startsWith("deletion_vector_") && col("rel").endsWith(".bin")
    // belt over the listing filter above: same underscore/hidden policy
    // with the _change_data carve-out, applied per relative path
    val visible = (col("rel").startsWith(s"$ChangeDataDir/") ||
        !col("rel").startsWith("_")) &&
      !col("rel").contains("/.") && !col("rel").startsWith(".")
    val keepCdc = if (liveCdc.isEmpty) lit(false) else col("rel").isin(liveCdc: _*)
    val keepSidecar =
      if (liveSidecars.isEmpty) lit(false) else col("rel").isin(liveSidecars: _*)
    val candidates = found
      .where(visible && col("mtime") <= cutoff &&
        ((isData && !keepCdc) || (isSidecar && !keepSidecar)))
      .join(liveData, col("rel") === col("path"), "left_anti")
    if (dryRun) candidates.count().toInt
    else {
      // deletes run on executors (idempotent on retry: deleting an
      // absent file is a no-op false); only the count reaches the driver
      val n = candidates.select("rel").as[String].mapPartitions { paths =>
        if (paths.isEmpty) Iterator.empty
        else {
          val fsys = new Path(rootStr).getFileSystem(bcConf.value.value)
          var c = 0L
          paths.foreach { rel => fsys.delete(new Path(rootStr, rel), false); c += 1 }
          Iterator.single(c)
        }
      }.collect().sum
      n.toInt
    }
  }

  /** Write a parquet checkpoint of the current snapshot + the
    * `_last_checkpoint` pointer, bounding future replays to the JSON
    * suffix (and allowing old commits to be vacuumed). Built straight
    * from the DISTRIBUTED file state — a 10⁶-file checkpoint never
    * routes through the driver. Carries the spec-required singleton
    * actions: one complete `metaData` (the table's raw declaration,
    * defaults filled) and one `protocol`, plus every SetTransaction —
    * so a foreign reader can replay a graft-written checkpoint after
    * the JSON prefix is vacuumed. `parts > 1` writes the multi-part
    * layout (`<v>.checkpoint.<i>.<n>.parquet`); [[snapshot]] reads
    * either layout. */
  def checkpoint(spark: SparkSession, table: String, parts: Int = 1): Long = {
    import spark.implicits._
    require(parts >= 1, s"parts must be >= 1: $parts")
    val snap = snapshot(spark, table)
    val f = fs(spark, table)
    val now = System.currentTimeMillis()
    val addRows = snap.allFiles.select(
      struct(col("path"),
        coalesce(col("partitionValues"),
          expr("CAST(map() AS MAP<STRING,STRING>)")).as("partitionValues"),
        col("size"), col("modificationTime"), lit(true).as("dataChange"),
        col("stats"), col("deletionVector").cast(dvSchema).as("deletionVector"),
        col("baseRowId"), col("defaultRowCommitVersion"))
        .cast(addSchema).as("add"),
      lit(null).cast(removeSchema).as("remove"),
      lit(null).cast(metaDataSchema).as("metaData"),
      lit(null).cast(protocolSchema).as("protocol"),
      lit(null).cast(txnSchema).as("txn"),
      lit(null).cast(domainMetadataSchema).as("domainMetadata"))
    // the singleton metaData must be COMPLETE per the checkpoint spec:
    // fill protocol-required fields a terse foreign log never declared
    val metaNode = snap.metaDataJson
      .map(mapper.readTree(_).asInstanceOf[ObjectNode].deepCopy())
      .getOrElse(mapper.createObjectNode())
    if (!metaNode.has("id")) metaNode.put("id", java.util.UUID.randomUUID().toString)
    if (!metaNode.has("format")) {
      val fmt = metaNode.putObject("format")
      fmt.put("provider", "parquet"); fmt.putObject("options")
    }
    if (!metaNode.has("schemaString"))
      metaNode.put("schemaString", snap.schema.getOrElse(new StructType()).json)
    if (!metaNode.has("partitionColumns")) {
      val arr = metaNode.putArray("partitionColumns")
      snap.partitionColumns.foreach(arr.add)
    }
    if (!metaNode.has("configuration")) metaNode.putObject("configuration")
    if (!metaNode.has("createdTime")) metaNode.put("createdTime", now)
    val protoJson = snap.protocolJson
      .getOrElse("""{"minReaderVersion":1,"minWriterVersion":2}""")
    // SetTransaction expiry (delta.setTransactionRetentionDuration):
    // entries whose lastUpdated is beyond the retention window drop at
    // checkpoint time — the protocol's mechanism for keeping the txn
    // table from growing forever under churning stream ids. Entries
    // with NO recorded lastUpdated never expire (delta-spark semantics).
    val txnRetention = snap.configuration
      .get("delta.setTransactionRetentionDuration").flatMap(parseInterval)
    val keptTxns = snap.txns.toSeq.sortBy(_._1).filter { case (a, _) =>
      txnRetention.forall(ret =>
        snap.txnTimes.get(a).forall(ts => now - ts <= ret))
    }
    val metaLines = Seq(
      s"""{"metaData":${mapper.writeValueAsString(metaNode)}}""",
      s"""{"protocol":$protoJson}""") ++
      keptTxns.map { case (a, v) =>
        val ts = snap.txnTimes.get(a).fold("")(t => s""","lastUpdated":$t""")
        s"""{"txn":{"appId":${jsonStr(a)},"version":$v$ts}}"""
      } ++
      // live metadata domains survive the JSON tail's vacuum through the
      // checkpoint, like every other singleton
      snap.domainMetadata.toSeq.sortBy(_._1).map { case (d, cfg) =>
        s"""{"domainMetadata":{"domain":${jsonStr(d)},""" +
          s""""configuration":${jsonStr(cfg)},"removed":false}}"""
      }
    def stagedParquet(scratch: Path): Seq[Path] = {
      val it = f.listFiles(scratch, false)
      val b = Seq.newBuilder[Path]
      while (it.hasNext) {
        val st = it.next()
        if (st.getPath.getName.endsWith(".parquet")) b += st.getPath
      }
      val s = b.result().sortBy(_.getName)
      require(s.nonEmpty, "checkpoint stage produced no parquet")
      s
    }
    def writeLastCheckpoint(partsField: String): Unit = {
      val lp = new Path(logDir(table), "_last_checkpoint")
      // action count from one distributed count — never the entry seq
      val size = snapshotFileCount(snap) + 2 + keptTxns.size
      val out = f.create(lp, true)
      try out.write(
        s"""{"version":${snap.version},"size":$size$partsField}""".getBytes("UTF-8"))
      finally out.close()
    }

    // a table whose READER features include v2Checkpoint — or that
    // declares delta.checkpointPolicy=v2, the spec's property spelling —
    // gets the V2 layout (manifest + _sidecars/): its readers expect
    // it, and checkpoint symmetry means a graft-maintained foreign
    // table keeps the shape its other writers produce
    val isV2 = snap.configuration.get("delta.checkpointPolicy")
      .contains("v2") || snap.protocolJson.exists { pj =>
      val p = mapper.readTree(pj)
      p.has("readerFeatures") && {
        val it = p.get("readerFeatures").elements()
        var found = false
        while (it.hasNext && !found) found = it.next().asText() == "v2Checkpoint"
        found
      }
    }

    if (isV2) {
      // sidecars: the file-level add rows, one parquet per part, under
      // _delta_log/_sidecars/<uuid>.parquet
      val scratch = new Path(table, ".tmp-checkpoint")
      addRows.repartition(parts).write.mode("overwrite").parquet(scratch.toString)
      val sidecarDir = new Path(logDir(table), "_sidecars")
      f.mkdirs(sidecarDir)
      val entries = stagedParquet(scratch).map { part =>
        val name = java.util.UUID.randomUUID().toString + ".parquet"
        val dest = new Path(sidecarDir, name)
        require(f.rename(part, dest), s"sidecar move failed: $dest")
        val st = f.getFileStatus(dest)
        (name, st.getLen, st.getModificationTime)
      }
      f.delete(scratch, true)
      // manifest: singletons + checkpointMetadata + sidecar pointers,
      // named <v>.checkpoint.<uniqueStr>.parquet per the V2 spec
      val manLines = metaLines ++
        Seq(s"""{"checkpointMetadata":{"version":${snap.version}}}""") ++
        entries.map { case (nm, sz, mt) =>
          s"""{"sidecarFile":{"path":${jsonStr(nm)},"sizeInBytes":$sz,"modificationTime":$mt}}"""
        }
      val manScratch = new Path(table, ".tmp-checkpoint-manifest")
      spark.read.schema(v2ManifestSchema).json(manLines.toDS()).coalesce(1)
        .write.mode("overwrite").parquet(manScratch.toString)
      val unique = java.util.UUID.randomUUID().toString.take(8)
      val dest = new Path(logDir(table),
        f"${snap.version}%020d.checkpoint.$unique.parquet")
      require(f.rename(stagedParquet(manScratch).head, dest),
        s"checkpoint manifest move failed: $dest")
      f.delete(manScratch, true)
      writeLastCheckpoint("")
      maybeCleanupExpiredLog(spark, table, snap)
      return snap.version
    }

    val metaRows = spark.read.schema(actionSchema).json(metaLines.toDS())
    val cpDf = addRows.unionByName(metaRows)
    val scratch = new Path(table, ".tmp-checkpoint")
    cpDf.repartition(parts).write.mode("overwrite").parquet(scratch.toString)
    val staged = stagedParquet(scratch)
    // empty shuffle partitions write no file, so the actual part count
    // can undershoot the ask — name by what exists
    val n = staged.size
    staged.zipWithIndex.foreach { case (part, i) =>
      val dest =
        if (n == 1)
          new Path(logDir(table), f"${snap.version}%020d.checkpoint.parquet")
        else new Path(logDir(table),
          f"${snap.version}%020d.checkpoint.${i + 1}%010d.$n%010d.parquet")
      if (!f.rename(part, dest)) {
        // a concurrent writer already checkpointed this version — theirs
        // is equivalent (same snapshot); keep it and stop staging ours
        require(f.exists(dest), s"checkpoint move failed: $dest")
      }
    }
    f.delete(scratch, true)
    writeLastCheckpoint(if (n == 1) "" else s""","parts":$n""")
    maybeCleanupExpiredLog(spark, table, snap)
    snap.version
  }

  // ------------------------------------------------- log cleanup
  // (delta.logRetentionDuration metadata cleanup: Delta expires JSON
  // commits behind a checkpoint once they age past the retention
  // window — replay always starts at the checkpoint, so only time
  // travel below it is given up, and the reader's contiguity guard
  // already reports that case precisely)

  /** Parse Delta's interval-property format ("interval N
    * days|hours|minutes") to milliseconds; None when unparsable. */
  private def parseInterval(raw: String): Option[Long] = {
    val re = """interval\s+(\d+)\s+(day|days|hour|hours|minute|minutes)""".r
    raw.trim.toLowerCase match {
      case re(n, u) =>
        val unit =
          if (u.startsWith("day")) 24L * 3600 * 1000
          else if (u.startsWith("hour")) 3600L * 1000
          else 60L * 1000
        Some(n.toLong * unit)
      case _ => None
    }
  }

  /** Parse `delta.logRetentionDuration` (Delta's own format); default
    * 30 days — Delta's default. */
  private def logRetentionMillis(cfg: Map[String, String]): Long =
    cfg.get("delta.logRetentionDuration").flatMap(parseInterval)
      .getOrElse(30L * 24 * 3600 * 1000)

  /** Expired-log cleanup: delete the CONTIGUOUS PREFIX of JSON commits
    * strictly below the newest checkpoint whose files aged past the
    * retention window. Prefix-only, never a gap — the first young (or
    * checkpoint-covered) commit stops the sweep, so every surviving
    * version below the checkpoint remains exactly replayable and the
    * reader's non-contiguous guard never mis-fires on our own tables.
    * Returns the number of commits removed (or that would be, dryRun). */
  def cleanupLog(spark: SparkSession, table: String,
      retainMillis: Option[Long] = None, dryRun: Boolean = false): Int = {
    val f = fs(spark, table)
    val log = logSegment(f, table)
    val cpV = log.checkpoints.lastOption.fold(return 0)(_.version)
    val retain = retainMillis.getOrElse(
      logRetentionMillis(snapshotAt(spark, table, log).configuration))
    val cutoff = System.currentTimeMillis() - retain
    var n = 0
    var stop = false
    val it = log.commits.iterator
    while (!stop && it.hasNext) {
      val (v, st) = it.next()
      if (v >= cpV) stop = true
      else {
        if (st.getModificationTime <= cutoff) {
          if (!dryRun) {
            f.delete(st.getPath, false)
            // the commit's optional .crc sidecar expires with it
            f.delete(new Path(logDir(table), f"$v%020d.crc"), false)
          }
          n += 1
        } else stop = true
      }
    }
    // log-compaction files fully below the checkpoint expire with the
    // commits they cover (replay ≥ checkpoint never selects them, and
    // time travel into their range needs the plain commits anyway);
    // not counted — the return value is commits removed
    if (!dryRun)
      log.compactions.foreach { case (_, y, st) =>
        if (y < cpV && st.getModificationTime <= cutoff) f.delete(st.getPath, false)
      }
    n
  }

  /** Log compaction — the protocol's `<x>.<y>.compacted.json` minor
    * compaction: ONE file holding the NET actions of the inclusive
    * commit range `[start, end]`, which [[snapshot]] substitutes for
    * the whole range during replay. This bounds the JSON tail BETWEEN
    * checkpoints without paying for a full checkpoint: on a table
    * committing every few seconds, replay cost goes from O(commits
    * since checkpoint) files to O(commits / interval).
    *
    * Netting rules (replay-equivalent by construction): last add or
    * remove per data-file path (an in-range DV update — remove+add of
    * the same path in one commit — nets to the re-add carrying the new
    * descriptor; a file added then removed nets to the remove
    * tombstone), the latest protocol and metaData, the last txn per
    * appId, the last domainMetadata per domain; commitInfo and cdc
    * actions drop (change-feed readers replay the original commits,
    * which compaction never deletes). File actions net DISTRIBUTED
    * (window over the range's action lines) and stream to the file via
    * toLocalIterator — the driver never holds the range's add set.
    *
    * Returns true when written; false when the file already exists
    * (another compactor won — the outcome is identical). */
  def compactLog(spark: SparkSession, table: String,
      start: Long, end: Long): Boolean = {
    require(start >= 0 && end > start,
      s"compactLog needs 0 <= start < end, got $start..$end")
    val f = fs(spark, table)
    val have = logSegment(f, table).commits
    (start to end).foreach(v => require(have.contains(v),
      s"compactLog $start..$end of $table: commit $v is missing"))
    val dest = compactedPath(table, start, end)
    if (f.exists(dest)) return false

    // driver-side metadata netting in version order (raw lines kept
    // verbatim — the compacted file must parse exactly like a commit)
    var protoLine: Option[String] = None
    var metaLine: Option[String] = None
    val txnLines = mutable.LinkedHashMap.empty[String, String]
    val domainLines = mutable.LinkedHashMap.empty[String, String]
    (start to end).foreach { v =>
      readCommit(f, table, v).foreach { n =>
        if (n.has("protocol")) protoLine = Some(mapper.writeValueAsString(n))
        else if (n.has("metaData")) metaLine = Some(mapper.writeValueAsString(n))
        else if (n.has("txn"))
          txnLines.put(n.get("txn").get("appId").asText(),
            mapper.writeValueAsString(n))
        else if (n.has("domainMetadata"))
          domainLines.put(n.get("domainMetadata").get("domain").asText(),
            mapper.writeValueAsString(n))
      }
    }

    // distributed per-path netting of add/remove, raw lines preserved;
    // same ordering rule as snapshot replay (version desc, add wins an
    // in-version tie)
    val paths = (start to end).map(v => commitPath(table, v).toString)
    val lines = spark.read.text(paths: _*)
      .withColumn("__v", regexp_extract(col("_metadata.file_path"),
        """/(\d{20})\.json$""", 1).cast("long"))
      .withColumn("__p", coalesce(
        get_json_object(col("value"), "$.add.path"),
        get_json_object(col("value"), "$.remove.path")))
      .where(col("__p").isNotNull)
      .withColumn("__kind", when(
        get_json_object(col("value"), "$.add.path").isNotNull, "add")
        .otherwise("remove"))
    val w = Window.partitionBy("__p")
      .orderBy(col("__v").desc, when(col("__kind") === "add", 0).otherwise(1))
    val net = lines.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .select("value")

    val nonce = java.util.UUID.randomUUID().toString.take(8)
    val tmp = new Path(logDir(table),
      f".$start%020d.$end%020d-$nonce.compacted.json.tmp")
    val out = f.create(tmp, false)
    try {
      def line(s: String): Unit = out.write((s + "\n").getBytes("UTF-8"))
      protoLine.foreach(line)
      metaLine.foreach(line)
      txnLines.values.foreach(line)
      domainLines.values.foreach(line)
      val it = net.toLocalIterator()
      while (it.hasNext) line(it.next().getString(0))
    } finally out.close()
    Publish.publishIfAbsent(f, tmp, dest)
  }

  /** Checkpoint-time hook: Delta cleans expired logs whenever it writes
    * a checkpoint unless `delta.enableExpiredLogCleanup` is false.
    * Best-effort like the checkpoint itself — a cleanup failure never
    * fails the (already durable) checkpoint. */
  private def maybeCleanupExpiredLog(spark: SparkSession, table: String,
      snap: Snapshot): Unit =
    if (!snap.configuration.get("delta.enableExpiredLogCleanup").contains("false"))
      try {
        cleanupLog(spark, table, Some(logRetentionMillis(snap.configuration)))
        ()
      } catch { case _: Throwable => () }
}
