package graft.sources

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.avro.file.{DataFileStream, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.{Schema => AvroSchema}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Apache Iceberg table interop, from the PUBLIC spec
  * (https://iceberg.apache.org/spec/) with no Iceberg libraries — the
  * same from-scratch approach as [[DeltaLog]] for the Delta protocol.
  *
  * READ (v1 and v2 metadata): the highest `v*.metadata.json` → current
  * snapshot → manifest list
  * (avro) → manifests (avro) → live parquet data files. Iceberg avro
  * metadata is self-describing, so entries resolve by FIELD NAME — the
  * spec's names — which reads both this writer's minimal files and
  * real Iceberg tables'. Manifest entries with status DELETED drop;
  * v2 DELETE manifests (`content = 1`) and non-parquet data files
  * refuse loudly rather than silently over-returning rows. Time travel
  * by snapshot id or timestamp (snapshot-log).
  *
  * WRITE: every write reads its base once ([[base]]), stages parquet
  * under `data/`, writes its manifests, adds at most one snapshot
  * ([[addSnapshot]]) and publishes `v<base + 1>.metadata.json`
  * put-if-absent ([[commit]]) — the reader-visible commit point. The
  * format version is 1 until a delete manifest makes it 2. Field-ids
  * are assigned sequentially and carried in both the table schema JSON
  * and the manifest avro schema (`field-id` props), which is what real
  * Iceberg readers key on. HIDDEN PARTITIONING ([[IcebergPartition]]): a spec of
  * (source, transform) pairs — identity, bucket[N], truncate[W],
  * year/month/day/hour — declared on first write and adopted by every
  * later append; manifests carry per-file partition tuples (field-id
  * 102) and [[readPruned]] maps source-column predicates through the
  * transforms to skip data files without opening them.
  *
  * Scale notes: the READ PATH never holds file-level state on the
  * driver — the same rule as [[DeltaLog.Snapshot.allFiles]]. The driver
  * reads only the manifest LIST (~10³ manifests for a 10⁶-file table at
  * Iceberg's default sizing); per-manifest avro parsing fans out to
  * executors ([[entriesOf]]), hidden-partition/bounds pruning runs as a
  * distributed filter, and data paths reach the driver only in bounded
  * chunks for scan planning. [[state]] remains the driver-side
  * MAINTENANCE surface (rewrite/expire scope decisions, the pruning
  * spec API). */
object IcebergTable {

  private val mapper = new ObjectMapper()

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
    finally in.close()
  }

  // ------------------------------------------------------------- metadata

  /** Scheme-insensitive path normalization: manifests may record
    * file:/, file:///, or bare paths for the same file. The ONE rule
    * shared by delete scoping, rewrite selection, and orphan
    * reachability — if these disagreed about path identity, a file
    * could be double-counted or missed. */
  private def normPathCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.regexp_replace(
      c, "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")

  /** Test seam: runs immediately before the put-if-absent publish of
    * every commit attempt ([[commit]]) — the window a racing writer
    * occupies (the [[DeltaLog.raceHook]] pattern). */
  private[graft] var raceHook: () => Unit = () => ()

  /** Test seam: runs immediately AFTER a commit attempt's metadata file
    * was published — the window where a post-commit IOException must
    * NOT count as a lost commit (a rebase onto the attempt's own commit
    * would duplicate the appended rows). */
  private[graft] var postCommitHook: () => Unit = () => ()

  private def metadataPath(table: String, version: Int): Path =
    new Path(table, s"metadata/v$version.metadata.json")

  /** The ONE rule for the current version: the highest
    * `v<N>.metadata.json` in the listing, 0 when there is none. Every
    * version is published whole and at most once ([[publishMetadata]]),
    * so the listing max is the truth; a `version-hint.text` another
    * writer left behind is ignored. Writers commit at max + 1 — NOT
    * snapshot count, which shrinks under [[expireSnapshots]] and would
    * collide with retained metadata files; it is also the
    * sequence-number source for new snapshots (monotonic across
    * expiry). */
  private def latestMetadataVersion(f: FileSystem, table: String): Int =
    try f.listStatus(new Path(table, "metadata")).iterator.map(_.getPath.getName)
      .collect { case n if n.matches("v\\d+\\.metadata\\.json") =>
        n.stripPrefix("v").stripSuffix(".metadata.json").toInt }
      .maxOption.getOrElse(0)
    catch { case _: java.io.FileNotFoundException => 0 }

  /** A table's metadata as ONE listing of `metadata/` saw it: the
    * version (0 before the first commit) and the metadata published at
    * it. Every reader starts here, and every writer pins the base it
    * planned against and commits at exactly `version + 1`
    * ([[commit]]). */
  private case class Base(table: String, version: Int, meta: Option[ObjectNode]) {
    def root: ObjectNode = {
      require(meta.isDefined,
        s"not an Iceberg table (no v*.metadata.json under metadata/): $table")
      meta.get
    }
  }

  private def base(f: FileSystem, table: String): Base = {
    val v = latestMetadataVersion(f, table)
    Base(table, v, if (v == 0) None
      else Some(mapper.readTree(readText(f, metadataPath(table, v))).asInstanceOf[ObjectNode]))
  }

  /** Publish `meta` as `v<version>.metadata.json` iff no writer, in this
    * process or another, published that version first: a temp file
    * written in full, then [[Publish.publishIfAbsent]]. Readers never
    * see a partial version. Returns whether this call won. */
  private def publishMetadata(f: FileSystem, table: String, version: Int,
      meta: Array[Byte]): Boolean = {
    val dest = metadataPath(table, version)
    val tmp = new Path(dest.getParent, s".${dest.getName}.${newNonce()}.tmp")
    val out = f.create(tmp, false)
    try out.write(meta) finally out.close()
    Publish.publishIfAbsent(f, tmp, dest)
  }

  /** A lost [[publishMetadata]]: the same typed error a create-if-absent
    * of an existing `vN` raises. */
  private def lostPublish(table: String, version: Int): java.io.IOException =
    new org.apache.hadoop.fs.FileAlreadyExistsException(
      s"File already exists: ${metadataPath(table, version)}")

  /** Names every file one write stages or writes, so a lost attempt's
    * `*-<nonce>.avro` can be swept. */
  private def newNonce(): String = java.util.UUID.randomUUID().toString.take(8)

  def isIcebergTable(spark: SparkSession, location: String): Boolean = {
    val table = qualify(spark, location)
    scala.util.Try(base(fs(spark, table), table).version > 0).getOrElse(false)
  }

  /** Iceberg schema JSON → Spark StructType (spec type names). */
  private def toSpark(t: com.fasterxml.jackson.databind.JsonNode): DataType =
    if (t.isTextual) t.asText() match {
      case "boolean" => BooleanType
      case "int" => IntegerType
      case "long" => LongType
      case "float" => FloatType
      case "double" => DoubleType
      case "string" => StringType
      case "date" => DateType
      case "timestamp" => TimestampNTZType
      case "timestamptz" => TimestampType
      case "binary" => BinaryType
      case "uuid" => StringType
      case s if s.startsWith("decimal(") =>
        val Array(p, sc) = s.stripPrefix("decimal(").stripSuffix(")").split(",")
        DecimalType(p.trim.toInt, sc.trim.toInt)
      case s if s.startsWith("fixed[") => BinaryType
      case other => sys.error(s"unsupported Iceberg type: $other")
    } else t.get("type").asText() match {
      case "struct" => StructType(t.get("fields").elements().asScala.map { fld =>
        StructField(fld.get("name").asText(), toSpark(fld.get("type")),
          nullable = !fld.path("required").asBoolean(false))
      }.toSeq)
      case "list" =>
        ArrayType(toSpark(t.get("element")),
          containsNull = !t.path("element-required").asBoolean(false))
      case "map" =>
        MapType(toSpark(t.get("key")), toSpark(t.get("value")),
          valueContainsNull = !t.path("value-required").asBoolean(false))
      case other => sys.error(s"unsupported Iceberg nested type: $other")
    }

  /** Parsed table state at the chosen snapshot. */
  case class State(formatVersion: Int, schema: StructType,
      snapshotId: Long, dataFiles: Seq[String], recordCount: Long,
      // per-file record counts straight from the manifests (parallel to
      // dataFiles) — feeds converted-table stats without a data scan
      fileRecordCounts: Seq[Long] = Seq.empty,
      // v2 merge-on-read state, all resolved to absolute paths:
      // data-file sequence numbers (parallel to dataFiles), position
      // delete files as (path, sequenceNumber), and equality delete
      // files as (path, sequenceNumber, equality field ids)
      dataSeqs: Seq[Long] = Seq.empty,
      posDeletes: Seq[(String, Long)] = Seq.empty,
      eqDeletes: Seq[(String, Long, Seq[Int])] = Seq.empty,
      // field id -> column name (top level), for equality-delete columns
      fieldNamesById: Map[Int, String] = Map.empty,
      // hidden partitioning: the default spec's fields, and each data
      // file's partition tuple from its manifest entry (None = the file
      // predates the spec or carries no tuple — never pruned)
      specFields: Seq[IcebergPartition.Field] = Seq.empty,
      partitionTuples: Seq[Option[Seq[Any]]] = Seq.empty,
      // per-file byte sizes (parallel to dataFiles) — bin-pack selection
      fileSizes: Seq[Long] = Seq.empty,
      // partition evolution: every spec by id, and each file's spec id
      // (its tuple parses under ITS spec, not the current default)
      allSpecs: Map[Int, Seq[IcebergPartition.Field]] = Map.empty,
      fileSpecIds: Seq[Int] = Seq.empty,
      defaultSpecId: Int = 0,
      // per-file column bounds (schema field id → spec bytes) — the
      // format's zone maps, parallel to dataFiles
      lowerBounds: Seq[Map[Int, Array[Byte]]] = Seq.empty,
      upperBounds: Seq[Map[Int, Array[Byte]]] = Seq.empty,
      // per-file null counts (schema field id → nulls) — IS [NOT] NULL
      // pruning and all-null file elimination
      nullCounts: Seq[Map[Int, Long]] = Seq.empty) {
    def hasDeletes: Boolean = posDeletes.nonEmpty || eqDeletes.nonEmpty
  }

  private def schemaNode(root: ObjectNode): com.fasterxml.jackson.databind.JsonNode =
    // v2: schemas[] + current-schema-id; v1: schema
    if (root.has("schemas")) {
      val want = root.get("current-schema-id").asInt()
      root.get("schemas").elements().asScala
        .find(_.get("schema-id").asInt() == want)
        .getOrElse(sys.error("current-schema-id not in schemas[]"))
    } else root.get("schema")

  private def resolveSchema(root: ObjectNode): StructType =
    toSpark(schemaNode(root)).asInstanceOf[StructType]

  /** Top-level field id -> name, for resolving equality-delete ids. */
  private def schemaFieldIds(root: ObjectNode): Map[Int, String] =
    schemaNode(root).path("fields").elements().asScala
      .filter(fl => fl.has("id") && fl.has("name"))
      .map(fl => fl.get("id").asInt() -> fl.get("name").asText()).toMap

  /** Every partition spec by id (source columns resolved through the
    * schema's field ids) — a table that evolved its partitioning keeps
    * all of them, one per manifest generation. */
  private def specsById(root: ObjectNode): Map[Int, Seq[IcebergPartition.Field]] = {
    val idToName = schemaFieldIds(root)
    root.path("partition-specs").elements().asScala.map { sn =>
      sn.path("spec-id").asInt(0) ->
        sn.path("fields").elements().asScala.toSeq.map { fl =>
          val sid = fl.get("source-id").asInt()
          IcebergPartition.Field(
            idToName.getOrElse(sid,
              sys.error(s"partition source-id $sid not in schema")),
            IcebergPartition.parseTransform(fl.get("transform").asText()))
        }
    }.toMap
  }

  /** The DEFAULT partition spec's fields; empty for unpartitioned. */
  private def specFromMeta(root: ObjectNode): Seq[IcebergPartition.Field] =
    specsById(root)
      .getOrElse(root.path("default-spec-id").asInt(0), Seq.empty)

  /** Every record of one Avro metadata file, read sequentially from the
    * table's filesystem stream, on the driver and on executors alike. */
  private def avroEntries(f: FileSystem, p: Path): Seq[GenericRecord] =
    try {
      val in = f.open(p)
      try new DataFileStream[GenericRecord](in,
        new GenericDatumReader[GenericRecord]()).iterator().asScala.toVector
      finally in.close()
    } catch {
      // torn or foreign bytes surface as EOFException or Avro's own
      // (unchecked) exceptions; name the file in one IOException
      case scala.util.control.NonFatal(e) => throw new java.io.IOException(
        s"unreadable Iceberg Avro metadata file $p", e)
    }

  private def str(r: GenericRecord, field: String): Option[String] =
    Option(r.getSchema.getField(field)).flatMap(_ => Option(r.get(field)))
      .map(_.toString)

  private def lng(r: GenericRecord, field: String): Option[Long] =
    Option(r.getSchema.getField(field)).flatMap(_ => Option(r.get(field)))
      .map(_.asInstanceOf[Number].longValue())

  /** A relative table argument, qualified once at the public entry
    * points: the writers record table-derived paths (`location`,
    * `manifest-list`, `manifest_path`) that [[resolve]] would otherwise
    * prefix with the relative table a second time. Absolute and
    * scheme-qualified inputs pass through untouched, so the metadata
    * they produce stays byte-identical. */
  private def qualify(spark: SparkSession, table: String): String = {
    val p = new Path(table)
    if (p.isAbsolute || p.toUri.getScheme != null) table
    else fs(spark, table).makeQualified(p).toString
  }

  /** Resolve a table location that may be absolute (real Iceberg writes
    * fully-qualified paths) or relative to the table root. */
  private def resolve(table: String, p: String): String = {
    val u = new Path(p)
    if (u.toUri.getScheme != null || u.isAbsolute) p
    else new Path(table, p).toString
  }

  /** One manifest entry as a DISTRIBUTED-frame row — the Iceberg
    * analogue of [[DeltaLog]]'s file frame. `content` 0 = data,
    * 1 = position deletes, 2 = equality deletes. Partition values ride
    * stringified (decoded back by each spec field's result type at
    * pruning time); bounds/null-counts key by schema field id. */
  private[graft] case class IceEntry(
      path: String, content: Int, seq: Long, recordCount: Long,
      fileSize: Long, specId: Int,
      hasPartition: Boolean, partition: Seq[String],
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      nullCounts: Map[Int, Long], equalityIds: Seq[Int],
      // the snapshot that first ADDED the file (spec: preserved when a
      // manifest rewrite carries the entry as EXISTING); 0 = unknown
      addedSnapshotId: Long = 0L)

  /** [[avroEntries]] from a bare Hadoop conf — the executor-side form
    * (tasks get their FileSystem from a broadcast conf, never from the
    * driver's session). */
  private def avroEntriesConf(conf: org.apache.hadoop.conf.Configuration,
      p: Path): Seq[GenericRecord] =
    avroEntries(p.getFileSystem(conf), p)

  /** Parse ONE manifest's live entries — pure, executor-safe. */
  private def parseManifestEntries(
      conf: org.apache.hadoop.conf.Configuration, table: String,
      manifestPath: String, manifestSeq: Long, manifestSpecId: Int,
      specFieldNames: Map[Int, Seq[String]]): Seq[IceEntry] = {
    val fieldNames = specFieldNames.getOrElse(manifestSpecId, Seq.empty)
    def boundsOf(d: GenericRecord, field: String): Map[Int, Array[Byte]] =
      Option(d.get(field)) match {
        case Some(arr: java.util.Collection[_]) =>
          arr.asScala.collect { case r: GenericRecord =>
            val bb = r.get("value").asInstanceOf[java.nio.ByteBuffer]
            val bytes = new Array[Byte](bb.remaining())
            bb.duplicate().get(bytes)
            r.get("key").asInstanceOf[Number].intValue() -> bytes
          }.toMap
        case _ => Map.empty
      }
    avroEntriesConf(conf, new Path(manifestPath)).flatMap { e =>
      if (lng(e, "status").getOrElse(0L) == 2L) None // DELETED entry
      else {
        val df = e.get("data_file").asInstanceOf[GenericRecord]
        val fmt = str(df, "file_format").getOrElse("PARQUET")
        require(fmt.equalsIgnoreCase("parquet"),
          s"non-parquet Iceberg file ($fmt) in $table")
        val p = resolve(table,
          str(df, "file_path").getOrElse(sys.error("file_path missing")))
        val seq = lng(e, "sequence_number").getOrElse(manifestSeq)
        val addedBy = lng(e, "snapshot_id").getOrElse(0L)
        val rc = lng(df, "record_count").getOrElse(0L)
        val fsz = lng(df, "file_size_in_bytes").getOrElse(0L)
        lng(df, "content").getOrElse(0L) match {
          case 0L =>
            // a manifest written without partition tuples (the MoR
            // UPDATE/MERGE post-image manifest) parses as tuple-less
            // even under a partitioned spec — pruning always KEEPS
            // tuple-less files, so reads stay exact
            val (hasPart, part) =
              if (fieldNames.isEmpty ||
                  df.getSchema.getField("partition") == null)
                (false, Seq.empty[String])
              else Option(df.get("partition")) match {
                case Some(r: GenericRecord) =>
                  (true, fieldNames.map { n =>
                    r.get(n) match { case null => null; case v => v.toString }
                  })
                case _ => (false, Seq.empty[String])
              }
            val nulls = Option(df.get("null_value_counts")) match {
              case Some(arr: java.util.Collection[_]) =>
                arr.asScala.collect { case r: GenericRecord =>
                  r.get("key").asInstanceOf[Number].intValue() ->
                    r.get("value").asInstanceOf[Number].longValue()
                }.toMap
              case _ => Map.empty[Int, Long]
            }
            Some(IceEntry(p, 0, seq, rc, fsz, manifestSpecId, hasPart, part,
              boundsOf(df, "lower_bounds"), boundsOf(df, "upper_bounds"),
              nulls, Seq.empty, addedBy))
          case 1L =>
            Some(IceEntry(p, 1, seq, rc, fsz, manifestSpecId, hasPartition = false,
              Seq.empty, Map.empty, Map.empty, Map.empty, Seq.empty, addedBy))
          case 2L =>
            val ids = Option(df.get("equality_ids")) match {
              case Some(l: java.util.Collection[_]) =>
                l.asScala.toSeq.map(_.toString.toInt)
              case _ => Seq.empty[Int]
            }
            require(ids.nonEmpty,
              s"equality-delete file without equality_ids in $table")
            Some(IceEntry(p, 2, seq, rc, fsz, manifestSpecId, hasPartition = false,
              Seq.empty, Map.empty, Map.empty, Map.empty, ids, addedBy))
          case other =>
            sys.error(s"unknown Iceberg file content=$other in $table")
        }
      }
    }
  }

  /** The snapshot's manifest entries as a DISTRIBUTED Dataset: the
    * driver reads only the manifest LIST (O(manifests) rows — Iceberg's
    * own default sizing keeps a 10⁶-file table around 10³ manifests);
    * the per-manifest avro parse fans out to executors. File-level
    * state never sits on the driver — the same scale rule as
    * [[DeltaLog.Snapshot.allFiles]]. */
  private[graft] def entriesOf(spark: SparkSession, table: String,
      root: ObjectNode, snap: com.fasterxml.jackson.databind.JsonNode)
      : org.apache.spark.sql.Dataset[IceEntry] = {
    import spark.implicits._
    entriesLocalOpt(spark, table, root, snap) match {
      case Some(local) => spark.createDataset(local)
      case None =>
        val refs = manifestRefsOf(spark, table, snap)
        if (refs.isEmpty) return spark.emptyDataset[IceEntry]
        val specFieldNames: Map[Int, Seq[String]] =
          specsById(root).map { case (id, fds) => id -> fds.map(_.name) }
        val tableStr = table
        val bc = spark.sparkContext.broadcast(
          new DeltaLog.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
        spark.createDataset(refs)
          .repartition(math.max(1,
            math.min(refs.size, spark.sparkContext.defaultParallelism)))
          .flatMap { case (mp, mseq, mspec, _) =>
            parseManifestEntries(bc.value.value, tableStr, mp, mseq, mspec,
              specFieldNames)
          }
    }
  }

  /** One snapshot's manifest-list rows: (path, seq, specId, length). */
  private def manifestRefsOf(spark: SparkSession, table: String,
      snap: com.fasterxml.jackson.databind.JsonNode)
      : Seq[(String, Long, Int, Long)] =
    manifestRows(fs(spark, table), table, snap)
      .map(r => (resolve(table, r.path), r.seq, r.specId, r.length))

  /** Small-metadata fast path: when the manifest list declares a total
    * manifest byte size within `spark.graft.iceberg.driverManifestBytes`
    * (default 4 MB), parse the entries ON THE DRIVER — bounded BY
    * CONSTRUCTION (the driver reads ≤ a few MB of avro, the same cost
    * class as the metadata JSON), zero Spark jobs. Unknown lengths (any
    * 0) disqualify: never guess small. Returns None above the
    * threshold; callers then go through the distributed frame. */
  private[graft] def entriesLocalOpt(spark: SparkSession, table: String,
      root: ObjectNode, snap: com.fasterxml.jackson.databind.JsonNode)
      : Option[Seq[IceEntry]] = {
    val refs = manifestRefsOf(spark, table, snap)
    if (refs.isEmpty) return Some(Seq.empty)
    val threshold = spark.conf
      .getOption("spark.graft.iceberg.driverManifestBytes")
      .map(_.toLong).getOrElse(4L << 20)
    val totalBytes = refs.map(_._4).sum
    if (!refs.forall(_._4 > 0L) || totalBytes > threshold) return None
    val specFieldNames: Map[Int, Seq[String]] =
      specsById(root).map { case (id, fds) => id -> fds.map(_.name) }
    val conf = spark.sessionState.newHadoopConf()
    Some(refs.flatMap { case (mp, mseq, mspec, _) =>
      parseManifestEntries(conf, table, mp, mseq, mspec, specFieldNames)
    })
  }

  /** Decode a stringified manifest partition value back to the type the
    * spec field's transform produces. */
  private def decodePv(s: String, dt: DataType): Any =
    if (s == null) null
    else dt match {
      case IntegerType | DateType => s.toInt
      case LongType | TimestampType | TimestampNTZType => s.toLong
      case DoubleType => s.toDouble
      case FloatType => s.toFloat
      case BooleanType => s.toBoolean
      case ShortType => s.toShort
      case ByteType => s.toByte
      case _ => s
    }

  /** Can this file possibly hold a row satisfying every atom? The ONE
    * keep-decision shared by the driver-side [[pruneState]] (the spec
    * API) and the distributed pruning filter in [[readPruned]] — the
    * two can never disagree. Empty maps / absent tuples mean "no info":
    * keep, never prune blind. */
  private[graft] def keepFile(
      ats: Seq[IcebergPartition.Atom], schema: StructType,
      nameToId: Map[String, Int],
      allSpecs: Map[Int, Seq[IcebergPartition.Field]],
      srcTypes: Map[Int, Seq[DataType]],
      specId: Int, partition: Option[Seq[Any]],
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      nullCounts: Map[Int, Long], recordCount: Long): Boolean = {
    val partOk = partition match {
      case Some(tup) =>
        val fields = allSpecs.getOrElse(specId, Seq.empty)
        val types = srcTypes.getOrElse(specId, Seq.empty)
        if (fields.isEmpty || tup.size != fields.size ||
          types.size != fields.size) true
        else fields.indices.forall { j =>
          ats.forall(a =>
            IcebergPartition.mightMatch(fields(j), types(j), tup(j), a))
        }
      case None => true
    }
    val boundsOk = !partOk || ats.forall { a =>
      nameToId.get(a.source) match {
        case Some(id) =>
          val lo = lower.get(id)
          val hi = upper.get(id)
          if (lo.isEmpty && hi.isEmpty) true
          else {
            val dt = schema(a.source).dataType
            IcebergBounds.mightMatch(a,
              lo.flatMap(IcebergBounds.decode(_, dt)),
              hi.flatMap(IcebergBounds.decode(_, dt)))
          }
        case None => true
      }
    }
    val nullsOk = !partOk || !boundsOk || ats.forall { a =>
      nameToId.get(a.source).flatMap(nullCounts.get) match {
        case Some(nc) => a match {
          case IcebergPartition.NullCheck(_, true) => nc > 0
          case IcebergPartition.NullCheck(_, false) =>
            nc < recordCount || recordCount == 0L
          case _ => nc < recordCount || recordCount == 0L
        }
        case None => true
      }
    }
    partOk && boundsOk && nullsOk
  }

  /** Resolve the snapshot node for `snapshotId` (default: current) or
    * `asOfMillis` (through the snapshot-log) — shared by [[state]] and
    * the distributed [[entriesOf]] path. */
  private def resolveSnapshotNode(table: String, root: ObjectNode,
      snapshotId: Option[Long],
      asOfMillis: Option[Long]): com.fasterxml.jackson.databind.JsonNode = {
    val snaps = root.path("snapshots").elements().asScala.toSeq
    require(snaps.nonEmpty, s"Iceberg table $table has no snapshots")
    val wantId = (snapshotId, asOfMillis) match {
      case (Some(id), _) => id
      case (None, Some(ts)) =>
        val log = root.path("snapshot-log").elements().asScala.toSeq
        val eligible = log.filter(_.get("timestamp-ms").asLong() <= ts)
        require(eligible.nonEmpty, s"no Iceberg snapshot at or before $ts")
        eligible.maxBy(_.get("timestamp-ms").asLong())
          .get("snapshot-id").asLong()
      case _ => root.get("current-snapshot-id").asLong()
    }
    snaps.find(_.get("snapshot-id").asLong() == wantId)
      .getOrElse(sys.error(s"snapshot $wantId not in $table metadata"))
  }

  /** Table state at `snapshotId` (default: current), or `asOfMillis`
    * resolved through the snapshot-log.
    *
    * DRIVER-SIDE: holds O(live files) Seqs. Kept ONLY as the small-table
    * inspection/spec surface ([[pruneState]]'s pruning API, convert
    * scope checks, test assertions); every scale-bearing verb — the
    * read path ([[read]], [[readPruned]], [[countRows]], the `files`
    * inspection table) AND the maintenance/DML path
    * ([[rewriteDataFiles]], [[expireSnapshots]], [[deleteWhere]]) —
    * goes through the DISTRIBUTED [[entriesOf]] frame instead and never
    * materializes the file list on the driver. */
  def state(spark: SparkSession, location: String,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): State = {
    val table = qualify(spark, location)
    val f = fs(spark, table)
    val root = base(f, table).root
    val fv = root.path("format-version").asInt(1)
    val snap = resolveSnapshotNode(table, root, snapshotId, asOfMillis)
    val wantId = snap.get("snapshot-id").asLong()
    val listPath = new Path(resolve(table, snap.get("manifest-list").asText()))

    val files = Seq.newBuilder[String]
    val fileRows = Seq.newBuilder[Long]
    val fileSizes = Seq.newBuilder[Long]
    val dataSeqs = Seq.newBuilder[Long]
    val posDel = Seq.newBuilder[(String, Long)]
    val eqDel = Seq.newBuilder[(String, Long, Seq[Int])]
    val partTuples = Seq.newBuilder[Option[Seq[Any]]]
    val specIds = Seq.newBuilder[Int]
    val lowerB = Seq.newBuilder[Map[Int, Array[Byte]]]
    val upperB = Seq.newBuilder[Map[Int, Array[Byte]]]
    val nullC = Seq.newBuilder[Map[Int, Long]]
    def boundsOf(d: GenericRecord, field: String): Map[Int, Array[Byte]] =
      Option(d.get(field)) match {
        case Some(arr: java.util.Collection[_]) =>
          arr.asScala.collect { case r: GenericRecord =>
            val bb = r.get("value").asInstanceOf[java.nio.ByteBuffer]
            val bytes = new Array[Byte](bb.remaining())
            bb.duplicate().get(bytes)
            r.get("key").asInstanceOf[Number].intValue() -> bytes
          }.toMap
        case _ => Map.empty
      }
    var rows = 0L
    val allSpecs = specsById(root)
    val defaultSpecId = root.path("default-spec-id").asInt(0)
    val specFields = allSpecs.getOrElse(defaultSpecId, Seq.empty)
    avroEntries(f, listPath).foreach { m =>
      // v2 manifest-list rows carry `content` (0 = data, 1 = deletes)
      // and a `sequence_number` entries inherit when they carry none
      val manifestSeq = lng(m, "sequence_number").getOrElse(0L)
      val manifestSpecId = lng(m, "partition_spec_id").getOrElse(0L).toInt
      val manifestSpec = allSpecs.getOrElse(manifestSpecId, Seq.empty)
      val mPath = new Path(resolve(table,
        str(m, "manifest_path").getOrElse(sys.error("manifest_path missing"))))
      avroEntries(f, mPath).foreach { e =>
        val status = lng(e, "status").getOrElse(0L)
        if (status != 2L) { // 2 = DELETED entry
          val df = e.get("data_file").asInstanceOf[GenericRecord]
          val fmt = str(df, "file_format").getOrElse("PARQUET")
          require(fmt.equalsIgnoreCase("parquet"),
            s"non-parquet Iceberg file ($fmt) in $table")
          val p = resolve(table,
            str(df, "file_path").getOrElse(sys.error("file_path missing")))
          val seq = lng(e, "sequence_number").getOrElse(manifestSeq)
          lng(df, "content").getOrElse(0L) match {
            case 0L => // data
              files += p
              dataSeqs += seq
              val rc = lng(df, "record_count").getOrElse(0L)
              fileRows += rc
              rows += rc
              fileSizes += lng(df, "file_size_in_bytes").getOrElse(0L)
              specIds += manifestSpecId
              lowerB += boundsOf(df, "lower_bounds")
              upperB += boundsOf(df, "upper_bounds")
              nullC += (Option(df.get("null_value_counts")) match {
                case Some(arr: java.util.Collection[_]) =>
                  arr.asScala.collect { case r: GenericRecord =>
                    r.get("key").asInstanceOf[Number].intValue() ->
                      r.get("value").asInstanceOf[Number].longValue()
                  }.toMap
                case _ => Map.empty[Int, Long]
              })
              partTuples += (if (manifestSpec.isEmpty ||
                  df.getSchema.getField("partition") == null) None
                else Option(df.get("partition")).collect {
                  case r: GenericRecord => manifestSpec.map { fld =>
                    r.get(fld.name) match {
                      case null => null
                      case u: org.apache.avro.util.Utf8 => u.toString
                      case s: String => s
                      case i: java.lang.Integer => i.intValue()
                      case l: java.lang.Long => l.longValue()
                      case other => other
                    }
                  }
                })
            case 1L => // position deletes (file_path, pos)
              posDel += ((p, seq))
            case 2L => // equality deletes, keyed by equality field ids
              val ids = Option(df.get("equality_ids")) match {
                case Some(l: java.util.Collection[_]) =>
                  l.asScala.toSeq.map(_.toString.toInt)
                case Some(l: org.apache.avro.generic.GenericData.Array[_]) =>
                  l.asScala.toSeq.map(_.toString.toInt)
                case _ => Seq.empty[Int]
              }
              require(ids.nonEmpty,
                s"equality-delete file without equality_ids in $table")
              eqDel += ((p, seq, ids))
            case other =>
              sys.error(s"unknown Iceberg file content=$other in $table")
          }
        }
      }
    }
    State(fv, resolveSchema(root), wantId, files.result(), rows,
      fileRows.result(), dataSeqs.result(), posDel.result(), eqDel.result(),
      schemaFieldIds(root), specFields, partTuples.result(),
      fileSizes.result(), allSpecs, specIds.result(), defaultSpecId,
      lowerB.result(), upperB.result(), nullC.result())
  }

  /** Read the table (optionally at a snapshot / timestamp) as a
    * DataFrame: the live file list goes straight to the distributed
    * parquet scan, projected to the declared schema by NAME.
    *
    * v2 merge-on-read deletes apply DISTRIBUTED, never on the driver:
    *   - position deletes (content=1: rows of `file_path`, `pos`)
    *     anti-join the scan on (normalized path, `_metadata.row_index`)
    *     — Spark's per-file row index, so no row-number window and no
    *     shuffle of the data side beyond the join itself;
    *   - equality deletes (content=2) anti-join null-safely on their
    *     equality columns, scoped by the spec's sequence-number rule
    *     (a delete applies only to rows whose data file has a STRICTLY
    *     LOWER sequence number — a re-insert after the delete survives).
    *     Each data row learns its file's sequence number from a
    *     broadcast (path, seq) frame: O(files) rows, never data. */
  def read(spark: SparkSession, location: String,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): DataFrame = {
    val table = qualify(spark, location)
    val f = fs(spark, table)
    val root = base(f, table).root
    val snap = resolveSnapshotNode(table, root, snapshotId, asOfMillis)
    readState(spark, table, root, snap, resolveSchema(root))
  }

  /** Read under a predicate with HIDDEN-PARTITION pruning: data files
    * whose manifest partition tuple provably cannot satisfy the
    * predicate never reach the scan (a day-range query on a 100 TB
    * table opens only its days, a key equality only its bucket). The
    * full predicate still applies as a residual filter, so pruning is
    * purely an I/O optimization — never a semantics change. */
  def readPruned(spark: SparkSession, location: String,
      predicate: org.apache.spark.sql.Column,
      snapshotId: Option[Long] = None,
      asOfMillis: Option[Long] = None): DataFrame = {
    val table = qualify(spark, location)
    val f = fs(spark, table)
    val root = base(f, table).root
    val snap = resolveSnapshotNode(table, root, snapshotId, asOfMillis)
    readState(spark, table, root, snap, resolveSchema(root),
      predicate = Some(predicate))
      .where(predicate)
  }

  /** Distributed pruning: the [[keepFile]] decision as a filter over
    * the entries frame — atoms, specs, and field-id maps are tiny and
    * ship in the closure; only SURVIVORS' paths ever reach the driver
    * (inside [[readFromEntries]]'s chunked collect). Delete entries
    * always pass (a delete file scopes by sequence number, not by
    * partition tuple). */
  private def pruneEntries(spark: SparkSession, root: ObjectNode,
      schema: StructType,
      entries: org.apache.spark.sql.Dataset[IceEntry],
      predicate: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Dataset[IceEntry] =
    entryKeeper(spark, root, schema, predicate)
      .fold(entries)(keep => entries.filter(keep))

  /** The same [[keepFile]] decision as a serializable per-entry
    * function (None = predicate yields no prunable atoms — keep
    * everything). Shared by the distributed [[pruneEntries]] filter and
    * driver-local entry pruning. Delete entries always pass (a delete
    * file scopes by sequence number, not by partition tuple). */
  private def entryKeeper(spark: SparkSession, root: ObjectNode,
      schema: StructType, predicate: org.apache.spark.sql.Column)
      : Option[IceEntry => Boolean] = {
    val ats = atomsOf(spark, schema, predicate)
    if (ats.isEmpty) return None
    val allSpecs = specsById(root)
    val srcTypes: Map[Int, Seq[DataType]] = allSpecs.map { case (id, fds) =>
      id -> fds.map(f => schema(f.source).dataType)
    }
    val resTypes: Map[Int, Seq[DataType]] = allSpecs.map { case (id, fds) =>
      id -> fds.zip(srcTypes(id)).map { case (fl, st2) =>
        IcebergPartition.resultType(fl.transform, st2)
      }
    }
    val nameToId: Map[String, Int] = schemaFieldIds(root).map(_.swap)
    Some { e =>
      e.content != 0 || keepFile(ats, schema, nameToId, allSpecs, srcTypes,
        e.specId,
        partition =
          if (!e.hasPartition) None
          else Some(e.partition.zip(resTypes.getOrElse(e.specId, Seq.empty))
            .map { case (s, dt) => decodePv(s, dt) }),
        e.lower, e.upper, e.nullCounts, e.recordCount)
    }
  }

  /** Drop data files whose partition tuple rules out every row under
    * `predicate` (exposed for the pruning spec). Files without a tuple
    * are always kept. The predicate resolves against the declared
    * schema through the analyzer (an empty frame), so the atoms see
    * coerced `EqualTo(attr, Literal)` shapes — the [[DeltaLog]] zone-map
    * pruner's technique. */
  private def atomsOf(spark: SparkSession, schema: StructType,
      predicate: org.apache.spark.sql.Column): Seq[IcebergPartition.Atom] = {
    val analyzed = spark
      .createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema)
      .where(predicate).queryExecution.analyzed
    analyzed.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        IcebergPartition.atoms(f.condition)
    }.flatten
  }

  private[graft] def pruneState(spark: SparkSession, st: State,
      predicate: org.apache.spark.sql.Column): State = {
    val hasTuples = st.partitionTuples.size == st.dataFiles.size &&
      st.fileSpecIds.size == st.dataFiles.size &&
      st.allSpecs.values.exists(_.nonEmpty)
    val hasBounds = st.lowerBounds.size == st.dataFiles.size &&
      st.upperBounds.size == st.dataFiles.size
    if (!hasTuples && !hasBounds) return st
    val ats = atomsOf(spark, st.schema, predicate)
    if (ats.isEmpty) return st
    // evolution: each file prunes under the spec IT was written with
    val srcTypes: Map[Int, Seq[DataType]] = st.allSpecs.map { case (id, fds) =>
      id -> fds.map(f => st.schema(f.source).dataType)
    }
    val nameToId: Map[String, Int] = st.fieldNamesById.map(_.swap)
    val hasNulls = st.nullCounts.size == st.dataFiles.size
    val keep = st.dataFiles.indices.filter { i =>
      keepFile(ats, st.schema, nameToId, st.allSpecs, srcTypes,
        specId = if (hasTuples) st.fileSpecIds(i) else st.defaultSpecId,
        partition = if (hasTuples) st.partitionTuples(i) else None,
        lower = if (hasBounds) st.lowerBounds(i) else Map.empty,
        upper = if (hasBounds) st.upperBounds(i) else Map.empty,
        nullCounts = if (hasNulls) st.nullCounts(i) else Map.empty,
        recordCount = st.fileRecordCounts.lift(i).getOrElse(0L))
    }
    st.copy(
      dataFiles = keep.map(st.dataFiles),
      fileRecordCounts = keep.map(st.fileRecordCounts),
      dataSeqs = keep.map(st.dataSeqs),
      partitionTuples =
        if (hasTuples) keep.map(st.partitionTuples) else st.partitionTuples,
      fileSizes =
        if (st.fileSizes.size == st.dataFiles.size) keep.map(st.fileSizes)
        else st.fileSizes,
      fileSpecIds =
        if (st.fileSpecIds.size == st.dataFiles.size) keep.map(st.fileSpecIds)
        else st.fileSpecIds,
      lowerBounds = if (hasBounds) keep.map(st.lowerBounds) else st.lowerBounds,
      upperBounds = if (hasBounds) keep.map(st.upperBounds) else st.upperBounds,
      nullCounts =
        if (st.nullCounts.size == st.dataFiles.size) keep.map(st.nullCounts)
        else st.nullCounts,
      recordCount = keep.map(st.fileRecordCounts).sum)
  }

  /** Drain a single-string-column frame into chunk-bounded path
    * groups. The common ≤1-chunk case costs exactly one limit-probe
    * job (no count); bigger frames drain one partition at a time via
    * `toLocalIterator`, so every TRANSIENT buffer is O(chunk). The
    * returned groups together still enumerate every path — the caller
    * assembles a scan plan from them, and a Spark multi-file scan
    * holds its file list on the driver (in the file index) regardless;
    * chunking bounds the working buffers, not the plan, which is the
    * floor Spark itself sets for a 10⁶-file scan. */
  private def pathChunksOf(pframe: DataFrame, chunkSize: Int): Seq[Seq[(String, Long)]] = {
    def pair(r: org.apache.spark.sql.Row): (String, Long) =
      (r.getString(0), if (r.isNullAt(1)) -1L else r.getLong(1))
    val head = pframe.limit(chunkSize + 1).collect().map(pair)
    if (head.length <= chunkSize) {
      if (head.isEmpty) Seq.empty else Seq(head.toSeq)
    } else {
      val n = pframe.count()
      val parts = math.max(1L, (n + chunkSize - 1) / chunkSize).toInt
      val it = pframe.repartition(parts).toLocalIterator()
      val chunks = Seq.newBuilder[Seq[(String, Long)]]
      val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) {
        buf += pair(it.next())
        if (buf.size >= chunkSize) { chunks += buf.toSeq; buf.clear() }
      }
      if (buf.nonEmpty) chunks += buf.toSeq
      chunks.result()
    }
  }

  private def readChunkSize(spark: SparkSession): Int = {
    val chunkSize = spark.conf.getOption("spark.graft.read.maxEntriesPerChunk")
      .map(_.toInt).getOrElse(200000)
    require(chunkSize > 0, "spark.graft.read.maxEntriesPerChunk must be > 0")
    chunkSize
  }

  /** Read from the DISTRIBUTED entries frame — the scale path behind
    * [[read]]/[[readPruned]]. Data-file paths reach the driver in
    * bounded chunks (`spark.graft.read.maxEntriesPerChunk`, the
    * [[DeltaLog.readSnapshotChunked]] rule): one multi-file relation
    * per chunk, unioned by name — see [[pathChunksOf]] for what the
    * chunking does and does not bound. Delete FILES (position/
    * equality) collect like [[DeltaLog]]'s DV descriptors: O(delete
    * files), never row-level. The (path, seq) frame that scopes both
    * delete kinds stays a DataFrame end to end. The entries dataset is
    * persisted across this method's independent actions (delete
    * collect, chunk probe/drain) so the manifest avro parse runs once,
    * and unpersisted before returning — the only lazily-recomputed
    * piece is the delete-scoping seq frame, one extra parse at
    * execution instead of 3–5 during planning. */
  private def readFromEntries(spark: SparkSession, table: String,
      schema: StructType, fieldNamesById: Map[Int, String],
      entries: org.apache.spark.sql.Dataset[IceEntry],
      withSlots: Boolean = false): DataFrame = {
    import spark.implicits._
    val cached = entries.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val data = cached.filter(_.content == 0)
      val dels = cached.filter(_.content != 0)
        .map(e => (e.content, e.path, e.seq, e.equalityIds)).collect()
      readFromParts(spark, schema,
        pathChunksOf(data.map(e => (e.path, e.fileSize)).toDF("path", "size"),
          readChunkSize(spark)),
        dels.collect { case (1, p, s, _) => (p, s) }.toSeq,
        dels.collect { case (2, p, s, ids) => (p, s, ids) }.toSeq,
        // the (path, seq) pairs stay a DISTRIBUTED frame — never a
        // driver Seq (the one lazily-recomputed piece: one extra
        // manifest parse at execution instead of 3–5 during planning)
        data.map(e => (e.path, e.seq)).toDF("__sp", "__dseq"),
        fieldNamesById, table, withSlots)
    } finally cached.unpersist(false)
  }

  /** [[readFromEntries]] over DRIVER-LOCAL entries (the
    * [[entriesLocalOpt]] fast path): identical output plan, but the
    * delete descriptors, path chunks, and seq pairs come straight from
    * the local seq — ZERO planning-time Spark jobs (small-metadata
    * tables pay only the scan they actually run). */
  private def readFromLocalEntries(spark: SparkSession, table: String,
      schema: StructType, fieldNamesById: Map[Int, String],
      entries: Seq[IceEntry], withSlots: Boolean = false): DataFrame = {
    import spark.implicits._
    val data = entries.filter(_.content == 0)
    readFromParts(spark, schema,
      if (data.isEmpty) Seq.empty
      else data.map(e => (e.path, e.fileSize)).grouped(readChunkSize(spark)).toSeq,
      entries.collect { case e if e.content == 1 => (e.path, e.seq) },
      entries.collect { case e if e.content == 2 =>
        (e.path, e.seq, e.equalityIds) },
      spark.createDataset(data.map(e => (e.path, e.seq)))
        .toDF("__sp", "__dseq"),
      fieldNamesById, table, withSlots)
  }

  /** The merge-on-read read plan over pre-resolved parts — shared by
    * the distributed and driver-local entry paths. The (path, seq)
    * frame scopes both delete kinds (the spec's rules: position deletes
    * apply at data seq <= delete seq, equality deletes at data seq <
    * delete seq), so imported/mirrored metadata resolves like the
    * format says, not just this writer's UUID-fresh paths. */
  private def readFromParts(spark: SparkSession, schema: StructType,
      pathChunks: Seq[Seq[(String, Long)]],
      posDeletes: Seq[(String, Long)],
      eqDeletes: Seq[(String, Long, Seq[Int])],
      seqFrame: => DataFrame,
      fieldNamesById: Map[Int, String], table: String,
      withSlots: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    // withSlots: keep each row's (raw file path, row index) as
    // `__slot_path`/`__slot_pos` — the provenance UPDATE/MERGE turn
    // into position deletes. Rows still read THROUGH the merge-on-read
    // mask, so already-deleted row versions never surface as slots.
    val slotCols =
      if (!withSlots) Seq.empty
      else Seq(col("_metadata.file_path").as("__slot_path"),
        col("_metadata.row_index").as("__slot_pos"))
    val outSchema =
      if (!withSlots) schema
      else StructType(schema.fields ++ Seq(
        StructField("__slot_path", StringType),
        StructField("__slot_pos", LongType)))
    if (pathChunks.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val names = outSchema.fieldNames.toIndexedSeq.map(col)
    // manifest-based scan planning: sizes come from the entries, so the
    // scan needs no per-file stat / listing job ([[StaticRelation]]);
    // unknown sizes fall back to discovery per chunk
    def scanOf(ps: Seq[(String, Long)]): DataFrame =
      StaticRelation.readAbsolute(spark, table, ps, schema)
        .getOrElse(spark.read.schema(schema).parquet(ps.map(_._1): _*))
    if (posDeletes.isEmpty && eqDeletes.isEmpty)
      return pathChunks.map(ps => scanOf(ps)
          .select(col("*") +: slotCols: _*))
        .reduce(_ unionByName _).select(names: _*)
    var df = pathChunks.map(ps => scanOf(ps)
        .select(col("*") +: (slotCols ++ Seq(
          normPathCol(col("_metadata.file_path")).as("__fp"),
          col("_metadata.row_index").as("__ri"))): _*))
      .reduce(_ unionByName _)
    val seqDf = seqFrame.withColumn("__sp", normPathCol(col("__sp")))
    df = df.join(broadcast(seqDf), col("__fp") === col("__sp")).drop("__sp")
    if (posDeletes.nonEmpty) {
      val pdels = posDeletes.groupBy(_._2).map { case (seq, ps) =>
        spark.read.schema(posDeleteSchema).parquet(ps.map(_._1): _*)
          .select(normPathCol(col("file_path")).as("__dfp"),
            col("pos").as("__dpos"), lit(seq).as("__pseq"))
      }.reduce(_ unionByName _)
      df = df.join(pdels,
        col("__fp") === col("__dfp") && col("__ri") === col("__dpos") &&
          col("__dseq") <= col("__pseq"),
        "left_anti")
    }
    if (eqDeletes.nonEmpty) {
      // one anti-join per distinct equality-id set (typically one)
      eqDeletes.groupBy(_._3).foreach { case (ids, dfs) =>
        val cols = ids.map(id => fieldNamesById.getOrElse(id,
          sys.error(s"equality-delete field id $id not in $table schema")))
        val eqReadSchema = StructType(cols.map(n => schema(n)))
        val delRows = dfs.map { case (p, seq, _) =>
          spark.read.schema(eqReadSchema).parquet(p)
            .select(cols.map(n => col(n).as(s"__eq_$n")) :+
              lit(seq).as("__eseq"): _*)
        }.reduce(_ unionByName _)
        val cond = cols.map(n => col(n) <=> col(s"__eq_$n"))
          .reduce(_ && _) && col("__dseq") < col("__eseq")
        df = df.join(delRows, cond, "left_anti")
      }
    }
    df.select(names: _*)
  }

  /** The columns this engine (and the spec) put in a position-delete
    * parquet file — fixed, so reads never pay schema inference. */
  private val posDeleteSchema: StructType = StructType(Seq(
    StructField("file_path", StringType),
    StructField("pos", LongType)))

  /** One snapshot's state as a DataFrame, routed through whichever
    * entries form the metadata size allows: the [[entriesLocalOpt]]
    * driver parse (zero planning jobs — the common case, and what keeps
    * per-DML job counts low) or the distributed entries frame above the
    * threshold. `predicate`, when given, prunes candidate FILES by
    * hidden partition + bounds before any parquet opens — it is an I/O
    * optimization only, never applied as a row filter (callers that
    * need the row filter still `.where` it). */
  private def readState(spark: SparkSession, table: String,
      root: ObjectNode, snap: com.fasterxml.jackson.databind.JsonNode,
      schema: StructType,
      predicate: Option[org.apache.spark.sql.Column] = None,
      withSlots: Boolean = false): DataFrame =
    entriesLocalOpt(spark, table, root, snap) match {
      case Some(local) =>
        val pruned = predicate.flatMap(p => entryKeeper(spark, root, schema, p))
          .fold(local)(keep => local.filter(keep))
        readFromLocalEntries(spark, table, schema, schemaFieldIds(root),
          pruned, withSlots)
      case None =>
        val entries = entriesOf(spark, table, root, snap)
        readFromEntries(spark, table, schema, schemaFieldIds(root),
          predicate.fold(entries)(p =>
            pruneEntries(spark, root, schema, entries, p)),
          withSlots)
    }

  /** COUNT(*): metadata-only from manifest record counts when no
    * merge-on-read deletes exist; one distributed count otherwise (the
    * manifests alone cannot say how many rows the deletes suppress). */
  def countRows(spark: SparkSession, location: String): Long = {
    val table = qualify(spark, location)
    import org.apache.spark.sql.functions._
    val f = fs(spark, table)
    val root = base(f, table).root
    val snap = resolveSnapshotNode(table, root, None, None)
    // record count and delete-file presence in one pass: a driver fold
    // under the small-metadata threshold, one distributed aggregation
    // over the entries frame above it
    val (rows, delFiles) = entriesLocalOpt(spark, table, root, snap) match {
      case Some(local) =>
        (local.collect { case e if e.content == 0 => e.recordCount }.sum,
          local.count(_.content != 0).toLong)
      case None =>
        val agg = entriesOf(spark, table, root, snap).toDF()
          .agg(
            sum(when(col("content") === 0, col("recordCount")).otherwise(0L)),
            sum(when(col("content") =!= 0, 1L).otherwise(0L)))
          .collect()(0)
        (if (agg.isNullAt(0)) 0L else agg.getLong(0),
          if (agg.isNullAt(1)) 0L else agg.getLong(1))
    }
    if (delFiles > 0) read(spark, table).count() else rows
  }

  /** Iceberg's inspection ("metadata") tables — `snapshots`, `history`,
    * `manifests`, `files` — over the current metadata, with the spec's
    * column names. All are METADATA-sized (snapshots and manifests per
    * table, one row per data/delete file for `files`), so building them
    * on the driver is the same cost class as reading the metadata JSON
    * itself; the frames they return are ordinary DataFrames that join,
    * filter and aggregate like any other. */
  def metadataTable(spark: SparkSession, location: String, kind: String): DataFrame = {
    val table = qualify(spark, location)
    import spark.implicits._
    val f = fs(spark, table)
    val root = base(f, table).root
    val snaps = root.path("snapshots").elements().asScala.toSeq
    def parentOf(s: com.fasterxml.jackson.databind.JsonNode): Option[Long] =
      Option(s.get("parent-snapshot-id")).map(_.asLong())
    kind.toLowerCase match {
      case "snapshots" =>
        snaps.map { s =>
          (new java.sql.Timestamp(s.get("timestamp-ms").asLong()),
            s.get("snapshot-id").asLong(), parentOf(s),
            s.path("summary").path("operation").asText("append"),
            s.get("manifest-list").asText())
        }.toDF("committed_at", "snapshot_id", "parent_id", "operation",
          "manifest_list")
      case "history" =>
        val byId = snaps.map(s => s.get("snapshot-id").asLong() -> s).toMap
        val ancestors = {
          var cur = Option(root.get("current-snapshot-id")).map(_.asLong())
          val acc = Set.newBuilder[Long]
          while (cur.isDefined) {
            acc += cur.get
            cur = byId.get(cur.get).flatMap(parentOf)
          }
          acc.result()
        }
        root.path("snapshot-log").elements().asScala.toSeq.map { l =>
          val id = l.get("snapshot-id").asLong()
          (new java.sql.Timestamp(l.get("timestamp-ms").asLong()), id,
            byId.get(id).flatMap(parentOf), ancestors.contains(id))
        }.toDF("made_current_at", "snapshot_id", "parent_id",
          "is_current_ancestor")
      case "manifests" =>
        val currentId = root.get("current-snapshot-id").asLong()
        val snap = snaps.find(_.get("snapshot-id").asLong() == currentId)
          .getOrElse(sys.error(s"current snapshot $currentId missing"))
        avroEntries(f,
          new Path(resolve(table, snap.get("manifest-list").asText())))
          .map { m =>
            (lng(m, "content").getOrElse(0L).toInt,
              str(m, "manifest_path").getOrElse(""),
              lng(m, "manifest_length").getOrElse(0L),
              lng(m, "partition_spec_id").getOrElse(0L).toInt,
              lng(m, "sequence_number").getOrElse(0L),
              lng(m, "added_snapshot_id").getOrElse(0L))
          }.toDF("content", "path", "length", "partition_spec_id",
            "sequence_number", "added_snapshot_id")
      case "files" =>
        // one row per live file, straight off the DISTRIBUTED entries
        // frame — the inspection surface scales with the table
        val snap = resolveSnapshotNode(table, root, None, None)
        val specFieldNames: Map[Int, Seq[String]] =
          specsById(root).map { case (id, fds) => id -> fds.map(_.name) }
        entriesOf(spark, table, root, snap).map { e =>
          val part: Map[String, String] =
            if (!e.hasPartition) Map.empty
            else specFieldNames.getOrElse(e.specId, Seq.empty)
              .zip(e.partition)
              .collect { case (n, v) if v != null => n -> v }.toMap
          (e.content, e.path, "PARQUET", e.recordCount, e.fileSize, part)
        }.toDF("content", "file_path", "file_format",
          "record_count", "file_size_in_bytes", "partition")
      case "entries" =>
        // Iceberg's `entries` metadata table (live entries): per-entry
        // provenance — which snapshot ADDED the file and the data
        // sequence number deletes scope against. Distributed like
        // `files`.
        val snap = resolveSnapshotNode(table, root, None, None)
        entriesOf(spark, table, root, snap).map { e =>
          (e.content, e.path, e.seq, e.addedSnapshotId)
        }.toDF("content", "file_path", "sequence_number", "snapshot_id")
      case "refs" =>
        (root.path("refs") match {
          case o: ObjectNode => o.fields().asScala.toSeq.map { e =>
            (e.getKey, e.getValue.path("type").asText("branch"),
              e.getValue.get("snapshot-id").asLong())
          }
          case _ => Seq.empty[(String, String, Long)]
        }).toDF("name", "type", "snapshot_id")
      case other => sys.error(
        s"unknown Iceberg metadata table `$other` " +
          "(snapshots|history|manifests|files|entries|refs)")
    }
  }

  // --------------------------------------------------------------- write

  private def icebergType(dt: DataType): String = dt match {
    case BooleanType => "boolean"
    case IntegerType | ShortType | ByteType => "int"
    case LongType => "long"
    case FloatType => "float"
    case DoubleType => "double"
    case StringType => "string"
    case DateType => "date"
    case TimestampNTZType => "timestamp"
    case TimestampType => "timestamptz"
    case BinaryType => "binary"
    case d: DecimalType => s"decimal(${d.precision},${d.scale})"
    case other => sys.error(s"Iceberg export: unsupported type ${other.simpleString}")
  }

  private def manifestAvroSchema: AvroSchema = manifestAvroSchemaFor(Seq.empty)

  /** Data-manifest schema; when the table is partitioned, data_file
    * carries the spec's `partition` tuple record (field-id 102, one
    * nullable field per partition field at ids 1000+i — the spec's
    * assignment). */
  private def manifestAvroSchemaFor(parts: Seq[(String, DataType)]): AvroSchema = {
    val partField =
      if (parts.isEmpty) ""
      else {
        val fs = parts.zipWithIndex.map { case ((n, dt), i) =>
          val avroT = dt match {
            case IntegerType => "int"
            case LongType => "long"
            case StringType => "string"
            case other => sys.error(s"partition tuple type unsupported: $other")
          }
          s"""{"name":"$n","type":["null","$avroT"],"default":null,"field-id":${1000 + i}}"""
        }.mkString(",")
        s""",{"name":"partition","field-id":102,"type":{"type":"record","name":"r102","fields":[$fs]}}"""
      }
    new AvroSchema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |  {"name":"status","type":"int","field-id":0},
         |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
         |  {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
         |  {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
         |    {"name":"file_path","type":"string","field-id":100},
         |    {"name":"file_format","type":"string","field-id":101},
         |    {"name":"record_count","type":"long","field-id":103},
         |    {"name":"file_size_in_bytes","type":"long","field-id":104},
         |    {"name":"null_value_counts","field-id":110,"type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k121_v122","fields":[
         |      {"name":"key","type":"int","field-id":121},
         |      {"name":"value","type":"long","field-id":122}]}}],"default":null},
         |    {"name":"lower_bounds","field-id":125,"type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k126_v127","fields":[
         |      {"name":"key","type":"int","field-id":126},
         |      {"name":"value","type":"bytes","field-id":127}]}}],"default":null},
         |    {"name":"upper_bounds","field-id":128,"type":["null",{"type":"array","logicalType":"map","items":{"type":"record","name":"k129_v130","fields":[
         |      {"name":"key","type":"int","field-id":129},
         |      {"name":"value","type":"bytes","field-id":130}]}}],"default":null}$partField
         |  ]}}
         |]}""".stripMargin.replace("|", ""))
  }

  /** Build one map field (array-of-(key,value) avro representation)
    * from (schema field id → value). */
  private def mapArray[V](schema: AvroSchema, field: String,
      m: Map[Int, V])(conv: V => Any): GenericData.Array[GenericRecord] = {
    val arrSchema = schema.getField(field).schema().getTypes.get(1)
    val recSchema = arrSchema.getElementType
    val arr = new GenericData.Array[GenericRecord](m.size, arrSchema)
    m.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val r = new GenericData.Record(recSchema)
      r.put("key", k)
      r.put("value", conv(v))
      arr.add(r)
    }
    arr
  }

  private def boundsArray(schema: AvroSchema, field: String,
      m: Map[Int, Array[Byte]]): GenericData.Array[GenericRecord] =
    mapArray(schema, field, m)(java.nio.ByteBuffer.wrap)

  private def manifestListAvroSchema: AvroSchema = new AvroSchema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |  {"name":"manifest_path","type":"string","field-id":500},
      |  {"name":"manifest_length","type":"long","field-id":501},
      |  {"name":"partition_spec_id","type":"int","field-id":502},
      |  {"name":"content","type":"int","default":0,"field-id":517},
      |  {"name":"sequence_number","type":"long","default":0,"field-id":515},
      |  {"name":"added_snapshot_id","type":["null","long"],"default":null,"field-id":503}
      |]}""".stripMargin.replace("|", ""))

  /** v2 DELETE manifest entries: data_file carries `content` (1 =
    * position deletes, 2 = equality deletes) and `equality_ids`. */
  private def deleteManifestAvroSchema: AvroSchema = new AvroSchema.Parser().parse(
    """{"type":"record","name":"manifest_entry","fields":[
      |  {"name":"status","type":"int","field-id":0},
      |  {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      |  {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      |  {"name":"data_file","field-id":2,"type":{"type":"record","name":"r2","fields":[
      |    {"name":"content","type":"int","field-id":134},
      |    {"name":"file_path","type":"string","field-id":100},
      |    {"name":"file_format","type":"string","field-id":101},
      |    {"name":"record_count","type":"long","field-id":103},
      |    {"name":"file_size_in_bytes","type":"long","field-id":104},
      |    {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null,"field-id":135}
      |  ]}}
      |]}""".stripMargin.replace("|", ""))

  private def writeAvro(f: FileSystem, dest: Path, schema: AvroSchema,
      records: IterableOnce[GenericRecord]): Long = {
    // straight through the destination fs stream — the old temp-file +
    // copyFromLocalFile path wrote every manifest twice (and created +
    // deleted a scratch file per manifest)
    f.mkdirs(dest.getParent)
    val out = f.create(dest, true)
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, out) // w.close() closes `out`
    try records.iterator.foreach(w.append) finally w.close()
    f.getFileStatus(dest).getLen
  }

  // -------------------------------------------------------------- commit

  /** One row of a manifest list; `path` as recorded (resolve it before
    * opening). */
  private case class ManifestRow(path: String, length: Long, content: Int,
      seq: Long, specId: Int)

  /** A snapshot's manifest-list rows. Rows written before the v2 fields
    * existed read as data (0) at sequence 0. */
  private def manifestRows(f: FileSystem, table: String,
      snap: com.fasterxml.jackson.databind.JsonNode): Seq[ManifestRow] =
    avroEntries(f, new Path(resolve(table, snap.get("manifest-list").asText())))
      .map(m => ManifestRow(
        str(m, "manifest_path").getOrElse(sys.error("manifest_path missing")),
        lng(m, "manifest_length").getOrElse(0L),
        lng(m, "content").getOrElse(0L).toInt,
        lng(m, "sequence_number").getOrElse(0L),
        lng(m, "partition_spec_id").getOrElse(0L).toInt))

  /** The snapshot a write to `branch` (main when None) stacks on: the
    * branch's head, else the published head (a new branch forks from
    * it); None before the first snapshot. */
  private def head(meta: ObjectNode, branch: Option[String]): Option[Long] =
    branch.flatMap(b => meta.path("refs").path(b) match {
      case o: ObjectNode =>
        require(o.path("type").asText("branch") == "branch",
          s"ref `$b` on ${meta.path("location").asText()} is a tag — cannot write to it")
        Some(o.get("snapshot-id").asLong())
      case _ => None
    }).orElse(Option(meta.get("current-snapshot-id")).map(_.asLong()))

  /** The manifest-list rows of the snapshot a write to `branch` stacks
    * on, carried into the next snapshot. Each manifest keeps the SPEC it
    * was written under, so files stay prunable across partition
    * evolution. */
  private def carriedManifests(f: FileSystem, table: String, meta: ObjectNode,
      branch: Option[String] = None): Seq[ManifestRow] =
    head(meta, branch).toSeq.flatMap(id =>
      meta.path("snapshots").elements().asScala
        .find(_.get("snapshot-id").asLong() == id).toSeq
        .flatMap(manifestRows(f, table, _)))

  /** One commit attempt against a pinned [[Base]]: the version it
    * publishes, the id of the snapshot it may add, its clock, and the
    * nonce of the write it belongs to. */
  private case class Attempt(f: FileSystem, base: Base, nonce: String) {
    val version: Int = base.version + 1
    val snapshotId: Long = System.currentTimeMillis() * 1000 + version
    val now: Long = System.currentTimeMillis()
    val mdir = new Path(base.table, "metadata")
    def manifestPath(kind: String): Path =
      new Path(mdir, s"manifest-$kind-$version-$nonce.avro")
  }

  /** The one Iceberg commit step (the spec's optimistic concurrency: a
    * writer commits against the base it read, re-applies onto a newer
    * one, or fails). `build` makes the new metadata from the attempt's
    * base, writing whatever manifests it needs; the step stamps
    * `last-updated-ms`, fires [[raceHook]], publishes at exactly
    * `base.version + 1` and fires [[postCommitHook]].
    *
    * A failed attempt whose exact metadata is published anyway (an
    * IOException after the publish landed) IS this commit: rebasing
    * would apply it twice. Any other failure sweeps the attempt's
    * `*-<nonce>.avro` — referenced by nothing — and raises (a lost
    * publish as `FileAlreadyExistsException`), unless the table moved
    * to a newer base that `rebase` accepts: then the attempt rebuilds on
    * it, at most four attempts in all. Only a blind append rebases, and
    * its rebuilt manifest re-references the `staged` data files; a step
    * that raises deletes them. Returns the attempt that landed. */
  private def commit(f: FileSystem, pinned: Base, nonce: String,
      rebase: Base => Boolean = _ => false, staged: Seq[Path] = Seq.empty)(
      build: Attempt => ObjectNode): Attempt = {
    var a = Attempt(f, pinned, nonce)
    var attemptsLeft = 4
    while (true) {
      var bytes: Array[Byte] = null
      try {
        val meta = build(a)
        meta.put("last-updated-ms", a.now)
        bytes = mapper.writeValueAsBytes(meta)
        raceHook()
        if (!publishMetadata(f, a.base.table, a.version, bytes))
          throw lostPublish(a.base.table, a.version)
        postCommitHook()
        return a
      } catch {
        case e: java.io.IOException =>
          val landed = bytes != null && scala.util.Try(
            readText(f, metadataPath(a.base.table, a.version)) ==
              new String(bytes, "UTF-8")).getOrElse(false)
          if (landed) return a
          def sweep(paths: => Seq[Path]): Unit =
            try paths.foreach(f.delete(_, false))
            catch { case scala.util.control.NonFatal(_) => () }
          sweep(Option(f.globStatus(new Path(a.mdir, s"*-$nonce.avro")))
            .toSeq.flatten.map(_.getPath))
          attemptsLeft -= 1
          val now = if (attemptsLeft == 0) None else Some(base(f, a.base.table))
          if (!now.exists(n => n.version >= a.version && rebase(n))) {
            sweep(staged)
            throw e
          }
          a = Attempt(f, now.get, nonce)
      }
    }
    sys.error("unreachable")
  }

  /** The one snapshot builder: writes the manifest list of `rows` and
    * adds the snapshot it heads to `meta` (a copy of the base's
    * metadata, or a new table's declaration), stacked on the head of
    * `branch` (main when None). The format version never goes down: it
    * becomes 2 once a manifest carries deletes, and a v2 snapshot stamps
    * its sequence number (the attempt's version) and advances
    * `last-sequence-number`. A main write moves `current-snapshot-id`,
    * the `main` ref and the snapshot-log; a branch write moves only its
    * branch ref (created at the published head when absent). */
  private def addSnapshot(a: Attempt, meta: ObjectNode, rows: Seq[ManifestRow],
      operation: String, branch: Option[String] = None,
      summary: Seq[(String, String)] = Seq.empty): Unit = {
    val mlSchema = manifestListAvroSchema
    val listPath = new Path(a.mdir, s"snap-${a.snapshotId}-${a.nonce}.avro")
    writeAvro(a.f, listPath, mlSchema, rows.map { m =>
      val r = new GenericData.Record(mlSchema)
      r.put("manifest_path", m.path)
      r.put("manifest_length", m.length)
      r.put("partition_spec_id", m.specId)
      r.put("content", m.content)
      r.put("sequence_number", m.seq)
      r.put("added_snapshot_id", a.snapshotId)
      r
    })
    val fv = math.max(meta.path("format-version").asInt(1),
      if (rows.exists(_.content != 0)) 2 else 1)
    meta.put("format-version", fv)
    val sn = meta.withArray[ArrayNode]("snapshots").addObject()
    sn.put("snapshot-id", a.snapshotId)
    head(meta, branch).foreach(sn.put("parent-snapshot-id", _))
    if (fv >= 2) {
      sn.put("sequence-number", a.version.toLong)
      meta.put("last-sequence-number", math.max(
        meta.path("last-sequence-number").asLong(0L), a.version.toLong))
    }
    sn.put("timestamp-ms", a.now)
    sn.put("manifest-list", listPath.toString)
    val sum = sn.putObject("summary")
    sum.put("operation", operation)
    summary.foreach { case (k, v) => sum.put(k, v) }
    val refs = meta.path("refs") match {
      case o: ObjectNode => o
      case _ => meta.putObject("refs")
    }
    refs.putObject(branch.getOrElse("main"))
      .put("snapshot-id", a.snapshotId).put("type", "branch")
    if (branch.isEmpty) {
      meta.put("current-snapshot-id", a.snapshotId)
      meta.withArray[ArrayNode]("snapshot-log").addObject()
        .put("timestamp-ms", a.now).put("snapshot-id", a.snapshotId)
    }
  }

  /** Stage `frame` as parquet in a scratch dir under the table, then move
    * each file to `data/<dirs(segments)>/<kind>-<version>-<i>-<nonce>.parquet`.
    * Returns each file's destination and its (still path-escaped)
    * partition dir segments, innermost last. Staging writes INT64-micros
    * timestamps (the Delta withMicrosStaging rule): INT96 carries no
    * ordered footer statistics, so micros let footer stats serve
    * timestamp bounds with zero Spark jobs. */
  private def stageFiles(f: FileSystem, table: String, frame: DataFrame,
      kind: String, version: Int, nonce: String,
      partitionBy: Seq[String] = Seq.empty,
      dirs: Seq[String] => Seq[String] = identity): Seq[(Path, Seq[String])] = {
    val scratch = new Path(table, s".ice-stage-$kind-$nonce")
    DeltaLog.withMicrosStaging(frame) {
      if (partitionBy.isEmpty) frame.write.parquet(scratch.toString)
      else frame.write.partitionBy(partitionBy: _*).parquet(scratch.toString)
    }
    def walk(p: Path): Seq[Path] =
      f.listStatus(p).toSeq.sortBy(_.getPath.getName).flatMap { s =>
        if (s.isDirectory) walk(s.getPath)
        else if (s.getPath.getName.endsWith(".parquet")) Seq(s.getPath)
        else Seq.empty
      }
    val moved = walk(scratch).zipWithIndex.map { case (p, i) =>
      // listStatus returns fully-qualified paths; anchor on the scratch
      // dir's (nonce-unique) NAME rather than comparing path strings
      var segs = List.empty[String]
      var cur = p.getParent
      while (cur != null && cur.getName != scratch.getName) {
        segs ::= cur.getName; cur = cur.getParent
      }
      require(cur != null, s"staged file $p escaped the scratch dir")
      val dest = new Path(table, (Seq("data") ++ dirs(segs) :+
        f"$kind-$version%05d-$i%05d-$nonce.parquet").mkString("/"))
      f.mkdirs(dest.getParent)
      require(f.rename(p, dest), s"stage move failed: $dest")
      (dest, segs)
    }
    f.delete(scratch, true)
    moved
  }

  /** A new table's declaration of `schema` (field ids positional, 1..n),
    * and the mirror's on every call. */
  private def declare(meta: ObjectNode, table: String, schema: StructType): ObjectNode = {
    if (!meta.has("table-uuid"))
      meta.put("table-uuid", java.util.UUID.randomUUID().toString)
    meta.put("location", table)
    meta.put("last-column-id", schema.fields.length)
    val fieldsArr = meta.putObject("schema").put("type", "struct").putArray("fields")
    schema.fields.zipWithIndex.foreach { case (fld, i) =>
      fieldsArr.addObject().put("id", i + 1).put("name", fld.name)
        .put("required", false).put("type", icebergType(fld.dataType))
    }
    meta
  }

  /** Rewrite the current metadata in place — the commit step with no new
    * snapshot, the shape of ref and schema edits. */
  private def editMetadata(spark: SparkSession, table: String)
      (edit: ObjectNode => Unit): Unit = {
    val f = fs(spark, table)
    commit(f, base(f, table), newNonce()) { a =>
      val meta = a.base.root.deepCopy()
      edit(meta)
      meta
    }
    ()
  }

  // --------------------------------------------------------------- write

  /** One existing data file re-declared in a REPLACE commit's manifest
    * (rewriteDataFiles): its bytes never move; records/bounds/tuple
    * copy straight from the previous manifest entry. */
  case class CarriedFile(path: String, records: Long, bytes: Long,
      tuple: Option[Seq[Any]],
      lower: Map[Int, Array[Byte]] = Map.empty,
      upper: Map[Int, Array[Byte]] = Map.empty,
      nulls: Map[Int, Long] = Map.empty)

  /** Append `df` as one Iceberg snapshot (creates the table on first
    * call); the commit point is the put-if-absent publish of
    * `vN.metadata.json`. `carryPrevious = false` makes the snapshot a
    * REPLACE: the new manifest is the only one, previous data (and
    * delete) manifests drop out of the view. */
  def writeAppend(spark: SparkSession, df: DataFrame, location: String,
      carryPrevious: Boolean = true,
      partition: Seq[(String, String)] = Seq.empty,
      // IterableOnce so a REPLACE commit can STREAM carried entries
      // (e.g. a toLocalIterator over the keep side of a rewrite)
      // straight into the manifest writer — the driver never holds the
      // full carried-file list
      carryFiles: IterableOnce[CarriedFile] = Seq.empty,
      // write-audit-publish: land the snapshot on a NAMED BRANCH
      // (created at the current head if absent) — `main` and readers
      // stay on the published history until [[fastForward]] publishes
      // the branch. The carried manifests come from the BRANCH head,
      // so branch commits stack.
      toBranch: Option[String] = None): Long = {
    val table = qualify(spark, location)
    append(spark, df, base(fs(spark, table), table), carryPrevious,
      partition, carryFiles, toBranch)
  }

  /** [[writeAppend]] pinned to `b`, the base its caller planned against. */
  private def append(spark: SparkSession, df: DataFrame, b: Base,
      carryPrevious: Boolean = true,
      partition: Seq[(String, String)] = Seq.empty,
      carryFiles: IterableOnce[CarriedFile] = Seq.empty,
      toBranch: Option[String] = None): Long = {
    val table = b.table
    import org.apache.spark.sql.functions.col
    toBranch.foreach(br => require(br.nonEmpty && br != "main",
      "toBranch: `main` is the published head; write normally instead"))
    val f = fs(spark, table)
    val existing = b.meta
    require(toBranch.isEmpty || existing.isDefined,
      s"toBranch needs an existing Iceberg table at $table (a branch forks " +
        "from the published head)")
    def fits(m: ObjectNode): Boolean = {
      val s = resolveSchema(m)
      s.fieldNames.toSeq == df.schema.fieldNames.toSeq &&
        s.fields.zip(df.schema.fields).forall { case (x, y) =>
          DataType.equalsStructurally(x.dataType, y.dataType, true) }
    }
    existing.foreach(m => require(fits(m), s"Iceberg append schema mismatch at $table"))
    // hidden partitioning: with no spec requested, appends ADOPT the
    // table's declared default spec so every snapshot stays prunable; a
    // DIFFERENT requested spec EVOLVES the table — a new spec-id becomes
    // the default, old manifests keep their own spec id and stay
    // prunable under the fields they were written with (Iceberg's
    // partition-evolution semantics: no data rewritten)
    val requested = partition.map { case (s, t) =>
      IcebergPartition.Field(s, IcebergPartition.parseTransform(t)) }
    val tableSpec = existing.map(specFromMeta).getOrElse(Seq.empty)
    val evolving =
      existing.isDefined && requested.nonEmpty && requested != tableSpec
    val spec = if (requested.nonEmpty) requested else tableSpec
    val prevDefaultId =
      existing.map(_.path("default-spec-id").asInt(0)).getOrElse(0)
    val prevMaxSpecId = existing.map(
      _.path("partition-specs").elements().asScala
        .map(_.path("spec-id").asInt(0)).foldLeft(-1)(math.max))
      .getOrElse(-1)
    val specId =
      if (existing.isEmpty) 0
      else if (evolving) prevMaxSpecId + 1
      else prevDefaultId
    val prevLastPartId =
      existing.map(_.path("last-partition-id").asInt(999)).getOrElse(999)
    // partition field-ids keep increasing across specs (the spec's rule)
    val fieldIdBase = if (evolving) prevLastPartId + 1 else 1000
    spec.foreach(fd => require(df.schema.fieldNames.contains(fd.source),
      s"partition source column ${fd.source} not in the frame"))
    val specTypes = spec.map(fd =>
      IcebergPartition.resultType(fd.transform, df.schema(fd.source).dataType))
    val nonce = newNonce()

    // 1. stage parquet under data/ — partitioned tables stage through
    // partitionBy on COPY columns (`__gp*`), so every source column
    // (identity-partitioned ones included) stays in the data files as
    // the spec requires; one repartition gives one file per partition
    val pcols = spec.indices.map(i => s"__gp$i")
    val staged = stageFiles(f, table,
      if (spec.isEmpty) df
      else df.select(col("*") +: spec.zipWithIndex.map { case (fd, i) =>
          IcebergPartition.column(fd.transform, col(fd.source),
            df.schema(fd.source).dataType).as(s"__gp$i") }: _*)
        .repartition(pcols.map(col): _*),
      "part", b.version + 1, nonce, pcols,
      _.zip(spec).map { case (seg, fd) =>
        s"${fd.name}=${seg.substring(seg.indexOf('=') + 1)}" })
    val dataFiles = staged.map(_._1)
    // typed partition tuple per staged file, for the manifest entries
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val tuples: Seq[Seq[Any]] = staged.map(_._2.zipWithIndex.map { case (seg, i) =>
      val raw = seg.substring(seg.indexOf('=') + 1)
      val un = ExternalCatalogUtils.unescapePathName(raw)
      if (un == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else specTypes(i) match {
        case IntegerType => un.toInt
        case LongType => un.toLong
        case StringType => un
        case other => sys.error(s"partition tuple type unsupported: $other")
      }
    })
    // per-file record counts AND column bounds in ONE grouped pass over
    // the staged files (matches DeltaLog's stats pass): record_count
    // feeds metadata-only COUNT(*), lower/upper_bounds feed data
    // skipping on non-partition columns
    val statCols: Seq[StructField] = df.schema.fields.filter(_.dataType match {
      case IntegerType | LongType | FloatType | DoubleType | BooleanType |
           StringType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }).toIndexedSeq
    val nameToFieldId: Map[String, Int] =
      df.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1) }.toMap
    case class FileStats(rows: Long,
        lo: Map[Int, Array[Byte]], hi: Map[Int, Array[Byte]],
        nulls: Map[Int, Long])
    // footer fast path (the Delta footerFileStats rule on this format):
    // rows + bounds + null counts straight from the parquet footers the
    // write just produced — zero Spark jobs instead of a full read-back
    // of every committed byte. Iceberg bounds only need SOUNDNESS (they
    // feed keepFile's conservative pruning), so a column whose footer
    // stats are absent simply contributes no bound — the same "no info,
    // keep" degrade as an over-16-byte string on the scan path. Falls
    // back to the scan pass on timestamp columns (Spark's default INT96
    // encoding has no ordered footer stats), dropped stats, or unknown
    // null counts.
    def footerStats(): Option[Map[String, FileStats]] = {
      if (spark.conf.getOption("spark.graft.iceberg.statsFromFooters")
          .contains("false")) return None
      // timestamp columns are fine now that staging writes INT64 micros
      // (ordered footer stats); a foreign INT96 file's missing/Binary
      // stats fail a cast below and drop to the scan pass via the catch
      val hconf = spark.sessionState.newHadoopConf()
      def one(p: Path): (String, FileStats) = {
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf)
        // pass the conf through: the no-arg open() builds a FRESH Hadoop
        // Configuration per call, re-parsing the XML defaults every file
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in,
          org.apache.parquet.HadoopReadOptions.builder(hconf, p).build())
        val md = try rd.getFooter finally rd.close()
        val blocks = md.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val lo = Map.newBuilder[Int, Array[Byte]]
        val hi = Map.newBuilder[Int, Array[Byte]]
        val nulls = Map.newBuilder[Int, Long]
        statCols.foreach { fld =>
          val chunks = blocks.flatMap(_.getColumns.asScala.filter(c =>
            c.getPath.size() == 1 && c.getPath.toDotString == fld.name))
          if (chunks.isEmpty) sys.error(s"${fld.name} not in footer")
          var nn = 0L
          var mn: Any = null
          var mx: Any = null
          def sparkVal(v: Any): Any = fld.dataType match {
            case IntegerType => v.asInstanceOf[Number].intValue()
            case LongType => v.asInstanceOf[Number].longValue()
            case FloatType => v.asInstanceOf[java.lang.Float]
            case DoubleType => v.asInstanceOf[java.lang.Double]
            case BooleanType => v.asInstanceOf[java.lang.Boolean]
            case StringType =>
              v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
            case DateType => java.time.LocalDate.ofEpochDay(
              v.asInstanceOf[Number].intValue().toLong)
            case TimestampType =>
              val us = v.asInstanceOf[Number].longValue()
              java.time.Instant.ofEpochSecond(
                Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
            case TimestampNTZType =>
              val us = v.asInstanceOf[Number].longValue()
              java.time.LocalDateTime.ofEpochSecond(
                Math.floorDiv(us, 1000000L),
                (Math.floorMod(us, 1000000L) * 1000L).toInt,
                java.time.ZoneOffset.UTC)
            case other => sys.error(s"no footer mapping for $other")
          }
          def less(a: Any, b: Any): Boolean = fld.dataType match {
            case IntegerType | DateType =>
              Integer.compare(a.asInstanceOf[Number].intValue(),
                b.asInstanceOf[Number].intValue()) < 0
            case LongType | TimestampType | TimestampNTZType =>
              java.lang.Long.compare(
                a.asInstanceOf[Number].longValue(),
                b.asInstanceOf[Number].longValue()) < 0
            case FloatType => java.lang.Float.compare(
              a.asInstanceOf[Number].floatValue(),
              b.asInstanceOf[Number].floatValue()) < 0
            case DoubleType => java.lang.Double.compare(
              a.asInstanceOf[Number].doubleValue(),
              b.asInstanceOf[Number].doubleValue()) < 0
            case BooleanType => java.lang.Boolean.compare(
              a.asInstanceOf[Boolean], b.asInstanceOf[Boolean]) < 0
            case StringType =>
              val x = a.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
              val y = b.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
              var i = 0
              val n = math.min(x.length, y.length)
              var r = x.length - y.length
              var done = false
              while (i < n && !done) {
                val c = (x(i) & 0xff) - (y(i) & 0xff)
                if (c != 0) { r = c; done = true }
                i += 1
              }
              r < 0
            case other => sys.error(s"no footer order for $other")
          }
          chunks.foreach { c =>
            val st = c.getStatistics
            if (st == null || !st.isNumNullsSet)
              sys.error(s"${fld.name}: null count unknown")
            nn += st.getNumNulls
            if (st.hasNonNullValue) {
              val (a, b) = (st.genericGetMin, st.genericGetMax)
              if (a == null || b == null) sys.error(s"${fld.name}: stats dropped")
              if (mn == null || less(a, mn)) mn = a
              if (mx == null || less(mx, b)) mx = b
            } else if (c.getValueCount > st.getNumNulls)
              sys.error(s"${fld.name}: min/max dropped for non-null chunk")
          }
          val fid = nameToFieldId(fld.name)
          if (mn != null) {
            IcebergBounds.encode(sparkVal(mn), fld.dataType)
              .foreach(b => lo += fid -> b)
            IcebergBounds.encode(sparkVal(mx), fld.dataType)
              .foreach(b => hi += fid -> b)
          }
          nulls += fid -> nn
        }
        p.getName -> FileStats(rows, lo.result(), hi.result(), nulls.result())
      }
      try {
        // independent metadata round trips: bounded pool for many-file
        // commits (max(latency) on a remote store), inline when small
        if (dataFiles.size <= 8) Some(dataFiles.map(one).toMap)
        else {
          import scala.concurrent.{Await, ExecutionContext, Future}
          import scala.concurrent.duration.Duration
          implicit val ec: ExecutionContext = ExecutionContext.global
          Some(Await.result(
            Future.traverse(dataFiles)(p => Future(one(p))), Duration.Inf).toMap)
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
    def scanStats(): Map[String, FileStats] = {
        import org.apache.spark.sql.functions.{col => fcol, count => fcount,
          input_file_name, lit => flit, max => fmax, min => fmin}
        val aggs = fcount(flit(1)).as("__n") +:
          statCols.zipWithIndex.flatMap { case (fld, i) =>
            Seq(fmin(fcol(fld.name)).as(s"__lo_$i"),
              fmax(fcol(fld.name)).as(s"__hi_$i"),
              fcount(fcol(fld.name)).as(s"__nn_$i"))
          }
        spark.read.parquet(dataFiles.map(_.toString): _*)
          .groupBy(input_file_name().as("__f"))
          .agg(aggs.head, aggs.tail: _*).collect()
          .map { r =>
            val rows = r.getLong(1)
            def boundMap(prefix: String): Map[Int, Array[Byte]] =
              statCols.zipWithIndex.flatMap { case (fld, i) =>
                Option(r.get(r.fieldIndex(s"$prefix$i")))
                  .flatMap(v => IcebergBounds.encode(v, fld.dataType))
                  .map(nameToFieldId(fld.name) -> _)
              }.toMap
            val nulls = statCols.zipWithIndex.map { case (fld, i) =>
              nameToFieldId(fld.name) ->
                (rows - r.getLong(r.fieldIndex(s"__nn_$i")))
            }.toMap
            new Path(r.getString(0)).getName ->
              FileStats(rows, boundMap("__lo_"), boundMap("__hi_"), nulls)
          }.toMap
      }
    val stats: Map[String, FileStats] =
      if (dataFiles.isEmpty) Map.empty
      else footerStats().getOrElse(scanStats())
    val counts: Map[String, Long] =
      stats.view.mapValues(_.rows).toMap

    // 2. one manifest for the new files (partition tuples included when
    // the table declares a spec), plus any carried REPLACE entries
    val mSchema = manifestAvroSchemaFor(spec.map(_.name).zip(specTypes))
    val dfSchema = mSchema.getField("data_file").schema()
    def tupleRecord(tuple: Seq[Any]): GenericData.Record = {
      val pr = new GenericData.Record(dfSchema.getField("partition").schema())
      spec.zipWithIndex.foreach { case (fd, j) =>
        pr.put(fd.name, tuple(j) match {
          case null => null
          case v: Int => Integer.valueOf(v)
          case v: Long => java.lang.Long.valueOf(v)
          case s: String => s
          case other => other
        })
      }
      pr
    }
    val carryIter = carryFiles.iterator // one-shot: drained by the first attempt
    // a BLIND append (carry the previous snapshot, no requested spec, no
    // carried REPLACE entries) that loses the race REBASES onto the
    // racer's base when the table still has the shape the data was
    // staged for: blind appends commute. Every other commit kind
    // (REPLACE, spec evolution) derives from the base it read and fails.
    val retriable =
      carryPrevious && requested.isEmpty && carryFiles.knownSize == 0
    commit(f, b, nonce, rebase = nb => retriable && nb.meta.exists(m =>
        fits(m) && specFromMeta(m) == spec &&
          m.path("default-spec-id").asInt(0) == specId), staged = dataFiles) { a =>
      // the carried side streams: IterableOnce drains straight into the
      // avro writer, one record in memory at a time
      val entries = dataFiles.zipWithIndex.map { case (p, i) =>
        val e = new GenericData.Record(mSchema)
        e.put("status", 1) // ADDED
        e.put("snapshot_id", a.snapshotId)
        val d = new GenericData.Record(dfSchema)
        d.put("file_path", p.toString)
        d.put("file_format", "PARQUET")
        d.put("record_count", counts.getOrElse(p.getName, 0L))
        d.put("file_size_in_bytes", f.getFileStatus(p).getLen)
        stats.get(p.getName).foreach { s =>
          if (s.lo.nonEmpty) d.put("lower_bounds", boundsArray(dfSchema, "lower_bounds", s.lo))
          if (s.hi.nonEmpty) d.put("upper_bounds", boundsArray(dfSchema, "upper_bounds", s.hi))
          if (s.nulls.nonEmpty) d.put("null_value_counts",
            mapArray(dfSchema, "null_value_counts", s.nulls)(java.lang.Long.valueOf(_)))
        }
        if (spec.nonEmpty) d.put("partition", tupleRecord(tuples(i)))
        e.put("data_file", d)
        e
      }.iterator ++ carryIter.map { cf =>
        val e = new GenericData.Record(mSchema)
        e.put("status", 0) // EXISTING
        e.put("snapshot_id", a.snapshotId)
        val d = new GenericData.Record(dfSchema)
        d.put("file_path", cf.path)
        d.put("file_format", "PARQUET")
        d.put("record_count", cf.records)
        d.put("file_size_in_bytes", cf.bytes)
        if (cf.lower.nonEmpty) d.put("lower_bounds", boundsArray(dfSchema, "lower_bounds", cf.lower))
        if (cf.upper.nonEmpty) d.put("upper_bounds", boundsArray(dfSchema, "upper_bounds", cf.upper))
        if (cf.nulls.nonEmpty) d.put("null_value_counts",
          mapArray(dfSchema, "null_value_counts", cf.nulls)(java.lang.Long.valueOf(_)))
        if (spec.nonEmpty) cf.tuple.foreach(tp => d.put("partition", tupleRecord(tp)))
        e.put("data_file", d)
        e
      }
      val manifestPath = a.manifestPath("data")
      val mLen = writeAvro(f, manifestPath, mSchema, entries)

      // 3. the metadata: the base's, or a new table's declaration; a new
      // table or a spec evolution adds a partition spec (previous specs
      // carry: old manifests keep referencing theirs)
      val meta = a.base.meta.map(_.deepCopy())
        .getOrElse(declare(mapper.createObjectNode(), table, df.schema))
      if (a.base.meta.isEmpty || evolving) {
        val o = meta.withArray[ArrayNode]("partition-specs").addObject()
        o.put("spec-id", specId)
        val fa = o.putArray("fields")
        spec.zipWithIndex.foreach { case (fd, i) =>
          fa.addObject().put("name", fd.name).put("transform", fd.transform.name)
            .put("source-id", df.schema.fieldIndex(fd.source) + 1)
            .put("field-id", fieldIdBase + i)
        }
        // v1 readers' flat form mirrors the DEFAULT spec
        meta.set[ObjectNode]("partition-spec", fa.deepCopy())
        meta.put("default-spec-id", specId)
        meta.put("last-partition-id",
          math.max(prevLastPartId, fieldIdBase + spec.length - 1))
      }
      // 4. the manifest list: the stacked-on head's manifests (each keeps
      // its content kind and sequence number) + the new one at this
      // attempt's sequence number — equality deletes scope against it.
      // A commit that DROPS the previous manifests of an existing table
      // is the format's REPLACE shape (rewrite_data_files,
      // materializeDeletes), stamped so changelog/cherrypick can tell
      // logical changes from pure rewrites
      val carried =
        if (carryPrevious) a.base.meta.toSeq.flatMap(carriedManifests(f, table, _, toBranch))
        else Seq.empty
      addSnapshot(a, meta,
        carried :+ ManifestRow(manifestPath.toString, mLen, 0, a.version, specId),
        if (!carryPrevious && a.base.meta.isDefined) "replace" else "append",
        toBranch)
      meta
    }.snapshotId
  }

  /** Row count straight from a just-staged parquet file's footer —
    * exact, zero Spark jobs (the Delta footer-stats rule applied to the
    * MoR staging surface; the old read-back-and-groupBy cost 2 jobs per
    * staged side on every DML statement). */
  private def footerRowCount(conf: org.apache.hadoop.conf.Configuration,
      p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
    // conf passed through — no per-call Configuration XML re-parse
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(in,
      org.apache.parquet.HadoopReadOptions.builder(conf, p).build())
    try rd.getFooter.getBlocks.asScala.map(_.getRowCount.toLong).sum
    finally rd.close()
  }

  /** Commit one v2 merge-on-read DELETE snapshot on `b`, the base the
    * caller planned against: stage the given delete rows as parquet
    * under data/, declare them in a DELETE manifest (content=1 for
    * position deletes, 2 for equality deletes with their field ids), and
    * append a snapshot whose sequence number scopes them — rows from
    * data files at a STRICTLY lower sequence are suppressed by equality
    * deletes, position deletes pin exact (file, row) slots. NO data file
    * is read, rewritten, or moved: the delete cost is O(deleted rows),
    * the Iceberg answer to Delta's deletion vectors. */
  private def writeDeleteSnapshot(spark: SparkSession, b: Base,
      deleteRows: DataFrame, content: Int,
      equalityIds: Seq[Int],
      postImage: Option[DataFrame] = None,
      operation: String = "delete",
      // UPDATE/MERGE pass true: when BOTH staged sides are empty the
      // statement matched nothing — clean up and commit nothing (the
      // emptiness check rides the footer counts, so the caller needs no
      // separate probe action over its matched frame)
      skipIfEmpty: Boolean = false): Long = {
    val table = b.table
    val f = fs(spark, table)
    val nonce = newNonce()
    val hconf = spark.sessionState.newHadoopConf()
    def stage(frame: DataFrame, kind: String): Seq[(Path, Long)] =
      stageFiles(f, table, frame, kind, b.version + 1, nonce)
        .map { case (p, _) => p -> footerRowCount(hconf, p) }
    // 1. stage the delete parquet under data/
    val delFiles = stage(deleteRows, if (content == 1) "pos-del" else "eq-del")
    // 1b. UPDATE/MERGE shape: the post-image rows land as NEW data
    // files in the SAME snapshot, at the same sequence number as the
    // position deletes that suppress their predecessors — atomic
    // merge-on-read DML, no old data file read beyond the caller's
    // probe, none rewritten. The new files carry record counts (exact
    // COUNT stays metadata-only) but no column bounds/tuples: pruning
    // always KEEPS boundless files, so correctness is unaffected and
    // the next OPTIMIZE/rewriteDataFiles restores skipping for them.
    val dataFiles = postImage.toSeq.flatMap(stage(_, "upd"))
    if (skipIfEmpty && (delFiles ++ dataFiles).forall(_._2 == 0L)) {
      (delFiles ++ dataFiles).foreach(p => f.delete(p._1, false))
      return b.root.get("current-snapshot-id").asLong()
    }
    commit(f, b, nonce, staged = (delFiles ++ dataFiles).map(_._1)) { a =>
      // 2. the DELETE manifest (+ the post-image DATA manifest), both at
      // this snapshot's sequence number
      val meta = a.base.root.deepCopy()
      val specId = meta.path("default-spec-id").asInt(0)
      addSnapshot(a, meta, carriedManifests(f, table, meta) ++
        (addedManifest(a, "del", content, specId, delFiles, equalityIds) +:
          (if (dataFiles.isEmpty) Seq.empty
           else Seq(addedManifest(a, "upd", 0, specId, dataFiles)))),
        operation)
      meta
    }.snapshotId
  }

  /** One manifest of files this attempt ADDED, at its sequence number:
    * (path, record count) per file; `content` 0 is data, 1 position
    * deletes, 2 equality deletes keyed by `equalityIds`. */
  private def addedManifest(a: Attempt, kind: String, content: Int, specId: Int,
      files: Seq[(Path, Long)], equalityIds: Seq[Int] = Seq.empty): ManifestRow = {
    val schema = if (content == 0) manifestAvroSchema else deleteManifestAvroSchema
    val fileSchema = schema.getField("data_file").schema()
    val p = a.manifestPath(kind)
    val len = writeAvro(a.f, p, schema, files.map { case (file, rows) =>
      val e = new GenericData.Record(schema)
      e.put("status", 1) // ADDED
      e.put("snapshot_id", a.snapshotId)
      e.put("sequence_number", a.version.toLong)
      val d = new GenericData.Record(fileSchema)
      if (content != 0) d.put("content", content)
      d.put("file_path", file.toString)
      d.put("file_format", "PARQUET")
      d.put("record_count", rows)
      d.put("file_size_in_bytes", a.f.getFileStatus(file).getLen)
      if (equalityIds.nonEmpty)
        d.put("equality_ids", new GenericData.Array[Integer](
          fileSchema.getField("equality_ids").schema().getTypes.get(1),
          equalityIds.map(Integer.valueOf).asJava))
      e.put("data_file", d)
      e
    })
    ManifestRow(p.toString, len, content, a.version, specId)
  }

  /** Create or move a named ref (spec: Table Metadata `refs`) — a TAG
    * pins a snapshot for audit/reproducibility, a BRANCH is a movable
    * head; both PROTECT their snapshot from [[expireSnapshots]]. `main`
    * is reserved: commits move it. */
  def setRef(spark: SparkSession, location: String, name: String,
      snapshotId: Long, isBranch: Boolean = false): Unit = {
    val table = qualify(spark, location)
    require(name.nonEmpty && name != "main",
      "setRef: `main` is reserved (commits move it); pick another name")
    editMetadata(spark, table) { root =>
      val known = root.path("snapshots").elements().asScala
        .exists(_.get("snapshot-id").asLong() == snapshotId)
      require(known, s"setRef: snapshot $snapshotId not in $table metadata")
      val refs =
        if (root.has("refs")) root.get("refs").asInstanceOf[ObjectNode]
        else root.putObject("refs")
      val r = refs.putObject(name)
      r.put("snapshot-id", snapshotId)
      r.put("type", if (isBranch) "branch" else "tag")
    }
  }

  /** PUBLISH a branch — Iceberg's `fast_forward` procedure, the last
    * step of write-audit-publish: move the published head (`main` +
    * current-snapshot-id) to the branch head, strictly fast-forward
    * (the published head must be an ANCESTOR of the branch head via the
    * parent-snapshot-id chain — a diverged main fails loudly instead of
    * silently dropping published commits). Returns the new head. */
  def fastForward(spark: SparkSession, location: String, branch: String): Long = {
    val table = qualify(spark, location)
    require(branch.nonEmpty && branch != "main",
      "fastForward: name the audit branch to publish")
    var head = 0L
    editMetadata(spark, table) { root =>
      val br = root.path("refs").path(branch) match {
        case o: ObjectNode =>
          require(o.path("type").asText("branch") == "branch",
            s"fastForward: ref `$branch` on $table is a tag")
          o.get("snapshot-id").asLong()
        case _ => sys.error(s"fastForward: no branch `$branch` on $table")
      }
      val mainHead = root.get("current-snapshot-id").asLong()
      if (mainHead != br) {
        // ancestry walk: metadata-sized, follows parent-snapshot-id
        val parentOf: Map[Long, Long] =
          root.path("snapshots").elements().asScala.flatMap { s =>
            Option(s.get("parent-snapshot-id"))
              .map(p => s.get("snapshot-id").asLong() -> p.asLong())
          }.toMap
        var cur = br
        var isAncestor = false
        while (!isAncestor && parentOf.contains(cur)) {
          cur = parentOf(cur)
          isAncestor = cur == mainHead
        }
        require(isAncestor,
          s"fastForward: published head $mainHead is not an ancestor of " +
            s"branch `$branch` ($br) — main diverged; rebase the branch")
      }
      root.put("current-snapshot-id", br)
      root.path("refs") match {
        case o: ObjectNode =>
          val m = o.putObject("main")
          m.put("snapshot-id", br); m.put("type", "branch"); ()
        case _ => ()
      }
      // publishing makes the branch snapshots part of main's history
      val le = root
        .withArray[com.fasterxml.jackson.databind.node.ArrayNode]("snapshot-log")
        .addObject()
      le.put("timestamp-ms", System.currentTimeMillis())
      le.put("snapshot-id", br)
      head = br
    }
    head
  }

  /** Iceberg's `cherrypick_snapshot` procedure: publish ONE staged
    * APPEND snapshot onto the current head without the rest of its
    * branch — the selective counterpart of [[fastForward]]. The picked
    * snapshot's own additions (its manifest-list rows minus its
    * parent's) replay on top of the head's carried manifests as a new
    * snapshot; entry-level sequence numbers carry verbatim, which is
    * sound because an append introduces no delete scoping of its own.
    * Non-append snapshots (replace/delete/overwrite) refuse — their
    * changes are relative to the state they were computed from.
    * Idempotent: picking a snapshot already in the head's ancestry is a
    * no-op. Returns the new (or current) head snapshot id. */
  def cherrypick(spark: SparkSession, location: String, snapshotId: Long): Long = {
    val table = qualify(spark, location)
    val f = fs(spark, table)
    val b = base(f, table)
    val root = b.root
    val snaps = root.path("snapshots").elements().asScala.toSeq
    val byId = snaps.map(s => s.get("snapshot-id").asLong() -> s).toMap
    val picked = byId.getOrElse(snapshotId,
      sys.error(s"cherrypick: snapshot $snapshotId not in $table metadata"))
    val mainHead = root.get("current-snapshot-id").asLong()
    // already published? (ancestry walk over parent pointers)
    var cur = Option(mainHead)
    while (cur.isDefined) {
      if (cur.get == snapshotId) return mainHead
      cur = byId.get(cur.get)
        .flatMap(s => Option(s.get("parent-snapshot-id")).map(_.asLong()))
    }
    require(picked.path("summary").path("operation").asText("") == "append",
      s"cherrypick: snapshot $snapshotId is not an append — only appends " +
        "replay safely onto a different head")
    // the picked snapshot's OWN additions = its manifest-list rows minus
    // its parent's. The parent must still be in metadata: with it
    // expired there is no baseline to diff against, and treating every
    // carried manifest as "added" would re-append manifests the head
    // already carries — duplicate rows on every subsequent read. Fail
    // loudly, like the non-append refusal.
    val parentPaths: Set[String] =
      Option(picked.get("parent-snapshot-id")).map(_.asLong()) match {
        case Some(pid) => byId.get(pid).map(manifestRows(f, table, _).map(_.path).toSet)
          .getOrElse(sys.error(
            s"cherrypick: parent snapshot $pid of $snapshotId has been " +
              "expired — cannot isolate the snapshot's own additions"))
        case None => Set.empty
      }
    // belt-and-braces: never re-add a manifest the head already carries
    val headManifests = carriedManifests(f, table, root)
    val headCarried: Set[String] = headManifests.map(_.path).toSet
    val added = manifestRows(f, table, picked).filterNot(r =>
      parentPaths.contains(r.path) || headCarried.contains(r.path))
    require(added.forall(_.content == 0),
      s"cherrypick: snapshot $snapshotId added delete manifests — refuse")
    commit(f, b, newNonce()) { a =>
      val meta = a.base.root.deepCopy()
      addSnapshot(a, meta, headManifests ++ added, "append",
        summary = Seq("source-snapshot-id" -> snapshotId.toString))
      meta
    }.snapshotId
  }

  /** ALTER TABLE … ADD COLUMNS on the Iceberg protocol — column-level
    * schema evolution (the reference's one evolution op, `ALTER TABLE
    * dim_eater ADD COLUMNS`, /root/reference/databricks_DW/
    * 02_create_tables.sql:187-189, on the second format): the new
    * fields APPEND at the end of the schema with FRESH field ids
    * continuing from `last-column-id` (ids are never reused — the
    * spec's rule), `last-column-id` bumps, and the declared schema is
    * replaced METADATA-ONLY — no data file is touched or rewritten.
    * Files written before the evolution null-fill the new columns on
    * read (the scan projects the declared schema over each file by
    * name; bounds and equality-delete resolution key by field id, and
    * pre-evolution files simply carry no info for the new ids — "no
    * info, keep/null", never a wrong answer).
    *
    * This writer assigns field ids POSITIONALLY (1..n, stable because
    * evolution only ever appends at the end); a table whose existing
    * ids are not positional (an external import) refuses loudly rather
    * than silently remapping ids on the next append's metadata rebuild.
    * Appends after the evolution must carry every column (the writer's
    * schema check); Returns the evolved column count. */
  def alterAddColumns(spark: SparkSession, location: String,
      newCols: StructType): Int = {
    val table = qualify(spark, location)
    require(newCols.fields.nonEmpty, "ADD COLUMNS: no columns given")
    var width = 0
    editMetadata(spark, table) { root =>
      val sn = schemaNode(root) match {
        case o: ObjectNode => o
        case other => sys.error(s"ADD COLUMNS: unexpected schema node $other")
      }
      val fieldsArr = sn.withArray[com.fasterxml.jackson.databind.node.ArrayNode]("fields")
      val existing = fieldsArr.elements().asScala.toSeq
      val existingNames = existing.map(_.get("name").asText())
      val clash = newCols.fieldNames.toSet & existingNames.toSet
      require(clash.isEmpty,
        s"ADD COLUMNS: already present in $table: ${clash.mkString(",")}")
      val positional = existing.zipWithIndex.forall { case (fl, i) =>
        fl.path("id").asInt(-1) == i + 1 }
      require(positional,
        s"ADD COLUMNS: $table has non-positional field ids (external " +
          "metadata) — this writer's append path would remap them; " +
          "evolve the table with its own writer")
      val lastId = math.max(root.path("last-column-id").asInt(0), existing.size)
      newCols.fields.zipWithIndex.foreach { case (fld, i) =>
        val n = fieldsArr.addObject()
        n.put("id", lastId + i + 1)
        n.put("name", fld.name)
        n.put("required", false)
        n.put("type", icebergType(fld.dataType))
        ()
      }
      root.put("last-column-id", lastId + newCols.fields.length)
      width = existing.size + newCols.fields.length
      ()
    }
    width
  }

  /** Drop a named ref; its snapshot becomes expirable again. */
  def dropRef(spark: SparkSession, location: String, name: String): Unit = {
    val table = qualify(spark, location)
    require(name != "main", "dropRef: `main` cannot be dropped")
    editMetadata(spark, table) { root =>
      root.path("refs") match {
        case o: ObjectNode if o.has(name) => o.remove(name); ()
        case _ => sys.error(s"dropRef: no ref `$name` on $table")
      }
    }
  }

  /** Resolve a ref name to its snapshot id (`main` = current head). */
  def refSnapshotId(spark: SparkSession, location: String, name: String): Long = {
    val table = qualify(spark, location)
    val f = fs(spark, table)
    val root = base(f, table).root
    root.path("refs").path(name) match {
      case o: ObjectNode => o.get("snapshot-id").asLong()
      case _ if name == "main" => root.get("current-snapshot-id").asLong()
      case _ => sys.error(s"no ref `$name` on $table")
    }
  }

  /** Read the table at a named ref — `readRef(t, "rc1")` is the
    * reproducible-training-run shape: the tag pins the exact corpus
    * snapshot and survives any number of later commits and expiries. */
  def readRef(spark: SparkSession, table: String, name: String): DataFrame =
    read(spark, table, snapshotId = Some(refSnapshotId(spark, table, name)))

  /** Current head snapshot id + declared schema — the two driver
    * metadata facts a streaming tail needs per trigger (one metadata
    * JSON read, no manifest opens). */
  private[graft] def headAndSchema(spark: SparkSession, table: String)
      : (Long, StructType) = {
    val f = fs(spark, table)
    val root = base(f, table).root
    (root.get("current-snapshot-id").asLong(), resolveSchema(root))
  }

  /** (snapshotId, operation) per commit in `(fromExclusive, to]`,
    * oldest first — the changelog's parent walk as metadata only (no
    * manifest opens). Errors when `fromExclusive` is not an ancestor
    * of `to` or when an id inside the range has been expired. */
  private[graft] def chainOps(spark: SparkSession, table: String,
      fromExclusive: Option[Long], to: Long): Seq[(Long, String)] = {
    val f = fs(spark, table)
    val root = base(f, table).root
    val byId = root.path("snapshots").elements().asScala.toSeq
      .map(s => s.get("snapshot-id").asLong() -> s).toMap
    val b = List.newBuilder[Long]
    var cur = Option(to)
    while (cur.isDefined && !fromExclusive.contains(cur.get)) {
      b += cur.get
      cur = byId.get(cur.get)
        .flatMap(s => Option(s.get("parent-snapshot-id")).map(_.asLong()))
    }
    require(fromExclusive.isEmpty || cur.isDefined,
      s"chainOps: $fromExclusive is not an ancestor of $to on $table")
    b.result().reverse.map { sid =>
      val node = byId.getOrElse(sid, sys.error(s"chainOps: snapshot $sid expired"))
      sid -> node.path("summary").path("operation").asText("append")
    }
  }

  /** Row-level CHANGELOG between two snapshots — Iceberg's
    * `create_changelog_view` procedure, the dual of Delta CDF. Walks
    * the parent chain from `toSnapshot` (default: current head) back to
    * `fromSnapshotExclusive` (default: the beginning) and emits, per
    * commit in order:
    *   - append:    the added files' rows as `insert`
    *   - delete:    position-deleted rows (slots joined back to their
    *     files' contents) and equality-deleted rows (the parent state
    *     matching the tuples — exactly the spec's strictly-lower-seq
    *     scope) as `delete`
    *   - overwrite (UPDATE/MERGE): position-deleted rows as
    *     `update_preimage`, added post-image files' rows as
    *     `update_postimage` (a keyed MERGE's inserted rows surface as
    *     postimages too — file-level metadata cannot split them)
    *   - replace (compaction/manifest rewrite/materialize): skipped —
    *     no logical change.
    * Output: the table columns + `_change_type` + `_change_ordinal`
    * (1-based commit index within the requested range).
    *
    * Scale shape — the whole range is ONE batched pass, not a job wave
    * per snapshot: every commit's file DIFF (cur minus parent) comes
    * from a single anti-join over ordinal-tagged unions of the entries
    * frames, collected once (O(files changed in range) on the driver —
    * the same set any multi-file scan plan buffers, see
    * [[pathChunksOf]]); all added data files across all ordinals read
    * in one chunked scan that learns its (ordinal, change type) from a
    * broadcast path lookup, and likewise all new position-delete files.
    * The resulting PLAN WIDTH is O(1) in chain length — a 1,000-commit
    * append range is one scan + one broadcast join, not a 1,000-way
    * union. The one per-commit cost left is equality deletes: each
    * eq-delete commit reconstructs its deleted rows from the PARENT
    * state, which is O(parent scan) in the worst case — when the
    * distinct delete tuples fit `spark.graft.iceberg.
    * eqDeleteInlineTuples` (default 1000, the common CDC shape) the
    * tuples inline as a pushed-down or-of-equalities predicate and the
    * parent scan prunes to matching files/row-groups instead. */
  def changes(spark: SparkSession, location: String,
      fromSnapshotExclusive: Option[Long] = None,
      toSnapshot: Option[Long] = None): DataFrame = {
    val table = qualify(spark, location)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val f = fs(spark, table)
    val root = base(f, table).root
    val schema = resolveSchema(root)
    val fieldsById = schemaFieldIds(root)
    val byId = root.path("snapshots").elements().asScala.toSeq
      .map(s => s.get("snapshot-id").asLong() -> s).toMap
    val head = toSnapshot.getOrElse(root.get("current-snapshot-id").asLong())
    // oldest-first chain (head .. from], via parent pointers
    val chain = {
      val b = List.newBuilder[Long]
      var cur = Option(head)
      while (cur.isDefined && !fromSnapshotExclusive.contains(cur.get)) {
        b += cur.get
        cur = byId.get(cur.get)
          .flatMap(s => Option(s.get("parent-snapshot-id")).map(_.asLong()))
      }
      require(fromSnapshotExclusive.isEmpty || cur.isDefined,
        s"changes: $fromSnapshotExclusive is not an ancestor of $head on $table")
      b.result().reverse
    }
    val outCols = schema.fieldNames.toIndexedSeq.map(col) ++
      Seq(col("_change_type"), col("_change_ordinal"))
    def emptyOut: DataFrame = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(schema.fields ++ Seq(
        StructField("_change_type", StringType),
        StructField("_change_ordinal", IntegerType))))
    // ordinals count every non-replace commit; `replace` (compaction /
    // manifest rewrite / materialize) is no logical change and emits
    // nothing, but still occupies its chain position
    case class OrdMeta(ord: Int, sid: Long, op: String, parent: Option[Long])
    val metas = chain.zipWithIndex.map { case (sid, i) =>
      val sNode = byId.getOrElse(sid, sys.error(s"changes: snapshot $sid expired"))
      OrdMeta(i + 1, sid,
        sNode.path("summary").path("operation").asText("append"),
        Option(sNode.get("parent-snapshot-id")).map(_.asLong()))
    }.filterNot(_.op == "replace")
    metas.foreach(m => m.op match {
      case "append" | "delete" | "overwrite" => ()
      case other =>
        sys.error(s"changes: unhandled snapshot operation `$other` on $table")
    })
    if (metas.isEmpty) return emptyOut
    val opOf: Map[Int, String] = metas.map(m => m.ord -> m.op).toMap
    // each snapshot's entries build ONCE (iteration i's `cur` is
    // iteration i+1's `prev` — the chain is the parent walk), memoized
    // in whichever form the metadata size allows: DRIVER-LOCAL seqs
    // under the [[entriesLocalOpt]] threshold (the common case — zero
    // Spark jobs for the whole diff), distributed frames above it
    val localMemo = scala.collection.mutable.Map.empty[Long, Option[Seq[IceEntry]]]
    def nodeOf(id: Long): com.fasterxml.jackson.databind.JsonNode =
      byId.getOrElse(id, sys.error(s"changes: snapshot $id expired"))
    def localAt(id: Long): Option[Seq[IceEntry]] =
      localMemo.getOrElseUpdate(id, entriesLocalOpt(spark, table, root, nodeOf(id)))
    val entriesMemo = scala.collection.mutable.Map
      .empty[Long, org.apache.spark.sql.Dataset[IceEntry]]
    def entriesAt(id: Long): org.apache.spark.sql.Dataset[IceEntry] =
      entriesMemo.getOrElseUpdate(id, localAt(id) match {
        case Some(l) => spark.createDataset(l)
        case None => entriesOf(spark, table, root, nodeOf(id))
      })
    // ---- the ONE batched diff: (ordinal, content, path, eq-ids) of
    // every file each commit ADDED — driver set-difference when every
    // snapshot's metadata is driver-small, else a single anti-join +
    // collect over ordinal-tagged unions (never a job wave per commit).
    // An EXPIRED parent (possible only at the range's oldest edge)
    // degrades to "everything in this snapshot is new" — same semantics
    // as an unbounded range over retained history.
    val neededIds = (metas.map(_.sid) ++
      metas.flatMap(_.parent.filter(byId.contains))).distinct
    val allLocal = neededIds.forall(id => localAt(id).isDefined)
    val added: Seq[(Int, Int, String, Seq[Int])] =
      if (allLocal)
        metas.flatMap { m =>
          val prevPaths = m.parent.filter(byId.contains)
            .map(p => localAt(p).get.map(_.path).toSet)
            .getOrElse(Set.empty[String])
          localAt(m.sid).get.filterNot(e => prevPaths.contains(e.path))
            .map(e => (m.ord, e.content, e.path, e.equalityIds))
        }
      else {
        val curAll = metas.map { m =>
          entriesAt(m.sid).map(e => (m.ord, e.content, e.path, e.equalityIds))
        }.reduce(_ union _).toDF("__ord", "__content", "__path", "__eq")
        val prevFrames = metas.flatMap { m =>
          m.parent.filter(byId.contains).map(p =>
            entriesAt(p).map(e => (m.ord, e.path)))
        }
        val addedDf =
          if (prevFrames.isEmpty) curAll
          else curAll.join(prevFrames.reduce(_ union _).toDF("__ord", "__path"),
            Seq("__ord", "__path"), "left_anti")
        addedDf.select("__ord", "__content", "__path", "__eq")
          .as[(Int, Int, String, Seq[Int])].collect().toIndexedSeq
      }
    def chunked(paths: Seq[String]): Seq[Seq[String]] =
      paths.distinct.grouped(readChunkSize(spark)).toSeq
    // ---- added DATA files (inserts + update postimages): one chunked
    // scan over every ordinal's additions; each row learns its
    // (ordinal, change type) from a broadcast lookup on the file path.
    // A delete-op commit's data additions (not a shape this writer
    // emits) carry no change semantics and are skipped, as before.
    val dataAdds = added.filter { case (ord, content, _, _) =>
      content == 0 && opOf(ord) != "delete" }
    val dataFrame: Option[DataFrame] =
      if (dataAdds.isEmpty) None
      else {
        val lookup = broadcast(dataAdds.map { case (ord, _, p, _) =>
          (p, ord,
            if (opOf(ord) == "append") "insert" else "update_postimage") }
          .toDF("__p", "__ord", "__ct")
          .withColumn("__p", normPathCol(col("__p"))))
        Some(chunked(dataAdds.map(_._3)).map(ps =>
            spark.read.schema(schema).parquet(ps: _*)
              .withColumn("__p", normPathCol(col("_metadata.file_path"))))
          .reduce(_ unionByName _)
          .join(lookup, Seq("__p")))
      }
    // ---- added POSITION-DELETE files: one scan builds the deleted
    // (file, pos, ordinal, change type) slots for every commit at once;
    // their referenced data files read in one chunked scan (ORIGINAL
    // recorded paths — scheme preserved; the slot join runs on
    // normalized forms of both sides).
    val posAdds = added.filter { case (ord, content, _, _) =>
      content == 1 && opOf(ord) != "append" }
    val posFrame: Option[DataFrame] =
      if (posAdds.isEmpty) None
      else {
        val lookup = broadcast(posAdds.map { case (ord, _, p, _) =>
          (p, ord, if (opOf(ord) == "delete") "delete" else "update_preimage") }
          .toDF("__dp", "__ord", "__ct")
          .withColumn("__dp", normPathCol(col("__dp"))))
        val delRows = spark.read.schema(posDeleteSchema)
          .parquet(posAdds.map(_._3).distinct: _*)
          .select(normPathCol(col("_metadata.file_path")).as("__dp"),
            col("file_path"), col("pos"))
        // two delete files in ONE commit may repeat a slot: dedupe
        // within the ordinal (the old per-snapshot semi-join's dedupe)
        val slots = delRows.join(lookup, Seq("__dp"))
          .select(normPathCol(col("file_path")).as("__cfp"),
            col("pos").as("__cri"), col("__ord"), col("__ct")).distinct()
        // referenced data paths: bounded collect, O(files-per-range) —
        // the read path's descriptor-collect cost class
        val refPaths = delRows.select(col("file_path")).distinct()
          .as[String].collect().toIndexedSeq
        Some(chunked(refPaths).map(ps =>
            spark.read.schema(schema).parquet(ps: _*)
              .select(col("*"),
                normPathCol(col("_metadata.file_path")).as("__cfp"),
                col("_metadata.row_index").as("__cri")))
          .reduce(_ unionByName _)
          .join(slots, Seq("__cfp", "__cri")))
      }
    // ---- added EQUALITY-DELETE files: the one remaining per-commit
    // frame (eq-delete commits are the rare external-CDC shape). The
    // deleted rows are the PARENT state matching the tuples — exactly
    // the spec's strictly-lower-seq scope — so the parent must still be
    // in metadata: fail loudly instead of silently dropping the commit.
    val eqAdds = added.filter { case (ord, content, _, _) =>
      content == 2 && opOf(ord) != "append" }
    val eqFrames: Seq[DataFrame] = eqAdds
      .groupBy(t => (t._1, t._4)).toSeq.sortBy(_._1._1)
      .map { case ((ord, ids), fs2) =>
        val m = metas.find(_.ord == ord).get
        val parent = m.parent.filter(byId.contains).getOrElse(sys.error(
          s"changes: snapshot ${m.sid} carries equality deletes but its " +
            "parent has been expired — the deleted rows cannot be " +
            "reconstructed; narrow the range or re-run before expiry"))
        val cols2 = ids.map(id => fieldsById.getOrElse(id,
          sys.error(s"changes: equality field id $id not in schema")))
        val tuplesRaw = spark.read
          .schema(StructType(cols2.map(n => schema(n))))
          .parquet(fs2.map(_._3).distinct: _*)
        val inlineMax = spark.conf
          .getOption("spark.graft.iceberg.eqDeleteInlineTuples")
          .map(_.toInt).getOrElse(1000)
        // probe the RAW rows (no distinct shuffle): when they all fit,
        // the driver-side distinct is complete by construction
        val rawRows = tuplesRaw.limit(inlineMax + 1).collect()
        def parentRead(pred: Option[org.apache.spark.sql.Column]): DataFrame =
          localAt(parent) match {
            case Some(local) =>
              val pruned = pred.flatMap(p => entryKeeper(spark, root, schema, p))
                .fold(local)(keep => local.filter(keep))
              readFromLocalEntries(spark, table, schema, fieldsById, pruned)
            case None =>
              val e = entriesAt(parent)
              readFromEntries(spark, table, schema, fieldsById,
                pred.fold(e)(p => pruneEntries(spark, root, schema, e, p)))
          }
        val out =
          if (rawRows.length <= inlineMax) {
            // small tuple sets (the common CDC upsert shape) inline as
            // an or-of-null-safe-equalities predicate: it prunes the
            // parent ENTRIES by hidden partition + bounds AND pushes
            // into the parquet scan as row-group filters — the parent
            // rescan stops being O(table)
            val pred = rawRows.toIndexedSeq.distinct.map { r =>
              cols2.zipWithIndex.map { case (n, j) =>
                col(n) <=> lit(r.get(j)) }.reduce(_ && _)
            }.reduceOption(_ || _).getOrElse(lit(false))
            parentRead(Some(pred)).where(pred)
          } else parentRead(None)
            .join(tuplesRaw
              .select(cols2.map(n => col(n).as(s"__eq_$n")): _*).distinct(),
              cols2.map(n => col(n) <=> col(s"__eq_$n")).reduce(_ && _),
              "left_semi")
        out.withColumn("__ct", lit("delete")).withColumn("__ord", lit(ord))
      }
    val frames = (dataFrame.toSeq ++ posFrame.toSeq ++ eqFrames).map(
      _.withColumn("_change_type", col("__ct"))
        .withColumn("_change_ordinal", col("__ord").cast("int"))
        .select(outCols: _*))
    if (frames.isEmpty) emptyOut else frames.reduce(_ unionByName _)
  }

  /** Every file path any of `manifests` mentions (ANY entry status —
    * reachability must see deleted-status entries too), parsed on
    * EXECUTORS. `strict` governs unreadable manifests: the
    * REACHABLE/KEEP side of a sweep must ABORT on a manifest it cannot
    * parse (a silently skipped live manifest would drop its files from
    * the reachable set and the sweep would delete live data — upstream
    * Iceberg's remove_orphan_files fails the same way); only the
    * DROPPED side of [[expireSnapshots]] may skip (its lists/manifests
    * can legitimately be gone on an idempotent re-run). */
  private def manifestFilesFrame(spark: SparkSession, table: String,
      manifests: Set[String], strict: Boolean)
      : org.apache.spark.sql.Dataset[String] = {
    import spark.implicits._
    if (manifests.isEmpty) return spark.emptyDataset[String]
    val bc = spark.sparkContext.broadcast(
      new DeltaLog.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    val tableStr = table
    val strictL = strict
    spark.createDataset(manifests.toSeq.sorted)
      .repartition(math.max(1, math.min(manifests.size,
        spark.sparkContext.defaultParallelism)))
      .flatMap { mp =>
        try avroEntriesConf(bc.value.value, new Path(mp)).flatMap { e =>
          Option(e.get("data_file")).collect { case d: GenericRecord =>
            resolve(tableStr, str(d, "file_path").getOrElse(""))
          }
        } catch {
          case scala.util.control.NonFatal(ex) if strictL =>
            throw new java.io.IOException(
              s"referenced manifest unreadable, aborting sweep: $mp", ex)
          case scala.util.control.NonFatal(_) => Seq.empty
        }
      }
  }

  /** Unlink every path in `victims` per-partition on executors;
    * returns how many existed and were deleted. */
  private def deleteDistributed(spark: SparkSession,
      victims: org.apache.spark.sql.Dataset[String]): Long = {
    val bc = spark.sparkContext.broadcast(
      new DeltaLog.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    victims.rdd.mapPartitions { it =>
      val conf = bc.value.value
      var n = 0L
      it.foreach { p =>
        val hp = new Path(p)
        val fsx = hp.getFileSystem(conf)
        if (fsx.exists(hp) && fsx.delete(hp, false)) n += 1
      }
      Iterator.single(n)
    }.fold(0L)(_ + _)
  }

  /** Iceberg's `remove_orphan_files` maintenance action: delete files
    * under `<table>/data/` that NO snapshot's manifests reference —
    * crash-orphaned staging output, files stranded by an aborted
    * commit — restricted to files modified before `olderThanMs` (the
    * grace window that keeps in-flight writes safe, the procedure's
    * `older_than` argument). Scale shape: the recursive listing runs
    * per-partition-directory ON EXECUTORS (streamed through the
    * RemoteIterator, never a driver array), reachability is the
    * distributed manifest parse, the orphan set is an anti-join, and
    * unlinks happen per-partition; the driver holds manifest paths
    * (O(manifests)) and the partition-directory list only. Returns the
    * number of files deleted. */
  def removeOrphanFiles(spark: SparkSession, location: String,
      olderThanMs: Long): Long = {
    val table = qualify(spark, location)
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, regexp_replace}
    val f = fs(spark, table)
    val root = base(f, table).root
    // a file referenced by ANY snapshot — current or historical — is
    // not an orphan; expireSnapshots owns dropping history. Every
    // snapshot here is still in the metadata, so an unreadable
    // manifest-list means corrupt/transiently-broken REFERENCED
    // metadata — abort rather than treat its files as unreachable.
    val manifests = {
      val b = Set.newBuilder[String]
      root.path("snapshots").elements().asScala.foreach { s =>
        val lp = new Path(resolve(table, s.get("manifest-list").asText()))
        try avroEntries(f, lp).foreach { m =>
          b += resolve(table, str(m, "manifest_path").getOrElse(""))
        } catch {
          case scala.util.control.NonFatal(ex) => throw new java.io.IOException(
            s"referenced manifest-list unreadable, aborting orphan sweep: $lp", ex)
        }
      }
      b.result()
    }
    val dataDir = new Path(f.makeQualified(new Path(table)), "data")
    if (!f.exists(dataDir)) return 0L
    val bc = spark.sparkContext.broadcast(
      new DeltaLog.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
    // fan out one task per partition directory (recursive), plus one
    // for files sitting directly under data/ (unpartitioned layout or
    // pre-evolution files)
    val top = f.listStatus(dataDir)
    val units: Seq[(String, Boolean)] =
      top.collect { case s if s.isDirectory => (s.getPath.toString, true) }.toSeq :+
        ((dataDir.toString, false))
    val cutoff = olderThanMs
    val onDisk = spark.createDataset(units)
      .repartition(math.max(1, math.min(units.size,
        spark.sparkContext.defaultParallelism)))
      .flatMap { case (d, recursive) =>
        val p = new Path(d)
        val fsx = p.getFileSystem(bc.value.value)
        val it = fsx.listFiles(p, recursive)
        val base = new Iterator[org.apache.hadoop.fs.LocatedFileStatus] {
          def hasNext: Boolean = it.hasNext
          def next(): org.apache.hadoop.fs.LocatedFileStatus = it.next()
        }
        // the non-recursive unit must not re-emit subdirectory files
        val scoped = if (recursive) base
          else base.filter(_.getPath.getParent.toString == d)
        scoped.filter(s => s.isFile && s.getModificationTime < cutoff)
          .map(s => s.getPath.toString)
      }.toDF("p")
    val victims = onDisk
      .withColumn("__pn", normPathCol(col("p")))
      .join(manifestFilesFrame(spark, table, manifests, strict = true).toDF("r")
        .select(normPathCol(col("r")).as("__pn")).distinct(),
        Seq("__pn"), "left_anti")
      .select(col("p")).as[String].distinct()
    deleteDistributed(spark, victims)
  }

  /** Iceberg's `rewrite_manifests` maintenance action: consolidate the
    * current snapshot's DATA manifests into ONE manifest per partition
    * spec, touching no data file — metadata health for tables that
    * accreted one small manifest per append (10⁴ appends would mean
    * 10⁴ manifest opens per planning pass forever). Entries STREAM
    * from the distributed entries frame into the avro writer via
    * `toLocalIterator` (one row on the driver at a time), and each
    * consolidated entry records its own data sequence number in the v2
    * per-entry field — both read paths already prefer it over the
    * manifest-list inherit, so merge-on-read delete scoping survives
    * consolidation exactly. Delete manifests carry unchanged. Returns
    * (data manifests before, after); no commit when already
    * consolidated. */
  def rewriteManifests(spark: SparkSession, location: String): (Int, Int) = {
    val table = qualify(spark, location)
    import spark.implicits._
    val f = fs(spark, table)
    val b = base(f, table)
    val root0 = b.root
    val snap = resolveSnapshotNode(table, root0, None, None)
    val (dataM, delM) = carriedManifests(f, table, root0).partition(_.content == 0)
    if (dataM.size <= 1) return (dataM.size, dataM.size)
    val schema = resolveSchema(root0)
    val allSpecs = specsById(root0)
    val entries = entriesOf(spark, table, root0, snap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val specIds = entries.filter(_.content == 0).map(_.specId)
        .distinct().collect().sorted
      commit(f, b, newNonce()) { a =>
        val newManifests = specIds.map { sid =>
          val fields = allSpecs.getOrElse(sid, Seq.empty)
          val types = fields.map(fd =>
            IcebergPartition.resultType(fd.transform, schema(fd.source).dataType))
          val mSchema = manifestAvroSchemaFor(fields.map(_.name).zip(types))
          val dfSchema = mSchema.getField("data_file").schema()
          val it = entries.filter(e => e.content == 0 && e.specId == sid)
            .toLocalIterator().asScala.map { e =>
              val rec = new GenericData.Record(mSchema)
              rec.put("status", 0) // EXISTING
              // spec: an EXISTING entry keeps the snapshot that originally
              // ADDED the file, not the rewriting snapshot
              rec.put("snapshot_id",
                if (e.addedSnapshotId != 0L) e.addedSnapshotId else a.snapshotId)
              rec.put("sequence_number", e.seq)
              val d = new GenericData.Record(dfSchema)
              d.put("file_path", e.path)
              d.put("file_format", "PARQUET")
              d.put("record_count", e.recordCount)
              d.put("file_size_in_bytes", e.fileSize)
              if (e.lower.nonEmpty)
                d.put("lower_bounds", boundsArray(dfSchema, "lower_bounds", e.lower))
              if (e.upper.nonEmpty)
                d.put("upper_bounds", boundsArray(dfSchema, "upper_bounds", e.upper))
              if (e.nullCounts.nonEmpty)
                d.put("null_value_counts", mapArray(dfSchema, "null_value_counts",
                  e.nullCounts)(java.lang.Long.valueOf(_)))
              if (fields.nonEmpty && e.hasPartition) {
                val pr = new GenericData.Record(
                  dfSchema.getField("partition").schema())
                fields.zipWithIndex.foreach { case (fd, j) =>
                  val raw = e.partition.lift(j).orNull
                  pr.put(fd.name,
                    if (raw == null) null
                    else types(j) match {
                      case IntegerType => Integer.valueOf(raw.toInt)
                      case LongType => java.lang.Long.valueOf(raw.toLong)
                      case StringType => raw
                      case other =>
                        sys.error(s"partition tuple type unsupported: $other")
                    })
                }
                d.put("partition", pr)
              }
              rec.put("data_file", d)
              rec
            }
          val mp = a.manifestPath(s"rw$sid")
          ManifestRow(mp.toString, writeAvro(f, mp, mSchema, it), 0, a.version, sid)
        }.toSeq
        val meta = a.base.root.deepCopy()
        addSnapshot(a, meta, newManifests ++ delM, "replace")
        meta
      }
      (dataM.size, specIds.length)
    } finally { entries.unpersist(false); () }
  }

  /** Expire old snapshots — Iceberg's `expireSnapshots` maintenance
    * verb, the dual of Delta's VACUUM. Snapshots older than
    * `olderThanMs` drop from the metadata (always retaining the
    * current one and the newest `retainLast`); their manifest lists,
    * manifests, and any data/delete file referenced ONLY by dropped
    * snapshots are deleted from disk — after the metadata without them
    * is published (Iceberg's own order: commit, then clean up), so a
    * lost or failed commit deletes nothing. Reachability is computed
    * from the manifests themselves (metadata-sized avro, the same walk
    * [[state]] performs) — never a recursive directory listing, so a
    * table with 10⁶ data files pays O(manifests), not O(files), and a
    * foreign file sitting under data/ is never touched. Returns the
    * number of files deleted. */
  def expireSnapshots(spark: SparkSession, location: String,
      olderThanMs: Long, retainLast: Int = 1): Long = {
    val table = qualify(spark, location)
    require(retainLast >= 1, "expireSnapshots: retainLast must be >= 1")
    val f = fs(spark, table)
    val b = base(f, table)
    val root = b.root
    val snaps = root.path("snapshots").elements().asScala.toSeq
    val currentId = root.get("current-snapshot-id").asLong()
    val byAge = snaps.sortBy(_.get("timestamp-ms").asLong())
    // named refs protect their snapshots (the spec's ref-retention rule)
    val refIds = root.path("refs").elements().asScala
      .map(_.get("snapshot-id").asLong()).toSet
    // a NAMED branch additionally protects its ANCESTORS: expiring an
    // intermediate staged snapshot would break the parent chain
    // fastForward's publishability check walks. `main` is excluded —
    // its history expires normally (protecting main's ancestors would
    // disable expiry outright); named audit branches are short-lived
    // and bounded.
    val parentOf: Map[Long, Long] = snaps.flatMap { s =>
      Option(s.get("parent-snapshot-id"))
        .map(p => s.get("snapshot-id").asLong() -> p.asLong())
    }.toMap
    val branchAncestors: Set[Long] = {
      val b = Set.newBuilder[Long]
      root.path("refs").fields().asScala.foreach { e =>
        if (e.getKey != "main" &&
            e.getValue.path("type").asText("branch") == "branch") {
          var cur = e.getValue.get("snapshot-id").asLong()
          var guard = snaps.size + 1
          while (parentOf.contains(cur) && guard > 0) {
            cur = parentOf(cur); b += cur; guard -= 1
          }
        }
      }
      b.result()
    }
    val keepIds = (byAge.takeRight(retainLast).map(_.get("snapshot-id").asLong()) :+
      currentId).toSet ++ refIds ++ branchAncestors ++
      byAge.filter(_.get("timestamp-ms").asLong() >= olderThanMs)
        .map(_.get("snapshot-id").asLong())
    val (kept, dropped) = snaps.partition(s => keepIds.contains(s.get("snapshot-id").asLong()))
    if (dropped.isEmpty) return 0L

    // reachability: LIST- and MANIFEST-level sets stay driver-side
    // (metadata-sized — O(snapshots × manifests) paths); DATA-FILE
    // reachability is computed DISTRIBUTED: the per-manifest avro parse
    // fans out to executors, the (dropped \ kept) difference is an
    // anti-join, and the orphaned files are unlinked per-partition on
    // executors — the driver never materializes a file-path set
    // (10⁶-file tables expire with bounded driver state).
    def manifestRefs(ss: Seq[com.fasterxml.jackson.databind.JsonNode],
        strict: Boolean): (Set[String], Set[String]) = {
      val lists = Set.newBuilder[String]
      val manifests = Set.newBuilder[String]
      ss.foreach { s =>
        val lp = resolve(table, s.get("manifest-list").asText())
        lists += lp
        // a DROPPED snapshot's list may legitimately be gone already
        // (idempotent re-run) — skip unreadable. A KEPT snapshot's list
        // is live metadata: an unreadable one would silently shrink the
        // keep set and let its files be deleted as victims — abort.
        try avroEntries(f, new Path(lp)).foreach { m =>
          manifests += resolve(table, str(m, "manifest_path").getOrElse(""))
        } catch {
          case scala.util.control.NonFatal(ex) if strict =>
            throw new java.io.IOException(
              s"kept snapshot's manifest-list unreadable, aborting expire: $lp", ex)
          case scala.util.control.NonFatal(_) => ()
        }
      }
      (lists.result(), manifests.result())
    }
    val (keepLists, keepManifests) = manifestRefs(kept, strict = true)
    val (dropLists, dropManifests) = manifestRefs(dropped, strict = false)

    // publish the metadata without the dropped snapshots / log entries
    // FIRST: a lost or failed commit must leave their files in place
    commit(f, b, newNonce()) { a =>
      val meta = a.base.root.deepCopy()
      meta.putArray("snapshots").addAll(kept.asJava)
      meta.putArray("snapshot-log").addAll(root.path("snapshot-log").elements()
        .asScala.filter(l => keepIds.contains(l.get("snapshot-id").asLong()))
        .toSeq.asJava)
      meta
    }

    import spark.implicits._
    var deleted = 0L
    // a file in a manifest BOTH sides share can never be a victim, so
    // the candidate side parses only the dropped-exclusive manifests —
    // append-carried manifests (the common case) never re-parse
    val dropOnly = dropManifests -- keepManifests
    if (dropOnly.nonEmpty) {
      val victims = manifestFilesFrame(spark, table, dropOnly, strict = false)
        .toDF("p")
        .join(manifestFilesFrame(spark, table, keepManifests, strict = true)
          .toDF("p"), Seq("p"), "left_anti")
        .distinct().as[String]
      deleted += deleteDistributed(spark, victims)
    }
    (dropOnly ++ (dropLists -- keepLists)).foreach { p =>
      val hp = new Path(p)
      if (f.exists(hp) && f.delete(hp, false)) deleted += 1
    }
    deleted
  }

  /** Materialize merge-on-read deletes: rewrite the surviving rows as
    * fresh data files in one REPLACE snapshot — afterwards the view
    * carries no delete files, so CONVERT TO DELTA (which refuses MoR
    * tables) can proceed. O(surviving rows) written; history keeps the
    * MoR snapshots time-travelable. */
  def materializeDeletes(spark: SparkSession, location: String): Long = {
    val table = qualify(spark, location)
    // delete-presence probe over the DISTRIBUTED entries frame (the
    // spec-API state() would collect every file path on the driver)
    val f = fs(spark, table)
    val b = base(f, table)
    val root = b.root
    val snap = resolveSnapshotNode(table, root, None, None)
    val hasDeletes = entriesLocalOpt(spark, table, root, snap) match {
      case Some(local) => local.exists(_.content != 0)
      case None => entriesOf(spark, table, root, snap)
        .filter(_.content != 0).limit(1).count() > 0
    }
    if (!hasDeletes) return snap.get("snapshot-id").asLong()
    append(spark, readState(spark, table, root, snap, resolveSchema(root)), b,
      carryPrevious = false)
  }

  /** Bin-pack compaction — Iceberg's `rewrite_data_files` maintenance
    * action, the OPTIMIZE of this format. Rewrites (a) data files
    * smaller than `smallerThan` bytes, (b) every file a position delete
    * pins, (c) every file an equality delete could scope (sequence
    * number below the delete's), and (d) files laid out under an OLD
    * partition spec, applying the deletes in the same pass; every other
    * file carries into the REPLACE snapshot as a manifest entry — its
    * bytes never move. Because the selection covers all delete-affected
    * files, the new snapshot carries NO delete manifests: metadata-only
    * COUNT(*) and CONVERT TO DELTA work again. Returns (rewritten,
    * carried) file counts; (0, n) commits nothing.
    *
    * Scale: everything file-level stays distributed — selection is a
    * predicate over the entries frame (the position deletes' target
    * paths JOIN against it, never a driver Set), the rewrite subset
    * reads through [[readFromEntries]]'s chunked scan with deletes
    * applied, and the carried EXISTING entries stream into the manifest
    * writer one partition at a time via `toLocalIterator` (the
    * [[DeltaLog]] DELETE pattern). Driver state: O(delete files) paths
    * and O(1) aggregates. */
  def rewriteDataFiles(spark: SparkSession, location: String,
      smallerThan: Long = 32L << 20): (Int, Int) = {
    val table = qualify(spark, location)
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val f = fs(spark, table)
    val b = base(f, table)
    val root = b.root
    val snap = resolveSnapshotNode(table, root, None, None)
    val schema = resolveSchema(root)
    val defaultSpecId = root.path("default-spec-id").asInt(0)
    val entries = entriesOf(spark, table, root, snap)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val entryCols = Seq("path", "content", "seq", "recordCount", "fileSize",
      "specId", "hasPartition", "partition", "lower", "upper", "nullCounts",
      "equalityIds", "addedSnapshotId").map(col)
    val flagged = {
      // delete-file PATHS are O(delete files) — the DV-descriptor class
      val dels = entries.filter(_.content != 0)
        .map(e => (e.content, e.path, e.seq)).collect()
      val posDelPaths = dels.collect { case (1, p, _) => p }.toSeq
      val maxEqSeq = (0L +: dels.collect { case (2, _, s) => s }.toSeq).max
      val posTouched =
        if (posDelPaths.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("__tp", StringType))))
        else spark.read.parquet(posDelPaths: _*)
          .select(normPathCol(col("file_path")).as("__tp")).distinct()
      entries.filter(_.content == 0).toDF()
        .withColumn("__np", normPathCol(col("path")))
        .join(posTouched, col("__np") === col("__tp"), "left")
        .withColumn("__rw",
          col("fileSize") < lit(smallerThan) || col("__tp").isNotNull ||
            col("seq") < lit(maxEqSeq) ||
            // partition evolution: files laid out under an OLD spec
            // rewrite into the current default layout
            col("specId") =!= lit(defaultSpecId))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try {
      // counts + rewrite byte total in ONE aggregation pass
      val agg = flagged.groupBy(col("__rw"))
        .agg(count(lit(1)).as("n"), sum(col("fileSize")).as("b"))
        .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val (nRewrite, rwBytes) = agg.getOrElse(true, (0L, 0L))
      val nKeep = agg.get(false).map(_._1).getOrElse(0L)
      if (nRewrite == 0L) return (0, nKeep.toInt)
      // the rewrite subset reads through the chunked distributed path
      // WITH the delete files, so merge-on-read deletes materialize in
      // the same pass; carried files were provably untouched by any
      // delete, so dropping the delete manifests is sound
      val rwEntries = flagged.where(col("__rw")).select(entryCols: _*)
        .as[IceEntry].union(entries.filter(_.content != 0))
      val rewritten = readFromEntries(spark, table, schema,
        schemaFieldIds(root), rwEntries)
      // bin-pack: aim for ~4x the small-file floor per output file (the
      // partitioned path re-partitions by partition tuple downstream)
      val targetFiles = math.max(1L,
        rwBytes / math.max(1L, smallerThan * 4)).toInt
      // typed partition tuples decode per-file under the spec the file
      // was WRITTEN with (evolution-safe), streaming one row at a time
      val allSpecs = specsById(root)
      val srcTypes: Map[Int, Seq[DataType]] = allSpecs.map { case (id, fds) =>
        id -> fds.map(fd => schema(fd.source).dataType)
      }
      val resTypes: Map[Int, Seq[DataType]] = allSpecs.map { case (id, fds) =>
        id -> fds.zip(srcTypes(id)).map { case (fl, st2) =>
          IcebergPartition.resultType(fl.transform, st2)
        }
      }
      val keepIt = flagged.where(!col("__rw")).select(entryCols: _*)
        .as[IceEntry].toLocalIterator().asScala.map { e =>
          CarriedFile(e.path, e.recordCount, e.fileSize,
            if (!e.hasPartition) None
            else Some(e.partition
              .zip(resTypes.getOrElse(e.specId, Seq.empty))
              .map { case (s2, dt) => decodePv(s2, dt) }),
            e.lower, e.upper, e.nullCounts)
        }
      append(spark, rewritten.coalesce(targetFiles), b,
        carryPrevious = false, carryFiles = keepIt)
      (nRewrite.toInt, nKeep.toInt)
    } finally {
      flagged.unpersist(false)
      entries.unpersist(false)
      ()
    }
  }

  /** Merge-on-read DELETE: the matching rows' (file, position) slots
    * land in a position-delete file — O(matched rows) written, every
    * data file byte-untouched. One distributed scan finds the slots via
    * `_metadata` (no window, no row numbering); [[read]] applies them
    * with an anti-join. */
  def deleteWhere(spark: SparkSession, location: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val table = qualify(spark, location)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val f = fs(spark, table)
    val b = base(f, table)
    val root = b.root
    val snap = resolveSnapshotNode(table, root, None, None)
    val schema = resolveSchema(root)
    // candidate scope: hidden-partition + bound pruning first, so the
    // probing scan opens only files the predicate could touch; the
    // surviving paths reach the driver in bounded chunks (the
    // [[pathChunksOf]] rule) — or straight off the driver-local entries
    // under the small-metadata threshold (zero planning jobs)
    val candChunks = entriesLocalOpt(spark, table, root, snap) match {
      case Some(local) =>
        require(local.exists(_.content == 0),
          s"Iceberg table $table has no data files")
        val keep = entryKeeper(spark, root, schema, predicate)
        val cands = local.filter(e => e.content == 0 && keep.forall(_(e)))
        if (cands.isEmpty) Seq.empty
        else cands.map(e => (e.path, e.fileSize))
          .grouped(readChunkSize(spark)).toSeq
      case None =>
        val entries = entriesOf(spark, table, root, snap)
        require(entries.filter(_.content == 0).limit(1).count() > 0,
          s"Iceberg table $table has no data files")
        pathChunksOf(
          pruneEntries(spark, root, schema, entries, predicate)
            .filter(_.content == 0).map(e => (e.path, e.fileSize))
            .toDF("path", "size"),
          readChunkSize(spark))
    }
    val slots =
      if (candChunks.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("file_path", StringType),
            StructField("pos", LongType))))
      else candChunks.map(ps =>
          StaticRelation.readAbsolute(spark, table, ps, schema)
            .getOrElse(spark.read.schema(schema).parquet(ps.map(_._1): _*))
          .select(col("_metadata.file_path").as("file_path"),
            col("_metadata.row_index").as("pos"), col("*"))
          .where(predicate)
          .select("file_path", "pos"))
        .reduce(_ unionByName _)
    writeDeleteSnapshot(spark, b, slots, content = 1, equalityIds = Seq.empty)
  }

  /** Merge-on-read equality DELETE: every row whose `values`-column
    * tuple null-safely equals a delete row is suppressed — but only in
    * data files at a strictly LOWER sequence number, so a later
    * re-insert of the same key survives (the spec's CDC upsert shape).
    * O(delete rows) written, no data file touched or even read. */
  def deleteEquals(spark: SparkSession, location: String,
      values: DataFrame): Long = {
    val table = qualify(spark, location)
    // metadata-JSON-only: no manifest walk — the ids come from the schema
    val f = fs(spark, table)
    val b = base(f, table)
    val root = b.root
    val fieldIds = schemaFieldIds(root)
    val byName = fieldIds.map(_.swap)
    val ids = values.columns.toSeq.map(c => byName.getOrElse(c,
      sys.error(s"equality-delete column '$c' not in $table schema " +
        s"(have: ${fieldIds.values.mkString(", ")})")))
    writeDeleteSnapshot(spark, b, values, content = 2, equalityIds = ids)
  }

  /** Merge-on-read UPDATE: matched rows' slots become POSITION DELETES
    * and their post-images (SET applied) land as new data files — both
    * in ONE snapshot, so readers see either the whole update or none of
    * it. No existing data file is rewritten or moved; cost is
    * O(matched rows), the Iceberg analogue of
    * [[DeltaLog.updateWhereDv]].
    *
    * Scale shape: candidate files shrink through hidden-partition +
    * bound pruning before any parquet opens; the probing scan reads
    * THROUGH the current merge-on-read mask (an already-deleted row
    * version can never match again); matched rows stream through one
    * distributed write each for the delete slots and the post-image.
    * Returns the new snapshot id (current one when nothing matched: no
    * empty commits). */
  def updateWhere(spark: SparkSession, location: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long = {
    val table = qualify(spark, location)
    import org.apache.spark.sql.functions.col
    require(set.nonEmpty, "UPDATE needs at least one SET column")
    val f = fs(spark, table)
    val b = base(f, table)
    val root = b.root
    val snap = resolveSnapshotNode(table, root, None, None)
    val schema = resolveSchema(root)
    val missing = set.keySet -- schema.fieldNames
    require(missing.isEmpty,
      s"UPDATE SET references columns not in the table: ${missing.mkString(",")}")
    val matched = readState(spark, table, root, snap, schema,
      predicate = Some(predicate), withSlots = true)
      .where(predicate)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val slots = matched
        .select(col("__slot_path").as("file_path"), col("__slot_pos").as("pos"))
      val post = matched.select(schema.fieldNames.toIndexedSeq.map { n =>
        set.get(n).map(_.as(n)).getOrElse(col(n))
      }: _*)
      // no separate no-match probe: the slots staging materializes the
      // persisted frame, and skipIfEmpty turns an empty match into a
      // cleanup instead of a commit (footer counts, zero extra jobs)
      writeDeleteSnapshot(spark, b, slots, content = 1,
        equalityIds = Seq.empty, postImage = Some(post),
        operation = "overwrite", skipIfEmpty = true)
    } finally { matched.unpersist(false); () }
  }

  /** Merge-on-read MERGE upsert with a recency guard — the S8 sink
    * shape on the Iceberg protocol, the dual of [[DeltaLog.mergeUpsert]]
    * (which rewrites touched files copy-on-write): losing target row
    * versions become position deletes and every winning source row
    * appends, in ONE snapshot. The win rule is single-sourced with
    * every other merge surface via [[graft.operators.Scd2.sourceWins]]:
    * a source row wins when the target has no row for its key or the
    * source is strictly newer on `recencyCol`; matched-but-older source
    * rows leave the target untouched (no delete, no append).
    *
    * Scale shape: the target probe scans ONLY the key + recency columns
    * plus row slots (column-pruned), the join keys on `keys` (narrow
    * target rows shuffle, or broadcast when the source is small), and
    * the committed bytes are O(changed rows). Returns the new snapshot
    * id (current one on a no-op merge). */
  def mergeUpsert(spark: SparkSession, location: String, source: DataFrame,
      keys: Seq[String], recencyCol: String,
      // caller guarantees a key-distinct source — skips the dedupe +
      // nondeterminism guard below (same contract as DeltaLog.merge)
      uniqueSourceKeys: Boolean = false): Long = {
    val table = qualify(spark, location)
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, max}
    val f = fs(spark, table)
    val b = base(f, table)
    if (b.meta.isEmpty) return append(spark, source, b)
    val root = b.root
    val snap = resolveSnapshotNode(table, root, None, None)
    val schema = resolveSchema(root)
    require(source.columns.toSet == schema.fieldNames.toSet,
      s"MERGE source schema must match the table: " +
        s"source=${source.columns.mkString(",")} table=${schema.fieldNames.mkString(",")}")
    // two source rows for one key that both win would append two
    // post-images against a single position-deleted target slot —
    // silently breaking the keyed-upsert invariant the Delta MERGE path
    // errors on. Dedupe newest-wins per key (older versions are
    // legitimately shadowed, the CDC batch shape); a TIE at the max
    // recency with different payloads has no well-defined winner —
    // raise the protocol's nondeterministic-merge error (one eager
    // two-long aggregation over the SOURCE only, the Merge.applyClauses
    // guard shape).
    val src0 =
      if (uniqueSourceKeys || Merge.keyDistinct(source, keys)) source
      else {
        // duplicate keys proven present: dedupe newest-wins, then guard
        // against payload ties at the max recency
        val wmax = max(col(recencyCol)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(keys.map(col): _*))
        val newest = source.withColumn("__maxrec", wmax)
          .where(col(recencyCol) <=> col("__maxrec")).drop("__maxrec")
          .distinct()
        val maxDup = newest.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("__n"))
          .agg(coalesce(max(col("__n")), lit(0L))).head().getLong(0)
        if (maxDup > 1) sys.error(
          "MERGE failed: multiple source rows share a key at the same " +
            s"max $recencyCol with different payloads — the merge is " +
            "nondeterministic. Deduplicate the source on the merge keys first.")
        newest
      }
    // probe: only keys + recency + slots of the target cross the join —
    // post-images come from the SOURCE side, so the wide columns of a
    // 100 TB target never shuffle
    val probeCols = (keys :+ recencyCol).distinct
    val target = readState(spark, table, root, snap, schema, withSlots = true)
      .select((probeCols ++ Seq("__slot_path", "__slot_pos")).map(col): _*)
    val srcRenamed = src0.select(
      keys.map(col) ++ src0.columns.filterNot(keys.contains)
        .map(c => col(c).as(s"__src_$c")): _*)
    // preserve the SOURCE side: target-only rows are untouched survivors
    // and never need to appear here
    val joined = srcRenamed.join(target, keys, "left_outer")
      .where(graft.operators.Scd2.sourceWins(recencyCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val losers = joined.where(col("__slot_pos").isNotNull)
        .select(col("__slot_path").as("file_path"),
          col("__slot_pos").as("pos")).distinct()
      val winners = joined.select(schema.fieldNames.toIndexedSeq.map { n =>
        if (keys.contains(n)) col(n) else col(s"__src_$n").as(n)
      }: _*)
      // all-stale merge → both staged sides empty → skipIfEmpty cleans
      // up and commits nothing (no separate probe action needed)
      writeDeleteSnapshot(spark, b, losers, content = 1,
        equalityIds = Seq.empty, postImage = Some(winners),
        operation = "overwrite", skipIfEmpty = true)
    } finally { joined.unpersist(false); () }
  }

  /** Mirror a DELTA table's current snapshot as Iceberg metadata in the
    * SAME directory — the UniForm shape: one set of parquet bytes, two
    * metadata stacks, any Iceberg reader sees exactly the Delta state.
    * Each call appends one Iceberg snapshot whose single manifest lists
    * the Delta snapshot's live files (sizes from the log, numRecords
    * from the per-file stats). Deletion vectors mirror as one v2
    * POSITION-DELETE file — each masked row's (absolute path, row
    * index), expanded on executors straight from the sidecar bitmaps —
    * so an Iceberg reader sees exactly the masked Delta state without
    * any data file being rewritten. Refuses Delta-partitioned layouts
    * (partition values live in directories + actions, not in the
    * parquet, so a plain-parquet Iceberg read would drop those
    * columns). Re-mirror after each Delta commit to keep the views in
    * sync. */
  def mirrorDelta(spark: SparkSession, location: String): Long = {
    val table = qualify(spark, location)
    val snap = DeltaLog.snapshot(spark, table)
    val schema = snap.schema.getOrElse(
      sys.error(s"mirrorDelta: $table declares no schema"))
    require(snap.partitionColumns.isEmpty,
      s"mirrorDelta: $table is partitioned — partition values are not in " +
        "the parquet files, an Iceberg read would drop them")
    require(snap.columnMappingMode == "none",
      s"mirrorDelta: $table uses column mapping (physical names differ)")
    val f = fs(spark, table)
    val root = f.makeQualified(new Path(table))
    // live files + per-file counts from the DISTRIBUTED frame, STREAMED
    // one partition at a time into the manifest writer — the driver
    // never holds the full (path, size, numRecords) list (10⁶ files ≈
    // hundreds of MB if collected); the DV guard is a distributed count
    import org.apache.spark.sql.functions.{col, get_json_object}
    // deletion vectors mirror as one v2 POSITION-DELETE file: each
    // masked row's (absolute data path, row index) — expansion happens
    // ON EXECUTORS (every task decodes its partition's bitmaps straight
    // from the sidecars), so a billion masked rows never visit the
    // driver. The count deciding whether a delete manifest is needed is
    // one metadata-frame job.
    val dvEntriesFrame = snap.allFiles
      .where(col("deletionVector.storageType").isNotNull)
      .select(col("path"), col("deletionVector"))
    val dvFiles = dvEntriesFrame.count()
    val rowIter = snap.allFiles
      .select(col("path"), col("size"),
        get_json_object(col("stats"), "$.numRecords").cast("long").as("rc"))
      .toLocalIterator()
    val b = base(f, table)
    val nonce = newNonce()

    // DV export: one position-delete parquet, declared in a DELETE
    // manifest below
    val delFiles =
      if (dvFiles == 0L) Seq.empty
      else {
        import spark.implicits._
        val bcConf = spark.sparkContext.broadcast(
          new DeltaLog.SerializableHadoopConf(spark.sessionState.newHadoopConf()))
        val tblStr = table
        val rootStr = root.toString
        val slots = dvEntriesFrame.flatMap { r =>
          val s = r.getStruct(1)
          val d = DeletionVectors.Descriptor(
            s.getString(0), s.getString(1),
            if (s.isNullAt(2)) None else Some(s.getInt(2)),
            if (s.isNullAt(3)) 0 else s.getInt(3),
            if (s.isNullAt(4)) 0L else s.getLong(4))
          val fsys = new Path(tblStr).getFileSystem(bcConf.value.value)
          val abs = new Path(rootStr, r.getString(0)).toString
          DeletionVectors.deletedRows(fsys, tblStr, d).iterator
            .map(pos => (abs, pos))
        }.toDF("file_path", "pos")
        stageFiles(f, table, slots, "pos-del", b.version + 1, nonce).map(_._1)
      }

    commit(f, b, nonce, staged = delFiles) { a =>
      val mSchema = manifestAvroSchema
      val dfSchema = mSchema.getField("data_file").schema()
      val entries = rowIter.asScala.map { r =>
        val e = new GenericData.Record(mSchema)
        e.put("status", 1)
        e.put("snapshot_id", a.snapshotId)
        val d = new GenericData.Record(dfSchema)
        d.put("file_path", new Path(root, r.getString(0)).toString)
        d.put("file_format", "PARQUET")
        d.put("record_count", if (r.isNullAt(2)) 0L else r.getLong(2))
        d.put("file_size_in_bytes", r.getLong(1))
        e.put("data_file", d)
        e
      }
      val manifestPath = a.manifestPath("data")
      val rows = ManifestRow(manifestPath.toString,
        writeAvro(f, manifestPath, mSchema, entries), 0, a.version, 0) +:
        (if (delFiles.isEmpty) Seq.empty
         else Seq(addedManifest(a, "del", 1, 0, delFiles.map(_ -> 0L))))
      // the declaration follows the Delta table's on every mirror
      val meta = declare(a.base.meta.map(_.deepCopy())
        .getOrElse(mapper.createObjectNode()), table, schema)
      meta.putArray("partition-specs").addObject().put("spec-id", 0).putArray("fields")
      meta.put("default-spec-id", 0)
      addSnapshot(a, meta, rows, "replace",
        summary = Seq("delta-version" -> snap.version.toString))
      meta
    }.snapshotId
  }
}
