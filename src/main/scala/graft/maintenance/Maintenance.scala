package graft.maintenance

import org.apache.spark.sql.functions._

/** Table-maintenance queries — the reference's OPTIMIZE / ZORDER /
  * DML surface (reference `utils/optimize_tables.py:24-79`,
  * `pipelines/gold_pipeline.py:789-796,816-824`), oracle-verified end
  * to end on the engine's own Delta and Iceberg protocols. The
  * operations themselves live on the protocol objects:
  * OPTIMIZE / ZORDER is [[graft.sources.DeltaLog.optimize]] (clustering
  * transforms in [[graft.functions.ZOrderKey]]), DESCRIBE DETAIL is
  * [[graft.sources.DeltaLog.detail]], and ANALYZE is Spark's own
  * `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS`.
  */
object Maintenance {

  /** The Z-order key itself, oracle-verified bit-for-bit: the native
    * [[graft.functions.ZOrderKey]] expression vs the same interleave
    * written as bit arithmetic in DuckDB. (The clustering REWRITE is
    * exercised by MaintenanceSpec and DataSkippingSpec — file layout
    * isn't SQL-observable.) */
  val qZOrderKey: graft.QueryDef = graft.QueryDef.sql(
    "q_maint_zorder_key",
    """SELECT o_orderkey,
      |  CAST(list_sum(list_transform(generate_series(0, 15), i ->
      |    (((o_custkey % 65536) >> i) & 1) * power(2, 2*i + 1)::BIGINT +
      |    (((o_orderkey % 65536) >> i) & 1) * power(2, 2*i)::BIGINT)) AS BIGINT) AS zkey
      |FROM orders""".stripMargin) { (spark, dir) =>
    graft.functions.ZOrderKey.register(spark)
    graft.Tables.orders(spark, dir).select(
      col("o_orderkey"),
      call_function("zorder_key",
        col("o_custkey") % 65536, col("o_orderkey") % 65536).as("zkey"))
  }

  /** Row-level DELETE via deletion vectors, oracle-verified end-to-end:
    * a protocol table is built from `customer`, a deterministic slice is
    * deleted with [[graft.sources.DeltaLog.deleteWhere]] (DV sidecar,
    * no data-file rewrite), and the read-back must equal DuckDB's
    * anti-filter row for row — proving the mask is applied exactly. */
  val qDeleteDv: graft.QueryDef = graft.QueryDef.sql(
    "q_delete_dv",
    """SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
      |WHERE NOT (c_mktsegment = 'BUILDING' AND c_custkey % 10 = 0)""".stripMargin) {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-delete-dv-").toString + "/t"
      graft.sources.DeltaLog.write(spark,
        graft.Tables.customer(spark, dir)
          .select("c_custkey", "c_mktsegment", "c_nationkey").repartition(4), t)
      graft.sources.DeltaLog.deleteWhere(spark, t,
        col("c_mktsegment") === "BUILDING" && col("c_custkey") % 10 === 0)
      graft.sources.DeltaLog.read(spark, t)
  }

  /** Copy-on-write UPDATE, oracle-verified: a deterministic slice gets
    * a SET applied via [[graft.sources.DeltaLog.updateWhere]] (only
    * files containing matches are rewritten) and the read-back must
    * equal DuckDB's CASE projection row for row. */
  val qUpdateCow: graft.QueryDef = graft.QueryDef.sql(
    "q_update_cow",
    """SELECT c_custkey, c_mktsegment,
      |  CASE WHEN c_mktsegment = 'MACHINERY' AND c_custkey % 7 = 0
      |       THEN c_nationkey + 100 ELSE c_nationkey END AS c_nationkey
      |FROM customer""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-update-cow-").toString + "/t"
    graft.sources.DeltaLog.write(spark,
      graft.Tables.customer(spark, dir)
        .select("c_custkey", "c_mktsegment", "c_nationkey").repartition(4), t)
    graft.sources.DeltaLog.updateWhere(spark, t,
      col("c_mktsegment") === "MACHINERY" && col("c_custkey") % 7 === 0,
      Map("c_nationkey" -> (col("c_nationkey") + 100)))
    graft.sources.DeltaLog.read(spark, t)
  }

  /** Deletion-vector UPDATE, oracle-verified: same CASE-projection
    * shape as [[qUpdateCow]] but on a table declaring
    * `delta.enableDeletionVectors=true`, so [[graft.sources.DeltaLog
    * .updateWhere]] takes the mask-and-append path — matched rows are
    * masked by growing the touched files' deletion vectors and only
    * the post-image rows are written (no data-file rewrite; the scale
    * shape for narrow updates on wide tables). The read-back must
    * still equal DuckDB's CASE projection row for row, proving mask,
    * append, and the masked read path compose bit-for-bit. */
  val qUpdateDv: graft.QueryDef = graft.QueryDef.sql(
    "q_update_dv",
    """SELECT c_custkey, c_mktsegment,
      |  CASE WHEN c_mktsegment = 'HOUSEHOLD' AND c_custkey % 9 = 0
      |       THEN c_nationkey + 200 ELSE c_nationkey END AS c_nationkey
      |FROM customer""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-update-dv-q-").toString + "/t"
    graft.sources.DeltaLog.write(spark,
      graft.Tables.customer(spark, dir)
        .select("c_custkey", "c_mktsegment", "c_nationkey").repartition(4), t,
      properties = Map("delta.enableDeletionVectors" -> "true"))
    graft.sources.DeltaLog.updateWhere(spark, t,
      col("c_mktsegment") === "HOUSEHOLD" && col("c_custkey") % 9 === 0,
      Map("c_nationkey" -> (col("c_nationkey") + 200)))
    graft.sources.DeltaLog.read(spark, t)
  }

  /** Metadata-only DELETE sweep, oracle-verified: a table partitioned
    * by a derived bucket takes a partition-IN delete plus a zone-map
    * range delete — both resolve to whole-file removes with ZERO data
    * reads ([[graft.sources.DeltaLog.deleteWhere]]'s full-match fast
    * path; DeleteFullFileSpec proves the no-read property on corrupted
    * files) — and the read-back must equal DuckDB applying both
    * predicates' complements row for row. The retention-sweep shape:
    * at 100 TB this is one remove-bearing commit, not a scan. */
  val qDeleteSweep: graft.QueryDef = graft.QueryDef.sql(
    "q_delete_sweep",
    """SELECT o_orderkey, o_custkey, CAST(o_custkey % 4 AS BIGINT) AS bucket
      |FROM orders
      |WHERE o_custkey % 4 NOT IN (0, 2) AND o_orderkey < 55000""".stripMargin) {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-del-sweep-q-").toString + "/t"
      graft.sources.DeltaLog.write(spark,
        graft.Tables.orders(spark, dir)
          .select(col("o_orderkey"), col("o_custkey"),
            (col("o_custkey") % 4).as("bucket")).repartition(4), t,
        partitionBy = Seq("bucket"))
      // partition sweep: two buckets drop whole
      graft.sources.DeltaLog.deleteWhere(spark, t,
        col("bucket").isin(0L, 2L))
      // zone-map sweep: the high-key range drops whole where files are
      // fully covered, masks only the straddlers
      graft.sources.DeltaLog.deleteWhere(spark, t,
        col("o_orderkey") >= 55000L)
      graft.sources.DeltaLog.read(spark, t)
  }

  /** General clause MERGE, oracle-verified end-to-end: a protocol table
    * built from `customer` takes one merge carrying a conditioned
    * UPDATE, a fallthrough DELETE, and an INSERT
    * ([[graft.sources.Merge]] — the reference's `DeltaTable.merge`
    * chain, gold_pipeline.py:789-796), and the read-back must equal
    * DuckDB's equivalent join/CASE/anti-filter/union row for row. */
  val qMergeClauses: graft.QueryDef = graft.QueryDef.sql(
    "q_merge_clauses",
    """WITH src AS (
      |  SELECT c_custkey, c_nationkey + 50 AS src_nation, c_mktsegment AS src_seg
      |  FROM customer WHERE c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_nationkey, 'NEWSEG'
      |  FROM customer WHERE c_custkey % 97 = 0
      |)
      |SELECT t.c_custkey, t.c_mktsegment,
      |  CASE WHEN s.c_custkey IS NOT NULL AND s.src_nation % 2 = 0
      |       THEN s.src_nation ELSE t.c_nationkey END AS c_nationkey
      |FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey
      |WHERE NOT (s.c_custkey IS NOT NULL AND s.src_nation % 2 <> 0)
      |UNION ALL
      |SELECT s.c_custkey, s.src_seg, s.src_nation FROM src s
      |WHERE s.c_custkey NOT IN (SELECT c_custkey FROM customer)""".stripMargin) {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-merge-clauses-").toString + "/t"
      val cust = graft.Tables.customer(spark, dir)
        .select("c_custkey", "c_mktsegment", "c_nationkey")
      graft.sources.DeltaLog.write(spark, cust.repartition(4), t)
      val src = cust.where(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), (col("c_nationkey") + 50).as("src_nation"),
          col("c_mktsegment").as("src_seg"))
        .unionByName(cust.where(col("c_custkey") % 97 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            col("c_nationkey").as("src_nation"), lit("NEWSEG").as("src_seg")))
      graft.sources.Merge.into(spark, t, src, keys = Seq("c_custkey"))
        .whenMatchedUpdate(Map("c_nationkey" -> col("s.src_nation")),
          condition = col("s.src_nation") % 2 === 0)
        .whenMatchedDelete()
        .whenNotMatchedInsert(Map(
          "c_custkey" -> col("s.c_custkey"),
          "c_mktsegment" -> col("s.src_seg"),
          "c_nationkey" -> col("s.src_nation")))
        .execute()
      graft.sources.DeltaLog.read(spark, t)
  }

  /** Deletion-vector MERGE, oracle-verified: the SAME clause mix as
    * [[qMergeClauses]] (conditioned UPDATE, fallthrough DELETE, INSERT)
    * but on a table declaring `delta.enableDeletionVectors=true`, so
    * [[graft.sources.DeltaLog.merge]] takes the mask-and-append path —
    * fired rows are masked in place and only post-images + inserts are
    * written (DvMergeSpec proves the touched parquet is byte-untouched).
    * The read-back must equal DuckDB computing the full clause
    * semantics, proving mask, append and masked read compose. */
  val qMergeDv: graft.QueryDef = graft.QueryDef.sql(
    "q_merge_dv",
    """WITH src AS (
      |  SELECT c_custkey, c_nationkey + 50 AS src_nation, c_mktsegment AS src_seg
      |  FROM customer WHERE c_custkey % 5 = 0
      |  UNION ALL
      |  SELECT c_custkey + 1000000, c_nationkey, 'NEWSEG'
      |  FROM customer WHERE c_custkey % 97 = 0
      |)
      |SELECT t.c_custkey, t.c_mktsegment,
      |  CASE WHEN s.c_custkey IS NOT NULL AND s.src_nation % 2 = 0
      |       THEN s.src_nation ELSE t.c_nationkey END AS c_nationkey
      |FROM customer t LEFT JOIN src s ON t.c_custkey = s.c_custkey
      |WHERE NOT (s.c_custkey IS NOT NULL AND s.src_nation % 2 <> 0)
      |UNION ALL
      |SELECT s.c_custkey, s.src_seg, s.src_nation FROM src s
      |WHERE s.c_custkey NOT IN (SELECT c_custkey FROM customer)""".stripMargin) {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-merge-dv-q-").toString + "/t"
      val cust = graft.Tables.customer(spark, dir)
        .select("c_custkey", "c_mktsegment", "c_nationkey")
      graft.sources.DeltaLog.write(spark, cust.repartition(4), t,
        properties = Map("delta.enableDeletionVectors" -> "true"))
      val src = cust.where(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), (col("c_nationkey") + 50).as("src_nation"),
          col("c_mktsegment").as("src_seg"))
        .unionByName(cust.where(col("c_custkey") % 97 === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            col("c_nationkey").as("src_nation"), lit("NEWSEG").as("src_seg")))
      graft.sources.Merge.into(spark, t, src, keys = Seq("c_custkey"))
        .whenMatchedUpdate(Map("c_nationkey" -> col("s.src_nation")),
          condition = col("s.src_nation") % 2 === 0)
        .whenMatchedDelete()
        .whenNotMatchedInsert(Map(
          "c_custkey" -> col("s.c_custkey"),
          "c_mktsegment" -> col("s.src_seg"),
          "c_nationkey" -> col("s.src_nation")))
        .execute()
      graft.sources.DeltaLog.read(spark, t)
  }

  /** Dynamic partition overwrite, oracle-verified: a bucket-partitioned
    * orders table takes an overwrite carrying ONLY bucket-1 rows under
    * `spark.sql.sources.partitionOverwriteMode=dynamic` — exactly that
    * partition is replaced (the nightly partition-reload shape, no
    * replaceWhere predicate to spell), everything else untouched. The
    * read-back must equal DuckDB's complement-union row for row. */
  val qDynamicOverwrite: graft.QueryDef = graft.QueryDef.sql(
    "q_dynamic_overwrite",
    """SELECT o_orderkey, CAST(o_custkey % 4 AS BIGINT) AS bucket,
      |  CAST(o_totalprice AS DOUBLE) AS price
      |FROM orders WHERE o_custkey % 4 <> 1
      |UNION ALL
      |SELECT o_orderkey, CAST(1 AS BIGINT), CAST(o_totalprice AS DOUBLE) * 2
      |FROM orders WHERE o_custkey % 4 = 1""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-dynov-q-").toString + "/t"
    val o = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), (col("o_custkey") % 4).as("bucket"),
        col("o_totalprice").cast("double").as("price"))
    graft.sources.DeltaLog.write(spark, o.repartition(4), t,
      partitionBy = Seq("bucket"))
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try graft.sources.DeltaLog.write(spark,
      o.where(col("bucket") === 1L)
        .withColumn("price", col("price") * 2), t, mode = "overwrite")
    finally spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    graft.sources.DeltaLog.read(spark, t)
  }

  /** replaceWhere (selective overwrite), oracle-verified: the BUILDING
    * slice of a protocol `customer` table is atomically replaced by a
    * deterministic transform of itself; the read-back must equal
    * DuckDB's complement-union row for row. */
  val qReplaceWhere: graft.QueryDef = graft.QueryDef.sql(
    "q_replace_where",
    """SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
      |WHERE c_mktsegment <> 'BUILDING'
      |UNION ALL
      |SELECT c_custkey + 500000, c_mktsegment, c_nationkey + 1
      |FROM customer WHERE c_mktsegment = 'BUILDING'""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-replace-where-").toString + "/t"
    val cust = graft.Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment", "c_nationkey")
    graft.sources.DeltaLog.write(spark, cust.repartition(4), t)
    val fresh = cust.where(col("c_mktsegment") === "BUILDING")
      .select((col("c_custkey") + 500000).as("c_custkey"), col("c_mktsegment"),
        (col("c_nationkey") + 1).as("c_nationkey"))
    graft.sources.DeltaLog.replaceWhere(spark, t, fresh,
      col("c_mktsegment") === "BUILDING")
    graft.sources.DeltaLog.read(spark, t)
  }

  /** COPY INTO, oracle-verified: `customer` split into two landed
    * parquet files, ingested by TWO copyInto runs (the second must be
    * a no-op — per-file SetTransaction idempotence), and the read-back
    * must equal the full table. */
  val qCopyInto: graft.QueryDef = graft.QueryDef.sql(
    "q_copy_into",
    "SELECT c_custkey, c_mktsegment, c_nationkey FROM customer") { (spark, dir) =>
    val base = java.nio.file.Files.createTempDirectory("graft-copy-into-").toString
    val landing = s"$base/landing"
    val t = s"$base/t"
    val cust = graft.Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment", "c_nationkey")
    cust.where(col("c_custkey") % 2 === 0).coalesce(1)
      .write.parquet(s"$landing/even")
    graft.sources.DeltaLog.copyInto(spark, t, landing)
    cust.where(col("c_custkey") % 2 =!= 0).coalesce(1)
      .write.parquet(s"$landing/odd")
    graft.sources.DeltaLog.copyInto(spark, t, landing) // ingests ONLY odd
    val (_, n) = graft.sources.DeltaLog.copyInto(spark, t, landing) // no-op
    require(n == 0, s"COPY INTO rerun must ingest nothing, got $n")
    graft.sources.DeltaLog.read(spark, t)
  }

  /** CONVERT TO DELTA, oracle-verified end to end: land `customer` as a
    * PLAIN partitioned parquet directory, convert it in place (no data
    * movement — the original files become the table), then run a
    * partition-pruned protocol read plus an appended increment. The
    * oracle sees the same rows straight from the source table. */
  val qConvertToDelta: graft.QueryDef = graft.QueryDef.sql(
    "q_convert_to_delta",
    """SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
      |WHERE c_nationkey % 4 = 1""".stripMargin) { (spark, dir) =>
    val base = java.nio.file.Files.createTempDirectory("graft-convert-q-").toString
    val t = s"$base/t"
    val cust = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"), col("c_nationkey"),
        (col("c_nationkey") % 4).cast("int").as("p"))
    cust.where(col("p") =!= 1)
      .write.partitionBy("p").parquet(t)
    graft.sources.DeltaLog.convertToDelta(spark, t, partitionBy = Seq("p"))
    // the converted table is first-class: append the missing slice
    graft.sources.DeltaLog.write(spark, cust.where(col("p") === 1), t,
      "append", partitionBy = Seq("p"))
    graft.sources.DeltaLog.readPruned(spark, t, col("p") === 1)
      .select("c_custkey", "c_mktsegment", "c_nationkey")
  }

  /** Iceberg interop, oracle-verified end to end: export `customer` to
    * an Iceberg v1 table (two append snapshots), read it back through
    * the from-scratch metadata/manifest reader at the CURRENT snapshot,
    * and prove snapshot time travel in-query (first-append count). The
    * oracle sees the same rows from the source table. */
  val qIcebergRoundtrip: graft.QueryDef = graft.QueryDef.sql(
    "q_iceberg_roundtrip",
    "SELECT c_custkey, c_mktsegment, c_nationkey FROM customer") { (spark, dir) =>
    val base = java.nio.file.Files.createTempDirectory("graft-iceberg-q-").toString
    val t = s"$base/t"
    val cust = graft.Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment", "c_nationkey")
    val firstHalf = cust.where(col("c_custkey") % 2 === 0)
    val s1 = graft.sources.IcebergTable.writeAppend(spark, firstHalf, t)
    graft.sources.IcebergTable.writeAppend(spark,
      cust.where(col("c_custkey") % 2 =!= 0), t)
    val atFirst = graft.sources.IcebergTable
      .read(spark, t, snapshotId = Some(s1)).count()
    require(atFirst == firstHalf.count(),
      s"Iceberg snapshot travel returned $atFirst rows")
    graft.sources.IcebergTable.read(spark, t)
  }

  /** Iceberg snapshot refs, oracle-verified: a TAG created after the
    * first batch pins it; two later appends move the head; an
    * expireSnapshots sweep then drops every unreferenced old snapshot —
    * and the SQL read `VERSION AS OF 'rc1'` must still return exactly
    * the first batch. DuckDB recomputes that batch relationally, so the
    * whole ref chain (create, carry across commits, expiry protection,
    * name resolution in SELECT) is hash-gated. */
  val qIcebergRefs: graft.QueryDef = graft.QueryDef.sql(
    "q_iceberg_refs",
    """SELECT o_orderstatus, count(*) AS n,
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,10)) AS DOUBLE) AS total
      |FROM orders WHERE o_orderkey < 20000 GROUP BY o_orderstatus""".stripMargin) {
    (spark, dir) =>
      val base = java.nio.file.Files.createTempDirectory("graft-icerefs-q-").toString
      val t = s"$base/t"
      val orders = graft.Tables.orders(spark, dir)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val s1 = graft.sources.IcebergTable.writeAppend(spark,
        orders.where(col("o_orderkey") < 20000), t)
      graft.sources.GraftSql.exec(spark,
        s"ALTER TABLE iceberg.`$t` CREATE TAG rc1 AS OF VERSION $s1")
      graft.sources.IcebergTable.writeAppend(spark,
        orders.where(col("o_orderkey") >= 20000 && col("o_orderkey") < 40000), t)
      graft.sources.IcebergTable.writeAppend(spark,
        orders.where(col("o_orderkey") >= 40000), t)
      // expiry drops the middle snapshot; the tagged one must survive
      graft.sources.IcebergTable.expireSnapshots(spark, t,
        olderThanMs = System.currentTimeMillis() + 1000, retainLast = 1)
      graft.sources.GraftSql.exec(spark,
        s"""SELECT o_orderstatus, count(*) AS n,
           |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,10))) AS DECIMAL(38,10)) AS DOUBLE) AS total
           |FROM iceberg.`$t` VERSION AS OF 'rc1'
           |GROUP BY o_orderstatus""".stripMargin)
  }

  /** Iceberg v2 merge-on-read, oracle-verified: a position-delete
    * `deleteWhere` (slots written, data files byte-untouched —
    * IcebergSpec asserts lengths+mtimes) stacked with an equality
    * DELETE, then a re-append of some equality-deleted keys that must
    * SURVIVE under the spec's sequence-number scoping. DuckDB
    * recomputes the surviving set relationally. */
  val qIcebergMor: graft.QueryDef = graft.QueryDef.sql(
    "q_iceberg_mor",
    """WITH base AS (
      |  SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
      |  WHERE NOT (c_custkey % 7 = 0)          -- position-deleted
      |    AND NOT (c_nationkey IN (3, 11))     -- equality-deleted
      |)
      |SELECT * FROM base
      |UNION ALL                                 -- re-insert survives
      |SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
      |WHERE c_nationkey = 3 AND c_custkey % 100 = 0""".stripMargin) {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-iceberg-mor-q-").toString + "/t"
      val cust = graft.Tables.customer(spark, dir)
        .select("c_custkey", "c_mktsegment", "c_nationkey")
      graft.sources.IcebergTable.writeAppend(spark, cust, t)
      graft.sources.IcebergTable.deleteWhere(spark, t,
        col("c_custkey") % 7 === 0)
      import spark.implicits._
      graft.sources.IcebergTable.deleteEquals(spark, t,
        Seq(3, 11).toDF("c_nationkey"))
      graft.sources.IcebergTable.writeAppend(spark,
        cust.where(col("c_nationkey") === 3 && col("c_custkey") % 100 === 0), t)
      graft.sources.IcebergTable.read(spark, t)
  }

  /** Iceberg metadata maintenance, oracle-verified: a table accreted
    * from per-shard appends plus a merge-on-read equality delete and a
    * re-insert goes through REWRITE MANIFESTS (consolidation to one
    * data manifest is REQUIRED to have engaged) and VACUUM (a planted
    * orphan file is REQUIRED to be swept while every referenced file
    * survives); the final read must still match DuckDB — in particular
    * the re-insert must still outlive the equality delete, proving the
    * consolidated entries carried their own sequence numbers. */
  val qIcebergManifests: graft.QueryDef = graft.QueryDef.sql(
    "q_iceberg_manifests",
    """WITH base AS (
      |  SELECT s_suppkey, s_name, s_nationkey FROM supplier
      |  WHERE s_nationkey <> 5
      |)
      |SELECT * FROM base
      |UNION ALL
      |SELECT s_suppkey, s_name, s_nationkey FROM supplier
      |WHERE s_nationkey = 5 AND s_suppkey % 10 = 0""".stripMargin) {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-icemanif-q-").toString + "/t"
      val supp = graft.Tables.supplier(spark, dir)
        .select("s_suppkey", "s_name", "s_nationkey")
      (0 to 2).foreach(m => graft.sources.IcebergTable.writeAppend(spark,
        supp.where(col("s_suppkey") % 3 === m), t))
      import spark.implicits._
      graft.sources.IcebergTable.deleteEquals(spark, t,
        Seq(5).toDF("s_nationkey"))
      graft.sources.IcebergTable.writeAppend(spark,
        supp.where(col("s_nationkey") === 5 && col("s_suppkey") % 10 === 0), t)
      val row = graft.sources.GraftSql.exec(spark,
        s"REWRITE MANIFESTS iceberg.`$t`").collect()(0)
      require(row.getInt(0) >= 4 && row.getInt(1) == 1,
        s"manifest consolidation did not engage: $row")
      // plant an orphan next to the live files, then sweep it
      val f = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sessionState.newHadoopConf())
      val orphan = new org.apache.hadoop.fs.Path(t, "data/orphan-q.parquet")
      val o = f.create(orphan, true)
      try o.write("junk".getBytes) finally o.close()
      f.setTimes(orphan, System.currentTimeMillis() - 100000L, -1)
      val swept = graft.sources.GraftSql.exec(spark,
        s"VACUUM iceberg.`$t` OLDER THAN '2031-01-01 00:00:00'")
        .as[Long].collect()(0)
      require(swept == 1L, s"orphan sweep removed $swept files, wanted 1")
      graft.sources.IcebergTable.read(spark, t)
  }

  /** Iceberg merge-on-read UPDATE, oracle-verified: position deletes +
    * post-image appends in ONE snapshot
    * ([[graft.sources.IcebergTable.updateWhere]]), stacked twice so the
    * second UPDATE must find its matches inside the FIRST update's
    * post-image files (slots in upd-* files work like any other), all
    * through a prior position-delete mask (an already-deleted row must
    * not resurrect as an update post-image). DuckDB recomputes both
    * CASE layers relationally. */
  val qIcebergUpdate: graft.QueryDef = graft.QueryDef.sql(
    "q_iceberg_update",
    """WITH base AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_acctbal > 5000 THEN 'PREMIUM' ELSE c_mktsegment END AS c_mktsegment,
      |    CAST(CASE WHEN c_acctbal > 5000 THEN c_nationkey + 100 ELSE c_nationkey END AS INTEGER) AS c_nationkey,
      |    c_acctbal
      |  FROM customer WHERE c_custkey % 10 <> 0
      |)
      |SELECT c_custkey,
      |  CASE WHEN c_nationkey >= 100 THEN c_mktsegment || '_X' ELSE c_mktsegment END AS c_mktsegment,
      |  c_nationkey, c_acctbal
      |FROM base""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-iceupd-q-").toString + "/t"
    val cust = graft.Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
    graft.sources.IcebergTable.writeAppend(spark, cust, t)
    graft.sources.IcebergTable.deleteWhere(spark, t, col("c_custkey") % 10 === 0)
    graft.sources.IcebergTable.updateWhere(spark, t, col("c_acctbal") > 5000,
      Map("c_mktsegment" -> lit("PREMIUM"),
        "c_nationkey" -> (col("c_nationkey") + lit(100)).cast("int")))
    graft.sources.IcebergTable.updateWhere(spark, t, col("c_nationkey") >= 100,
      Map("c_mktsegment" -> concat(col("c_mktsegment"), lit("_X"))))
    graft.sources.IcebergTable.read(spark, t)
  }

  /** Iceberg merge-on-read MERGE upsert with the recency guard,
    * oracle-verified ([[graft.sources.IcebergTable.mergeUpsert]] — the
    * win rule single-sourced via [[graft.operators.Scd2.sourceWins]]):
    * newer source versions replace their target rows (loser slots
    * become position deletes), STALE source versions must lose (no
    * delete, no append), and unmatched keys insert — one atomic
    * snapshot. DuckDB recomputes the winning set relationally. */
  val qIcebergMerge: graft.QueryDef = graft.QueryDef.sql(
    "q_iceberg_merge",
    """SELECT o_orderkey, o_orderdate, o_orderstatus, o_totalprice
      |FROM orders WHERE o_orderkey % 4 <> 0 AND o_orderkey % 8 <> 1
      |UNION ALL
      |SELECT o_orderkey, o_orderdate + INTERVAL 30 DAY, 'U', o_totalprice
      |FROM orders WHERE o_orderkey % 8 = 1
      |UNION ALL
      |SELECT o_orderkey, o_orderdate, 'I', o_totalprice
      |FROM orders WHERE o_orderkey % 4 = 0""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-icemrg-q-").toString + "/t"
    val ord = graft.Tables.orders(spark, dir)
      .select("o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice")
    graft.sources.IcebergTable.writeAppend(spark,
      ord.where(col("o_orderkey") % 4 =!= 0), t)
    val src = ord.where(col("o_orderkey") % 8 === 1)
      .select(col("o_orderkey"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("o_orderdate"),
        lit("U").as("o_orderstatus"), col("o_totalprice"))
      .unionByName(ord.where(col("o_orderkey") % 8 === 2)
        .select(col("o_orderkey"),
          (col("o_orderdate") - expr("INTERVAL 30 DAYS")).as("o_orderdate"),
          lit("S").as("o_orderstatus"), col("o_totalprice")))
      .unionByName(ord.where(col("o_orderkey") % 4 === 0)
        .select(col("o_orderkey"), col("o_orderdate"),
          lit("I").as("o_orderstatus"), col("o_totalprice")))
    graft.sources.IcebergTable.mergeUpsert(spark, t, src,
      Seq("o_orderkey"), "o_orderdate")
    graft.sources.IcebergTable.read(spark, t)
  }

  /** Iceberg row-level changelog, oracle-verified
    * ([[graft.sources.IcebergTable.changes]] — the `create_changelog_view`
    * procedure, Delta CDF's dual): two appends, a position DELETE, a
    * merge-on-read UPDATE, and an equality DELETE replay as typed
    * change rows with per-commit ordinals; DuckDB recomputes every wave
    * relationally, including the eq-delete's view of the POST-update
    * state (the spec's strictly-lower-sequence scoping). */
  val qIcebergChangelog: graft.QueryDef = graft.QueryDef.sql(
    "q_iceberg_changelog",
    """WITH w1 AS (
      |  SELECT c_custkey, c_mktsegment, c_nationkey, c_acctbal
      |  FROM customer WHERE c_custkey % 3 = 0
      |), w2 AS (
      |  SELECT c_custkey, c_mktsegment, c_nationkey, c_acctbal
      |  FROM customer WHERE c_custkey % 3 = 1
      |), all0 AS (SELECT * FROM w1 UNION ALL SELECT * FROM w2),
      |live1 AS (SELECT * FROM all0 WHERE c_custkey % 10 <> 0),
      |upd AS (SELECT * FROM live1 WHERE c_acctbal > 8000),
      |live2 AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_acctbal > 8000 THEN 'HOT' ELSE c_mktsegment END AS c_mktsegment,
      |    c_nationkey, c_acctbal
      |  FROM live1)
      |SELECT *, 'insert' AS _change_type, 1 AS _change_ordinal FROM w1
      |UNION ALL SELECT *, 'insert', 2 FROM w2
      |UNION ALL SELECT *, 'delete', 3 FROM all0 WHERE c_custkey % 10 = 0
      |UNION ALL SELECT *, 'update_preimage', 4 FROM upd
      |UNION ALL SELECT c_custkey, 'HOT', c_nationkey, c_acctbal,
      |  'update_postimage', 4 FROM upd
      |UNION ALL SELECT *, 'delete', 5 FROM live2 WHERE c_nationkey = 5""".stripMargin) {
    (spark, dir) =>
      import spark.implicits._
      val t = java.nio.file.Files
        .createTempDirectory("graft-icecdc-q-").toString + "/t"
      val cust = graft.Tables.customer(spark, dir)
        .select("c_custkey", "c_mktsegment", "c_nationkey", "c_acctbal")
      graft.sources.IcebergTable.writeAppend(spark,
        cust.where(col("c_custkey") % 3 === 0), t)
      graft.sources.IcebergTable.writeAppend(spark,
        cust.where(col("c_custkey") % 3 === 1), t)
      graft.sources.IcebergTable.deleteWhere(spark, t, col("c_custkey") % 10 === 0)
      graft.sources.IcebergTable.updateWhere(spark, t, col("c_acctbal") > 8000,
        Map("c_mktsegment" -> lit("HOT")))
      graft.sources.IcebergTable.deleteEquals(spark, t, Seq(5).toDF("c_nationkey"))
      graft.sources.IcebergTable.changes(spark, t)
  }

  /** Iceberg write-audit-publish, oracle-verified: staging waves land
    * on an `audit` BRANCH ([[graft.sources.IcebergTable.writeAppend]]
    * `toBranch`) while the published head keeps serving ONLY the base
    * wave (asserted in-builder — the WAP isolation property); after the
    * audit gate, `fastForward` publishes the branch atomically. DuckDB
    * recomputes the published union. */
  /** Iceberg column-level schema evolution, oracle-verified
    * ([[graft.sources.IcebergTable.alterAddColumns]] — the reference's
    * one evolution op on the second format): append under the original
    * schema, `ALTER TABLE … ADD COLUMNS` (metadata-only, fresh field
    * ids, `last-column-id` bump), append under the evolved schema, then
    * one read spans BOTH generations — pre-evolution files null-fill
    * the new columns, post-evolution files carry real values. DuckDB
    * recomputes the union relationally. */
  val qIcebergAddColumns: graft.QueryDef = graft.QueryDef.sql(
    "q_iceberg_add_columns",
    """SELECT c_custkey, c_name, CAST(NULL AS DOUBLE) AS score,
      |  CAST(NULL AS VARCHAR) AS tier
      |FROM customer WHERE c_custkey % 2 = 0
      |UNION ALL
      |SELECT c_custkey, c_name, c_acctbal * 2, c_mktsegment
      |FROM customer WHERE c_custkey % 2 = 1""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-iceevo-q-").toString + "/t"
    val cust = graft.Tables.customer(spark, dir)
    graft.sources.IcebergTable.writeAppend(spark,
      cust.where(col("c_custkey") % 2 === 0).select("c_custkey", "c_name"), t)
    graft.sources.GraftSql.exec(spark,
      s"ALTER TABLE iceberg.`$t` ADD COLUMNS (score DOUBLE, tier STRING)")
    graft.sources.IcebergTable.writeAppend(spark,
      cust.where(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_name"),
          (col("c_acctbal") * 2).as("score"),
          col("c_mktsegment").as("tier")), t)
    graft.sources.IcebergTable.read(spark, t)
  }

  val qIcebergWap: graft.QueryDef = graft.QueryDef.sql(
    "q_iceberg_wap",
    """SELECT p_partkey, p_name, p_retailprice FROM part
      |WHERE p_partkey % 3 = 0
      |UNION ALL
      |SELECT p_partkey, p_name, p_retailprice FROM part
      |WHERE p_partkey % 3 = 1""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-icewap-q-").toString + "/t"
    val part = graft.Tables.part(spark, dir)
      .select("p_partkey", "p_name", "p_retailprice")
    val base = part.where(col("p_partkey") % 3 === 0)
    graft.sources.IcebergTable.writeAppend(spark, base, t)
    // two staged waves stack on the audit branch
    graft.sources.IcebergTable.writeAppend(spark,
      part.where(col("p_partkey") % 6 === 1), t, toBranch = Some("audit"))
    graft.sources.GraftSql.exec(spark,
      s"""INSERT INTO iceberg.`$t` BRANCH audit
         |SELECT p_partkey, p_name, p_retailprice FROM parquet.`$dir/part.parquet`
         |WHERE p_partkey % 6 = 4""".stripMargin)
    // WAP isolation: the published head still serves ONLY the base wave
    val publishedRows = graft.sources.IcebergTable.read(spark, t).count()
    val baseRows = base.count()
    require(publishedRows == baseRows,
      s"WAP isolation broken: published head serves $publishedRows rows, " +
        s"base wave is $baseRows")
    // audit passes → publish
    graft.sources.GraftSql.exec(spark,
      s"ALTER TABLE iceberg.`$t` FAST FORWARD TO audit")
    graft.sources.IcebergTable.read(spark, t)
  }

  /** Iceberg hidden partitioning, oracle-verified: write `events` as an
    * Iceberg table partitioned by bucket[4](user_id) + day(ts), read a
    * key slice back through [[graft.sources.IcebergTable.readPruned]] —
    * the query REQUIRES that manifest-tuple pruning actually dropped
    * data files before matching DuckDB's plain filter over the source
    * rows. The 100 TB shape: a key lookup opens ~1/4 of the files (its
    * bucket), never the table. */
  val qIcebergPartitioned: graft.QueryDef = graft.QueryDef.sql(
    "q_iceberg_partitioned",
    "SELECT event_id, user_id, event_type, value FROM events WHERE user_id = 7") {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-icepart-q-").toString + "/t"
      val ev = graft.Tables.events(spark, dir)
        .select("event_id", "user_id", "event_type", "value", "ts")
      graft.sources.IcebergTable.writeAppend(spark, ev, t,
        partition = Seq("user_id" -> "bucket[4]", "ts" -> "day"))
      val pred = col("user_id") === 7L
      val st = graft.sources.IcebergTable.state(spark, t)
      val pruned = graft.sources.IcebergTable.pruneState(spark, st, pred)
      require(pruned.dataFiles.size < st.dataFiles.size,
        s"partition pruning did not engage (${st.dataFiles.size} files)")
      graft.sources.IcebergTable.readPruned(spark, t, pred)
        .select("event_id", "user_id", "event_type", "value")
  }

  /** Iceberg column-bound data skipping, oracle-verified: export
    * `orders` range-partitioned into an UNPARTITIONED Iceberg table
    * (per-file min/max land in the manifests), read a key band back
    * through [[graft.sources.IcebergTable.readPruned]] — the query
    * REQUIRES that bound skipping dropped files before matching
    * DuckDB's plain filter. The zone-map shape on the open format: a
    * key-range query on 100 TB opens only overlapping files. */
  val qIcebergBounds: graft.QueryDef = graft.QueryDef.sql(
    "q_iceberg_bounds",
    "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey < 300") {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-icebounds-q-").toString + "/t"
      val o = graft.Tables.orders(spark, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
      graft.sources.IcebergTable.writeAppend(spark,
        o.repartitionByRange(8, col("o_orderkey")), t)
      val pred = col("o_orderkey") < 300
      val st = graft.sources.IcebergTable.state(spark, t)
      val pruned = graft.sources.IcebergTable.pruneState(spark, st, pred)
      require(pruned.dataFiles.size < st.dataFiles.size,
        s"bound skipping did not engage (${st.dataFiles.size} files)")
      graft.sources.IcebergTable.readPruned(spark, t, pred)
  }

  /** SHALLOW CLONE, oracle-verified end to end: clone a protocol
    * `customer` table (zero copy), DELETE a slice on the CLONE only,
    * and read the clone back — must equal DuckDB's anti-filter while
    * the source stays intact (checked in-query). */
  val qCloneRead: graft.QueryDef = graft.QueryDef.sql(
    "q_clone_read",
    """SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
      |WHERE NOT (c_nationkey % 5 = 0)""".stripMargin) { (spark, dir) =>
    val base = java.nio.file.Files.createTempDirectory("graft-clone-q-").toString
    val src = s"$base/src"
    val tgt = s"$base/tgt"
    val cust = graft.Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment", "c_nationkey")
    graft.sources.DeltaLog.write(spark, cust.repartition(4), src)
    graft.sources.DeltaLog.cloneShallow(spark, src, tgt)
    graft.sources.DeltaLog.deleteWhere(spark, tgt, col("c_nationkey") % 5 === 0)
    val srcCount = graft.sources.DeltaLog.read(spark, src).count()
    require(srcCount == cust.count(), s"clone DML leaked into the source: $srcCount")
    graft.sources.DeltaLog.read(spark, tgt)
  }

  /** The LIVE relation ([[graft.sources.GraftDeltaFileIndex]]),
    * oracle-verified: ONE DataFrame built before an append must serve
    * the post-append state (its file list resolves at planning, the
    * stream-static join freshness delta-spark provides) and equal
    * DuckDB's scan of the same rows. */
  val qLiveRead: graft.QueryDef = graft.QueryDef.sql(
    "q_live_read",
    "SELECT c_custkey, c_mktsegment, c_nationkey FROM customer") { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-live-q-").toString + "/t"
    val cust = graft.Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment", "c_nationkey")
    graft.sources.DeltaLog.write(spark,
      cust.where(col("c_custkey") % 2 === 0).repartition(2), t)
    // built BEFORE the second half lands — a frozen file list would
    // return half the table
    val live = graft.sources.DeltaRelation.readLive(spark, t)
    graft.sources.DeltaLog.write(spark,
      cust.where(col("c_custkey") % 2 =!= 0).repartition(2), t, mode = "append")
    live
  }

  /** Batch CDF via the SQL TABLE_CHANGES function, oracle-verified: a
    * DV DELETE's change feed must surface exactly the masked rows as
    * `delete` events stamped with the commit version (the DV-diff fast
    * path — never a rewrite of untouched neighbors). */
  val qCdcTableChanges: graft.QueryDef = graft.QueryDef.sql(
    "q_cdc_table_changes",
    """SELECT c_custkey, c_mktsegment, c_nationkey,
      |  'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      |FROM customer WHERE c_mktsegment = 'MACHINERY' AND c_custkey % 3 = 0""".stripMargin) {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-cdc-changes-").toString + "/t"
      graft.sources.DeltaLog.write(spark,
        graft.Tables.customer(spark, dir)
          .select("c_custkey", "c_mktsegment", "c_nationkey").repartition(4), t)
      graft.sources.DeltaLog.deleteWhere(spark, t,
        col("c_mktsegment") === "MACHINERY" && col("c_custkey") % 3 === 0)
      graft.sources.GraftSql.exec(spark,
        s"SELECT * FROM TABLE_CHANGES(delta.`$t`, 1, 1)")
  }

  /** Metadata-only count, oracle-verified: after a DV DELETE the
    * engine's `SELECT COUNT(*)` answers from Σ numRecords − Σ DV
    * cardinality over the distributed file frame — zero data files
    * opened — and must equal DuckDB's scan count exactly. */
  val qMetaCount: graft.QueryDef = graft.QueryDef.sql(
    "q_meta_count",
    "SELECT count(*) AS n FROM customer WHERE NOT (c_custkey % 7 = 0)") {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-meta-count-").toString + "/t"
      graft.sources.DeltaLog.write(spark,
        graft.Tables.customer(spark, dir)
          .select("c_custkey", "c_mktsegment", "c_nationkey").repartition(4), t)
      graft.sources.DeltaLog.deleteWhere(spark, t, col("c_custkey") % 7 === 0)
      graft.sources.GraftSql.exec(spark, s"SELECT COUNT(*) AS n FROM delta.`$t`")
  }

  /** Write-path Change Data Feed, oracle-verified: a table carrying
    * `delta.enableChangeDataFeed=true` (the property on every reference
    * silver table, /root/reference/pipelines/silver_pipeline.py:95) gets
    * row-level change files under `_change_data/` committed as `cdc`
    * actions by DELETE and UPDATE — the feed is then served from those
    * files alone (no reconstruction, no data-file reads) and must equal
    * DuckDB's direct computation of the deleted rows and the update
    * pre/post images. Exercises both DML writers, the cdc read path,
    * and the keyed pair resolution in one row. */
  val qCdfWriteFeed: graft.QueryDef = graft.QueryDef.sql(
    "q_cdf_write_feed",
    """SELECT c_custkey, c_mktsegment, c_nationkey,
      |  'delete' AS _change_type, CAST(1 AS BIGINT) AS _commit_version
      |FROM customer WHERE c_mktsegment = 'BUILDING' AND c_custkey % 5 = 0
      |UNION ALL
      |SELECT c_custkey, c_mktsegment, c_nationkey,
      |  'update_preimage', CAST(2 AS BIGINT)
      |FROM customer WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 11 = 0
      |UNION ALL
      |SELECT c_custkey, c_mktsegment, c_nationkey + 500,
      |  'update_postimage', CAST(2 AS BIGINT)
      |FROM customer WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 11 = 0""".stripMargin) {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-cdf-feed-").toString + "/t"
      graft.sources.DeltaLog.write(spark,
        graft.Tables.customer(spark, dir)
          .select("c_custkey", "c_mktsegment", "c_nationkey").repartition(4), t,
        properties = Map("delta.enableChangeDataFeed" -> "true"))
      graft.sources.DeltaLog.deleteWhere(spark, t,
        col("c_mktsegment") === "BUILDING" && col("c_custkey") % 5 === 0)
      graft.sources.DeltaLog.updateWhere(spark, t,
        col("c_mktsegment") === "AUTOMOBILE" && col("c_custkey") % 11 === 0,
        Map("c_nationkey" -> (col("c_nationkey") + 500)))
      graft.sources.DeltaLog.changesRange(spark, t, 1, 2, keys = Seq("c_custkey"))
  }

  /** DDL lifecycle, oracle-verified: CREATE TABLE (metadata-only commit
    * 0), append, ALTER TABLE ADD COLUMNS (metadata-only evolution —
    * the reference's own migration shape,
    * /root/reference/databricks_DW/02_create_tables.sql:187-189), append
    * under the widened schema, read back — pre-evolution rows must
    * surface NULL in the added column, exactly DuckDB's union shape. */
  val qDdlLifecycle: graft.QueryDef = graft.QueryDef.sql(
    "q_ddl_lifecycle",
    """SELECT c_custkey, c_mktsegment, CAST(NULL AS BIGINT) AS nation
      |FROM customer WHERE c_custkey % 2 = 0
      |UNION ALL
      |SELECT c_custkey, c_mktsegment, c_nationkey AS nation
      |FROM customer WHERE c_custkey % 2 = 1""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-ddl-life-").toString + "/t"
    val c = graft.Tables.customer(spark, dir)
    graft.sources.GraftSql.exec(spark,
      s"CREATE TABLE delta.`$t` (c_custkey BIGINT, c_mktsegment STRING)")
    graft.sources.DeltaLog.write(spark,
      c.where(col("c_custkey") % 2 === 0).select("c_custkey", "c_mktsegment"),
      t, mode = "append")
    graft.sources.GraftSql.exec(spark,
      s"ALTER TABLE delta.`$t` ADD COLUMNS (nation BIGINT)")
    graft.sources.DeltaLog.write(spark,
      c.where(col("c_custkey") % 2 === 1)
        .select(col("c_custkey"), col("c_mktsegment"),
          col("c_nationkey").cast("bigint").as("nation")),
      t, mode = "append")
    graft.sources.DeltaLog.read(spark, t)
  }

  /** Generated columns, oracle-verified end-to-end: CREATE TABLE with
    * `order_year INT GENERATED ALWAYS AS (year(o_orderdate))`
    * partitioned by it, append orders WITHOUT the column (the writer
    * computes it — Delta's `generatedColumns` feature), read back. The
    * result must equal DuckDB computing the same projection directly —
    * proving computation, partition layout, and read-back typing all
    * line up. At scale this is the canonical `date(ts)` partitioning:
    * the writer derives the partition key, so every file lands in one
    * partition and zone maps stay tight on the base column. */
  val qGeneratedCols: graft.QueryDef = graft.QueryDef.sql(
    "q_generated_cols",
    """SELECT o_orderkey, o_totalprice,
      |  CAST(year(o_orderdate) AS INT) AS order_year
      |FROM orders""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-gen-cols-").toString + "/t"
    graft.sources.GraftSql.exec(spark,
      s"CREATE TABLE delta.`$t` (o_orderkey BIGINT, o_totalprice DOUBLE, " +
        "order_year INT GENERATED ALWAYS AS (year(o_orderdate))) " +
        "PARTITIONED BY (order_year)")
    // o_orderdate rides along so the expression can see it; the table
    // schema widens with it (append evolution), which is fine — the
    // oracle projects the three asserted columns
    graft.sources.DeltaLog.write(spark,
      graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice").cast("double"),
          col("o_orderdate")),
      t, mode = "append")
    graft.sources.DeltaLog.read(spark, t)
      .select("o_orderkey", "o_totalprice", "order_year")
  }

  /** Identity columns, oracle-verified on their invariants: CREATE TABLE
    * with `sk BIGINT GENERATED ALWAYS AS IDENTITY`, two appends without
    * the column (the writer allocates distributed, dense-from-empty
    * ids and advances the protocol's high-water mark between commits),
    * read back and assert count/distinct/min/max — the shape DuckDB can
    * state without seeing the engine's row→id assignment (which is
    * legitimately order-dependent). The reference builds surrogate keys
    * with a single-partition row_number window (SURVEY §7.4) — identity
    * columns are the shuffle-free, scale-correct replacement. */
  val qIdentitySurrogate: graft.QueryDef = graft.QueryDef.sql(
    "q_identity_surrogate",
    """SELECT count(*) AS n_rows, count(*) AS n_distinct_sk,
      |  CAST(1 AS BIGINT) AS min_sk, CAST(count(*) AS BIGINT) AS max_sk
      |FROM customer""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-identity-").toString + "/t"
    graft.sources.GraftSql.exec(spark,
      s"CREATE TABLE delta.`$t` (sk BIGINT GENERATED ALWAYS AS IDENTITY " +
        "(START WITH 1 INCREMENT BY 1), c_custkey BIGINT, c_mktsegment STRING)")
    val c = graft.Tables.customer(spark, dir)
      .select(col("c_custkey").cast("bigint").as("c_custkey"), col("c_mktsegment"))
    graft.sources.DeltaLog.write(spark,
      c.where(col("c_custkey") % 2 === 0), t, mode = "append")
    graft.sources.DeltaLog.write(spark,
      c.where(col("c_custkey") % 2 === 1), t, mode = "append")
    graft.sources.DeltaLog.read(spark, t).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("sk")).as("n_distinct_sk"),
      min(col("sk")).as("min_sk"),
      max(col("sk")).as("max_sk"))
  }

  /** Type widening, oracle-verified end-to-end: an INT column widens to
    * BIGINT when a second append arrives with the wider type — the
    * first append's narrow files are NOT rewritten, yet the read-back
    * must equal DuckDB computing the whole union at the wide type,
    * proving the widened read path bit-for-bit. */
  val qWidenAppend: graft.QueryDef = graft.QueryDef.sql(
    "q_widen_append",
    """SELECT CAST(o_orderkey AS INT) AS k, CAST(o_custkey % 100 AS BIGINT) AS prio
      |FROM orders
      |UNION ALL
      |SELECT CAST(o_orderkey + 10000000 AS INT) AS k, CAST(o_custkey AS BIGINT) AS prio
      |FROM orders""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-widen-q-").toString + "/t"
    graft.sources.GraftSql.exec(spark,
      s"CREATE TABLE delta.`$t` (k INT, prio INT) " +
        "TBLPROPERTIES ('delta.enableTypeWidening'='true')")
    val o = graft.Tables.orders(spark, dir)
    graft.sources.DeltaLog.write(spark,
      o.select(col("o_orderkey").cast("int").as("k"),
        (col("o_custkey") % 100).cast("int").as("prio")), t, mode = "append")
    // the second batch carries prio as BIGINT → the column widens
    graft.sources.DeltaLog.write(spark,
      o.select((col("o_orderkey") + 10000000).cast("int").as("k"),
        col("o_custkey").cast("bigint").as("prio")), t, mode = "append")
    graft.sources.DeltaLog.read(spark, t)
  }

  /** Liquid clustering, oracle-verified: CLUSTER BY table, interleaved
    * appends, one bare OPTIMIZE (clusters by the declared column with
    * no argument) — and the rewritten table must still equal DuckDB's
    * plain projection row for row. Layout is asserted in
    * ClusteringSpec; this row pins data fidelity through the clustered
    * rewrite. */
  val qClusterOptimize: graft.QueryDef = graft.QueryDef.sql(
    "q_cluster_optimize",
    "SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS price FROM orders") {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-cluster-q-").toString + "/t"
      graft.sources.GraftSql.exec(spark,
        s"CREATE TABLE delta.`$t` (o_orderkey BIGINT, o_custkey BIGINT, price DOUBLE) " +
          "CLUSTER BY (o_custkey)")
      val o = graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").cast("double").as("price"))
      // interleaved halves: every file spans the full o_custkey range
      graft.sources.DeltaLog.write(spark,
        o.where(col("o_orderkey") % 2 === 0), t, mode = "append")
      graft.sources.DeltaLog.write(spark,
        o.where(col("o_orderkey") % 2 === 1), t, mode = "append")
      graft.sources.DeltaLog.optimize(spark, t, targetFiles = 4)
      graft.sources.DeltaLog.read(spark, t)
  }

  /** Row tracking, oracle-verified: two appends into a row-tracked
    * table must yield a DENSE, UNIQUE id space 0..n-1 regardless of
    * file layout — the invariant the protocol's baseRowId allocation
    * promises. The oracle states the invariant (a function of row count
    * alone); the Spark side computes it from the ACTUAL `_row_id`s, so
    * an overlap, gap, or lost domain update breaks the hash. Also
    * re-reads row values through the id surface: sum(o_custkey) proves
    * the join attaches ids to the right rows, not just the right count. */
  val qRowTrackingIds: graft.QueryDef = graft.QueryDef.sql(
    "q_rowtracking_ids",
    """SELECT count(*) AS n_rows, count(*) AS n_distinct_ids,
      |  CAST(0 AS BIGINT) AS min_id, count(*) - 1 AS max_id,
      |  CAST(sum(o_custkey) AS BIGINT) AS sum_custkey
      |FROM orders""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-rowtrack-q-").toString + "/t"
    val o = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    graft.sources.DeltaLog.write(spark,
      o.where(col("o_orderkey") % 2 === 0), t,
      properties = Map(graft.sources.DeltaLog.RowTrackingKey -> "true"))
    graft.sources.DeltaLog.write(spark,
      o.where(col("o_orderkey") % 2 === 1), t, mode = "append")
    graft.sources.DeltaLog.readWithRowIds(spark, t).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("_row_id")).as("n_distinct_ids"),
      min(col("_row_id")).as("min_id"),
      max(col("_row_id")).as("max_id"),
      sum(col("o_custkey")).as("sum_custkey"))
  }

  /** Bloom-filter-index point lookup, oracle-verified end-to-end: a
    * protocol table is built from `lineitem` hash-striped across files
    * (every file's l_orderkey [min, max] spans the whole domain — zone
    * maps prune NOTHING), a bloom index is created on the key
    * ([[graft.sources.BloomIndex]]), and a point lookup through
    * `readPruned` must equal DuckDB's plain filter row for row — the
    * skip can only ever be sound. The probed key (the table's min) is
    * computed first, so the same literal reaches both engines. */
  val qBloomSkipping: graft.QueryDef = graft.QueryDef.sql(
    "q_bloom_skipping",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
      |WHERE l_orderkey = (SELECT min(l_orderkey) FROM lineitem)
      |ORDER BY l_linenumber""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-bloom-q-").toString + "/t"
    val li = graft.Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity")
    graft.sources.DeltaLog.write(spark, li.repartition(4), t)
    graft.sources.BloomIndex.create(spark, t, Seq("l_orderkey"),
      fpp = 0.01, items = 100000L)
    val k = li.agg(min(col("l_orderkey"))).head.getLong(0)
    graft.sources.DeltaLog.readPruned(spark, t, col("l_orderkey") === k)
      .orderBy("l_linenumber")
  }

  /** Log compaction, oracle-verified end-to-end: three appends, one
    * `<0>.<2>.compacted.json` minor compaction, then the covered commit
    * JSONs are DELETED — the read that follows can only be served
    * through the compacted file, and it must still equal DuckDB
    * computing the union of the three slices directly. Replay fidelity
    * through the netted range, not just "a file appeared". */
  val qLogCompaction: graft.QueryDef = graft.QueryDef.sql(
    "q_log_compaction",
    """SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
      |FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)""".stripMargin) {
    (spark, dir) =>
      val t = java.nio.file.Files
        .createTempDirectory("graft-logcomp-q-").toString + "/t"
      val o = graft.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice").cast("double").as("price"))
      (0 to 2).foreach(m => graft.sources.DeltaLog.write(spark,
        o.where(col("o_orderkey") % 4 === m), t, mode = "append"))
      graft.sources.DeltaLog.compactLog(spark, t, 0, 2)
      val f = new org.apache.hadoop.fs.Path(t)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (0L to 2L).foreach(v => f.delete(new org.apache.hadoop.fs.Path(
        t, f"_delta_log/$v%020d.json"), false))
      graft.sources.DeltaLog.read(spark, t)
  }

  /** Conflict-detection rebase, oracle-verified: an UPDATE computed
    * against a pinned snapshot races a concurrent blind append (injected
    * between plan and commit). Under WriteSerializable the UPDATE lands
    * WITHOUT recompute, so the appended rows — including ones matching
    * the update predicate — stay untouched: the history is equivalent
    * to "update first, append after". The oracle states exactly that
    * semantics: base BUILDING rows re-segmented, appended rows verbatim. */
  val qConcurrentRebase: graft.QueryDef = graft.QueryDef.sql(
    "q_concurrent_rebase",
    """SELECT c_custkey, CASE WHEN c_mktsegment = 'BUILDING' THEN 'PRIORITY'
      |  ELSE c_mktsegment END AS seg
      |FROM customer
      |UNION ALL
      |SELECT c_custkey + 1000000, c_mktsegment AS seg
      |FROM customer WHERE c_custkey % 10 = 0""".stripMargin) { (spark, dir) =>
    val t = java.nio.file.Files
      .createTempDirectory("graft-rebase-q-").toString + "/t"
    val c = graft.Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    graft.sources.DeltaLog.write(spark, c, t)
    val late = c.where(col("c_custkey") % 10 === 0)
      .select((col("c_custkey") + 1000000).as("c_custkey"), col("seg"))
    // inject the concurrent append between the UPDATE's plan and commit
    // (reentrancy-guarded: the append itself passes through the hook)
    var fired = false
    var inAct = false
    graft.sources.DeltaLog.raceHook = (_, _) =>
      if (!inAct && !fired) {
        fired = true; inAct = true
        try { graft.sources.DeltaLog.write(spark, late, t, mode = "append"); () }
        finally inAct = false
      }
    try
      graft.sources.DeltaLog.updateWhere(spark, t,
        col("seg") === "BUILDING", Map("seg" -> lit("PRIORITY")))
    finally graft.sources.DeltaLog.raceHook = (_, _) => ()
    graft.sources.DeltaLog.read(spark, t)
  }

  /** DML with subqueries in the condition, oracle-verified — a surface
    * delta-spark refuses outright ("Subqueries are not supported in the
    * DELETE condition"). The engine rewrites the membership conjunct to
    * the distributed keyed MERGE and folds the scalar comparison to its
    * single value ([[graft.sources.GraftSql.execDmlSubquery]]); DuckDB
    * evaluates the same statements natively, so the read-back gates the
    * rewrite end-to-end: an UPDATE bumping rows whose key is in a
    * filtered orders set, then a DELETE of rows below the table's own
    * average amount. */
  val qDmlSubquery: graft.QueryDef = graft.QueryDef.sql(
    "q_dml_subquery",
    """WITH t0 AS (
      |  SELECT o_orderkey AS k, o_custkey, o_totalprice AS amt
      |  FROM orders WHERE o_orderkey < 40000
      |), hot AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
      |t1 AS (
      |  SELECT k, o_custkey,
      |    CASE WHEN k IN (SELECT o_orderkey FROM hot) AND o_custkey % 3 = 0
      |         THEN amt + 100000 ELSE amt END AS amt
      |  FROM t0
      |)
      |SELECT k, o_custkey,
      |  CAST(CAST(amt AS DECIMAL(38,10)) AS DOUBLE) AS amt
      |FROM t1
      |WHERE NOT (amt < (SELECT avg(amt) FROM t1))""".stripMargin) {
    (spark, dir) =>
      val base = java.nio.file.Files
        .createTempDirectory("graft-dmlsub-q-").toString
      val t = base + "/t"; val hot = base + "/hot"
      graft.sources.DeltaLog.write(spark,
        graft.Tables.orders(spark, dir).where(col("o_orderkey") < 40000)
          .select(col("o_orderkey").as("k"), col("o_custkey"),
            col("o_totalprice").as("amt")).repartition(4), t)
      graft.sources.DeltaLog.write(spark,
        graft.Tables.orders(spark, dir).where(col("o_orderstatus") === "F")
          .select("o_orderkey"), hot)
      graft.sources.GraftSql.exec(spark,
        s"UPDATE delta.`$t` SET amt = amt + 100000 WHERE o_custkey % 3 = 0 " +
          s"AND k IN (SELECT o_orderkey FROM delta.`$hot`)")
      graft.sources.GraftSql.exec(spark,
        s"DELETE FROM delta.`$t` WHERE amt < (SELECT avg(amt) FROM delta.`$t`)")
      graft.sources.DeltaLog.read(spark, t)
        .withColumn("amt",
          col("amt").cast("decimal(38,10)").cast("double"))
  }

  val all: Seq[graft.QueryDef] =
    Seq(qZOrderKey, qDeleteDv, qDeleteSweep, qUpdateCow, qUpdateDv, qMergeClauses,
      qMergeDv, qDynamicOverwrite, qDmlSubquery,
      qReplaceWhere, qCopyInto, qCloneRead, qCdcTableChanges, qMetaCount,
      qCdfWriteFeed, qDdlLifecycle, qGeneratedCols, qIdentitySurrogate,
      qWidenAppend, qClusterOptimize, qRowTrackingIds, qBloomSkipping,
      qConvertToDelta, qIcebergRoundtrip, qIcebergRefs, qIcebergMor, qIcebergPartitioned,
      qIcebergBounds, qIcebergManifests, qIcebergUpdate, qIcebergMerge,
      qIcebergWap, qIcebergChangelog, qIcebergAddColumns, qLogCompaction,
      qConcurrentRebase, qLiveRead)
}
