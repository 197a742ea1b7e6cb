package graft

import java.nio.file.Files

import graft.sources.{DeltaLog, GraftSql}
import org.apache.spark.sql.functions._

/** GENERATE symlink_format_manifest — Delta's Presto/Trino/Athena
  * compatibility surface: per-partition-dir `manifest` text files of
  * absolute parquet URIs. The proof of correctness is a round-trip: a
  * "foreign engine" read (parquet paths taken from the manifests alone,
  * no _delta_log) must equal the protocol read exactly. */
class SymlinkManifestSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String =
    Files.createTempDirectory("graft-symlink-").toString + "/t"

  /** Every parquet URI listed under the manifest tree. */
  private def listedUris(t: String): Seq[String] = {
    val root = new java.io.File(s"$t/_symlink_format_manifest")
    def walk(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles()).toSeq.flatten.flatMap(f =>
        if (f.isDirectory) walk(f) else Seq(f))
    walk(root).filter(_.getName == "manifest")
      .flatMap(m => scala.io.Source.fromFile(m).getLines().toSeq)
  }

  test("unpartitioned: manifest lists exactly the live files; foreign read matches") {
    val t = fresh()
    val o = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_totalprice"))
    DeltaLog.write(spark, o.repartition(3), t)
    // supersede a file so the manifest must track the CURRENT snapshot
    DeltaLog.optimize(spark, t, targetFiles = 2)
    val n = DeltaLog.generateSymlinkManifest(spark, t)
    val uris = listedUris(t)
    assert(uris.size.toLong == n)
    assert(uris.forall(_.endsWith(".parquet")))
    val snapPaths = DeltaLog.snapshot(spark, t).files.toSet
    assert(uris.map(u => u.substring(u.indexOf(t) + t.length + 1)).toSet == snapPaths)
    // the foreign-engine read: manifests only, no _delta_log
    val foreign = spark.read.parquet(uris.map(_.stripPrefix("file:")): _*)
    assert(foreign.as[(Long, Double)].collect().sorted.toSeq ==
      DeltaLog.read(spark, t).as[(Long, Double)].collect().sorted.toSeq)
  }

  test("partitioned: one manifest per partition directory") {
    val t = fresh()
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    DeltaLog.write(spark, c, t, partitionBy = Seq("c_mktsegment"))
    DeltaLog.generateSymlinkManifest(spark, t)
    val uris = listedUris(t)
    // each manifest sits NEXT TO its partition's k=v dir mirror
    val segs = c.select("c_mktsegment").distinct().as[String].collect()
    segs.foreach { s =>
      val m = new java.io.File(
        s"$t/_symlink_format_manifest/c_mktsegment=$s/manifest")
      assert(m.exists(), s"missing manifest for partition $s")
      val lines = scala.io.Source.fromFile(m).getLines().toSeq
      assert(lines.nonEmpty && lines.forall(_.contains(s"c_mktsegment=$s/")))
    }
    val foreign = spark.read.parquet(uris.map(_.stripPrefix("file:")): _*)
    assert(foreign.count() == c.count())
  }

  test("regeneration drops manifests of vanished partitions") {
    val t = fresh()
    val c = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    DeltaLog.write(spark, c, t, partitionBy = Seq("c_mktsegment"))
    DeltaLog.generateSymlinkManifest(spark, t)
    DeltaLog.deleteWhere(spark, t, col("c_mktsegment") === "BUILDING")
    DeltaLog.generateSymlinkManifest(spark, t)
    assert(!new java.io.File(
      s"$t/_symlink_format_manifest/c_mktsegment=BUILDING/manifest").exists())
  }

  test("refuses on deletion vectors; SQL verb + auto mode work") {
    val t = fresh()
    DeltaLog.write(spark,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v").coalesce(1), t)
    DeltaLog.deleteWhere(spark, t, col("k") === 2L)
    val e = intercept[IllegalArgumentException](
      DeltaLog.generateSymlinkManifest(spark, t))
    assert(e.getMessage.contains("deletion vectors"))
    // purge the DVs, then the SQL verb succeeds
    GraftSql.exec(spark, s"REORG TABLE delta.`$t` APPLY (PURGE)")
    val r = GraftSql.exec(spark,
      s"GENERATE symlink_format_manifest FOR TABLE delta.`$t`")
    assert(r.columns.toSeq == Seq("files_listed"))
    assert(r.head().getLong(0) >= 1L)
    // auto mode: the next dataChange commit regenerates
    GraftSql.exec(spark, s"ALTER TABLE delta.`$t` SET TBLPROPERTIES " +
      "('delta.compatibility.symlinkFormatManifest.enabled'='true')")
    val before = listedUris(t).toSet
    DeltaLog.write(spark, Seq((9L, "z")).toDF("k", "v"), t, mode = "append")
    val after = listedUris(t).toSet
    assert(after.size == before.size + 1)

    // every dataChange commit regenerates, not just writes: a
    // whole-partition DELETE and a RESTORE must each leave the manifest
    // equal to the live file set (a stale one makes Trino/Athena read
    // deleted files)
    val p = fresh()
    DeltaLog.write(spark, Seq((1L, "x"), (2L, "y")).toDF("k", "part").repartition(1),
      p, partitionBy = Seq("part"), properties =
        Map("delta.compatibility.symlinkFormatManifest.enabled" -> "true"))
    DeltaLog.write(spark, Seq((3L, "x"), (4L, "y")).toDF("k", "part").repartition(1),
      p, mode = "append")
    def manifestMatchesLive(step: String): Unit = {
      val listed = listedUris(p).map(u => u.substring(u.indexOf(p) + p.length + 1))
      assert(listed.sorted == DeltaLog.snapshot(spark, p).files.sorted,
        s"after $step the manifest lists ${listed.sorted}")
    }
    manifestMatchesLive("the append")
    val beforeDelete = DeltaLog.deleteWhere(spark, p, col("part") === "x") - 1
    assert(DeltaLog.snapshot(spark, p).files.size == 2)
    manifestMatchesLive("a whole-partition DELETE")
    DeltaLog.restore(spark, p, beforeDelete)
    assert(DeltaLog.snapshot(spark, p).files.size == 4)
    manifestMatchesLive("a RESTORE")
  }
}
