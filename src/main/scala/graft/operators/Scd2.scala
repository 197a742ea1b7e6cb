package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SCD Type 2 library — the reference's dimension-merge machinery
  * (/root/reference/pipelines/gold_pipeline.py:112-227) re-expressed as
  * two generic batch operators:
  *
  *   - [[fromChangeLog]]: declarative spec — given a change log, emit the
  *     full SCD2 history (change detection vs the previous row per key,
  *     dense version numbers, effective intervals, one is_current per
  *     key).
  *   - [[mergeBatch]]: operational path — expire-and-append one update
  *     batch into an existing history, with sha2 row-hash change
  *     detection against the current rows (gold_pipeline.py:165-195).
  *
  * The two agree by construction: merging batch B into history built from
  * log L equals fromChangeLog(L ∪ latest-per-key(B)). The merge QueryDef
  * exploits exactly that equivalence — the DuckDB oracle evaluates the
  * declarative spec while Spark runs the operational merge, so the gate
  * verifies the implementation against the spec.
  *
  * Scale notes: everything is key-partitioned — the windows and the
  * merge join shuffle on business keys only; no global window, no
  * driver-side state. The reference's single-partition surrogate-key
  * window (gold_pipeline.py:323-325) is deliberately not reproduced.
  */
object Scd2 {

  /** sha2-256 row hash over the compared attributes, null-safe
    * (gold_pipeline.py:131-134). */
  def rowHash(attrs: Seq[String]): Column =
    sha2(concat_ws("||", attrs.map(a => coalesce(col(a).cast("string"), lit("null"))): _*), 256)

  /** DuckDB equivalent of [[rowHash]]. */
  def rowHashSql(attrs: Seq[String]): String =
    s"sha256(concat_ws('||', ${attrs.map(a => s"coalesce(CAST($a AS VARCHAR), 'null')").mkString(", ")}))"

  /** Full SCD2 history from a change log: drop consecutive same-hash rows
    * per key, then number versions and derive effective intervals. */
  def fromChangeLog(df: DataFrame, keys: Seq[String], attrs: Seq[String],
      ts: String, tiebreak: Seq[String]): DataFrame = {
    val ord = (col(ts) +: tiebreak.map(col)).map(_.asc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    val changed = df
      .withColumn("row_hash", rowHash(attrs))
      .withColumn("prev_hash", lag("row_hash", 1).over(w))
      .where(col("prev_hash").isNull || col("prev_hash") =!= col("row_hash"))
      .drop("prev_hash")
    changed
      .withColumn("version_number", row_number().over(w))
      .withColumn("effective_start", col(ts))
      .withColumn("effective_end", lead(ts, 1).over(w))
      .withColumn("is_current", col("effective_end").isNull)
  }

  /** Latest change-log row per key (deterministic: ts + tiebreak desc). */
  def latestPerKey(df: DataFrame, keys: Seq[String], ts: String,
      tiebreak: Seq[String]): DataFrame = {
    val ord = (col(ts) +: tiebreak.map(col)).map(_.desc)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }

  /** Expire-and-append merge of one update batch into an SCD2 history:
    * changed/new keys get a new current version; the superseded current
    * row is expired at the update's timestamp; everything else passes
    * through untouched (gold_pipeline.py:165-227 semantics). */
  def mergeBatch(history: DataFrame, updates: DataFrame, keys: Seq[String],
      attrs: Seq[String], ts: String, tiebreak: Seq[String]): DataFrame = {
    val latest = latestPerKey(updates, keys, ts, tiebreak)
      .withColumn("row_hash", rowHash(attrs))
    val current = history.where(col("is_current"))
      .select(keys.map(col) :+ col("row_hash").as("__cur_hash") :+
        col("version_number").as("__cur_version"): _*)
    val joined = latest.join(current, keys, "left")
    val changed = joined
      .where(col("__cur_hash").isNull || col("__cur_hash") =!= col("row_hash"))
    val newRows = changed.select(
      keys.map(col) ++ attrs.map(col) ++ tiebreak.map(col) ++ Seq(col(ts),
        col("row_hash"),
        (coalesce(col("__cur_version"), lit(0)) + 1).as("version_number"),
        col(ts).as("effective_start"),
        lit(null).cast(history.schema("effective_end").dataType).as("effective_end"),
        lit(true).as("is_current")): _*)
    val expiry = changed.select(keys.map(col) :+ col(ts).as("__new_start"): _*)
    val expired = history.join(expiry, keys, "left")
      .withColumn("effective_end",
        when(col("is_current") && col("__new_start").isNotNull, col("__new_start"))
          .otherwise(col("effective_end")))
      .withColumn("is_current", col("is_current") && col("__new_start").isNull)
      .drop("__new_start")
    expired.unionByName(newRows.select(expired.columns.map(col): _*))
  }

  /** The MERGE frame itself (S8/J7, the reference's recency-guarded
    * upsert, gold_pipeline.py:789-796), used by the Delta-protocol merge
    * [[graft.sources.DeltaLog.mergeUpsert]]: matched-and-newer rows take
    * the source, unmatched target rows are kept, unmatched source rows
    * are inserted. */
  private[graft] def mergedFrame(target: DataFrame, source: DataFrame,
      keys: Seq[String], recencyCol: String): DataFrame = {
    val srcRenamed = source.select(
      keys.map(col) ++ source.columns.filterNot(keys.contains)
        .map(c => col(c).as(s"__src_$c")): _*)
    val merged = target.join(srcRenamed, keys, "full_outer")
    merged.select(
      keys.map(col) ++ target.columns.filterNot(keys.contains).map { c =>
        when(sourceWins(recencyCol), col(s"__src_$c")).otherwise(col(c)).as(c)
      }: _*)
  }

  /** THE merge recency guard, single-sourced across every merge surface
    * ([[mergedFrame]] → Delta copy-on-write MERGE; the Iceberg
    * merge-on-read MERGE): over a target ⋈ renamed-source join, the
    * source version wins when the target has no row for the key or the
    * source is STRICTLY newer — matched-but-not-newer sources leave the
    * target row untouched. */
  private[graft] def sourceWins(recencyCol: String): org.apache.spark.sql.Column =
    col(s"__src_$recencyCol").isNotNull &&
      (col(recencyCol).isNull || col(s"__src_$recencyCol") > col(recencyCol))

  // ---------------------------------------------------------------- queries

  private val keys = Seq("o_custkey")
  private val attrs = Seq("o_orderstatus", "o_orderpriority")
  private val ts = "o_orderdate"
  private val tiebreak = Seq("o_orderkey")

  private def changeLog(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir).select(
      col("o_custkey"), col("o_orderdate"), col("o_orderkey"),
      col("o_orderstatus"), col("o_orderpriority"))

  private val selectCols = Seq("o_custkey", "o_orderstatus", "o_orderpriority",
    "row_hash", "version_number", "effective_start", "effective_end", "is_current")

  /** Declarative-spec SQL shared by both oracles: SCD2 history over a
    * change log given as `src(k, ts, tb, attrs...)`. */
  private def scd2Sql(srcSql: String): String =
    s"""WITH src AS ($srcSql
       |), hashed AS (
       |  SELECT *, ${rowHashSql(attrs)} AS row_hash FROM src
       |), chg AS (
       |  SELECT * FROM (
       |    SELECT *, lag(row_hash) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_hash
       |    FROM hashed)
       |  WHERE prev_hash IS NULL OR prev_hash <> row_hash
       |)
       |SELECT o_custkey, o_orderstatus, o_orderpriority, row_hash,
       |  CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS INT) AS version_number,
       |  o_orderdate AS effective_start,
       |  lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS effective_end,
       |  lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) IS NULL AS is_current
       |FROM chg""".stripMargin

  /** SCD2 history build from a change log (customer order profile:
    * status/priority as the tracked attributes). */
  val qScd2Build: QueryDef = QueryDef.sql(
    "q_scd2_build",
    scd2Sql("SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus, o_orderpriority FROM orders")) {
    (spark, dir) =>
      fromChangeLog(changeLog(spark, dir), keys, attrs, ts, tiebreak)
        .select(selectCols.map(col): _*)
  }

  /** Operational merge: history built from pre-1996 orders, then one
    * update batch (latest post-1996 row per key) merged expire-and-append.
    * The oracle evaluates the equivalent declarative spec over
    * initial-log ∪ latest-updates. */
  val qScd2Merge: QueryDef = QueryDef.sql(
    "q_scd2_merge",
    scd2Sql(
      """SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus, o_orderpriority FROM orders WHERE o_orderdate < DATE '1996-01-01'
        |  UNION ALL
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus, o_orderpriority FROM (
        |    SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |    FROM orders WHERE o_orderdate >= DATE '1996-01-01') WHERE rn = 1""".stripMargin)) {
    (spark, dir) =>
      val log = changeLog(spark, dir)
      val initial = log.where(col("o_orderdate") < lit("1996-01-01").cast("date"))
      val updates = log.where(col("o_orderdate") >= lit("1996-01-01").cast("date"))
      val history = fromChangeLog(initial, keys, attrs, ts, tiebreak)
      mergeBatch(history, updates, keys, attrs, ts, tiebreak)
        .select(selectCols.map(col): _*)
  }

  /** As-of (point-in-time) join: attach to each probe row the state row
    * with the greatest `ts` ≤ the probe's `ts`, per key. Composed from
    * union + window (SURVEY §4 stance: compose before custom plans) —
    * crucially NOT an interval join, which would multiply every probe by
    * its key's version count before filtering. One shuffle on the key,
    * one ordered pass; probe rows carry the running last state forward.
    *
    * `stateCols` must not collide with probe columns; ties on `ts` rank
    * states before probes (inclusive as-of) and among states by
    * `stateOrd` ascending, last one wins.
    */
  def asOfJoin(probe: DataFrame, state: DataFrame, keys: Seq[String], ts: String,
      stateCols: Seq[String], stateOrd: String): DataFrame = {
    val probeCols = probe.columns.filterNot(c => keys.contains(c) || c == ts).toSeq
    val pr = probe.select(
      keys.map(col) ++ Seq(col(ts), lit(1).as("__is_probe")) ++
        probeCols.map(col) ++ stateCols.map(c => lit(null).cast(state.schema(c).dataType).as(c)): _*)
    val st = state.select(
      keys.map(col) ++ Seq(col(ts), lit(0).as("__is_probe")) ++
        probeCols.map(c => lit(null).cast(probe.schema(c).dataType).as(c)) ++ stateCols.map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ts).asc, col("__is_probe").asc, col(stateOrd).asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = stateCols.foldLeft(pr.unionByName(st)) { (df, c) =>
      df.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
    carried.where(col("__is_probe") === 1).drop("__is_probe")
  }

  /** Point-in-time fact enrichment: each order sees the customer-profile
    * SCD2 version that was current on its order date — the lakehouse
    * query a reprocessed fact table runs against every SCD2 dimension
    * (the reference joins only to is_current rows,
    * gold_pipeline.py:645-662; as-of is the generalization that stays
    * correct for backfills). */
  val qScd2AsOf: QueryDef = QueryDef.sql(
    "q_scd2_asof",
    s"""WITH hist AS (
       |${scd2Sql("SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus, o_orderpriority FROM orders")}
       |)
       |SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
       |  h.version_number AS asof_version, h.row_hash AS asof_hash
       |FROM orders o
       |JOIN hist h ON h.o_custkey = o.o_custkey AND h.effective_start <= o.o_orderdate
       |QUALIFY row_number() OVER (PARTITION BY o.o_orderkey
       |  ORDER BY h.effective_start DESC, h.version_number DESC) = 1""".stripMargin) {
    (spark, dir) =>
      val hist = fromChangeLog(changeLog(spark, dir), keys, attrs, ts, tiebreak)
        .select(col("o_custkey"), col("effective_start").as("o_orderdate"),
          col("version_number").as("asof_version"), col("row_hash").as("asof_hash"))
      val probe = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      asOfJoin(probe, hist, Seq("o_custkey"), "o_orderdate",
        Seq("asof_version", "asof_hash"), "asof_version")
        .where(col("asof_version").isNotNull)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("asof_version"), col("asof_hash"))
  }

  /** As-of with a STALENESS BOUND — the feature-store variant: a probe
    * row may only use a state version no older than the tolerance at
    * probe time (a stale feature is worse than no feature). The as-of
    * pick is unchanged (latest version ≤ ts, carried by the same merged
    * window); the bound is then one filter on the picked version's start
    * — correct because no earlier version can be fresher than the
    * latest one. Probes whose freshest available version is too old
    * drop out (inner semantics). */
  val qScd2AsOfTolerance: QueryDef = QueryDef.sql(
    "q_scd2_asof_tolerance",
    s"""WITH hist AS (
       |${scd2Sql("SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus, o_orderpriority FROM orders")}
       |), picked AS (
       |  SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
       |    h.version_number AS asof_version,
       |    CAST(h.effective_start AS TIMESTAMP) AS asof_start
       |  FROM orders o
       |  JOIN hist h ON h.o_custkey = o.o_custkey AND h.effective_start <= o.o_orderdate
       |  QUALIFY row_number() OVER (PARTITION BY o.o_orderkey
       |    ORDER BY h.effective_start DESC, h.version_number DESC) = 1
       |)
       |SELECT * FROM picked
       |WHERE asof_start >= o_orderdate - INTERVAL 365 DAY""".stripMargin) {
    (spark, dir) =>
      val hist = fromChangeLog(changeLog(spark, dir), keys, attrs, ts, tiebreak)
        .select(col("o_custkey"), col("effective_start").as("o_orderdate"),
          col("version_number").as("asof_version"),
          col("effective_start").as("asof_start"))
      val probe = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      asOfJoin(probe, hist, Seq("o_custkey"), "o_orderdate",
        Seq("asof_version", "asof_start"), "asof_version")
        .where(col("asof_version").isNotNull &&
          col("asof_start") >= col("o_orderdate") - expr("INTERVAL 365 DAYS"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("asof_version"), col("asof_start"))
  }

  val all: Seq[QueryDef] = Seq(qScd2Build, qScd2Merge, qScd2AsOf, qScd2AsOfTolerance)
}
