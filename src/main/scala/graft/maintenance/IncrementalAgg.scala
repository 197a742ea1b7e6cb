package graft.maintenance

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Incremental aggregate maintenance: keep a materialized keyed
  * aggregate current by folding in a change feed instead of rescanning
  * the base table — the reference's gold metrics rebuild
  * (/root/reference/pipelines/gold_pipeline.py:358-369) recomputes from
  * the full silver table every night; at 100 TB the recompute is the
  * bottleneck and the delta is not.
  *
  * Works for self-maintainable aggregates (count + sums — and anything
  * derivable from them: averages, rates): inserts add, deletes
  * subtract, an update is delete+insert (exactly what
  * [[graft.sources.DeltaLog.changesBetween]] emits). Sums are carried as
  * DECIMAL(38,10), so maintenance is EXACT — applying N deltas equals
  * the full recompute bit-for-bit, which is what makes the technique
  * auditable (spec asserts it). Min/max are NOT self-maintainable under
  * deletes and are deliberately absent.
  *
  * Scale: one shuffle of the (small) delta keyed by the group key plus
  * a key-equi join against the materialized aggregate — no base-table
  * scan. Groups whose count reaches zero are dropped.
  */
object IncrementalAgg {

  /** Materialize the aggregate: `keys`, `n`, and `sum_<c>` for each sum
    * column. */
  def materialize(base: DataFrame, keys: Seq[String], sumCols: Seq[String]): DataFrame =
    base.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sumCols.map(c => sum(col(c).cast(DecimalType(38, 10))).as(s"sum_$c")): _*)

  /** The change feed reduced to per-group count/sum deltas. A malformed
    * feed must fail loudly, not silently null out of the sums and break
    * the 'maintenance ≡ full recompute' guarantee. */
  private def deltaAgg(changes: DataFrame, keys: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    val sign = when(col("_change_type") === "insert", lit(1))
      .when(col("_change_type") === "delete", lit(-1))
      .otherwise(raise_error(concat(
        lit("IncrementalAgg: unknown _change_type "), col("_change_type"))))
    changes.groupBy(keys.map(col): _*)
      .agg(sum(sign).as("d_n"),
        sumCols.map(c =>
          sum(col(c).cast(DecimalType(38, 10)) * sign).as(s"d_sum_$c")): _*)
  }

  private val zero = lit(BigDecimal(0)).cast(DecimalType(38, 10))

  private def folded(keys: Seq[String], sumCols: Seq[String]) =
    keys.map(col) ++
      Seq((coalesce(col("n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n")) ++
      sumCols.map(c =>
        (coalesce(col(s"sum_$c"), zero) + coalesce(col(s"d_sum_$c"), zero))
          .cast(DecimalType(38, 10)).as(s"sum_$c"))

  /** Fold a change feed (rows + `_change_type` ∈ insert|delete) into a
    * materialized aggregate. Result equals re-materializing the changed
    * base exactly. */
  def applyDelta(agg: DataFrame, changes: DataFrame, keys: Seq[String],
      sumCols: Seq[String]): DataFrame =
    agg.join(deltaAgg(changes, keys, sumCols), keys, "full_outer")
      .select(folded(keys, sumCols): _*)
      .where(col("n") > 0)

  /** Same fold restricted to the CHANGED groups only — the O(delta)
    * write side of [[graft.maintenance.MaterializedView]]: one row per
    * group the feed actually changed, with `__delete = true` for groups
    * whose count reached zero (so a group-keyed MERGE can drop them).
    * Groups the feed never mentions are absent, and groups whose delta
    * NETS TO ZERO are filtered too (exact: decimal sums, so folding a
    * zero delta is a no-op by construction) — a copy-on-write MERGE
    * upstream emits cancelling delete+insert pairs for every
    * rewritten-but-unchanged row, and without the filter those would
    * drag whole source files' worth of untouched groups into the gold
    * rewrite. */
  def changedGroups(agg: DataFrame, changes: DataFrame, keys: Seq[String],
      sumCols: Seq[String]): DataFrame = {
    // d_n is never null (>=1 row per emitted group); a null d_sum means
    // every contributing value was null — no net change from that column
    val nonZero = (col("d_n") =!= 0L) +:
      sumCols.map(c => col(s"d_sum_$c") =!= zero)
    deltaAgg(changes, keys, sumCols)
      .where(nonZero.reduce(_ || _))
      .join(agg, keys, "left")
      .select(folded(keys, sumCols): _*)
      .withColumn("__delete", col("n") <= 0)
  }
}
