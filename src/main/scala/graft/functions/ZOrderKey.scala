package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.{Column, DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType}

/** Native Catalyst expression computing a two-dimensional Z-order
  * (Morton) key: the low 16 bits of each input interleaved, left-first.
  * This is the locality primitive behind the reference's
  * `OPTIMIZE … ZORDER BY (a, b)` (reference `utils/optimize_tables.py:24-32`):
  * sorting by the interleaved key places rows close in BOTH dimensions
  * into the same parquet files, so min/max data skipping works for
  * predicates on either column — a plain range-cluster only skips on the
  * leading one.
  *
  * Inputs are grid cells in [0, 65535] (see [[ZOrderKey.zOrderFrame]]
  * for the min/max normalization that produces them); a 65k × 65k grid
  * is far finer than file granularity at any realistic file count, so
  * the quantization never limits skipping. Implemented with `doGenCode` so the key
  * computation stays inside whole-stage codegen during the rewrite scan.
  */
case class ZOrderKey(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (BIGINT, BIGINT), got ${children.map(_.dataType).mkString(", ")}")
  override def dataType: DataType = LongType
  override def prettyName: String = "zorder_key"

  override def nullSafeEval(a: Any, b: Any): Any =
    ZOrderKey.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZOrderKey.interleave($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZOrderKey {

  /** Interleave the low 16 bits: bit i of `a` lands at 2i+1, bit i of `b`
    * at 2i — so `a` is the higher-order dimension on ties. Static and
    * branch-free for the generated code.
    *
    * Inputs OUTSIDE [0, 65535] are rejected: a raw column value passed in
    * place of a pre-normalized grid cell would otherwise alias (key = low
    * 16 bits only) and silently destroy locality. The guard costs one
    * branch; normalization lives in [[zOrderFrame]]. */
  def interleave(a: Long, b: Long): Long = {
    if ((a | b) >>> 16 != 0L || a < 0L || b < 0L)
      throw new IllegalArgumentException(
        s"zorder_key: inputs must be grid cells in [0, 65535], got ($a, $b); " +
          "normalize raw column values first (see ZOrderKey.zOrderFrame)")
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((a >> i) & 1L) << (2 * i + 1) | ((b >> i) & 1L) << (2 * i)
      i += 1
    }
    z
  }

  val functionName = "zorder_key"

  private val usage = "zorder_key(a, b) - Interleaves the bits of two grid " +
    "cells a, b, each REQUIRED to be in [0, 65535] (pre-normalize raw values " +
    "onto the 65k grid first); raises on out-of-range input."

  private def builder(children: Seq[Expression]): Expression = {
    require(children.size == 2, s"$functionName expects (a, b)")
    ZOrderKey(Cast(children(0), LongType), Cast(children(1), LongType))
  }

  private def info = new ExpressionInfo(
    classOf[ZOrderKey].getName, null, functionName, usage, "")

  /** Register on an existing session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier(functionName), info, builder(_))

  /** For `spark.sql.extensions`-based deployment. */
  def inject(ext: SparkSessionExtensions): Unit =
    ext.injectFunction((FunctionIdentifier(functionName), info, builder))

  /** The Z-order clustering transform behind
    * `DeltaLog.optimize(..., zorderBy)` for 2 to 4 columns: cluster by
    * the Morton key so min/max skipping works on EVERY clustered column
    * — a lexicographic sort only localizes the leading one. One min/max
    * aggregate over just the cluster columns (one tiny job) normalizes
    * each onto a grid of `bitsPer` bits; the keyed repartition is the
    * same shuffle any OPTIMIZE pays.
    *
    * Two columns use the codegen'd [[ZOrderKey]] expression over the
    * 65k grid [[interleave]] requires. Three or four build the key from
    * plain column bit arithmetic — shift/and/or stay inside whole-stage
    * codegen — interleaving `bitsPer` bits per dimension round-robin,
    * leftmost column highest-order on ties (the same bit order as
    * [[interleave]]): 16 bits each for n=3 (48-bit key), 15 for n=4
    * (60-bit), both far finer than file granularity. */
  def zOrderFrame(df: DataFrame, numFiles: Int, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.size <= 4,
      s"zOrderFrame handles 2-4 columns, got ${cols.mkString(",")}")
    val n = cols.size
    val bitsPer = if (n == 4) 15 else 16
    val cells = (1L << bitsPer).toDouble
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    require((0 until 2 * n).forall(!r.isNullAt(_)),
      s"zOrderFrame: no non-null values in ${cols.mkString(",")} " +
        "(empty dataset or all-null column)")
    def grid(i: Int): Column = {
      val (lo, hi) = (r.getDouble(2 * i), r.getDouble(2 * i + 1))
      if (hi == lo) lit(0L)
      else least(
        floor((col(cols(i)).cast("double") - lit(lo)) / (hi - lo) * cells),
        lit(cells - 1)).cast("long")
    }
    val key =
      if (n == 2) {
        register(df.sparkSession)
        call_function(functionName, grid(0), grid(1))
      } else (0 until n).flatMap { i =>
        val g = grid(i)
        (0 until bitsPer).map(b =>
          shiftleft(shiftright(g, b).bitwiseAND(lit(1L)), b * n + (n - 1 - i)))
      }.reduce(_ bitwiseOR _)
    df.withColumn("__zkey", key)
      .repartitionByRange(numFiles, col("__zkey"))
      .sortWithinPartitions(col("__zkey"))
      .drop("__zkey")
  }
}
