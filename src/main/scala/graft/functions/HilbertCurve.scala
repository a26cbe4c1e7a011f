package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{DataType, LongType}

/** Hilbert space-filling-curve keys for multi-dimensional data layout.
  *
  * The Z-order key (`Validation.morton`, q133) is the cheap
  * bit-interleave; the Hilbert curve is the strictly-better-locality
  * variant (every consecutive pair of curve positions is an ADJACENT
  * cell — no Z-shape jumps), which is why large table formats offer it
  * as the premium clustering key for multi-column predicates. The cost
  * is a per-point bit walk with a rotation state machine instead of a
  * plain interleave; both are O(order) integer ops, executed here
  * inside whole-stage codegen.
  *
  * Algorithm: the standard rotate-and-accumulate walk over the square
  * of side 2^order (public domain; the form below is the `xy2d` half
  * of the widely published C `xy2d`/`d2xy` pair, e.g. Hamilton's tech
  * report CS-2006-07 and the Wikipedia "Hilbert curve" article). At each
  * scale s = 2^(order-1)..1 the quadrant index (3·rx)⊕ry contributes
  * s²·quadrant to the distance, then the frame is flipped/transposed
  * so the child quadrant sees canonical orientation.
  */
object HilbertCurve {

  /** Curve distance of cell (x, y) on the 2^order × 2^order grid.
    * Inputs outside [0, 2^order) are masked into range (callers
    * bucket/clamp first; masking keeps the kernel total). */
  def xy2d(order: Int, x0: Long, y0: Long): Long = {
    val mask = (1L << order) - 1
    var x = x0 & mask
    var y = y0 & mask
    var d = 0L
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      // rotate the sub-square so the child quadrant is canonical
      if (ry == 0) {
        if (rx == 1) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Column form: `hilbert(x, y, order)` over long columns. */
  def hilbert(x: Column, y: Column, order: Int): Column =
    shims.column(HilbertIndex(
      shims.expression(x.cast("long")),
      shims.expression(y.cast("long")),
      order))

  /** DuckDB mirror of [[xy2d]] as a chain of `order` unrolled CTE
    * steps (`h0`..`h<order>`), generated mechanically so oracle SQL
    * stays in lockstep with the kernel. `from` must provide columns
    * `x0`/`y0` (already in [0, 2^order)) plus `keyCols`; the final
    * step exposes `d<order>` as the curve distance. Each step reads
    * only the previous step's suffixed columns — no same-SELECT alias
    * references, so DuckDB's lateral-alias resolution can't bite.
    */
  def oracleCtes(order: Int, from: String, keyCols: Seq[String]): String = {
    val keys = keyCols.mkString(", ")
    val steps = (0 until order).map { i =>
      val s = 1L << (order - 1 - i)
      val rx = s"(CASE WHEN (x$i & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (y$i & $s) > 0 THEN 1 ELSE 0 END)"
      val n = i + 1
      s"""h$n AS (
        SELECT $keys,
          d$i + ${s * s} * xor(3 * $rx, $ry) AS d$n,
          CASE WHEN $ry = 0
            THEN (CASE WHEN $rx = 1 THEN ${s - 1} - y$i ELSE y$i END)
            ELSE x$i END AS x$n,
          CASE WHEN $ry = 0
            THEN (CASE WHEN $rx = 1 THEN ${s - 1} - x$i ELSE x$i END)
            ELSE y$i END AS y$n
        FROM h$i)"""
    }
    (s"h0 AS (SELECT $keys, x0, y0, CAST(0 AS BIGINT) AS d0 FROM $from)"
      +: steps).mkString(",\n        ")
  }
}

/** `hilbert_index(x, y)` as a codegen'd Catalyst expression: a direct
  * static call into [[HilbertCurve.xy2d]] inside whole-stage codegen —
  * no UDF boxing on the layout hot path (the key is computed once per
  * row of a full-table rewrite, exactly where codegen matters).
  */
case class HilbertIndex(left: Expression, right: Expression, order: Int)
    extends BinaryExpression {

  require(order >= 1 && order <= 31, s"order must be in [1,31], got $order")

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_index"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    HilbertCurve.xy2d(order, x.asInstanceOf[Long], y.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (x, y) => s"graft.functions.HilbertCurve.xy2d($order, $x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
