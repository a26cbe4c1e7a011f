package graft

import org.apache.spark.sql.functions._

import graft.functions.HilbertCurve
import HilbertSpec.d2xy

/** Hilbert curve kernel correctness by its defining invariants (which
  * no wrong rotation/flip can satisfy simultaneously) plus the small
  * published goldens, and the codegen Expression path end-to-end.
  */
class HilbertSpec extends SparkTestBase {

  test("order-1 golden quadrant order (U shape)") {
    // the canonical first-order curve: (0,0) → (0,1) → (1,1) → (1,0)
    assert(HilbertCurve.xy2d(1, 0, 0) === 0L)
    assert(HilbertCurve.xy2d(1, 0, 1) === 1L)
    assert(HilbertCurve.xy2d(1, 1, 1) === 2L)
    assert(HilbertCurve.xy2d(1, 1, 0) === 3L)
  }

  test("bijection: d2xy inverts xy2d on the full order-5 grid") {
    val n = 1L << 5
    val ds = for (x <- 0L until n; y <- 0L until n)
      yield HilbertCurve.xy2d(5, x, y)
    assert(ds.toSet.size === (n * n).toInt, "xy2d must be injective")
    assert(ds.min === 0L && ds.max === n * n - 1)
    for (x <- 0L until n; y <- 0L until n) {
      val d = HilbertCurve.xy2d(5, x, y)
      assert(d2xy(5, d) === ((x, y)))
    }
  }

  test("locality: consecutive curve positions are adjacent cells") {
    val n = 1L << 6
    var prev = d2xy(6, 0)
    for (d <- 1L until n * n) {
      val cur = d2xy(6, d)
      val manhattan =
        math.abs(cur._1 - prev._1) + math.abs(cur._2 - prev._2)
      assert(manhattan === 1L,
        s"step $d: ${prev} -> ${cur} is not an adjacent cell")
      prev = cur
    }
  }

  test("hierarchy: order-k curve refines the order-(k-1) quadrants") {
    // dropping the last two base-4 digits of d at order k gives d at
    // order k-1 of the parent cell (x>>1, y>>1)
    for (order <- Seq(3, 7); x <- 0L until 16L; y <- 0L until 16L) {
      val fine = HilbertCurve.xy2d(order, x, y)
      val coarse = HilbertCurve.xy2d(order - 1, x >> 1, y >> 1)
      assert(fine / 4 === coarse)
    }
  }

  test("out-of-range inputs are masked, not wrapped into other cells") {
    assert(HilbertCurve.xy2d(4, 16 + 3, 32 + 5) ===
      HilbertCurve.xy2d(4, 3, 5))
  }

  test("Expression path: codegen result matches the kernel; SQL surface") {
    import spark.implicits._
    org.apache.spark.sql.graft.GraftExtensions.register(spark)
    val df = (0L until 512L).toDF("i")
      .select(col("i"), (col("i") % 16).as("x"),
        expr("(i div 16) % 32").as("y"))
      .withColumn("h", HilbertCurve.hilbert(col("x"), col("y"), 10))
      .withColumn("hsql", expr("graft_hilbert(x, y, 10)"))
    val rows = df.collect()
    rows.foreach { r =>
      val expected =
        HilbertCurve.xy2d(10, r.getAs[Long]("x"), r.getAs[Long]("y"))
      assert(r.getAs[Long]("h") === expected)
      assert(r.getAs[Long]("hsql") === expected)
    }
  }

  test("locality beats Z-order: fewer long jumps along the key") {
    // walk all cells of a 32x32 grid in key order; count steps whose
    // Manhattan distance exceeds 1. Hilbert: 0 by construction;
    // Z-order: hundreds (every Z jump). The metric that matters for
    // layout: contiguous key runs stay spatially tight.
    val n = 32
    def zIndex(x: Long, y: Long): Long = {
      var z = 0L
      for (b <- 0 until 5) {
        z |= ((x >> b) & 1L) << (2 * b)
        z |= ((y >> b) & 1L) << (2 * b + 1)
      }
      z
    }
    val cells = for (x <- 0L until n; y <- 0L until n) yield (x, y)
    def jumps(key: (Long, Long) => Long): Int =
      cells.sortBy { case (x, y) => key(x, y) }
        .sliding(2).count { case Seq((x1, y1), (x2, y2)) =>
          math.abs(x2 - x1) + math.abs(y2 - y1) > 1
        }
    val hJumps = jumps(HilbertCurve.xy2d(5, _, _))
    val zJumps = jumps(zIndex)
    assert(hJumps === 0)
    assert(zJumps > 100)
  }
}

object HilbertSpec {

  /** Inverse walk: curve distance → (x, y), the other half of the
    * published `xy2d`/`d2xy` pair. Witness that `HilbertCurve.xy2d` is
    * a bijection on the grid. */
  def d2xy(order: Int, d0: Long): (Long, Long) = {
    var x = 0L
    var y = 0L
    var t = d0
    var s = 1L
    while (s < (1L << order)) {
      val rx = 1L & (t / 2)
      val ry = 1L & (t ^ rx)
      if (ry == 0) {
        if (rx == 1) {
          x = s - 1 - x
          y = s - 1 - y
        }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx
      y += s * ry
      t /= 4
      s *= 2
    }
    (x, y)
  }
}
