package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarities of a float vector against a literal matrix as one
  * expression.
  *
  * The LSH/IVF stages need `rows` dot products per input vector; as
  * `zip_with`+`aggregate` HOFs that is rows×dim interpreted lambda
  * steps with boxing. Here the matrix rides along as a plan literal and
  * the kernel is two tight loops over primitive arrays — same sequential
  * fold order as the HOF form, so results are identical. Each dot is
  * divided by ‖v‖·‖row‖ (row norms precomputed at plan build).
  */
case class FloatVecMatMul(
    child: Expression,
    matrix: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "float_vec_matmul"

  @transient private lazy val rowNorms: Array[Double] =
    matrix.map(r => math.sqrt(r.map(x => x * x).sum))

  /** The tight-loop kernel, called from both interpreted eval and
    * generated code (the matrix rides into the generated class as a
    * reference object). */
  def kernel(v: ArrayData): ArrayData = {
    val dim = math.min(v.numElements(), matrix(0).length)
    val out = new Array[Double](matrix.length)
    val vn = {
      var sq = 0.0
      var i = 0
      while (i < dim) { val x = v.getFloat(i).toDouble; sq += x * x; i += 1 }
      math.sqrt(sq)
    }
    var r = 0
    while (r < matrix.length) {
      val row = matrix(r)
      var acc = 0.0
      var i = 0
      while (i < dim) { acc += v.getFloat(i).toDouble * row(i); i += 1 }
      out(r) =
        if (vn > 0 && rowNorms(r) > 0) acc / (vn * rowNorms(r))
        else 0.0
      r += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("matmul", this,
      classOf[FloatVecMatMul].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All LSH table bucket keys for a vector in one pass: per table t the
  * key is t's bits of projection signs packed onto the table id —
  * value-identical to the Column-fold form in VectorFunctions (same
  * sequential dot order, same `>= 0` sign rule).
  */
case class HyperplaneLshBuckets(
    child: Expression,
    planes: Array[Array[Double]],
    tables: Int,
    bitsPerTable: Int,
    multiprobe: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def prettyName: String = "lsh_buckets"

  /** The bucket-key kernel, shared by eval and generated code. */
  def kernel(v: ArrayData): ArrayData = {
    val perTable = if (multiprobe) 1 + bitsPerTable else 1
    val out = new Array[Long](tables * perTable)
    var t = 0
    while (t < tables) {
      var acc = t.toLong
      var b = 0
      while (b < bitsPerTable) {
        val row = planes(t * bitsPerTable + b)
        val dim = math.min(v.numElements(), row.length)
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += v.getFloat(i).toDouble * row(i); i += 1 }
        acc = (acc << 1) | (if (dot >= 0) 1L else 0L)
        b += 1
      }
      out(t * perTable) = acc
      if (multiprobe) {
        // probe-side expansion: the classic multiprobe trick — also
        // visit the buckets at Hamming distance 1 in sign space (bit b
        // of the key corresponds to plane bitsPerTable-1-b, but which
        // plane doesn't matter: flipping each low bit enumerates all
        // 1-bit neighbors). The table prefix in the high bits is
        // untouched.
        var f = 0
        while (f < bitsPerTable) {
          out(t * perTable + 1 + f) = acc ^ (1L << f)
          f += 1
        }
      }
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(input: Any): Any =
    kernel(input.asInstanceOf[ArrayData])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val self = ctx.addReferenceObj("lsh", this,
      classOf[HyperplaneLshBuckets].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $self.kernel($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Pairwise cosine similarity of two vector columns as one primitive-
  * loop expression — value-identical to the `zip_with`+`aggregate` HOF
  * form in SimilaritySpec (same sequential fold:
  * dot = ((0+x0y0)+x1y1)+…, result = dot / (sqrt(aa)·sqrt(bb)), NULL
  * when either norm is 0), without rows×dim interpreted lambda steps.
  * This is the verify-stage kernel of the candidate-pair pipelines
  * (q24/q26/q78), where millions of candidate cosines dominate —
  * so it code-generates the loop inline (doGenCode), keeping the whole
  * verify stage inside WholeStageCodegen with zero per-row virtual
  * calls; the interpreted nullSafeEval path is the bit-identical
  * reference the equivalence tests pin.
  */
case class FloatVecCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "float_vec_cosine"

  // Reject non-float/double element types at analysis time: elem()
  // reads via getFloat/getDouble only, so an array<int>/array<decimal>
  // input (which the HOF form would cast) must not reach execution.
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float> or array<double> arguments, " +
          s"got ${left.dataType.catalogString} and " +
          s"${right.dataType.catalogString}")
  }

  @transient private lazy val leftIsFloat =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    // HOF parity: zip_with pads unequal lengths with nulls, which
    // poison the aggregate folds → NULL (mismatched dims are a bug
    // upstream; surfacing NULL matches the reference form exactly)
    if (a.numElements() != b.numElements()) return null
    val dim = a.numElements()
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < dim) {
      // HOF parity: a null element poisons the aggregate folds → NULL
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = elem(a, i, leftIsFloat)
      val y = elem(b, i, rightIsFloat)
      d += x * y; na += x * x; nb += y * y
      i += 1
    }
    val n = math.sqrt(na) * math.sqrt(nb)
    if (n > 0) d / n else null
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val dim = ctx.freshName("dim")
      val i = ctx.freshName("i")
      val d = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      val nrm = ctx.freshName("nrm")
      val bad = ctx.freshName("anyNull")
      val getX =
        if (leftIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getY =
        if (rightIsFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      // same fold order and NULL semantics as nullSafeEval, loop inlined
      s"""
        if ($a.numElements() != $b.numElements()) {
          ${ev.isNull} = true;
        } else {
          int $dim = $a.numElements();
          double $d = 0.0; double $na = 0.0; double $nb = 0.0;
          boolean $bad = false;
          for (int $i = 0; $i < $dim; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
            double $x = $getX;
            double $y = $getY;
            $d += $x * $y; $na += $x * $x; $nb += $y * $y;
          }
          double $nrm = java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb);
          if ($bad || !($nrm > 0.0)) {
            ${ev.isNull} = true;
          } else {
            ${ev.value} = $d / $nrm;
          }
        }
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {

  def lshBuckets(v: Column, planes: Array[Array[Double]],
      tables: Int, bitsPerTable: Int): Column =
    shims.column(HyperplaneLshBuckets(
      shims.expression(v), planes, tables, bitsPerTable))

  /** Probe-side bucket set including all Hamming-distance-1 neighbors
    * (multiprobe LSH) — raises recall without touching the corpus-side
    * index.
    */
  def lshProbeBuckets(v: Column, planes: Array[Array[Double]],
      tables: Int, bitsPerTable: Int): Column =
    shims.column(HyperplaneLshBuckets(
      shims.expression(v), planes, tables, bitsPerTable, multiprobe = true))

  /** Cosine similarities of a float-array column against literal rows
    * (rows given as float vectors, e.g. sampled centroids).
    */
  def cosineTo(v: Column, rows: Array[Array[Float]]): Column =
    shims.column(FloatVecMatMul(
      shims.expression(v), rows.map(_.map(_.toDouble))))
}
