package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector-math hot path.
  *
  * Spark's higher-order functions (`zip_with` + `aggregate`) evaluate an
  * interpreted lambda per element and allocate an intermediate array per
  * row — measured 5-20× slower than a fused loop on 64-dim embeddings.
  * [[DotProductExpr]] participates in whole-stage codegen (`doGenCode`
  * emits a primitive double loop), keeping similarity scans inside one
  * codegen stage. Accumulation is sequential in element order, exactly
  * like the HOF formulation and DuckDB's `list_dot_product`, so oracle
  * results are bit-identical.
  *
  * [[MatrixScoresExpr]] scores one vector against every row of a fixed
  * matrix (the quantizer steps: IVF cell routing, k-means assignment, PQ
  * encoding and ADC lookup tables). Its generated code is one call into
  * a compiled loop over a referenced [[ScoreMatrix]], so the code Spark
  * generates and Janino compiles stays the same size at any nlist, m or
  * ksub. One [[DotProductExpr]] over a literal row per centroid made
  * the ingest's probe stage a 21 KB method at nlist 8, m 8, ksub 16 —
  * over HotSpot's 8,000-byte limit, so it never left the interpreter —
  * and recompiled for every new set of centroids.
  *
  * This is the §2.b "custom Catalyst Expression" extension tier (SURVEY
  * §7.3 revised: one native expression where the measured HOF cost
  * justified it).
  */
case class DotProductExpr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product expects array<float|double> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val lFloat = elemType(left).contains(FloatType)
    val rFloat = elemType(right).contains(FloatType)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val xi = if (lFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rFloat) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xi * yi
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      // freshName, not fixed locals: two DotProductExprs in one codegen
      // function (any cosine = dot/(|a||b|) projection) would otherwise
      // redefine `i`/`n`/`acc`, fail janino compilation, and silently
      // drop the whole stage to interpreted mode.
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      val getL = if (elemType(left).contains(FloatType))
        s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getR = if (elemType(right).contains(FloatType))
        s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $getL * $getR;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact INTEGER dot product over `array<tinyint>` (int8-quantized
  * vectors), returning BIGINT — the scoring kernel of the graph-ANN tier.
  * Byte arrays are ~6× smaller than double arrays through a shuffle
  * (UnsafeArrayData: 1 byte/element vs 8), which is what keeps the
  * NN-Descent candidate joins' exchanges bounded when the codes table
  * outgrows a broadcast; the integer accumulator is exact by
  * construction (|dot| ≤ dim·127² — no rounding anywhere). */
case class DotProductI8Expr(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = LongType

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(ByteType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"dot_product_i8 expects array<tinyint> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += x.getByte(i).toLong * y.getByte(i).toLong
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val i = ctx.freshName("i")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (long) $a.getByte($i) * (long) $b.getByte($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** A fixed k×d matrix of doubles that [[MatrixScoresExpr]] scores
  * vectors against, with each row's squared norm `|c|²` computed once.
  * Equality and hash are by content, as for a `Literal`: the plan cache
  * (`sameResult`) and semantic equality see two plans over equal
  * matrices as equal. */
final class ScoreMatrix(val rows: Array[Array[Double]]) extends Serializable {

  /** `|c|²` per row, summed in element order (the old literal's value). */
  private val norms: Array[Double] = rows.map(c => c.map(x => x * x).sum)

  /** Per row c: `|c|² − 2·v·c` when `l2`, else `v·c`. The dot product
    * accumulates in element order over `min(|v|, |c|)` elements, exactly
    * as [[DotProductExpr]] does, so every score is bit-identical to
    * `lit(|c|²) − lit(2.0) · dot(v, typedLit(c))` (or `dot(v, typedLit(c))`). */
  def scores(v: ArrayData, vFloat: Boolean, l2: Boolean): ArrayData = {
    val x = new Array[Double](v.numElements())
    var i = 0
    while (i < x.length) {
      x(i) = if (vFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val out = new Array[Double](rows.length)
    var r = 0
    while (r < rows.length) {
      val c = rows(r)
      val n = math.min(x.length, c.length)
      var acc = 0.0
      i = 0
      while (i < n) {
        acc += x(i) * c(i)
        i += 1
      }
      out(r) = if (l2) norms(r) - 2.0 * acc else acc
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def equals(o: Any): Boolean = o match {
    case m: ScoreMatrix => java.util.Arrays.deepEquals(
      rows.asInstanceOf[Array[AnyRef]], m.rows.asInstanceOf[Array[AnyRef]])
    case _ => false
  }

  override def hashCode: Int =
    java.util.Arrays.deepHashCode(rows.asInstanceOf[Array[AnyRef]])

  override def toString: String =
    s"matrix[${rows.length}x${rows.headOption.fold(0)(_.length)}]"
}

/** Scores of `child` (array<float|double>) against every row of
  * `matrix`, as an array<double> in row order: `|c|² − 2·v·c` when `l2`
  * (monotone in `|v − c|²`, the quantizers' argmin key), else `v·c`.
  * The matrix rides the task as one reference object; the generated
  * code is a single call into [[ScoreMatrix.scores]], which
  * `nullSafeEval` also runs. Null vectors give null. */
case class MatrixScoresExpr(child: Expression, matrix: ScoreMatrix, l2: Boolean)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  private def vFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"matrix scores expect an array<float|double> input, got ${t.sql}")
  }

  override def nullSafeEval(v: Any): Any =
    matrix.scores(v.asInstanceOf[ArrayData], vFloat, l2)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("matrix", matrix)
    defineCodeGen(ctx, ev, v => s"$m.scores($v, $vFloat, $l2)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  import org.apache.spark.sql.graftshim.GraftColumn

  /** Column-level dot product over array<float|double>. */
  def dotProduct(a: Column, b: Column): Column =
    GraftColumn.column(
      DotProductExpr(GraftColumn.expression(a), GraftColumn.expression(b)))

  /** Per-row `|c|² − 2·v·c` for every row c of `matrix`, in row order:
    * the squared-distance surrogate the quantizers take the argmin of. */
  def l2Scores(v: Column, matrix: Array[Array[Double]]): Column =
    GraftColumn.column(MatrixScoresExpr(
      GraftColumn.expression(v), new ScoreMatrix(matrix), l2 = true))

  /** Per-row `v·c` for every row c of `matrix`, in row order. */
  def dotScores(v: Column, matrix: Array[Array[Double]]): Column =
    GraftColumn.column(MatrixScoresExpr(
      GraftColumn.expression(v), new ScoreMatrix(matrix), l2 = false))

  /** Column-level exact integer dot product over array<tinyint>. */
  def dotProductI8(a: Column, b: Column): Column =
    GraftColumn.column(
      DotProductI8Expr(GraftColumn.expression(a), GraftColumn.expression(b)))
}
