package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StructField, StructType}

/** Native Catalyst dot product over two double arrays (SURVEY E2).
  *
  * The hot path of every embedding operator (C5-C7) is a dot product
  * per candidate pair. The declarative form —
  * `aggregate(zip_with(a, b, (x,y) => x*y), 0.0, (acc,v) => acc+v)` —
  * is a higher-order function, which Catalyst evaluates interpreted
  * (CodegenFallback) and which allocates an intermediate array per
  * row. This expression generates a tight Java loop inside
  * whole-stage codegen instead: no allocation, no virtual calls.
  *
  * Semantics match the HOF form exactly (same left-to-right double
  * accumulation, so DuckDB-oracle results are unchanged): null input
  * or length mismatch → null; elements must be non-null doubles
  * (cast float arrays with `.cast("array<double>")` — the Column
  * helpers below do).
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs are array<double> by construction (the Column helpers cast)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  // a LENGTH MISMATCH yields null even when both children are
  // non-nullable — without this override the generated
  // `isNull = true` would assign to a constant `false` under
  // whole-stage codegen (a Java compile error → interpreted fallback)
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      s
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Native best-match state for `BestCosineMatch` (SURVEY C50): the
  * eval-side matrix compiled once per plan to flat primitive arrays,
  * shipped to executors as one codegen reference object. */
object VectorNative {

  /** Row matrix + per-row L2 norms (rows are NON-zero-norm by caller
    * contract — Contamination.semanticMatches filters them). */
  final class CompiledMatrix(rows: Seq[Seq[Double]], norms: Seq[Double])
      extends Serializable {
    val mat: Array[Array[Double]] = rows.map(_.toArray).toArray
    val nrm: Array[Double] = norms.toArray
    val dim: Int = if (mat.isEmpty) 0 else mat(0).length
  }

  /** struct(idx, cosine): the input vector's best eval match — max
    * ROUNDED cosine, first matrix row (= smallest eval id, rows are
    * id-ordered) on rounded ties. One tight loop: E dots + E divides
    * primitive, ONE BigDecimal round for the max, and per-element
    * rounds only on the few near-max candidates (within 1.1e-6 — a
    * raw value that rounds to the max rounded cosine is necessarily
    * that close). NULL on dim mismatch, zero-norm input, or an empty
    * matrix. Monotonicity of round makes round(max raw) = max
    * rounded, so the scan never rounds the rest. */
  def bestCosine(v: ArrayData, m: CompiledMatrix): InternalRow = {
    val e = m.mat.length
    if (e == 0 || v.numElements() != m.dim) return null
    val u = new Array[Double](m.dim)
    var i = 0
    while (i < m.dim) { u(i) = v.getDouble(i); i += 1 }
    var s = 0.0; i = 0
    while (i < m.dim) { s += u(i) * u(i); i += 1 }
    if (s == 0.0) return null
    val tn = math.sqrt(s)
    val raws = new Array[Double](e)
    var rmax = Double.NegativeInfinity
    i = 0
    while (i < e) {
      val row = m.mat(i)
      var d = 0.0; var j = 0
      while (j < m.dim) { d += u(j) * row(j); j += 1 }
      val raw = d / (tn * m.nrm(i))
      raws(i) = raw
      if (raw > rmax) rmax = raw
      i += 1
    }
    val cosine = KernelBytes.round6(rmax)
    var idx = -1; i = 0
    while (idx < 0 && i < e) {
      if (raws(i) >= rmax - 1.1e-6 && KernelBytes.round6(raws(i)) == cosine) idx = i
      i += 1
    }
    new GenericInternalRow(Array[Any](idx, cosine))
  }
}

/** `struct<idx:int, cosine:double>`: best rounded-cosine match of a
  * vector against a plan-constant row matrix — C50's kernel. A
  * declarative zip_with/array_max form evaluates interpreted (HOFs
  * are CodegenFallback) and gets re-inlined per reference by the
  * optimizer (no CSE) — measured minutes instead of seconds at 100×
  * scale; this is the same cure as the PQ expressions above. */
case class BestCosineMatch(child: Expression, rows: Seq[Seq[Double]],
                           rowNorms: Seq[Double]) extends UnaryExpression {
  override def dataType: DataType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("cosine", DoubleType, nullable = false)))
  override def nullable: Boolean = true // dim mismatch / zero norm → null
  override def prettyName: String = "graft_best_cosine"
  @transient private lazy val compiled = new VectorNative.CompiledMatrix(rows, rowNorms)
  override def nullSafeEval(a: Any): Any =
    VectorNative.bestCosine(a.asInstanceOf[ArrayData], compiled)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val m = ctx.addReferenceObj("cosMatrix", compiled,
        classOf[VectorNative.CompiledMatrix].getName)
      s"""
         |${ev.value} = graft.plans.VectorNative.bestCosine($v, $m);
         |if (${ev.value} == null) { ${ev.isNull} = true; }
       """.stripMargin
    })
  override protected def withNewChildInternal(newChild: Expression): BestCosineMatch =
    copy(child = newChild)
}

/** Column-level entry points for the native vector expressions. */
object VectorExpressions {

  private def toDouble(a: Column): Column = a.cast("array<double>")

  /** Codegen'd dot product; accepts float or double arrays. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(ArrayDotProduct(
      Bridge.expression(toDouble(a)),
      Bridge.expression(toDouble(b))))

  /** L2 norm via the native dot. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Best rounded-cosine match against a plan-constant matrix; see
    * `BestCosineMatch`. */
  def bestCosineMatch(vec: Column, rows: Seq[Seq[Double]],
                      rowNorms: Seq[Double]): Column =
    Bridge.column(BestCosineMatch(Bridge.expression(toDouble(vec)), rows, rowNorms))
}
