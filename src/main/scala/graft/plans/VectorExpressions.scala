package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types._

/** Native Catalyst expression for embedding math (the custom-`Expression`
  * extension tier): dot product over two numeric-array columns (each side
  * independently `array<float>` or `array<double>`) computed as a tight
  * primitive loop on `ArrayData` — no per-element boxing, no higher-order-
  * function interpretation, generated into whole-stage codegen via
  * `doGenCode`. The double side exists for the exact-integer centroid
  * tables of `Similarity.ivfTopKExact` (integer sums exceed float's 2^24
  * exactness envelope on large clusters).
  *
  * Accumulation is sequential in array order (double), so results are
  * bit-identical to the left-fold/static-unroll forms in
  * `operators.Similarity` and to a SQL engine's ordered list_dot_product —
  * the property the DuckDB oracle compare relies on.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(FloatType, _)  => Some(FloatType)
    case ArrayType(DoubleType, _) => Some(DoubleType)
    case _ => None
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (Seq(left, right).forall(elemType(_).isDefined))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float|double> arguments, got ${left.dataType} / ${right.dataType}")
  }

  /** A foldable-literal side pre-widened ONCE to a primitive double[].
    * A literal array evaluates to GenericArrayData (boxed element storage):
    * indexing it per element in the hot loop measured ~5x slower than
    * primitive access (64 literal dots over 2000 rows: 0.70 s vs 0.16 s
    * column-vs-column). float→double widening is exact, so the accumulated
    * arithmetic is bit-identical to reading the literal per element. */
  @transient private lazy val leftLit: Option[Array[Double]] = litDoubles(left)
  @transient private lazy val rightLit: Option[Array[Double]] = litDoubles(right)
  private def litDoubles(e: Expression): Option[Array[Double]] = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(a: ArrayData, ArrayType(FloatType, _)) =>
      Some(a.toFloatArray().map(_.toDouble))
    case org.apache.spark.sql.catalyst.expressions.Literal(a: ArrayData, ArrayType(DoubleType, _)) =>
      Some(a.toDoubleArray())
    case _ => None
  }

  @transient private lazy val leftIsFloat = elemType(left).contains(FloatType)
  @transient private lazy val rightIsFloat = elemType(right).contains(FloatType)

  override def nullSafeEval(a: Any, b: Any): Any = (leftLit, rightLit) match {
    case (None, Some(y)) => dotLit(a.asInstanceOf[ArrayData], leftIsFloat, y)
    case (Some(x), None) => dotLit(b.asInstanceOf[ArrayData], rightIsFloat, x)
    case _ =>
      val x = a.asInstanceOf[ArrayData]
      val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      val lf = leftIsFloat
      val rf = rightIsFloat
      var acc = 0.0
      var i = 0
      while (i < n) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        acc += xv * yv
        i += 1
      }
      acc
  }

  private def dotLit(x: ArrayData, xIsFloat: Boolean, y: Array[Double]): Double = {
    val n = math.min(x.numElements(), y.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += (if (xIsFloat) x.getFloat(i).toDouble else x.getDouble(i)) * y(i)
      i += 1
    }
    acc
  }

  private def genGet(e: Expression, arr: String, i: String): String =
    if (elemType(e).contains(FloatType)) s"(double) $arr.getFloat($i)"
    else s"$arr.getDouble($i)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      // literal side → primitive double[] reference (see leftLit note);
      // the evaluated literal variable is ignored on purpose
      (leftLit, rightLit) match {
        case (None, Some(y)) =>
          val ref = ctx.addReferenceObj("litvec", y, "double[]")
          s"""
             |int $n = java.lang.Math.min($a.numElements(), $ref.length);
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $acc += ${genGet(left, a, i)} * $ref[$i];
             |}
             |${ev.value} = $acc;
           """.stripMargin
        case (Some(x), None) =>
          val ref = ctx.addReferenceObj("litvec", x, "double[]")
          s"""
             |int $n = java.lang.Math.min($ref.length, $b.numElements());
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $acc += $ref[$i] * ${genGet(right, b, i)};
             |}
             |${ev.value} = $acc;
           """.stripMargin
        case _ =>
          s"""
             |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
             |double $acc = 0.0;
             |for (int $i = 0; $i < $n; $i++) {
             |  $acc += ${genGet(left, a, i)} * ${genGet(right, b, i)};
             |}
             |${ev.value} = $acc;
           """.stripMargin
      }
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** All `numTables` random-hyperplane signatures of one vector in ONE
  * codegen'd expression — the multi-table LSH signature stage
  * (`Similarity.MultiTableLsh.sigs`) as a single node instead of
  * numTables CASE trees of numPlanes literal-array dots.
  *
  * Why a dedicated expression (measured on the 2000-row sf0.1 corpus):
  *  - the literal-tree form evaluated 64 `vectordot(vec, [64-double
  *    literal])` per row through boxed GenericArrayData element access —
  *    ~1.5-2 s per corpus signature pass; the flat primitive `planes`
  *    array here runs the same arithmetic in ~tens of ms;
  *  - the 16 CASE trees carried 64 inline 64-double literals, and
  *    InferFiltersFromGenerate's `size(sigs) > 0` filter DUPLICATED the
  *    whole tree into the parquet scan's data filters — every row paid
  *    the signature pass twice; one opaque node keeps the plan small and
  *    the duplicate cheap;
  *  - every analyzer/optimizer pass over plans carrying the signature
  *    stage (the per-fold CC loop re-plans them constantly) walked the
  *    ~4k-node literal tree; this node is O(1).
  *
  * Bit-exactness contract (the oracle replays signatures in SQL): per
  * table t and plane p, acc = Σ_i vec[i] * planes[(t*numPlanes+p)*dim+i]
  * accumulated left-to-right in double — the identical IEEE sequence the
  * `vec_dot(vec, typedLit(plane))` form ran (float→double widening is
  * exact); bit p of table t's signature is set iff acc >= 0, matching
  * `when(dot >= 0, 1L << p)` + bitwiseOR. Error contract preserved from
  * `rpSignature`: a null vector or a length != dim raises with the same
  * message (as a RuntimeException rather than raise_error's
  * USER_RAISED_EXCEPTION — only malformed corpora ever see it). */
case class RpSignatures(child: Expression, planes: Array[Double],
                        numTables: Int, numPlanes: Int, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  require(planes.length == numTables * numPlanes * dim,
    s"RpSignatures: ${planes.length} plane weights != $numTables*$numPlanes*$dim")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  @transient private lazy val childIsFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"rp_signatures expects array<float|double>, got $other")
    }

  private def nullMsg =
    s"rpSignature: null vector (expected $dim-dim array)"
  private def lenMsg(n: Int) =
    s"rpSignature: expected a $dim-dim vector, got length $n"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) throw new RuntimeException(nullMsg)
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != dim) throw new RuntimeException(lenMsg(arr.numElements()))
    val out = new Array[Long](numTables)
    val isFloat = childIsFloat
    var k = 0
    var t = 0
    while (t < numTables) {
      var sig = 0L
      var p = 0
      while (p < numPlanes) {
        var acc = 0.0
        var i = 0
        while (i < dim) {
          acc += (if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)) * planes(k)
          k += 1
          i += 1
        }
        if (acc >= 0.0) sig |= 1L << p
        p += 1
      }
      out(t) = sig
      t += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    val childGen = child.genCode(ctx)
    val arr = ctx.freshName("arr")
    val out = ctx.freshName("out")
    val sig = ctx.freshName("sig")
    val acc = ctx.freshName("acc")
    val k = ctx.freshName("k")
    val t = ctx.freshName("t")
    val p = ctx.freshName("p")
    val i = ctx.freshName("i")
    val getElem = if (childIsFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
    val code =
      code"""
        |${childGen.code}
        |if (${childGen.isNull}) {
        |  throw new RuntimeException("${nullMsg}");
        |}
        |org.apache.spark.sql.catalyst.util.ArrayData $arr = ${childGen.value};
        |if ($arr.numElements() != $dim) {
        |  throw new RuntimeException("rpSignature: expected a $dim-dim vector, got length " + $arr.numElements());
        |}
        |long[] $out = new long[$numTables];
        |int $k = 0;
        |for (int $t = 0; $t < $numTables; $t++) {
        |  long $sig = 0L;
        |  for (int $p = 0; $p < $numPlanes; $p++) {
        |    double $acc = 0.0;
        |    for (int $i = 0; $i < $dim; $i++) {
        |      $acc += $getElem * $ref[$k++];
        |    }
        |    if ($acc >= 0.0) $sig |= 1L << $p;
        |  }
        |  $out[$t] = $sig;
        |}
        |final org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  org.apache.spark.sql.catalyst.util.ArrayData.toArrayData($out);
      """.stripMargin
    ev.copy(code = code,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {
  /** Column-level API: dot product of two float-array columns. */
  def vec_dot(a: Column, b: Column): Column =
    Shim.column(VectorDot(Shim.expression(a), Shim.expression(b)))

  /** All multi-table LSH signatures of `vec` as one array<long> column —
    * `planes` is the flat per-table/per-plane layout
    * (table-major: plane (t, p) occupies [(t*numPlanes+p)*dim, +dim)),
    * exactly [[graft.operators.Similarity.randomPlanes]](numTables*numPlanes, dim)
    * flattened in order. See [[RpSignatures]] for the exactness contract. */
  def rp_signatures(vec: Column, planes: Seq[Array[Double]],
                    numTables: Int, numPlanes: Int, dim: Int): Column =
    Shim.column(RpSignatures(Shim.expression(vec),
      planes.flatten.toArray, numTables, numPlanes, dim))
}
