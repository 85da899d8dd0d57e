package graft.expr

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: fixed-stride dot product of two numeric
  * arrays in double precision, left-to-right accumulation — bit-identical to
  * the unrolled `(0 until Dim).map(x(i)*y(i)).reduce(_ + _)` expression tree
  * (left-associated) and to the mapPartitions kernels' sequential loops.
  * Built only through [[Native.dot]].
  *
  * Why an Expression class and not a [[Native]] static call: the generated
  * loop is specialized on each side's element type (float or double) and
  * emits the per-element null check only when the type admits null
  * elements, which one static method over `ArrayData` cannot do. The
  * unrolled-tree form generates O(Dim) Java statements PER USE — three dots
  * in one cosine = 192 inlined multiply-adds, and stacking per-centroid
  * copies of it is exactly what blew Janino's 64 KB method cap in round 1.
  * This expression generates ONE loop regardless of Dim, participates fully
  * in whole-stage codegen (CodegenGuardSpec runs it under
  * spark.sql.codegen.fallback=false), and keeps nulls/empty semantics
  * explicit. A Scala UDF would box every element and break codegen at each
  * call site.
  *
  * Shorter arrays bound the loop (min length); both float and double element
  * types are accepted, promoted to double like the `.cast("double")` tree.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects array<float|double> args, got ${left.dataType} / ${right.dataType}")

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  private def elemIsFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private def elemNullable(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].containsNull

  /** Null semantics: a null ELEMENT inside the scanned range nulls the whole
    * dot (like the unrolled getItem tree this expression replaced — null * x
    * propagates). Parquet arrays routinely arrive with containsNull=true even
    * when no element is null, so rejecting the type would break every scan;
    * the per-element check is emitted only when the type says it's needed.
    */
  override def nullable: Boolean =
    super.nullable || elemNullable(left) || elemNullable(right)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = left.eval(input)
    if (l == null) return null
    val r = right.eval(input)
    if (r == null) return null
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    val lf = elemIsFloat(left)
    val rf = elemIsFloat(right)
    val checkNulls = elemNullable(left) || elemNullable(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (a.isNullAt(i) || b.isNullAt(i))) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val getA = if (elemIsFloat(left)) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
      val getB = if (elemIsFloat(right)) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
      // element-null check only when the type admits element nulls, so the
      // hot loop over non-null arrays stays branch-free
      val nullCheck =
        if (elemNullable(left) || elemNullable(right))
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  ${ev.value} += $getA * $getB;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
