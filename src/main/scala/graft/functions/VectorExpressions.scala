package graft.functions

import org.apache.spark.sql.{Column, GraftSql}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.sqrt
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native codegen'd dot product over two `array<double>` columns.
  *
  * The embedding kernels (ANN top-k, cosine near-dup) are the engine's
  * numerically hot path: |pairs| × dim multiply-adds. Spark's lambda
  * higher-order functions (`aggregate`, `zip_with`) evaluate the lambda via
  * an interpreted `LambdaFunction` per element — correct, but a per-element
  * allocation-and-virtual-call tax that dominates these kernels. This
  * expression generates a tight primitive loop inside whole-stage codegen
  * instead (preference order: native Catalyst `Expression` with `doGenCode`
  * over any UDF).
  *
  * Semantics match the lambda formulation (`aggregate` over `zip_with`)
  * exactly: left-to-right summation over doubles, and NULL — not a
  * silently truncated partial sum — when the arrays differ in length or an
  * element is NULL. A truncated/null-padded embedding is a data problem
  * that must surface as NULL, never as a plausible-looking score. The
  * per-element null branch is emitted only when the input array type says
  * `containsNull` — the hot path (non-null embeddings) stays branch-free.
  */
case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType

  // NULL on length mismatch even for non-nullable children
  override def nullable: Boolean = true

  override def prettyName: String = "vec_dot"

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs two array<double> args, got ${left.dataType} / ${right.dataType}")
  }

  private def elemsNullable: Boolean = Seq(left, right).exists {
    _.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    }
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (elemsNullable && (x.isNullAt(i) || y.isNullAt(i))) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val elemCheck =
        if (elemsNullable)
          s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
        else ""
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $elemCheck
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {

  /** Σ a[i]·b[i] as a codegen'd column. Arguments must be `array<double>`
    * (cast `array<float>` embeddings first — the cast is codegen'd too). */
  def vecDot(a: Column, b: Column): Column =
    GraftSql.column(DotProduct(GraftSql.expression(a), GraftSql.expression(b)))

  /** L2 norm via the same kernel. */
  def vecNorm(a: Column): Column = sqrt(vecDot(a, a))

  /** Codegen'd Bloom-sketch membership probe over a Long column: Spark's own
    * [[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]]
    * (the expression InjectRuntimeFilter plants for runtime row-level
    * filtering), reached through the GraftSql shim. The serialized sketch is
    * a foldable binary literal — deserialized once per task, probed inside
    * whole-stage codegen; no per-row Scala UDF, no broadcast variable to
    * leak. `value` must be a BIGINT column (e.g. `xxhash64(...)`). */
  def bloomMightContain(sketchBytes: Array[Byte], value: Column): Column =
    GraftSql.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          sketchBytes, org.apache.spark.sql.types.BinaryType),
        GraftSql.expression(value)))

  /** Arity-checked SQL builder — a wrong argument count is an analysis
    * error naming the function, not an IndexOutOfBoundsException. */
  def dotBuilder(children: Seq[Expression]): Expression = {
    if (children.length != 2)
      GraftSql.analysisError(
        s"vec_dot requires exactly 2 arguments, got ${children.length}")
    DotProduct(children.head, children(1))
  }
}
