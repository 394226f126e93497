package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{aggregate, call_function, lit, sqrt, zip_with}
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Native Catalyst expression for the dense-vector hot path (SURVEY.md
  * §4.3(b): a codegen'd `Expression` beats a Scala UDF beats anything
  * else).
  *
  * [[FloatDotProduct]] computes Σ aᵢ·bᵢ over two `array<float>` columns
  * in double precision, sequentially — deterministic accumulation order
  * (oracle-stable) and a tight primitive loop in generated code: no
  * boxing, no lambda-expression interpretation (unlike the equivalent
  * `aggregate(zip_with(...))`, which falls back to interpreted lambda
  * evaluation per element), and it stays inside whole-stage codegen.
  */
case class FloatDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  // NB ExpectsInputTypes is unavailable (AbstractDataType is
  // private[sql]) — validate manually: getFloat on a non-float array
  // would silently read garbage bytes. Exposed to arbitrary SQL via
  // GraftExtensions, so analysis-time rejection matters.
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"float_dot requires two array<float> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"float_dot: dimension mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "float_dot: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += (double)$a.getFloat($i) * (double)$b.getFloat($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDotProduct =
    copy(left = newLeft, right = newRight)
}

/** As [[FloatDotProduct]] but over `array<double>` children — used by
  * the dense-vector strategy of the sparse similarity join, where
  * TF-IDF weights are doubles.
  */
case class DoubleDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"double_dot requires two array<double> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "double_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"double_dot: dimension mismatch ($n vs ${b.numElements()})")
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "double_dot: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Scalar int8 quantization of an `array<float>` vector: each element
  * maps to round-half-away-from-zero(x·127/maxabs) ∈ [-127, 127], the
  * symmetric per-vector scheme ANN systems use to cut memory and
  * bandwidth 4× against float32. A zero vector quantizes to zeros (no
  * division by zero). Output is `array<int>` (storage would pack to
  * bytes; ints keep [[IntDotProduct]] arithmetic primitive and exact).
  * Half-AWAY-FROM-ZERO is deliberate: it matches both Spark's
  * `round()` (HALF_UP on BigDecimal = away from zero) and DuckDB's
  * `round()`, keeping the whole pipeline oracle-checkable —
  * `Math.round` would round -2.5 to -2 and silently diverge.
  */
case class QuantizeInt8(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"int8_quantize requires an array<float> argument, got ${other.simpleString}")
    }
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, false)
  override def prettyName: String = "int8_quantize"

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var maxabs = 0.0
    var i = 0
    while (i < n) {
      val x = math.abs(a.getFloat(i).toDouble)
      if (x > maxabs) maxabs = x
      i += 1
    }
    val out = new Array[Int](n)
    if (maxabs > 0.0) {
      i = 0
      while (i < n) {
        val x = a.getFloat(i).toDouble * 127.0 / maxabs
        // exact half-away-from-zero: compare the EXACT fractional part
        // (ax - floor(ax) is exact in IEEE754). floor(x + 0.5) would
        // round 0.49999999999999994 UP because x + 0.5 rounds to 1.0
        // (JDK-8010430) and silently diverge from BigDecimal/DuckDB.
        val ax = math.abs(x)
        val t = ax.toLong
        val q = if (ax - t >= 0.5) t + 1 else t
        out(i) = (if (x < 0) -q else q).toInt
        i += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val mx = ctx.freshName("maxabs")
      val x = ctx.freshName("x")
      val out = ctx.freshName("out")
      s"""
         |int $n = $a.numElements();
         |double $mx = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $x = Math.abs((double)$a.getFloat($i));
         |  if ($x > $mx) $mx = $x;
         |}
         |int[] $out = new int[$n];
         |if ($mx > 0.0) {
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $x = (double)$a.getFloat($i) * 127.0 / $mx;
         |    /* exact half-away-from-zero via the exact fractional part —
         |       floor(x + 0.5) mis-rounds 0.49999999999999994 (JDK-8010430) */
         |    double ${x}_a = Math.abs($x);
         |    long ${x}_t = (long) ${x}_a;
         |    long ${x}_q = (${x}_a - ${x}_t >= 0.5) ? ${x}_t + 1 : ${x}_t;
         |    $out[$i] = (int)($x < 0 ? -${x}_q : ${x}_q);
         |  }
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): QuantizeInt8 =
    copy(child = newChild)
}

/** As [[FloatDotProduct]] but over `array<int>` children with an exact
  * LONG accumulator — the scoring kernel for int8-quantized vectors.
  * For |xᵢ| ≤ 127 the products stay ≤ 16129 and any realistic
  * dimension count is far inside long range, so the result is exact
  * (and therefore oracle-stable with zero rounding rules).
  */
case class IntDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.IntegerType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"int_dot requires two array<int> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def prettyName: String = "int_dot"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements())
      throw new IllegalArgumentException(
        s"int_dot: dimension mismatch ($n vs ${b.numElements()})")
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getInt(i).toLong * b.getInt(i).toLong; i += 1 }
    acc
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  throw new IllegalArgumentException(
         |    "int_dot: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |${ev.value} = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += (long)$a.getInt($i) * (long)$b.getInt($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntDotProduct =
    copy(left = newLeft, right = newRight)
}

/** Column-level vector functions. */
object VectorFunctions {

  /** Register the native expressions in the session's function registry
    * (idempotent). Needed once per SparkSession before using [[dot]].
    */
  def register(spark: SparkSession): Unit = {
    registerOnce(spark, "float_dot")(exprs => FloatDotProduct(exprs(0), exprs(1)))
    registerOnce(spark, "double_dot")(exprs => DoubleDotProduct(exprs(0), exprs(1)))
    registerOnce(spark, "int8_quantize")(exprs => QuantizeInt8(exprs(0)))
    registerOnce(spark, "int_dot")(exprs => IntDotProduct(exprs(0), exprs(1)))
  }

  /** Whether the session's function registry already holds `name`.
    * Queries register their functions on every call, and replacing a
    * registered function logs a warning each time, so registration
    * skips a name that is already there. */
  private[graft] def registered(spark: SparkSession, name: String): Boolean =
    spark.sessionState.functionRegistry.functionExists(FunctionIdentifier(name))

  /** Register `name` as a built-in unless the session already holds it. */
  private[functions] def registerOnce(spark: SparkSession, name: String)(
      builder: Seq[Expression] => Expression): Unit =
    if (!registered(spark, name))
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")

  /** Codegen'd dot product of two array<float> columns (requires
    * [[register]]).
    */
  def dot(a: Column, b: Column): Column = call_function("float_dot", a, b)

  /** Codegen'd dot product of two array<double> columns (requires
    * [[register]]).
    */
  def dotD(a: Column, b: Column): Column = call_function("double_dot", a, b)

  /** Codegen'd symmetric int8 quantization of an array<float> column
    * (requires [[register]]).
    */
  def quantize8(a: Column): Column = call_function("int8_quantize", a)

  /** Codegen'd exact long dot product of two array<int> columns
    * (requires [[register]]).
    */
  def dotI(a: Column, b: Column): Column = call_function("int_dot", a, b)

  /** Built-in-functions fallback with identical semantics (element-wise
    * double product, sequential sum). Used to cross-check the native
    * expression in tests; interpreted lambda evaluation makes it the
    * slower path.
    */
  def dotZip(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm of an array<float> column. */
  def norm(a: Column): Column = sqrt(dotZip(a, a))
}
