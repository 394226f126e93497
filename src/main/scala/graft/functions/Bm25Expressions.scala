package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructType}

/** Native Catalyst expression for the Okapi BM25 fold over a grouped
  * per-(query, doc) component row — the hot inner loop of every BM25
  * scoring surface (q244/q248/q271/q273/q281–q284/q290/q300 and the
  * sweep).
  *
  * Replaces `round(aggregate(terms, 0.0, (acc, t) => acc + ...), 6)`'s
  * inner fold: Spark's higher-order functions (`aggregate`,
  * `transform`) are CodegenFallback — each element is evaluated by the
  * interpreted lambda machinery, measured at ~58 µs/row on the q281
  * serve stage (16 tasks × 4.3 s over 1.1 M rows; see
  * OPTIMIZATION_r15.md). This expression runs the identical arithmetic
  * as a primitive loop inside whole-stage codegen.
  *
  * EXACT-EQUALITY CONTRACT: the accumulation order (array order — the
  * caller sorts `terms`) and every double operation, cast, and
  * association match the Column-expression fold term for term, so the
  * produced doubles are bit-identical and every oracle hash is
  * unchanged:
  *
  *   acc += log(1.0 + ((double)(n_docs − df) + 0.5) / ((double)df + 0.5))
  *          · ((double)tf · (k1 + 1.0))
  *          / ((double)tf + k1 · ((1.0 − b) + (b · (double)dl) / avgdl))
  *
  * with k1 = (double)k1_micro / 1e6, b = (double)b_micro / 1e6. The
  * caller keeps the outer `round(_, 6)`.
  *
  * Children: terms array<struct<tf: long, df: long>>, dl long,
  * n_docs long, avgdl double, k1_micro long, b_micro long → double.
  */
case class Bm25OkapiFold(terms: Expression, dl: Expression,
    nDocs: Expression, avgdl: Expression, k1Micro: Expression,
    bMicro: Expression) extends Expression {

  override def children: Seq[Expression] =
    Seq(terms, dl, nDocs, avgdl, k1Micro, bMicro)
  override def nullable: Boolean = children.exists(_.nullable) ||
    (terms.dataType match {
      case ArrayType(_, containsNull) => containsNull
      case _ => true
    })
  override def dataType: DataType = DoubleType
  override def prettyName: String = "bm25_fold"
  // not foldable even over literal children — keep constant-folding
  // away from the loop (never hot; literals don't reach this shape)
  override def foldable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = {
    val termsOk = terms.dataType match {
      case ArrayType(st: StructType, _) =>
        st.fields.length == 2 &&
          st.fields.forall(_.dataType == LongType)
      case _ => false
    }
    val scalarsOk = dl.dataType == LongType && nDocs.dataType == LongType &&
      avgdl.dataType == DoubleType && k1Micro.dataType == LongType &&
      bMicro.dataType == LongType
    if (termsOk && scalarsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "bm25_fold requires (array<struct<long,long>>, long, long, double, " +
        s"long, long), got ${children.map(_.dataType.simpleString)}")
  }

  override def eval(input: InternalRow): Any = {
    val t = terms.eval(input)
    val d = dl.eval(input)
    val nd = nDocs.eval(input)
    val ad = avgdl.eval(input)
    val k1m = k1Micro.eval(input)
    val bm = bMicro.eval(input)
    if (t == null || d == null || nd == null || ad == null || k1m == null ||
      bm == null) null
    else {
      val arr = t.asInstanceOf[ArrayData]
      val dlV = d.asInstanceOf[Long]
      val ndV = nd.asInstanceOf[Long]
      val adV = ad.asInstanceOf[Double]
      val k1 = k1m.asInstanceOf[Long].toDouble / 1e6
      val b = bm.asInstanceOf[Long].toDouble / 1e6
      var acc = 0.0
      var i = 0
      val n = arr.numElements()
      while (i < n) {
        // a null element nulls the whole fold, matching the legacy
        // `aggregate()` spelling's algebra (acc + null => null)
        if (arr.isNullAt(i)) return null
        val row = arr.getStruct(i, 2)
        val tf = row.getLong(0)
        val df = row.getLong(1)
        acc += math.log(1.0d + ((ndV - df).toDouble + 0.5d) /
            (df.toDouble + 0.5d)) *
          (tf.toDouble * (k1 + 1.0d)) /
          (tf.toDouble + k1 * ((1.0d - b) + (b * dlV.toDouble) / adV))
        i += 1
      }
      acc
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = terms.genCode(ctx)
    val d = dl.genCode(ctx)
    val nd = nDocs.genCode(ctx)
    val ad = avgdl.genCode(ctx)
    val k1c = k1Micro.genCode(ctx)
    val bc = bMicro.genCode(ctx)
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val row = ctx.freshName("trow")
    val tf = ctx.freshName("tf")
    val df = ctx.freshName("df")
    val k1 = ctx.freshName("k1")
    val b = ctx.freshName("b")
    val acc = ctx.freshName("acc")
    val code =
      code"""
        ${t.code}
        ${d.code}
        ${nd.code}
        ${ad.code}
        ${k1c.code}
        ${bc.code}
        boolean ${ev.isNull} = ${t.isNull} || ${d.isNull} || ${nd.isNull} ||
          ${ad.isNull} || ${k1c.isNull} || ${bc.isNull};
        double ${ev.value} = 0.0;
        if (!${ev.isNull}) {
          final double $k1 = (double) ${k1c.value} / 1.0E6;
          final double $b = (double) ${bc.value} / 1.0E6;
          final int $n = ${t.value}.numElements();
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if (${t.value}.isNullAt($i)) { ${ev.isNull} = true; break; }
            InternalRow $row = ${t.value}.getStruct($i, 2);
            long $tf = $row.getLong(0);
            long $df = $row.getLong(1);
            $acc += java.lang.Math.log(1.0D +
                (((double) (${nd.value} - $df)) + 0.5D) /
                (((double) $df) + 0.5D)) *
              (((double) $tf) * ($k1 + 1.0D)) /
              (((double) $tf) + $k1 *
                ((1.0D - $b) + ($b * (double) ${d.value}) / ${ad.value}));
          }
          if (!${ev.isNull}) { ${ev.value} = $acc; }
        }"""
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Bm25OkapiFold =
    copy(terms = newChildren(0), dl = newChildren(1), nDocs = newChildren(2),
      avgdl = newChildren(3), k1Micro = newChildren(4),
      bMicro = newChildren(5))
}

/** Grid-vectorized Okapi fold: all grid points scored in ONE pass over
  * the terms array — the q271/q273 sweep shape (guide §2.3 "don't
  * compute things you throw away" applied to the per-point fold: the
  * idf `log` term is dial-independent, so folding the grid point by
  * point recomputes |grid|× logs per term for no reason).
  *
  * BIT-IDENTITY with [[Bm25OkapiFold]] per point: the term loop is
  * OUTER (per-point accumulation order = array order, unchanged), the
  * per-term idf `log` is computed once and reused (same double, same
  * ops), and the per-point loop invariants `k1 + 1.0` and
  * `k1·((1−b) + (b·dl)/avgdl)` are hoisted unchanged (identical
  * operation order, so identical doubles). CodegenFoldSpec pins
  * grid-fold ≡ point-fold bit equality.
  *
  * Children: terms array<struct<tf: long, df: long>>, dl long,
  * n_docs long, avgdl double, k1_micros array<long>, b_micros
  * array<long> (parallel grid arrays, same length) → array<double>
  * with one score per grid point. Null algebra: a null scalar input,
  * null terms array, or null terms ELEMENT yields an array of null
  * scores (one per grid point) — matching per-point
  * [[Bm25OkapiFold]]'s null-in-null-out, row count preserved under a
  * later explode/zip. */
case class Bm25OkapiFoldGrid(terms: Expression, dl: Expression,
    nDocs: Expression, avgdl: Expression, k1Micros: Expression,
    bMicros: Expression) extends Expression {

  override def children: Seq[Expression] =
    Seq(terms, dl, nDocs, avgdl, k1Micros, bMicros)
  // the grid arrays are literals in every caller; a null GRID is a
  // caller bug surfaced as null result
  override def nullable: Boolean = k1Micros.nullable || bMicros.nullable
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "bm25_fold_grid"
  override def foldable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = {
    val termsOk = terms.dataType match {
      case ArrayType(st: StructType, _) =>
        st.fields.length == 2 && st.fields.forall(_.dataType == LongType)
      case _ => false
    }
    val gridOk = (k1Micros.dataType, bMicros.dataType) match {
      case (ArrayType(LongType, false), ArrayType(LongType, false)) => true
      case _ => false
    }
    val scalarsOk = dl.dataType == LongType && nDocs.dataType == LongType &&
      avgdl.dataType == DoubleType
    if (termsOk && gridOk && scalarsOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "bm25_fold_grid requires (array<struct<long,long>>, long, long, " +
        "double, array<long>, array<long>), got " +
        children.map(_.dataType.simpleString).mkString(", "))
  }

  override def eval(input: InternalRow): Any = {
    val k1a = k1Micros.eval(input)
    val ba = bMicros.eval(input)
    if (k1a == null || ba == null) return null
    val k1Arr = k1a.asInstanceOf[ArrayData]
    val bArr = ba.asInstanceOf[ArrayData]
    val g = k1Arr.numElements()
    require(bArr.numElements() == g,
      s"bm25_fold_grid: grid arrays differ in length ($g vs ${bArr.numElements()})")
    val t = terms.eval(input)
    val d = dl.eval(input)
    val nd = nDocs.eval(input)
    val ad = avgdl.eval(input)
    if (t == null || d == null || nd == null || ad == null)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(
        new Array[Any](g)) // g nulls
    val arr = t.asInstanceOf[ArrayData]
    val dlV = d.asInstanceOf[Long].toDouble
    val ndV = nd.asInstanceOf[Long]
    val adV = ad.asInstanceOf[Double]
    val k1s = new Array[Double](g)
    val k1p1 = new Array[Double](g)
    val norm = new Array[Double](g)
    var p = 0
    while (p < g) {
      val k1 = k1Arr.getLong(p).toDouble / 1e6
      val b = bArr.getLong(p).toDouble / 1e6
      k1s(p) = k1
      k1p1(p) = k1 + 1.0d
      norm(p) = k1 * ((1.0d - b) + (b * dlV) / adV)
      p += 1
    }
    val acc = new Array[Double](g)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (arr.isNullAt(i))
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(
          new Array[Any](g))
      val row = arr.getStruct(i, 2)
      val tf = row.getLong(0).toDouble
      val df = row.getLong(1)
      val idf = math.log(1.0d + ((ndV - df).toDouble + 0.5d) /
        (df.toDouble + 0.5d))
      p = 0
      while (p < g) {
        acc(p) += idf * (tf * k1p1(p)) / (tf + norm(p))
        p += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      acc.map(java.lang.Double.valueOf(_): Any))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val t = terms.genCode(ctx)
    val d = dl.genCode(ctx)
    val nd = nDocs.genCode(ctx)
    val ad = avgdl.genCode(ctx)
    val k1c = k1Micros.genCode(ctx)
    val bc = bMicros.genCode(ctx)
    val g = ctx.freshName("g")
    val p = ctx.freshName("p")
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val row = ctx.freshName("trow")
    val tf = ctx.freshName("tf")
    val df = ctx.freshName("df")
    val idf = ctx.freshName("idf")
    val dlV = ctx.freshName("dlv")
    val k1 = ctx.freshName("k1")
    val b = ctx.freshName("b")
    val k1p1 = ctx.freshName("k1p1")
    val norm = ctx.freshName("norm")
    val acc = ctx.freshName("acc")
    val out = ctx.freshName("out")
    val nulled = ctx.freshName("nulled")
    val gad = "org.apache.spark.sql.catalyst.util.GenericArrayData"
    val code =
      code"""
        ${t.code}
        ${d.code}
        ${nd.code}
        ${ad.code}
        ${k1c.code}
        ${bc.code}
        boolean ${ev.isNull} = ${k1c.isNull} || ${bc.isNull};
        ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          final int $g = ${k1c.value}.numElements();
          if (${bc.value}.numElements() != $g) {
            throw new IllegalArgumentException(
              "bm25_fold_grid: grid arrays differ in length");
          }
          if (${t.isNull} || ${d.isNull} || ${nd.isNull} || ${ad.isNull}) {
            ${ev.value} = new $gad(new Object[$g]);
          } else {
            final double $dlV = (double) ${d.value};
            final double[] $k1p1 = new double[$g];
            final double[] $norm = new double[$g];
            for (int $p = 0; $p < $g; $p++) {
              final double $k1 = (double) ${k1c.value}.getLong($p) / 1.0E6;
              final double $b = (double) ${bc.value}.getLong($p) / 1.0E6;
              $k1p1[$p] = $k1 + 1.0D;
              $norm[$p] = $k1 * ((1.0D - $b) + ($b * $dlV) / ${ad.value});
            }
            final double[] $acc = new double[$g];
            final int $n = ${t.value}.numElements();
            boolean $nulled = false;
            for (int $i = 0; $i < $n; $i++) {
              if (${t.value}.isNullAt($i)) { $nulled = true; break; }
              InternalRow $row = ${t.value}.getStruct($i, 2);
              long $tf = $row.getLong(0);
              long $df = $row.getLong(1);
              final double $idf = java.lang.Math.log(1.0D +
                (((double) (${nd.value} - $df)) + 0.5D) /
                (((double) $df) + 0.5D));
              for (int $p = 0; $p < $g; $p++) {
                $acc[$p] += $idf * (((double) $tf) * $k1p1[$p]) /
                  (((double) $tf) + $norm[$p]);
              }
            }
            if ($nulled) {
              ${ev.value} = new $gad(new Object[$g]);
            } else {
              final Object[] $out = new Object[$g];
              for (int $p = 0; $p < $g; $p++) {
                $out[$p] = java.lang.Double.valueOf($acc[$p]);
              }
              ${ev.value} = new $gad($out);
            }
          }
        }"""
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Bm25OkapiFoldGrid =
    copy(terms = newChildren(0), dl = newChildren(1), nDocs = newChildren(2),
      avgdl = newChildren(3), k1Micros = newChildren(4),
      bMicros = newChildren(5))
}

object Bm25Functions {
  /** Register the fold in the session's function registry (idempotent). */
  def register(spark: SparkSession): Unit =
    VectorFunctions.registerOnce(spark, "bm25_fold") { exprs =>
      require(exprs.length == 6, "bm25_fold expects 6 arguments " +
        "(terms array<struct<tf,df>>, dl, n_docs, avgdl, k1_micro, " +
        s"b_micro); got ${exprs.length}")
      Bm25OkapiFold(exprs(0), exprs(1), exprs(2), exprs(3), exprs(4),
        exprs(5))
    }

  /** Register the grid-vectorized fold (idempotent). */
  def registerGrid(spark: SparkSession): Unit =
    VectorFunctions.registerOnce(spark, "bm25_fold_grid") { exprs =>
      require(exprs.length == 6, "bm25_fold_grid expects 6 arguments " +
        "(terms array<struct<tf,df>>, dl, n_docs, avgdl, k1_micros, " +
        s"b_micros); got ${exprs.length}")
      Bm25OkapiFoldGrid(exprs(0), exprs(1), exprs(2), exprs(3), exprs(4),
        exprs(5))
    }

  /** Codegen'd Okapi fold (requires [[register]]); the caller applies
    * the contract's outer `round(_, 6)`. */
  def fold(terms: Column, dl: Column, nDocs: Column, avgdl: Column,
      k1Micro: Column, bMicro: Column): Column =
    call_function("bm25_fold", terms, dl, nDocs, avgdl, k1Micro, bMicro)

  /** Grid-vectorized Okapi fold (requires [[registerGrid]]): one score
    * per grid point, idf logs computed once per term. */
  def foldGrid(terms: Column, dl: Column, nDocs: Column, avgdl: Column,
      k1Micros: Column, bMicros: Column): Column =
    call_function("bm25_fold_grid", terms, dl, nDocs, avgdl, k1Micros,
      bMicros)
}
