package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Native vector math over ARRAY<DOUBLE> columns — the engine's analogue of
  * the reference's Qdrant cosine distance (qdrant_text_loader.py:25, :122-142,
  * SURVEY.md op K1). Implemented as Catalyst expressions with `doGenCode` so
  * the hot loop stays inside whole-stage codegen (no UDF boxing): at 100 TB a
  * brute-force scoring scan is compute-bound on exactly this loop.
  *
  * Both inputs must be ARRAY<DOUBLE>; cast float embeddings with
  * `VectorFunctions.asDouble` first (done in double precision so results are
  * bit-stable across engines).
  */
abstract class VectorFold extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  // evals return null on length mismatch / zero norm even for non-null
  // children — without this override, NullPropagation folds
  // isnull(expr) to false over non-nullable inputs and codegen assigns
  // into a FalseLiteral isNull (the DHash64Expr precedent)
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _                        => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<DOUBLE> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")
  }
}

/** dot(a, b) = sum_i a(i)*b(i); length mismatch → null (mirrors the
  * reference's dimension guard, qdrant_text_loader.py:134-135). */
case class DotProduct(left: Expression, right: Expression) extends VectorFold {
  override def prettyName: String = "vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
      java.lang.Double.valueOf(s)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $x.getDouble($i) * $y.getDouble($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine(a, b) = dot / (|a|*|b|); zero-norm or length mismatch → null. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorFold {
  override def prettyName: String = "cosine_similarity"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) null
    else {
      var dot = 0.0; var nx = 0.0; var ny = 0.0
      var i = 0
      while (i < n) {
        val xv = x.getDouble(i); val yv = y.getDouble(i)
        dot += xv * yv; nx += xv * xv; ny += yv * yv
        i += 1
      }
      if (nx == 0.0 || ny == 0.0) null
      else java.lang.Double.valueOf(dot / (math.sqrt(nx) * math.sqrt(ny)))
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) { ${ev.isNull} = true; }
         |else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $xv = $x.getDouble($i);
         |    final double $yv = $y.getDouble($i);
         |    $dot += $xv * $yv; $nx += $xv * $xv; $ny += $yv * $yv;
         |  }
         |  if ($nx == 0.0 || $ny == 0.0) { ${ev.isNull} = true; }
         |  else { ${ev.value} = $dot / (Math.sqrt($nx) * Math.sqrt($ny)); }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine(v, q) for one query vector, against `v` and its stored norm
  * `|v|`: `dot(v, q) / (|v| * |q|)`; a zero or null norm product or a
  * length mismatch → null. With `|v|` from [[VectorFunctions.l2Norm]] and
  * `|q|` summed in the same order, every score is bit-identical to
  * [[CosineSimilarity]]`(v, q)`. `VectorCollection.search` calls `eval`
  * per row of a prepared RDD, so the expression is never compiled. */
case class CosineToQuery(left: Expression, right: Expression,
    query: Array[Double], queryNorm: Double) extends BinaryExpression
    with CodegenFallback {
  override def prettyName: String = "cosine_to_query"
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true
  override def nullable: Boolean = true // see VectorFold
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), DoubleType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires ARRAY<DOUBLE> and DOUBLE, got ${l.sql} and ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != query.length) null
    else {
      var s = 0.0
      var i = 0
      while (i < n) { s += x.getDouble(i) * query(i); i += 1 }
      val denom = b.asInstanceOf[Double] * queryNorm
      if (denom == 0.0) null else java.lang.Double.valueOf(s / denom)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object CosineToQuery {
  /** Against `query`, whose norm is summed here in `l2Norm`'s order. */
  def apply(vector: Expression, norm: Expression,
      query: Array[Double]): CosineToQuery =
    CosineToQuery(vector, norm, query,
      math.sqrt(query.foldLeft(0.0)((s, y) => s + y * y)))
}

/** Array-in, array-out preprocessing kernels. A `transform(e, x -> x /
  * l2_norm(e))` lambda form would re-evaluate the norm subtree once PER
  * ELEMENT (codegen does not hoist loop-invariant subtrees out of higher-
  * order functions), turning an O(dim) operator into O(dim²); these are
  * single-pass natives instead. */
abstract class VectorMap extends org.apache.spark.sql.catalyst.expressions
    .UnaryExpression {
  override def nullIntolerant: Boolean = true
  // null-producing on non-null input (zero vectors) — see VectorFold
  override def nullable: Boolean = true
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires ARRAY<DOUBLE>, got ${other.sql}")
    }
}

/** Unit L2 normalization — the first step of every cosine-ANN pipeline
  * (post-normalization, cosine similarity reduces to a dot product, and
  * int8 quantization bounds are tightest). Zero vectors → null. */
case class L2Normalize(child: Expression) extends VectorMap {
  override def prettyName: String = "l2_normalize"
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var ss = 0.0
    var i = 0
    while (i < n) { val v = x.getDouble(i); ss += v * v; i += 1 }
    if (ss == 0.0) null
    else {
      // Divide by the norm rather than multiplying by its reciprocal: the
      // reciprocal form differs from `x / sqrt(ss)` by 1 ulp on some inputs,
      // which flips round(x, 4) at bucket boundaries vs a division oracle.
      val norm = math.sqrt(ss)
      val out = new Array[Double](n)
      i = 0
      while (i < n) { out(i) = x.getDouble(i) / norm; i += 1 }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(out)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val ss = ctx.freshName("ss")
      val inv = ctx.freshName("inv")
      val out = ctx.freshName("out")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $x.numElements();
         |double $ss = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $v = $x.getDouble($i); $ss += $v * $v;
         |}
         |if ($ss == 0.0) { ${ev.isNull} = true; }
         |else {
         |  final double $inv = Math.sqrt($ss);
         |  final double[] $out = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = $x.getDouble($i) / $inv;
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions
         |    .UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** Symmetric per-vector int8 quantization: scale = max|x|/127, q_i =
  * round(x_i/scale) — an 8× memory cut for ANN serving with dequantization
  * error ≤ scale/2 per component. All-zero vectors → null (no scale). */
case class QuantizeInt8(child: Expression) extends VectorMap {
  override def prettyName: String = "quantize_int8"
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var m = 0.0
    var i = 0
    while (i < n) { val v = math.abs(x.getDouble(i)); if (v > m) m = v; i += 1 }
    if (m == 0.0) null
    else {
      val inv = 127.0 / m
      val out = new Array[Byte](n)
      i = 0
      while (i < n) {
        out(i) = math.round(x.getDouble(i) * inv).toByte
        i += 1
      }
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
        .fromPrimitiveArray(out)
    }
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val m = ctx.freshName("m")
      val inv = ctx.freshName("inv")
      val out = ctx.freshName("out")
      val v = ctx.freshName("v")
      s"""
         |final int $n = $x.numElements();
         |double $m = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  final double $v = Math.abs($x.getDouble($i));
         |  if ($v > $m) $m = $v;
         |}
         |if ($m == 0.0) { ${ev.isNull} = true; }
         |else {
         |  final double $inv = 127.0 / $m;
         |  final byte[] $out = new byte[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    $out[$i] = (byte) Math.round($x.getDouble($i) * $inv);
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions
         |    .UnsafeArrayData.fromPrimitiveArray($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object VectorFunctions {
  import org.apache.spark.sql.GraftColumnBridge.{column, expression}

  /** Cast an ARRAY<FLOAT> embedding column to ARRAY<DOUBLE> (scoring is done
    * in double precision). */
  def asDouble(c: Column): Column = c.cast(ArrayType(DoubleType))

  def vectorDot(a: Column, b: Column): Column =
    column(DotProduct(expression(asDouble(a)), expression(asDouble(b))))

  def cosineSimilarity(a: Column, b: Column): Column =
    column(CosineSimilarity(expression(asDouble(a)), expression(asDouble(b))))

  def l2Norm(c: Column): Column = sqrt(vectorDot(c, c))

  /** Unit-normalize an array<double> column (null-safe: zero vectors → null).
    * Native single-pass expression — see the VectorMap scaladoc for why this
    * is not a `transform` lambda. */
  def l2Normalize(c: Column): Column =
    column(L2Normalize(expression(asDouble(c))))

  /** Symmetric int8 quantization of an embedding column (→ array<tinyint>). */
  def quantizeInt8(c: Column): Column =
    column(QuantizeInt8(expression(asDouble(c))))

  /** The quantization scale quantizeInt8 uses: max|x| / 127. Builtin
    * composition (one pass) — exposed separately so callers can persist the
    * scale next to the quantized vector for dequantization. */
  def quantScale(c: Column): Column =
    array_max(transform(asDouble(c), x => abs(x))) / lit(127.0)

  /** Matryoshka truncation: keep the first `dim` dimensions and
    * re-unit-normalize — the MRL deployment trick (use a prefix of the
    * embedding at a fraction of the storage/compute, re-normed so cosine
    * machinery is unchanged). Slice + the native [[L2Normalize]], one
    * pass, no shuffle. */
  def truncateRenorm(c: Column, dim: Int): Column = {
    require(dim >= 1, "dim must be >= 1")
    l2Normalize(slice(asDouble(c), 1, dim))
  }
}
