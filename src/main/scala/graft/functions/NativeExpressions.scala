package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (SURVEY.md §2 Part B rows B48-B50 — the
  * "custom work" tier below whole-operator plans).
  *
  * Where a built-in-composable form exists it is preferred
  * ([[graft.operators.VectorOps.cosine]] uses zip_with+aggregate); these
  * native versions exist for the hot path: one fused loop over the two
  * arrays, full codegen (`doGenCode`), no per-element lambda dispatch and
  * no intermediate array allocation. At 10⁹ vectors × 64 dims per scan
  * that constant factor is the difference between CPU-bound and done.
  */
object NativeExpressions {

  /** Fused cosine similarity over two numeric arrays: dot, |a|² and |b|²
    * in one pass, double accumulation left-to-right — bit-identical to
    * the HOF composition it replaces (same operation order). */
  case class CosineSim(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "cosine_sim"

    private def elemType(e: Expression): DataType =
      e.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData]
      val ys = b.asInstanceOf[ArrayData]
      val n = math.min(xs.numElements(), ys.numElements())
      val lt = elemType(left); val rt = elemType(right)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = toDouble(xs, i, lt)
        val y = toDouble(ys, i, rt)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    private def toDouble(arr: ArrayData, i: Int, t: DataType): Double = t match {
      case DoubleType => arr.getDouble(i)
      case FloatType => arr.getFloat(i).toDouble
      case LongType => arr.getLong(i).toDouble
      case IntegerType => arr.getInt(i).toDouble
      case dt: DecimalType => arr.getDecimal(i, dt.precision, dt.scale).toDouble
      case _ => throw new IllegalArgumentException(s"unsupported element type $t")
    }

    private def getter(t: DataType, arr: String, i: String): String = t match {
      case DoubleType => s"$arr.getDouble($i)"
      case FloatType => s"(double) $arr.getFloat($i)"
      case LongType => s"(double) $arr.getLong($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case dt: DecimalType =>
        s"$arr.getDecimal($i, ${dt.precision}, ${dt.scale}).toDouble()"
      case _ => throw new IllegalArgumentException(s"unsupported element type $t")
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $x = ${getter(elemType(left), a, i)};
           |  double $y = ${getter(elemType(right), b, i)};
           |  $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
           |}
           |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Fused dot product over two numeric arrays — the hot inner loop once
    * a corpus is pre-unit-normalized ([[graft.operators.VectorOps.simSearchPrenorm]]):
    * cosine degenerates to dot, so the scan cost per pair is exactly this
    * one loop. Double accumulation left-to-right, bit-identical to the
    * zip_with+aggregate composition (NativeExpressionsSpec). */
  case class DotProduct(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def prettyName: String = "dot_product"

    private def elemType(e: Expression): DataType =
      e.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData]
      val ys = b.asInstanceOf[ArrayData]
      val n = math.min(xs.numElements(), ys.numElements())
      val lt = elemType(left); val rt = elemType(right)
      var dot = 0.0
      var i = 0
      while (i < n) {
        dot += toDouble(xs, i, lt) * toDouble(ys, i, rt)
        i += 1
      }
      dot
    }

    private def toDouble(arr: ArrayData, i: Int, t: DataType): Double = t match {
      case DoubleType => arr.getDouble(i)
      case FloatType => arr.getFloat(i).toDouble
      case LongType => arr.getLong(i).toDouble
      case IntegerType => arr.getInt(i).toDouble
      case dt: DecimalType => arr.getDecimal(i, dt.precision, dt.scale).toDouble
      case _ => throw new IllegalArgumentException(s"unsupported element type $t")
    }

    private def getter(t: DataType, arr: String, i: String): String = t match {
      case DoubleType => s"$arr.getDouble($i)"
      case FloatType => s"(double) $arr.getFloat($i)"
      case LongType => s"(double) $arr.getLong($i)"
      case IntegerType => s"(double) $arr.getInt($i)"
      case dt: DecimalType =>
        s"$arr.getDecimal($i, ${dt.precision}, ${dt.scale}).toDouble()"
      case _ => throw new IllegalArgumentException(s"unsupported element type $t")
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $dot += ${getter(elemType(left), a, i)} * ${getter(elemType(right), b, i)};
           |}
           |${ev.value} = $dot;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Hamming distance between two equal-length bit strings (e.g. the
    * 64-char SimHash fingerprints from [[graft.operators.TextOps.simhash]])
    * — the near-dup distance for SimHash bucketing. */
  case class HammingDist(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = IntegerType
    override def prettyName: String = "hamming_dist"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[UTF8String].getBytes
      val ys = b.asInstanceOf[UTF8String].getBytes
      val n = math.min(xs.length, ys.length)
      var d = math.abs(xs.length - ys.length)
      var i = 0
      while (i < n) { if (xs(i) != ys(i)) d += 1; i += 1 }
      d
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val xs = ctx.freshName("xs")
        val ys = ctx.freshName("ys")
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        s"""
           |byte[] $xs = $a.getBytes();
           |byte[] $ys = $b.getBytes();
           |int $n = java.lang.Math.min($xs.length, $ys.length);
           |${ev.value} = java.lang.Math.abs($xs.length - $ys.length);
           |for (int $i = 0; $i < $n; $i++) {
           |  if ($xs[$i] != $ys[$i]) ${ev.value} += 1;
           |}
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** One-pass text normalization: lowercase, delete every char outside
    * `[a-z0-9 ]`, collapse space runs, trim — semantically IDENTICAL to
    * `trim(regexp_replace(regexp_replace(lower(s), "[^a-z0-9 ]", ""), " +", " "))`
    * but a single byte scan instead of a lower pass plus two
    * java.util.regex passes with a String materialization each
    * (measured at sf10: the regex chain alone was 18.3 s of
    * llm_normalize's 19.2 s — the whole corpus through Matcher twice).
    * Rows containing any non-ASCII byte take the EXACT built-in chain
    * (UTF8String.toLowerCase + the same two patterns via
    * String.replaceAll, flags 0 — what Lower/RegExpReplace execute), so
    * unicode case mappings that land inside [a-z] (e.g. U+212A → k)
    * survive identically; after the delete pass only `[a-z0-9 ]`
    * remains, so String.trim trims exactly spaces. */
  def normalizeText(s: UTF8String): UTF8String = {
    val n = s.numBytes
    var i = 0
    var ascii = true
    while (ascii && i < n) {
      if ((s.getByte(i) & 0x80) != 0) ascii = false
      i += 1
    }
    if (!ascii)
      return UTF8String.fromString(s.toLowerCase.toString
        .replaceAll("[^a-z0-9 ]", "").replaceAll(" +", " ").trim)
    val out = new Array[Byte](n)
    var o = 0
    var pendingSpace = false
    i = 0
    while (i < n) {
      var b = s.getByte(i)
      if (b >= 'A' && b <= 'Z') b = (b + 32).toByte
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        // a space run (or one space) materializes as ONE space, and
        // only between kept chars — collapse + trim in the same pass
        if (pendingSpace && o > 0) { out(o) = ' '; o += 1 }
        pendingSpace = false
        out(o) = b
        o += 1
      } else if (b == ' ') {
        pendingSpace = true
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, o))
  }

  /** [[normalizeText]] as a native expression (full codegen via the
    * object's static forwarder — one virtual-free call per row, no
    * Matcher state). */
  case class NormalizeText(child: Expression)
      extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
    override def dataType: DataType = StringType
    override def prettyName: String = "normalize_text"
    override def nullSafeEval(input: Any): Any =
      normalizeText(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev,
        c => s"graft.functions.NativeExpressions.normalizeText($c)")
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column API. */
  def normalize_text(c: Column): Column =
    GraftColumnBridge.toColumn(NormalizeText(GraftColumnBridge.toExpression(c)))

  def cosine_sim(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(CosineSim(
      GraftColumnBridge.toExpression(a), GraftColumnBridge.toExpression(b)))

  def hamming_dist(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(HammingDist(
      GraftColumnBridge.toExpression(a), GraftColumnBridge.toExpression(b)))

  def dot_product(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(DotProduct(
      GraftColumnBridge.toExpression(a), GraftColumnBridge.toExpression(b)))
}
