package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftglue.{columnOf, expressionOf}
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the vector hot path.
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`/`transform`)
  * evaluate their lambdas INTERPRETED — one closure dispatch per array
  * element per row. Inside an all-pairs similarity join that cost is
  * multiplied by O(n²) pairs and dominates the query. `DotProduct` is a
  * `BinaryExpression` with `doGenCode`, so the whole pair loop stays
  * inside whole-stage codegen: a tight `double` loop over the two
  * `ArrayData`, no closures, no boxing.
  *
  * Float-op order is the same sequential left-to-right sum the
  * interpreted `aggregate(zip_with(...))` formulation used, so results
  * are bit-identical to the previous implementation (and to the DuckDB
  * oracle's `list_cosine_similarity` at 6-decimal rounding).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // ArrayData.getDouble is only valid on array<double> storage — reject
  // anything else at ANALYSIS time rather than returning garbage. The
  // registered `graft_dot` SQL builder casts its inputs first, so
  // array<float>/array<int> arguments still work through SQL; only a
  // direct mistyped construction fails here.
  override def checkInputDataTypes(): TypeCheckResult = {
    def bad(e: Expression) = e.dataType match {
      case ArrayType(DoubleType, _) => false
      case _                        => true
    }
    Seq(left, right).find(bad) match {
      case Some(e) => TypeCheckResult.TypeCheckFailure(
        s"graft_dot requires array<double> inputs, got ${e.dataType.sql}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $x.getDouble($i) * $y.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** 16-bin histogram over the high nibble of each payload byte, as one
  * codegen'd pass — the binary-scan kernel the multimodal path needs
  * (same binning as Multimodal.FakeDecoder, but integer-exact). A
  * single expression emitting all 16 bins replaces N per-bin UDF
  * invocations that would each rescan the payload; downstream picks
  * bins with `element_at`, which stays in whole-stage codegen. */
case class NibbleHistogram(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"graft_nibble_hist requires a binary input, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val bins = new Array[Long](16)
    var i = 0
    while (i < bytes.length) { bins((bytes(i) & 0xF0) >>> 4) += 1L; i += 1 }
    new GenericArrayData(bins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val bins = ctx.freshName("bins")
      val i = ctx.freshName("i")
      s"""
         |long[] $bins = new long[16];
         |for (int $i = 0; $i < $x.length; $i++) {
         |  $bins[($x[$i] & 0xF0) >>> 4]++;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($bins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NibbleHistogram =
    copy(child = newChild)
}

/** [[NibbleHistogram]]'s LOW-nibble twin — the m15 audio spectral
  * stub's "frequency band" axis (band = byte & 0x0F): same single-scan
  * 16-bin shape, integer-exact, DuckDB-replayable through the hex
  * low-nibble character slice (the m07 oracle trick with '.(.)'
  * instead of '(.).'). */
case class LowNibbleHistogram(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"lowNibbleHistogram requires a binary input, got ${dt.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[Array[Byte]]
    val bins = new Array[Long](16)
    var i = 0
    while (i < bytes.length) { bins(bytes(i) & 0x0F) += 1L; i += 1 }
    new GenericArrayData(bins)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val bins = ctx.freshName("bins")
      val i = ctx.freshName("i")
      s"""
         |long[] $bins = new long[16];
         |for (int $i = 0; $i < $x.length; $i++) {
         |  $bins[$x[$i] & 0x0F]++;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($bins);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LowNibbleHistogram =
    copy(child = newChild)
}

object VectorExprs {
  /** Σ aᵢ·bᵢ over two array<double> columns, whole-stage-codegen'd. */
  def dot(a: Column, b: Column): Column =
    columnOf(DotProduct(expressionOf(a), expressionOf(b)))

  /** 16 high-nibble byte counts of a binary column, one codegen'd scan. */
  def nibbleHistogram(payload: Column): Column =
    columnOf(NibbleHistogram(expressionOf(payload)))

  /** 16 low-nibble byte counts — the m15 spectral-band axis. */
  def lowNibbleHistogram(payload: Column): Column =
    columnOf(LowNibbleHistogram(expressionOf(payload)))
}
