package graft.functions

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 16-bit SimHash expression.
  *
  * Bit-identical to the built-in composition in Dedup.simhash16 (and
  * the DuckDB oracle): whitespace tokens (empties preserved), md5 per
  * token, token value = first 4 hex chars as a 16-bit int, ±1 votes
  * per bit over the token multiset, fingerprint bit j set iff
  * vote_j > 0.
  *
  * Why native: the composed form is a ~16-way aggregate lambda tree
  * over a transformed array — hundreds of codegen nodes and one md5
  * per token PER BIT via common-subexpression luck. This is one md5
  * per token and one pass over the votes, emitted as a single static
  * call so the surrounding WholeStageCodegen stage stays fused.
  */
case class SimHash16Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash16 expects a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    SimHash16Expr.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash16Expr.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** 64-bit SimHash — the production-width variant (16-bit saturates on
  * small vocabularies): same vote algorithm over the first 8 md5
  * digest bytes. Library-level (not oracle-gated; the 16-bit form
  * remains the cross-engine-verified executable spec of the
  * algorithm).
  */
case class SimHash64Expr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"simhash64 expects a string argument, got ${child.dataType}")

  override def nullSafeEval(input: Any): Any =
    SimHash16Expr.compute64(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash16Expr.compute64($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64Expr {
  def apply(c: Column): Column = ColumnBridge.column(SimHash64Expr(ColumnBridge.expression(c)))
}

object SimHash16Expr {
  def apply(c: Column): Column = ColumnBridge.column(SimHash16Expr(ColumnBridge.expression(c)))

  /** 64-bit vote-based simhash over the first 8 md5 digest bytes. */
  def compute64(text: UTF8String): Long = {
    val tokens = text.toString.split(" ", -1)
    val votes = new Array[Int](64)
    val md = MessageDigest.getInstance("MD5")
    var t = 0
    while (t < tokens.length) {
      md.reset()
      val digest = md.digest(tokens(t).getBytes(StandardCharsets.UTF_8))
      var hv = 0L
      var b = 0
      while (b < 8) { hv = (hv << 8) | (digest(b) & 0xffL); b += 1 }
      var j = 0
      while (j < 64) {
        if ((hv & (1L << j)) != 0L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      t += 1
    }
    var fp = 0L
    var j = 0
    while (j < 64) {
      if (votes(j) > 0) fp |= (1L << j)
      j += 1
    }
    fp
  }

  /** One-pass simhash; static so generated code can call it. */
  def compute(text: UTF8String): Int = {
    // split on single space, KEEPING empty tokens — same as Spark's
    // split(text, " ") and DuckDB's string_split
    val tokens = text.toString.split(" ", -1)
    val votes = new Array[Int](16)
    val md = MessageDigest.getInstance("MD5")
    var t = 0
    while (t < tokens.length) {
      md.reset()
      val digest = md.digest(tokens(t).getBytes(StandardCharsets.UTF_8))
      // first 4 hex chars = first 2 digest bytes, high nibble first
      val hv = ((digest(0) & 0xff) << 8) | (digest(1) & 0xff)
      var j = 0
      while (j < 16) {
        if ((hv & (1 << j)) != 0) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      t += 1
    }
    var fp = 0
    var j = 0
    while (j < 16) {
      if (votes(j) > 0) fp |= (1 << j)
      j += 1
    }
    fp
  }
}
