package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native Catalyst expression — the first
  * pass of any text-scrub pipeline (decomposed accents, compatibility
  * forms, and mixed-source corpora otherwise make byte-equal dedup hashes
  * miss visually-identical text).
  *
  * Spark ships no normalization built-in, and a Scala UDF would pay
  * serialization plus break whole-stage codegen; this expression stays
  * inside codegen (one JDK `Normalizer` call per row — the same ICU-style
  * normalization DuckDB's `nfc_normalize` applies, so oracle results are
  * byte-identical). The already-normalized fast path (`isNormalized`, a
  * scan without allocation — the overwhelmingly common case for real
  * corpora) returns the input UTF8String untouched.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_nfc expects string, got $t")
  }
  override def dataType: DataType = child.dataType
  override def prettyName: String = "graft_nfc"

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC))
      input
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      s"""
         |java.lang.String $s = $c.toString();
         |${ev.value} =
         |  java.text.Normalizer.isNormalized($s, java.text.Normalizer.Form.NFC)
         |    ? $c
         |    : org.apache.spark.unsafe.types.UTF8String.fromString(
         |        java.text.Normalizer.normalize($s, java.text.Normalizer.Form.NFC));
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object TextExpressions {

  private val nfcInfo = new ExpressionInfo(
    classOf[NfcNormalize].getName, "graft_nfc")

  private val nfcBuilder: Seq[Expression] => Expression = {
    case Seq(a) => NfcNormalize(a)
    case other => throw new IllegalArgumentException(
      s"graft_nfc expects 1 argument, got ${other.size}")
  }

  /** Idempotent runtime registration through [[SessionFunctions]]. */
  def register(spark: SparkSession): Unit =
    SessionFunctions.register(spark, "graft_nfc" -> nfcBuilder)

  /** `SparkSessionExtensions` hook (see [[GraftExtensions]]). */
  def inject(extensions: SparkSessionExtensions): Unit =
    extensions.injectFunction(
      (FunctionIdentifier("graft_nfc"), nfcInfo, nfcBuilder))
}
