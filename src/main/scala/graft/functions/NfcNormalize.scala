package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftPlanApi.{column, expressionOf}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization of a string column (UAX #15, via
  * `java.text.Normalizer`). Spark has no built-in normalization
  * function; DuckDB's `nfc_normalize` implements the same Unicode
  * standard, so oracle parity holds by specification. One eval per row
  * (CodegenFallback is fine at that granularity — see
  * [[CharGramHashSet]]).
  */
case class NfcNormalize(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType

  override def prettyName: String = "graft_nfc"

  override protected def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      Normalizer.normalize(input.toString, Normalizer.Form.NFC))

  override protected def withNewChildInternal(newChild: Expression): NfcNormalize =
    copy(child = newChild)
}

object NfcNormalize {

  def nfc(c: Column): Column = column(NfcNormalize(expressionOf(c)))
}
