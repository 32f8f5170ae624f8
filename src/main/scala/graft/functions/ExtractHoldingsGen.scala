package graft.functions

import graft.extract.NportKernel
import org.apache.spark.sql.{Column, GraftInterop}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The NPORT extraction kernel (X2, ETFQuarterlyHoldingsExtractor.py:84-131)
  * as a Catalyst `Generator`: the one 1-doc→N-rows form of the operator.
  * Every extraction query runs it through `operators.Extraction.holdingsOf`,
  * and plain SQL calls it as `extract_holdings(doc)` (GraftExtensions).
  *
  * Why a Generator: it stays inside the relational plan. There is no
  * `Dataset[T]` encoder boundary (object serialization in and out), so
  * upstream remains a columnar scan, downstream projections resolve
  * against `elementSchema`, and Catalyst plans a `GenerateExec` over the
  * document column with every other column pruned as usual. The same
  * plan serves DataFrame and SQL callers.
  *
  * CodegenFallback is deliberate: the per-row work is an XHTML parse —
  * microseconds to milliseconds — so per-row dispatch overhead is
  * negligible (the MinHashSignature/SrpBandKeys rationale, even more so).
  */
case class ExtractHoldingsGen(child: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType = StructType(Seq(
    StructField("reporting_date", StringType, nullable = false),
    StructField("issuer", StringType, nullable = true),
    StructField("shares", StringType, nullable = true),
    StructField("value_usd", StringType, nullable = true),
    StructField("pct_net_assets", StringType, nullable = true)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string document column, got ${t.sql}")
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val doc = child.eval(input)
    // null document ⇒ no rows: the F2 null guard (a fetch-failed filing
    // contributes nothing, ref :150)
    if (doc == null) Nil
    else NportKernel.extractRows(doc.toString).map { h =>
      InternalRow(
        UTF8String.fromString(h.reporting_date),
        h.issuer.map(UTF8String.fromString).orNull,
        h.shares.map(UTF8String.fromString).orNull,
        h.value_usd.map(UTF8String.fromString).orNull,
        h.pct_net_assets.map(UTF8String.fromString).orNull)
    }
  }

  override def prettyName: String = "extract_holdings"

  override protected def withNewChildInternal(newChild: Expression): ExtractHoldingsGen =
    copy(child = newChild)
}

object ExtractHoldingsGen {
  def apply(doc: Column): Column =
    GraftInterop.column(new ExtractHoldingsGen(GraftInterop.expression(doc)))
}
