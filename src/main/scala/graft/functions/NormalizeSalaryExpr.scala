package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** F1 `normalize_salary` as a native Catalyst expression
  * (ref /root/reference/sql/stored_procedures.sql:6-105).
  *
  * The pure-`when`/`regexp_extract` formulation (the test-side
  * witness SalaryColumnChain) is semantically identical but inlines the 8-branch regex
  * chain once per struct-field access — measured at ~3.3 s of the
  * sf0.1 staging build, ~10× the cost of every other cleaning function
  * combined. This expression evaluates the chain exactly once per row
  * against precompiled patterns, stays inside whole-stage codegen (the
  * generated code calls `parseUTF8` directly — no Row encoder, no UDF
  * serialization), and returns the same
  * struct(salary_min double, salary_max double, salary_type string).
  *
  * Branch order, comma handling (thousands separator for USD, decimal
  * point for "triệu"), the ×24000/1e6 USD conversion, and the
  * coalesce/nullif post-guard replicate the stored procedure
  * branch-for-branch; arithmetic is BigDecimal so results match the
  * DECIMAL-exact column formulation bit-for-bit.
  */
case class NormalizeSalaryExpr(child: Expression)
    extends UnaryExpression with Serializable {

  // analysis-time type contract: a non-string child fails analysis
  // instead of throwing ClassCastException inside codegen. NullType is
  // allowed — NULL input is defined behavior ((0, 0, negotiable)), and
  // a bare NULL literal in SQL arrives untyped.
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType || child.dataType == NullType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"NORMALIZE_SALARY requires STRING input, got ${child.dataType.catalogString}")

  override def dataType: DataType = NormalizeSalaryExpr.OutType

  override def nullable: Boolean = false // null input → (0, 0, negotiable)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    NormalizeSalaryExpr.parseUTF8(v.asInstanceOf[UTF8String])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        InternalRow ${ev.value} = graft.functions.NormalizeSalaryExpr.parseUTF8(
          ${c.isNull} ? null : ${c.value});
      """,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): NormalizeSalaryExpr =
    copy(child = newChild)
}

object NormalizeSalaryExpr {

  val OutType: StructType = StructType(Seq(
    StructField("salary_min", DoubleType, nullable = false),
    StructField("salary_max", DoubleType, nullable = false),
    StructField("salary_type", StringType, nullable = false)))

  private val CI = Pattern.CASE_INSENSITIVE | Pattern.UNICODE_CASE
  private val RangeUsd   = Pattern.compile("([0-9,.]+)\\s*-\\s*([0-9,.]+)\\s*usd", CI)
  private val RangeTrieu = Pattern.compile("([0-9,.]+)\\s*-\\s*([0-9,.]+)\\s*triệu", CI)
  private val UptoUsd    = Pattern.compile("tới\\s+([0-9,.]+)\\s*usd", CI)
  private val UptoTrieu  = Pattern.compile("tới\\s+([0-9,.]+)\\s*triệu", CI)
  private val FromTrieu  = Pattern.compile("từ\\s+([0-9,.]+)\\s*triệu", CI)
  private val OneUsd     = Pattern.compile("([0-9,.]+)\\s*usd", CI)
  private val OneTrieu   = Pattern.compile("([0-9,.]+)\\s*triệu", CI)

  private val Usd24k = new java.math.BigDecimal(24000)
  private val Mega   = new java.math.BigDecimal(1000000)

  /** Spark-Decimal-cast-alike numeric parse: null on garbage, tolerant
    * of a trailing '.' (which java.math.BigDecimal alone rejects but
    * `cast(... as decimal)` accepts).
    */
  private def dec(s: String): java.math.BigDecimal = {
    val t = s.trim
    try new java.math.BigDecimal(t)
    catch {
      case _: NumberFormatException =>
        try new java.math.BigDecimal(t.stripSuffix("."))
        catch { case _: NumberFormatException => null }
    }
  }

  private def usdNum(s: String): java.math.BigDecimal = {
    val d = dec(s.replace(",", ""))
    if (d == null) null else d.multiply(Usd24k).divide(Mega)
  }
  private def trieuNum(s: String): java.math.BigDecimal = dec(s.replace(",", "."))

  private val Zero = java.math.BigDecimal.ZERO
  private val Negotiable = UTF8String.fromString("negotiable")
  private val Range = UTF8String.fromString("range")
  private val Upto = UTF8String.fromString("upto")
  private val From = UTF8String.fromString("from")

  private def out(mn0: java.math.BigDecimal, mx0: java.math.BigDecimal,
      ty: UTF8String): InternalRow = {
    // post-guard (stored_procedures.sql:100-101):
    // min = coalesce(min, 0); max = coalesce(nullif(max, 0), min)
    val mn = if (mn0 == null) Zero else mn0
    val mx = if (mx0 == null || mx0.compareTo(Zero) == 0) mn else mx0
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](mn.doubleValue(), mx.doubleValue(), ty))
  }

  def parseUTF8(u: UTF8String): InternalRow = {
    val s = if (u == null) null else u.toString
    if (s == null || s.isEmpty || s.toLowerCase == "thoả thuận")
      return out(Zero, Zero, Negotiable)
    val ru = RangeUsd.matcher(s)
    if (ru.find()) return out(usdNum(ru.group(1)), usdNum(ru.group(2)), Range)
    val rt = RangeTrieu.matcher(s)
    if (rt.find()) return out(trieuNum(rt.group(1)), trieuNum(rt.group(2)), Range)
    val uu = UptoUsd.matcher(s)
    if (uu.find()) return out(Zero, usdNum(uu.group(1)), Upto)
    val ut = UptoTrieu.matcher(s)
    if (ut.find()) return out(Zero, trieuNum(ut.group(1)), Upto)
    val ft = FromTrieu.matcher(s)
    if (ft.find()) { val v = trieuNum(ft.group(1)); return out(v, v, From) }
    if (!s.contains("-")) {
      val ou = OneUsd.matcher(s)
      if (ou.find()) { val v = usdNum(ou.group(1)); return out(v, v, Range) }
      val ot = OneTrieu.matcher(s)
      if (ot.find()) { val v = trieuNum(ot.group(1)); return out(v, v, Range) }
    }
    out(Zero, Zero, Negotiable)
  }
}
