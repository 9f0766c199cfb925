package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.sql.GraftBridge
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler similarity as a native codegen expression — the
  * entity-resolution scorer (Winkler '90: Jaro similarity boosted by up
  * to 4 chars of common prefix, scale 0.1). Spark ships `levenshtein`
  * but nothing rank-based for name matching; a Scala UDF here would
  * serialize both UTF8Strings per row and break whole-stage codegen in
  * the middle of the blocked-pair scorer, so this follows the NearestCentroids
  * shape: one compiled kernel shared by eval and a static-call
  * `doGenCode` that fuses into the surrounding stage.
  *
  * Kernel notes: matching window = max(|a|,|b|)/2 - 1, transpositions
  * counted over matched sequences in order, the standard
  * (m/|a| + m/|b| + (m-t)/m) / 3 average, and the Winkler boost applied
  * unconditionally (the common simplification; spec pins the canonical
  * MARTHA/MARHTA=0.961… vectors). Work is O(|a|·window) with two small
  * boolean scratch arrays — per-row allocation is two byte[]s, fine at
  * fused-loop speed.
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "jaro_winkler needs two string inputs")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinkler.compute(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.JaroWinkler.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object JaroWinkler {

  /** Shared kernel. Operates on UTF-16 code units (String), matching the
    * textbook definition on the ASCII-ish name data it scores. */
  def compute(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    if (a == b) return 1.0
    val la = a.length
    val lb = b.length
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (!found && j <= hi) {
        if (!bMatch(j) && a.charAt(i) == b.charAt(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: walk both matched sequences in order
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) t += 1
        j += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t / 2) / md) / 3.0
    // Winkler boost: up to 4 chars of exact common prefix, scale 0.1
    var p = 0
    val maxP = math.min(4, math.min(la, lb))
    while (p < maxP && a.charAt(p) == b.charAt(p)) p += 1
    jaro + p * 0.1 * (1.0 - jaro)
  }

  def jaroWinkler(a: Column, b: Column): Column =
    GraftBridge.toColumn(
      JaroWinkler(GraftBridge.toExpression(a), GraftBridge.toExpression(b)))
}
