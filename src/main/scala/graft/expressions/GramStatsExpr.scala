package graft.expressions

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Frequency statistics of one string array (a document's words or word
  * n-grams) in ONE hash pass — the kernel behind the Gopher-style
  * repetition signals ([[graft.functions.TextFunctions.topGramChars]],
  * `dupGramChars`, `totalGramChars`) and the word statistics of
  * `qualityKeep`.
  *
  * The built-in spelling counts each distinct element by re-filtering the
  * whole array (`size(filter(arr, x => x === g))` per `g`), O(n²)
  * interpreted lambda calls per row. Here each element is counted once
  * in an open-addressing table over element positions, then the distinct
  * entries are folded: O(n) expected, no allocation per element beyond
  * the array's own string views.
  *
  * Returns a struct, NULL for a NULL array:
  *  - `top`: count × character length of the most frequent element, ties
  *    to the smallest by `UTF8String` order (unsigned bytes, the order
  *    `array_min` uses); NULL when there is no non-NULL element;
  *  - `dup`: character mass of the positions whose element occurs more
  *    than once;
  *  - `total`: character mass of all positions; NULL when any element is
  *    NULL (the `aggregate(arr, 0, acc + length(x))` rule);
  *  - `maxCount`: the largest count; NULL for an empty array, 0 when
  *    every element is NULL (a NULL element counts 0 times, as
  *    `filter(x === g)` counts it);
  *  - `distinct`: the number of distinct elements, NULL counted as one
  *    value (`size(array_distinct(arr))`).
  * Masses are LONG, so the int-typed callers cast them and keep the
  * session's overflow behaviour (ANSI raises, legacy wraps).
  *
  * Codegen: `doGenCode` emits one static call, so the projection holding
  * it stays inside whole-stage codegen.
  */
case class GramStatsExpr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"gramStats expects ARRAY<STRING>, got ${other.catalogString}")
  }

  override def dataType: DataType = GramStatsExpr.resultType

  override protected def nullSafeEval(v: Any): Any =
    GramStatsExpr.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${classOf[GramStatsExpr].getName}.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): GramStatsExpr =
    copy(child = newChild)
}

object GramStatsExpr {
  val resultType: StructType = StructType(Seq(
    StructField("top", LongType, nullable = true),
    StructField("dup", LongType, nullable = false),
    StructField("total", LongType, nullable = true),
    StructField("maxCount", IntegerType, nullable = true),
    StructField("distinct", IntegerType, nullable = false)))

  def gramStats(arr: Column): Column =
    GraftBridge.column(GramStatsExpr(GraftBridge.expression(arr)))

  def compute(a: ArrayData): InternalRow = {
    val n = a.numElements()
    val grams = new Array[UTF8String](n)
    // slot → first position holding that element, + 1 (0 = empty slot)
    val cap = Integer.highestOneBit(math.max(n, 1) * 2 - 1) << 1
    val mask = cap - 1
    val first = new Array[Int](cap)
    val hashes = new Array[Int](cap)
    val counts = new Array[Int](cap)
    var hasNull = false
    var distinct = 0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) hasNull = true
      else {
        val g = a.getUTF8String(i)
        grams(i) = g
        val h = g.hashCode()
        var s = h & mask
        // linear probing; the stored hash spares most byte comparisons
        while (first(s) != 0 && (hashes(s) != h || !grams(first(s) - 1).equals(g)))
          s = (s + 1) & mask
        if (first(s) == 0) { first(s) = i + 1; hashes(s) = h; distinct += 1 }
        counts(s) += 1
      }
      i += 1
    }
    var top: UTF8String = null
    var maxCount = 0
    var dup = 0L
    var total = 0L
    var s = 0
    while (s < cap) {
      if (first(s) != 0) {
        val g = grams(first(s) - 1)
        val c = counts(s)
        val mass = c.toLong * g.numChars()
        total += mass
        if (c > 1) dup += mass
        if (c > maxCount || (c == maxCount && g.compareTo(top) < 0)) {
          top = g
          maxCount = c
        }
      }
      s += 1
    }
    new GenericInternalRow(Array[Any](
      if (top == null) null else maxCount.toLong * top.numChars(),
      dup,
      if (hasNull) null else total,
      if (n == 0) null else maxCount,
      distinct + (if (hasNull) 1 else 0)))
  }
}
