package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Clipped n-gram overlap of a candidate and a reference, counted inside
  * the row: for each order n in lo..hi, the sum over distinct grams of
  * min(count in cand, count in ref) — the numerator of ROUGE-N, BLEU's
  * modified precision and chrF. Returns `array<bigint>` with one entry
  * per order (index 1 is order `lo`); a null side gives null.
  *
  * On two strings a gram is a window of characters as Spark's `length`
  * and `substr` count them (code points, not UTF-16 units), so the
  * counts equal those of the `substr` gram strings. On two
  * `array<string>` a gram is a window of tokens (a null element is a
  * token of its own). Grams are compared exactly, never by hash alone.
  *
  * The generated code is one call into the precompiled helper in the
  * companion object, so it does not grow with the order range (the
  * [[ShingleHashes]] pattern). */
case class ClippedNgramOverlap(cand: Expression, ref: Expression, lo: Int, hi: Int)
    extends BinaryExpression {
  require(lo >= 1 && hi >= lo, s"orders must satisfy 1 <= lo <= hi, got $lo..$hi")

  override def left: Expression = cand
  override def right: Expression = ref
  override def prettyName: String = "clipped_ngram_overlap"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = (cand.dataType, ref.dataType) match {
    case (StringType, StringType) | (ArrayType(StringType, _), ArrayType(StringType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (a, b) => TypeCheckResult.TypeCheckFailure(
      s"clipped_ngram_overlap needs two strings or two string arrays, got " +
        s"${a.simpleString} and ${b.simpleString}")
  }

  override def nullSafeEval(c: Any, r: Any): Any = (c, r) match {
    case (cs: UTF8String, rs: UTF8String) => ClippedNgramOverlap.compute(cs, rs, lo, hi)
    case (ca: ArrayData, ra: ArrayData) => ClippedNgramOverlap.compute(ca, ra, lo, hi)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, r) =>
      s"${ev.value} = graft.functions.ClippedNgramOverlap.compute($c, $r, $lo, $hi);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(cand = newLeft, ref = newRight)
}

object ClippedNgramOverlap {

  /** Character grams: each character becomes one int (its UTF-8 bytes
    * packed big-endian; the lead byte fixes the length, so equal ints
    * are equal characters). */
  def compute(cand: UTF8String, ref: UTF8String, lo: Int, hi: Int): ArrayData =
    overlaps(chars(cand), chars(ref), lo, hi)

  /** Token grams: every distinct token of either side gets one int. */
  def compute(cand: ArrayData, ref: ArrayData, lo: Int, hi: Int): ArrayData = {
    val ids = new java.util.HashMap[UTF8String, Integer]()
    def idsOf(a: ArrayData): Array[Int] = Array.tabulate(a.numElements()) { i =>
      if (a.isNullAt(i)) -1
      else {
        val t = a.getUTF8String(i)
        val id = ids.get(t)
        if (id != null) id.intValue
        else { ids.put(t, ids.size); ids.size - 1 }
      }
    }
    overlaps(idsOf(cand), idsOf(ref), lo, hi)
  }

  /** Spark's character boundaries (`UTF8String.numBytesForFirstByte`). */
  private def chars(s: UTF8String): Array[Int] = {
    val len = s.numBytes()
    val out = new Array[Int](len)
    var i = 0
    var k = 0
    while (i < len) {
      val end = math.min(len, i + UTF8String.numBytesForFirstByte(s.getByte(i)))
      var v = 0
      while (i < end) { v = (v << 8) | (s.getByte(i) & 0xff); i += 1 }
      out(k) = v
      k += 1
    }
    java.util.Arrays.copyOf(out, k)
  }

  private def overlaps(c: Array[Int], r: Array[Int], lo: Int, hi: Int): ArrayData = {
    val out = new Array[Long](hi - lo + 1)
    val table = new GramTable(c.length - lo + 1)
    var n = lo
    while (n <= hi && n <= math.min(c.length, r.length)) {
      table.load(c, n)
      var ov = 0L
      var j = 0
      while (j + n <= r.length) {
        if (table.take(r, j)) ov += 1
        j += 1
      }
      out(n - lo) = ov
      n += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  def apply(cand: Column, ref: Column, lo: Int, hi: Int): Column =
    ColumnBridge.column(ClippedNgramOverlap(
      ColumnBridge.expression(cand), ColumnBridge.expression(ref), lo, hi))
}

/** Count of the most frequent word n-gram of a text, with `split(text, " ")`
  * tokens (empty tokens between consecutive spaces count). A text with
  * fewer than n tokens is one whole-text gram (count 1); a null text gives
  * null. Tokens are keyed by their exact byte ranges in the text, and the
  * mode search is one counting pass, not one filter per distinct gram. */
case class TopGramCount(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")

  override def prettyName: String = "top_gram_count"
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"top_gram_count needs string, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any =
    TopGramCount.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TopGramCount.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TopGramCount {

  def compute(text: UTF8String, n: Int): Int = {
    val len = text.numBytes()
    var numTokens = 1
    var i = 0
    while (i < len) { if (text.getByte(i) == 0x20) numTokens += 1; i += 1 }
    if (numTokens < n) return 1
    // one id per distinct token; the keys are views over the text's bytes
    val ids = new java.util.HashMap[UTF8String, Integer]()
    val seq = new Array[Int](numTokens)
    var t = 0
    var start = 0
    i = 0
    while (i <= len) {
      if (i == len || text.getByte(i) == 0x20) {
        val tok = UTF8String.fromAddress(text.getBaseObject, text.getBaseOffset + start, i - start)
        val id = ids.get(tok)
        seq(t) = if (id != null) id.intValue else { ids.put(tok, ids.size); ids.size - 1 }
        t += 1
        start = i + 1
      }
      i += 1
    }
    new GramTable(numTokens - n + 1).load(seq, n)
  }

  def apply(text: Column, n: Int): Column =
    ColumnBridge.column(TopGramCount(ColumnBridge.expression(text), n))
}

/** Counts of the length-n windows of an int sequence: open addressing with
  * linear probing, keys compared element by element. Sized once for the
  * most windows it will hold, then reloaded per order. */
private[functions] final class GramTable(maxWindows: Int) {
  private val mask = Integer.highestOneBit(math.max(maxWindows, 1) * 2 + 1) * 2 - 1
  private val starts = new Array[Int](mask + 1) // window start + 1; 0 = empty
  private val counts = new Array[Int](mask + 1)
  private var keys: Array[Int] = Array.emptyIntArray
  private var n = 0

  private def slot(s: Array[Int], at: Int): Int = {
    var h = n
    var k = 0
    while (k < n) { h = h * 31 + s(at + k); k += 1 }
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35; h ^= h >>> 16
    var p = h & mask
    while (starts(p) != 0 && !same(s, at, starts(p) - 1)) p = (p + 1) & mask
    p
  }

  private def same(s: Array[Int], at: Int, kAt: Int): Boolean = {
    var k = 0
    while (k < n && s(at + k) == keys(kAt + k)) k += 1
    k == n
  }

  /** Counts the length-`order` windows of `seq`; returns the largest count. */
  def load(seq: Array[Int], order: Int): Int = {
    java.util.Arrays.fill(starts, 0)
    keys = seq
    n = order
    var top = 0
    var i = 0
    while (i + n <= seq.length) {
      val p = slot(seq, i)
      if (starts(p) == 0) { starts(p) = i + 1; counts(p) = 0 }
      counts(p) += 1
      if (counts(p) > top) top = counts(p)
      i += 1
    }
    top
  }

  /** Takes one occurrence of the window of `seq` at `at`, if any is left. */
  def take(seq: Array[Int], at: Int): Boolean = {
    val p = slot(seq, at)
    if (starts(p) == 0 || counts(p) == 0) false
    else { counts(p) -= 1; true }
  }
}
