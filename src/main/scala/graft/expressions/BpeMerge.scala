package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One BPE merge applied to a symbol array (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units" —
  * public paper): every LEFTMOST NON-OVERLAPPING adjacent (a, b)
  * collapses to the concatenated symbol in a single left-to-right
  * scan. For an overlapping same-symbol chain (a a a with a = b) this
  * merges positions (1,2) and leaves 3 — the reference greedy
  * semantics, which the SQL oracle reproduces with the run-parity
  * rule (within a run of consecutive match starts, every other start
  * beginning at the first is chosen).
  *
  * A native kernel rather than a higher-order fold: the merge runs
  * once per vocab row per round, and an `aggregate`/`transform`
  * lambda here would land on the interpreted path the plan-lint gate
  * exists to keep out of hot loops.
  */
object BpeMerge {
  /** THE greedy left-to-right pair-merge rule on plain strings — the
    * single shared implementation behind [[BpeSegmentWord]] (encoder)
    * and `TextAnalysis.bpeTrainLocal` (driver trainer), so the
    * spec-pinned merge semantics cannot silently fork between them.
    * [[BpeMergePair]] keeps its own UTF8String loop for the
    * distributed hot path; a property spec pins the two bit-identical.
    * Returns the INPUT ARRAY REFERENCE when the pair does not occur
    * (callers use eq to skip rebuild bookkeeping).
    */
  private[graft] def greedy(syms: Array[String], a: String,
      b: String): Array[String] = {
    var found = false
    var j = 0
    while (!found && j + 1 < syms.length) {
      found = syms(j) == a && syms(j + 1) == b
      j += 1
    }
    if (!found) syms
    else {
      val out = new scala.collection.mutable.ArrayBuffer[String](
        syms.length)
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
          out += (a + b); i += 2
        } else { out += syms(i); i += 1 }
      }
      out.toArray
    }
  }
}

case class BpeMergePair(child: Expression, a: String, b: String)
    extends UnaryExpression {

  private val merged = a + b

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bpe_merge_pair"

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bpe_merge_pair expects array<string>, got $other")
    }

  private val ua = UTF8String.fromString(a)
  private val ub = UTF8String.fromString(b)
  private val um = UTF8String.fromString(merged)

  def merge(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any](n)
    var i = 0
    while (i < n) {
      if (i + 1 < n && arr.getUTF8String(i) == ua &&
          arr.getUTF8String(i + 1) == ub) {
        out += um
        i += 2
      } else {
        out += arr.getUTF8String(i)
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    merge(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeMerge", this,
      classOf[BpeMergePair].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.merge($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeMergePair = copy(child = newChild)
}

/** The BPE ENCODER: a full ranked merge table applied to one word —
  * symbols start as the word's characters, then every merge applies
  * in RANK ORDER with [[BpeMergePair]]'s greedy left-to-right
  * pair-skip scan. Sequential rank application is exactly the
  * training loop's own replay (and the SQL oracle's v1→vR unroll), so
  * encode(train corpus) reproduces training's final vocabulary state
  * bit-for-bit — the parity the gate rests on. (The published
  * min-rank-first encoder is equivalent on tables produced by
  * training; sequential is the form that is exact BY CONSTRUCTION
  * for any table, so it is what ships.)
  *
  * Cost: O(R·len) symbol comparisons per word — and the operator runs
  * it per DISTINCT word (the vocab table), never per token, so the
  * corpus-sized side of tokenization is a broadcast lookup.
  */
case class BpeSegmentWord(child: Expression,
    merges: Array[(String, String)])
    extends UnaryExpression with ArrayParamValueEquality {

  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "bpe_segment_word"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bpe_segment_word expects a string column, got ${child.dataType}")

  def segment(w: UTF8String): ArrayData = {
    val s = w.toString
    var syms = new Array[String](s.codePointCount(0, s.length))
    var i = 0; var cp = 0
    while (i < s.length) {
      val n = s.offsetByCodePoints(i, 1)
      syms(cp) = s.substring(i, n)
      cp += 1; i = n
    }
    var m = 0
    while (m < merges.length) {
      val (a, b) = merges(m)
      syms = BpeMerge.greedy(syms, a, b) // shared spec-pinned rule
      m += 1
    }
    new GenericArrayData(
      syms.map(x => UTF8String.fromString(x): Any))
  }

  override def nullSafeEval(input: Any): Any =
    segment(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeSegmentWord", this,
      classOf[BpeSegmentWord].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.segment($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): BpeSegmentWord = copy(child = newChild)
}
