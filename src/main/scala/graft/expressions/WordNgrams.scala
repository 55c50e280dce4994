package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Distinct word n-grams of a text column as ONE native kernel —
  * bit-identical to the declarative
  * `wordNgramsFromTokens(tokens(lower(text)), n)` composition
  * (lower → trim → split `\s+` → first-occurrence-distinct sliding
  * windows; short docs emit the whole text as one gram, so every doc
  * stays dedupable), but evaluated in a single pass per row.
  *
  * Why it exists: the declarative form is a higher-order `transform`
  * whose `element_at(toks, …)` lambda runs on the INTERPRETED path
  * whenever the projection feeds a Generate (explode) — interpreted
  * eval has no common-subexpression elimination, so the inlined
  * split() re-tokenizes once per element access (measured 12 s vs
  * 0.6 s for the same sf0.1 gram stream). Here tokenization happens
  * exactly once per row regardless of the surrounding plan.
  */
case class WordNgrams(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, "n must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_ngrams"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_ngrams expects a string column, got ${child.dataType}")

  def ngrams(text: UTF8String): ArrayData = {
    // mirror split(trim(lower(text)), "\s+", -1) EXACTLY:
    //  - lower via UTF8String.toLowerCase (locale-independent ASCII
    //    fast path — Java's String.toLowerCase is default-locale
    //    sensitive, e.g. Turkish dotless i);
    //  - trim via UTF8String.trim(), which strips ONLY ' ' (0x20) —
    //    Java's String.trim strips all chars <= 0x20, so tab/newline
    //    padding would diverge from the declarative pipeline (the
    //    declarative path keeps a leading/trailing empty token there);
    //  - split with limit -1 keeps trailing empties, same as Spark's
    //    split; an empty doc yields [""] → ONE empty gram.
    val toks = text.toLowerCase.trim().toString.split("\\s+", -1)
    if (toks.length >= n) {
      // first-occurrence order, like array_distinct
      val seen = new java.util.LinkedHashSet[String]()
      var i = 0
      val sb = new java.lang.StringBuilder()
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size)
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new GenericArrayData(out)
    } else if (toks.length > 0) {
      new GenericArrayData(
        Array[Any](UTF8String.fromString(toks.mkString(" "))))
    } else new GenericArrayData(Array.empty[Any])
  }

  override def nullSafeEval(input: Any): Any =
    ngrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordNgrams", this,
      classOf[WordNgrams].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.ngrams($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordNgrams = copy(child = newChild)
}

private[expressions] object WordTok {
  /** Spark-exact tokenization: optional UTF8String.toLowerCase
    * (locale-independent), UTF8String.trim (0x20 only), then
    * split("\s+", -1) — identical to
    * `split(trim([lower(]text[)]), "\s+")`.
    */
  def tokens(text: UTF8String, lowercase: Boolean): Array[String] = {
    val t = if (lowercase) text.toLowerCase else text
    t.trim().toString.split("\\s+", -1)
  }
}

/** ALL word n-grams of a text column (every occurrence, original
  * order — the non-distinct stream an LM/DSIR feature counter needs,
  * where [[WordNgrams]] deduplicates for set semantics). Exactly the
  * declarative
  * `transform(sequence(0, size(toks)−n), i → concat_ws(" ", toks[i+1..i+n]))`
  * over `split(trim([lower(]text[)]), "\s+")` with `size(toks) < n`
  * collapsing to an empty array — but tokenized ONCE per row: the
  * declarative form's `element_at(split(…), i)` lambda re-tokenizes
  * per element on the interpreted Generate path (the plan-lint trap).
  */
case class WordNgramsAll(child: Expression, n: Int, lowercase: Boolean)
    extends UnaryExpression {
  require(n >= 1, "n must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_ngrams_all"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_ngrams_all expects a string column, got ${child.dataType}")

  def ngrams(text: UTF8String): ArrayData = {
    val toks = WordTok.tokens(text, lowercase)
    val count = toks.length - n + 1
    if (count <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](count)
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i < count) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override def nullSafeEval(input: Any): Any =
    ngrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordNgramsAll", this,
      classOf[WordNgramsAll].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.ngrams($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordNgramsAll = copy(child = newChild)
}

/** Non-overlapping `p`-token chunks of a text column in order (the
  * passage splitter) — exactly the declarative
  * `transform(sequence(0, max(ceil(size(toks)/p)−1, 0)), i → concat_ws(" ", slice(toks, i·p+1, p)))`
  * over `split(trim(text), "\s+")` (at least ONE chunk — an empty doc
  * yields [""]), tokenized once per row instead of once per chunk.
  */
case class WordChunks(child: Expression, p: Int)
    extends UnaryExpression {
  require(p >= 1, "p must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "word_chunks"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"word_chunks expects a string column, got ${child.dataType}")

  def chunks(text: UTF8String): ArrayData = {
    val toks = WordTok.tokens(text, lowercase = false)
    val count = math.max((toks.length + p - 1) / p, 1)
    val out = new Array[Any](count)
    val sb = new java.lang.StringBuilder()
    var i = 0
    while (i < count) {
      sb.setLength(0)
      var j = i * p
      val end = math.min(j + p, toks.length)
      while (j < end) {
        if (j > i * p) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    chunks(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordChunks", this,
      classOf[WordChunks].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.chunks($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): WordChunks = copy(child = newChild)
}

/** ALL character n-grams of the whitespace-normalized lowercase text
  * (every occurrence, original order) — the fastText/CCNet feature
  * stream for language-and-quality Naive Bayes filters. Exactly the
  * declarative
  * `transform(sequence(1, len−n+1), i → substr(norm, i, n))` over
  * `norm = regexp_replace(lower(trim(text)), "\s+", " ")` (the
  * [[graft.functions.Dedup.shingles]] normalization, non-distinct) —
  * but normalized ONCE per row: the declarative lambda re-runs the
  * regexp per element on the interpreted Generate path (the plan-lint
  * trap). Offsets are CODE POINTS (what Spark's substr and DuckDB's
  * substr both count), so the stream replays in the oracle. Text with
  * fewer than n code points yields an empty array.
  */
case class CharNgramsAll(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, "n must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "char_ngrams_all"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_ngrams_all expects a string column, got ${child.dataType}")

  def ngrams(text: UTF8String): ArrayData = {
    // UTF8String.toLowerCase / .trim() for exact parity with the
    // declarative lower(trim(text)) (see WordNgrams.ngrams' rationale)
    val norm = text.toLowerCase.trim().toString.replaceAll("\\s+", " ")
    val cps = norm.codePoints().toArray
    val count = cps.length - n + 1
    if (count <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](count)
      var i = 0
      while (i < count) {
        out(i) = UTF8String.fromString(
          new String(cps, i, n))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override def nullSafeEval(input: Any): Any =
    ngrams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charNgramsAll", this,
      classOf[CharNgramsAll].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.ngrams($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CharNgramsAll = copy(child = newChild)
}

/** All k-char grams of the RAW text with their 1-based start
  * positions — the duplicate-span stream (Dedup.dupSpanStats /
  * dupSpans). Exactly the declarative
  * `transform(sequence(1, length(text)−k+1), i → struct(i,
  * substr(text, i, k)))` — but as one codegen'd pass: the declarative
  * lambda runs substr per element on the interpreted Generate path
  * (the plan-lint trap; measured 8 s of a 7-s-warm gate in the raw
  * gram pipeline at sf0.1). Offsets are CODE POINTS (Spark's substr
  * and length, DuckDB's substr — all agree), NO normalization: span
  * extents index into the original text. Shorter-than-k text yields
  * an empty array.
  */
case class CharGramsWithPos(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, "k must be >= 1")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("gram", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "char_grams_with_pos"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"char_grams_with_pos expects a string column, got ${child.dataType}")

  def grams(text: UTF8String): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val count = cps.length - k + 1
    if (count <= 0) new GenericArrayData(Array.empty[Any])
    else {
      val out = new Array[Any](count)
      var i = 0
      while (i < count) {
        out(i) = new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](i + 1,
            UTF8String.fromString(new String(cps, i, k))))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  override def nullSafeEval(input: Any): Any =
    grams(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("charGramsWithPos", this,
      classOf[CharGramsWithPos].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.grams($c);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): CharGramsWithPos = copy(child = newChild)
}
