package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.expressions.{PortableMinHash, PortableSimHash, SignBits, VecDot, WordNgrams, WordpieceTokenize}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions as SQL functions, so `spark.sql` users (and external
  * SQL tooling) reach the codegen kernels without the Scala API.
  *
  * Activate with either
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)` on the session builder.
  *
  * - `vec_dot(a, b)`            — dot product of float/double arrays
  * - `sign_bits(v, planes, dims)` — hyperplane sign-bit string for LSH
  * - `portable_minhash(grams, n)` — Carter–Wegman md5 MinHash signature
  * - `portable_simhash(tokens)`   — 60-bit md5 SimHash
  * - `zorder_value(bits, c₁, c₂, …)` — Morton z-value of the columns'
  *   low `bits` bits (see operators.Layout)
  * - `word_ngrams(text, n)`       — single-pass distinct word n-grams
  * - `wordpiece_tokenize(word, 'p1,p2,…')` — greedy longest-match
  *   WordPiece pieces of one word against a comma-separated vocab
  *   literal
  * - `char_entropy(text)`         — (n_cp, n_distinct, entropy_nanos)
  * - `jaro_winkler(a, b)`         — nano-quantized Jaro–Winkler
  * - `char_grams_pos(text, k)`    — sliding k-char grams with 1-based
  *   code-point positions (the span-dedup gram stream)
  * - `bpe_segment_word(word, 'a b,c d,…')` — apply a ranked BPE merge
  *   table ("sym_a sym_b" pairs, comma-separated, rank order)
  * - `unigram_segment_word(word, 'p:nano,…')` — Viterbi segmentation
  *   under a unigram piece table (piece:logp_nano pairs)
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
      s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[Expression]) => VecDot(children(0), children(1))))

    ext.injectFunction((FunctionIdentifier("sign_bits"),
      new ExpressionInfo(classOf[SignBits].getName, "sign_bits"),
      (children: Seq[Expression]) => {
        val planes = intLit(children(1), "sign_bits planes")
        val dims = if (children.length > 2)
          intLit(children(2), "sign_bits dims") else 64
        graft.functions.Similarity.signBitsExpr(children.head, planes, dims)
      }))

    ext.injectFunction((FunctionIdentifier("portable_minhash"),
      new ExpressionInfo(classOf[PortableMinHash].getName, "portable_minhash"),
      (children: Seq[Expression]) => {
        val n = if (children.length > 1)
          intLit(children(1), "portable_minhash numHashes") else 16
        PortableMinHash(children.head, n)
      }))

    ext.injectFunction((FunctionIdentifier("portable_simhash"),
      new ExpressionInfo(classOf[PortableSimHash].getName, "portable_simhash"),
      (children: Seq[Expression]) => PortableSimHash(children.head, 60)))

    ext.injectFunction((FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNgrams].getName, "word_ngrams"),
      (children: Seq[Expression]) => {
        val n = if (children.length > 1)
          intLit(children(1), "word_ngrams n") else 3
        WordNgrams(children.head, n)
      }))

    ext.injectFunction((FunctionIdentifier("wordpiece_tokenize"),
      new ExpressionInfo(classOf[WordpieceTokenize].getName,
        "wordpiece_tokenize"),
      (children: Seq[Expression]) => {
        require(children.length == 2,
          "wordpiece_tokenize(word, 'piece1,piece2,…') takes exactly 2 arguments")
        val vocab = children(1) match {
          case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) =>
            s.toString.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
          case other => throw new IllegalArgumentException(
            s"wordpiece_tokenize vocab must be a string literal, got $other")
        }
        WordpieceTokenize(children.head, vocab)
      }))

    ext.injectFunction((FunctionIdentifier("char_entropy"),
      new ExpressionInfo(classOf[graft.expressions.CharEntropy].getName,
        "char_entropy"),
      (children: Seq[Expression]) =>
        graft.expressions.CharEntropy(children.head)))

    ext.injectFunction((FunctionIdentifier("jaro_winkler"),
      new ExpressionInfo(classOf[graft.expressions.JaroWinkler].getName,
        "jaro_winkler"),
      (children: Seq[Expression]) =>
        graft.expressions.JaroWinkler(children(0), children(1))))

    ext.injectFunction((FunctionIdentifier("char_grams_pos"),
      new ExpressionInfo(classOf[graft.expressions.CharGramsWithPos].getName,
        "char_grams_pos"),
      (children: Seq[Expression]) => graft.expressions.CharGramsWithPos(
        children.head, intLit(children(1), "char_grams_pos k"))))

    ext.injectFunction((FunctionIdentifier("bpe_segment_word"),
      new ExpressionInfo(classOf[graft.expressions.BpeSegmentWord].getName,
        "bpe_segment_word"),
      (children: Seq[Expression]) => {
        val merges = strLit(children(1), "bpe_segment_word merges")
          .split(",").iterator.map(_.trim).filter(_.nonEmpty)
          .map { m =>
            val sp = m.indexOf(' ')
            require(sp > 0, s"merge '$m' must be 'sym_a sym_b'")
            (m.substring(0, sp), m.substring(sp + 1))
          }.toArray
        graft.expressions.BpeSegmentWord(children.head, merges)
      }))

    ext.injectFunction((FunctionIdentifier("unigram_segment_word"),
      new ExpressionInfo(
        classOf[graft.expressions.UnigramSegmentWord].getName,
        "unigram_segment_word"),
      (children: Seq[Expression]) => {
        val pieces = strLit(children(1), "unigram_segment_word pieces")
          .split(",").iterator.map(_.trim).filter(_.nonEmpty)
          .map { m =>
            val sp = m.lastIndexOf(':')
            require(sp > 0, s"piece '$m' must be 'piece:logp_nano'")
            (m.substring(0, sp), m.substring(sp + 1).toLong)
          }.toArray
        graft.expressions.UnigramSegmentWord(children.head, pieces)
      }))

    ext.injectFunction((FunctionIdentifier("zorder_value"),
      new ExpressionInfo(graft.operators.Layout.getClass.getName, "zorder_value"),
      (children: Seq[Expression]) => {
        // built directly from catalyst nodes: a functions-API Column
        // converted back to an Expression here stays an unresolved
        // ColumnNodeExpression (Unevaluable) in Spark 4
        import org.apache.spark.sql.catalyst.expressions.{Add, BitwiseAnd, Cast, Multiply, ShiftRight}
        import org.apache.spark.sql.types.LongType
        val bits = intLit(children.head, "zorder_value bits")
        val cols = children.tail
        require(cols.nonEmpty && bits * cols.size <= 63,
          s"zorder_value: ${cols.size} cols × $bits bits must fit a signed long")
        val terms = for {
          (c, i) <- cols.zipWithIndex
          j <- 0 until bits
        } yield Multiply(
          BitwiseAnd(ShiftRight(Cast(c, LongType), Literal(j)), Literal(1L)),
          Literal(1L << (j * cols.size + i)))
        terms.reduce[Expression]((a, b) => Add(a, b))
      }))
  }
}
