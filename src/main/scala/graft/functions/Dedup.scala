package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: every variant is groupBy/join on a compact key
  * (hash, band signature) — never an O(n²) comparison of full corpora.
  * The only all-pairs work happens inside LSH buckets, which are small
  * by construction. Signatures are computed map-side (codegen'd array
  * expressions, no UDFs), so the shuffle carries fingerprints, not
  * documents.
  */
object Dedup {

  import org.apache.spark.sql.graftglue.Glue.{column => exprCol, expression => colExpr}

  // heavy map-side kernels (gram explodes, signature hashing) engage
  // the whole cluster even when the input arrived as one unsplittable
  // scan split — no-op on properly-split inputs (see Tables.spreadScan)
  private def spread(df: DataFrame): DataFrame =
    graft.sources.Tables.spreadScan(df)

  /** Exact dedup: hash-groupBy on the normalized-text fingerprint.
    * Returns one row per distinct content: keeper id (min), dup count.
    * One shuffle of (16-byte key, id) pairs regardless of corpus size.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))

  /** Character k-shingles of normalized text, distinct. */
  def shingles(text: Column, k: Int = 5): Column = {
    val norm = regexp_replace(lower(trim(text)), "\\s+", " ")
    val n = greatest(length(norm) - lit(k - 1), lit(1))
    array_distinct(transform(sequence(lit(1), n),
      i => norm.substr(i, lit(k))))
  }

  /** Word n-grams from a MATERIALIZED token-array column. The tokens
    * must be a plain column reference, not an inline split() — an
    * expression embedded in the lambda re-evaluates per element access
    * (3n× split() per row; the O(tokens²) trap this API shape avoids).
    */
  def wordNgramsFromTokens(toks: Column, n: Int = 3): Column = {
    // Branches are guarded: ANSI mode (Spark 4 default) errors on
    // element_at past the array end, so the sliding window only runs
    // when the doc actually has >= n tokens. Shorter docs contribute
    // the whole doc as one gram (still dedupable); empty docs none.
    val full = array_distinct(transform(sequence(lit(0), size(toks) - lit(n)),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + j + 1)): _*)))
    when(size(toks) >= n, full)
      .when(size(toks) > 0, array(concat_ws(" ", toks)))
      .otherwise(array().cast("array<string>"))
  }

  /** Convenience for small inputs/tests; hot paths must materialize
    * tokens first (see wordNgramsFromTokens).
    */
  def wordNgrams(text: Column, n: Int = 3): Column =
    wordNgramsFromTokens(TextAnalysis.tokens(lower(text)), n)

  /** Native single-pass twin of `wordNgrams(text, n)` (lower → trim →
    * split → first-occurrence-distinct windows, bit-identical output).
    * Use this on any path that feeds a Generate/explode: there the
    * declarative higher-order form runs interpreted and re-tokenizes
    * per element access (measured 12 s vs 0.6 s on the sf0.1 gram
    * stream — see expressions.WordNgrams).
    */
  def wordNgramsNative(text: Column, n: Int = 3): Column =
    exprCol(graft.expressions.WordNgrams(colExpr(text), n))

  /** MinHash signature: `numHashes` seeded xxhash64 minima over the
    * word-3-gram set. xxhash64(seed, gram) approximates an independent
    * permutation per seed; the minimum is the signature component.
    *
    * Scale note: word n-grams (~1 per token) rather than char shingles
    * (~1 per character) keep the set small, and xxhash64 is Spark's
    * native codegen'd hash — the whole signature is one map-side
    * projection. An earlier md5-per-seed-per-char-shingle variant was
    * ~100× slower at sf0.1.
    */
  def minhashFromNgrams(ngrams: Column, numHashes: Int = 16): Column =
    array((0 until numHashes).map { seed =>
      array_min(transform(ngrams, s => xxhash64(lit(seed), s)))
    }: _*)

  /** Portable per-gram hash pair for Carter–Wegman MinHash: ONE md5
    * per gram, split into two independent halves — h1 (60 bits from
    * hex chars 1–15) and h2 (40 bits from chars 16–25). The i-th
    * "seeded" hash is then h1 + i·h2 (Broder's linear family): max
    * value 2^60 + 15·2^40 — no 64-bit overflow, and any engine with
    * bit-exact md5 and 64-bit integers replays it (DuckDB:
    * `CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)`).
    */
  def portableGramHashPairs(md5s: Column): Column =
    transform(md5s, m => struct(
      conv(substring(m, 1, 15), 16, 10).cast("long").as("h1"),
      conv(substring(m, 16, 10), 16, 10).cast("long").as("h2")))

  /** Portable MinHash signature from a MATERIALIZED (h1, h2) struct
    * array (see portableGramHashPairs — the md5 pass must be staged in
    * its own select so the `numHashes` minima reread the array instead
    * of re-hashing). Components are longs; an external SQL oracle
    * recomputes them exactly.
    */
  def minhashFromHashPairsPortable(pairs: Column,
      numHashes: Int = 16): Column =
    array((0 until numHashes).map { i =>
      array_min(transform(pairs, { h =>
        val u = h.getField("h1") + lit(i.toLong) * h.getField("h2")
        // portable finalizer (HashExpressions.mix): rotate 60-bit
        // halves + xor-shift, else CW minima correlate across seeds
        val w = shiftleft(u.bitwiseAND(lit(0x3FFFFFFFL)), 30)
          .bitwiseOR(shiftright(u, 30))
        w.bitwiseXOR(shiftright(w, 15))
      }))
    }: _*)

  /** LSH banding: split the signature into `bands` bands and hash each;
    * docs sharing any band hash are candidates. Emits (id, band_id,
    * band_hash) — exploded, so the candidate join is a self-equi-join
    * on (band_id, band_hash): pure shuffle-on-key, no crossing.
    */
  def lshBands(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, ngramN: Int = 3,
      portable: Boolean = false): DataFrame = {
    val rows = numHashes / bands
    // staged selects: tokens → (ngrams) → signature → bands, each
    // materialized once per row (never recomputed inside lambdas)
    val toks = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol),
        TextAnalysis.tokens(lower(col(textCol))).as("__toks"))
    val staged =
      if (portable)
        // fused native kernel: tokens → windows → md5 → all minima in
        // ONE pass, no gram array materialized (bit-identical to the
        // staged declarative form kept for parity tests)
        toks.select(col(idCol),
          exprCol(graft.expressions.PortableNgramMinHash(
            colExpr(col("__toks")), ngramN, numHashes)).as("__sig"))
      else
        toks
          .select(col(idCol),
            wordNgramsFromTokens(col("__toks"), ngramN).as("__ng"))
          .select(col(idCol),
            minhashFromNgrams(col("__ng"), numHashes).as("__sig"))
    val bandCols = (0 until bands).map { b =>
      val comps = (0 until rows).map(r => element_at(col("__sig"), b * rows + r + 1))
      val bandHash: Column =
        if (portable) concat_ws("|", comps.map(_.cast("string")): _*)
        else xxhash64(comps: _*)
      struct(lit(b).as("band_id"), bandHash.as("band_hash"))
    }
    staged.select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_hash"))
  }

  /** MinHash-LSH candidates over CHAR k-shingles — the variant for
    * unsegmented scripts (zh/ja/th), where whitespace tokenization
    * collapses a document into one "token" and word n-grams lose all
    * discrimination. Same banding and join shape as the word-gram
    * path; shingle sets are ~1 per character, so prefer the word-gram
    * variant for segmented text.
    */
  def minhashCandidatesChars(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, numHashes: Int = 16, bands: Int = 4,
      portable: Boolean = false): DataFrame = {
    val rows = numHashes / bands
    val staged = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), shingles(col(textCol), k).as("__sh"))
      .select(col(idCol),
        (if (portable)
          exprCol(graft.expressions.PortableMinHash(
            colExpr(col("__sh")), numHashes))
         else minhashFromNgrams(col("__sh"), numHashes)).as("__sig"))
    val bandCols = (0 until bands).map { b =>
      val comps = (0 until rows).map(r => element_at(col("__sig"), b * rows + r + 1))
      val bandHash: Column =
        if (portable) concat_ws("|", comps.map(_.cast("string")): _*)
        else xxhash64(comps: _*)
      struct(lit(b).as("band_id"), bandHash.as("band_hash"))
    }
    // the self-join references the shingle+minhash pipeline from BOTH
    // sides — uncached it runs twice (hammingNearDups convention); the
    // persisted frame is (id, band_id, band_hash) per band, LRU-evictable
    val bandsDf = staged
      .select(col(idCol), explode(array(bandCols: _*)).as("band"))
      .select(col(idCol), col("band.band_id"), col("band.band_hash"))
      .transform(graft.CachePool.persist(_))
    val l = bandsDf.alias("l"); val r = bandsDf.alias("r")
    l.join(r, col("l.band_id") === col("r.band_id") &&
        col("l.band_hash") === col("r.band_hash") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
  }

  /** MinHash-LSH candidate pairs (a < b), deduplicated across bands.
    * Verification (exact Jaccard) composes downstream on candidates
    * only — the expensive comparison never touches non-colliding pairs.
    * `portable = true` derives every hash from md5, so an external SQL
    * oracle can replicate the exact candidate set.
    */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 16, bands: Int = 4, ngramN: Int = 3,
      portable: Boolean = false): DataFrame = {
    // persist across the self-join (hammingNearDups convention): the
    // tokenize→gram→minhash pipeline would otherwise run twice
    val b = lshBands(df, idCol, textCol, numHashes, bands, ngramN, portable)
      .transform(graft.CachePool.persist(_))
    val l = b.alias("l"); val r = b.alias("r")
    l.join(r, col("l.band_id") === col("r.band_id") &&
        col("l.band_hash") === col("r.band_hash") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
  }

  /** Exact-Jaccard verification of candidate pairs against per-id
    * gram sets — THE single implementation behind
    * [[ngramJaccardPairsLsh]], [[scriptRoutedNearDups]] and
    * [[nearDupDelta]]: their documented equality contracts (the
    * incremental gate asserts bit-exact agreement with the full
    * pipeline) depend on this block not forking.
    */
  private[functions] def verifyJaccardPairs(cands: DataFrame,
      sets: DataFrame, idCol: String, setCol: String,
      threshold: Double): DataFrame = cands
    .join(sets.select(col(idCol).as("id_a"), col(setCol).as("__ga")), "id_a")
    .join(sets.select(col(idCol).as("id_b"), col(setCol).as("__gb")), "id_b")
    .select(col("id_a"), col("id_b"),
      size(array_intersect(col("__ga"), col("__gb"))).as("__inter"),
      size(col("__ga")).as("__na"), size(col("__gb")).as("__nb"))
    .select(col("id_a"), col("id_b"),
      TextAnalysis.q4(col("__inter").cast("double") /
        greatest(col("__na") + col("__nb") - col("__inter"), lit(1)))
        .as("jaccard"))
    .filter(col("jaccard") >= threshold)

  /** Incremental near-dup maintenance — dedup a NEW ingest batch
    * against a corpus WITHOUT re-deduping the corpus. `index` is the
    * persisted band table of history ([[lshBands]] output written to
    * parquet at a prior ingest); only the delta is tokenized and
    * hashed, candidates are delta-bands ⋈ (index ∪ delta-bands) on
    * the band key — every pair involves a delta doc by construction,
    * delta×delta pairs orient/dedup via least/greatest — and exact
    * n-gram Jaccard verification re-reads history texts ONLY for the
    * colliding ids (semi-join before gram computation; with an
    * id-partitioned corpus that read is partition-prunable).
    *
    * Result equals the full-corpus [[ngramJaccardPairsLsh]] restricted
    * to pairs touching the delta (gate-asserted): at 100 TB the daily
    * ingest pays delta-sized hashing + collision-sized verification
    * instead of a corpus-wide re-shuffle.
    */
  def nearDupDelta(index: DataFrame, history: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, threshold: Double, n: Int = 3,
      numHashes: Int = 16, bands: Int = 8,
      portable: Boolean = false): DataFrame = {
    val dBands = lshBands(delta, idCol, textCol, numHashes, bands, n,
        portable)
      .transform(graft.CachePool.persist(_))
    val allBands = index.unionByName(dBands)
    val cands = dBands.alias("l")
      .join(allBands.alias("r"),
        col("l.band_id") === col("r.band_id") &&
          col("l.band_hash") === col("r.band_hash") &&
          col(s"l.$idCol") =!= col(s"r.$idCol"))
      .select(least(col(s"l.$idCol"), col(s"r.$idCol")).as("id_a"),
        greatest(col(s"l.$idCol"), col(s"r.$idCol")).as("id_b"))
      .distinct()
      // collision-sized; referenced twice (id semi-join + final join) —
      // without this the whole band join runs twice
      .transform(graft.CachePool.persist(_))
    val ids = cands.select(col("id_a").as(idCol))
      .unionByName(cands.select(col("id_b").as(idCol))).distinct()
    // spread the SCANS, not the semi-join output: .rdd on a plan with
    // exchanges would finalize (and pre-execute) its AQE stages in a
    // throwaway query execution
    val sets = spread(history.select(col(idCol), col(textCol)))
      .unionByName(spread(delta.select(col(idCol), col(textCol))))
      .join(ids, Seq(idCol), "left_semi")
      .select(col(idCol), wordNgramsNative(col(textCol), n).as("__ng"))
    verifyJaccardPairs(cands, sets, idCol, "__ng", threshold)
  }

  /** Near-dup pairs: MinHash-LSH candidate generation + exact n-gram
    * Jaccard verification — THE scale path for corpus-level dedup. The
    * expensive set intersection only touches LSH candidates (linear in
    * collisions), never the O(n²) pair space. With `bands` = numHashes/2
    * (2-row bands) recall at j ≥ 0.9 is 1 − (1 − j²)^bands ≈ 0.999998.
    */
  def ngramJaccardPairsLsh(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, numHashes: Int = 16, bands: Int = 8,
      portable: Boolean = false): DataFrame = {
    val cands = minhashCandidates(df, idCol, textCol, numHashes, bands, n,
      portable)
    val sets = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), wordNgramsNative(col(textCol), n).as("__ng"))
    verifyJaccardPairs(cands, sets, idCol, "__ng", threshold)
  }

  /** Script-routed near-dup pairs — the composed router in front of
    * script-sensitive dedup: documents whose CJK character share is at
    * least `cjkFracMin` take the CHAR-shingle MinHash-LSH path
    * (whitespace tokenization collapses unsegmented scripts into one
    * "token", so word n-grams cannot see a one-character edit), all
    * other documents take the word-n-gram MinHash-LSH path. Each route
    * verifies its LSH candidates with the exact Jaccard over its own
    * gram sets; outputs union with a `route` tag ("cjk" | "word").
    * Cross-route pairs are impossible by construction — a document is
    * tokenized exactly one way.
    *
    * 100 TB shape: routing is a map-only single-regex predicate on the
    * scan (TextAnalysis.cjkCharShare); both routes keep the bucketed
    * equi-join candidate shape (band hash), and verification touches
    * candidates only. `portable = true` (md5-derived hashes) lets an
    * external SQL oracle replay both routes end to end.
    */
  def scriptRoutedNearDups(df: DataFrame, idCol: String, textCol: String,
      wordThreshold: Double, charThreshold: Double, wordN: Int = 3,
      charK: Int = 3, numHashes: Int = 16, bands: Int = 8,
      cjkFracMin: Double = 0.3, portable: Boolean = false): DataFrame = {
    val routed = df.select(col(idCol), col(textCol),
      (TextAnalysis.cjkCharShare(col(textCol)) >= cjkFracMin).as("__cjk"))
    val cjkDocs = routed.filter(col("__cjk")).drop("__cjk")
    val wordDocs = routed.filter(!col("__cjk")).drop("__cjk")
    def verified(cands: DataFrame, sets: DataFrame, thr: Double,
        route: String): DataFrame =
      verifyJaccardPairs(cands, sets, idCol, "__g", thr)
        .select(col("id_a"), col("id_b"), lit(route).as("route"),
          col("jaccard"))
    val cjkPairs = verified(
      minhashCandidatesChars(cjkDocs, idCol, textCol, charK, numHashes,
        bands, portable),
      cjkDocs.select(col(idCol), shingles(col(textCol), charK).as("__g")),
      charThreshold, "cjk")
    val wordPairs = verified(
      minhashCandidates(wordDocs, idCol, textCol, numHashes, bands, wordN,
        portable),
      wordDocs.select(col(idCol),
        wordNgramsNative(col(textCol), wordN).as("__g")),
      wordThreshold, "word")
    cjkPairs.unionByName(wordPairs)
  }

  /** Directed containment near-superset pairs: (a, b) where
    * |grams(a) ∩ grams(b)| / |grams(a)| ≥ threshold — document a is
    * (nearly) CONTAINED in b. The case symmetric Jaccard structurally
    * misses: a short document quoted inside a long one has
    * |A∩B|/|A∪B| ≈ |A|/|B| → 0, and MinHash-LSH (which targets
    * Jaccard) won't even surface it as a candidate.
    *
    * Candidate generation is the prefix-filter principle (AllPairs /
    * PPJoin, Bayardo et al. 2007, adapted to asymmetric containment):
    * containment ≥ t means a misses at most ⌊(1−t)·|A|⌋ of its own
    * grams from b, so ANY (⌊(1−t)·|A|⌋+1)-subset of A's grams must
    * hit b — take the RAREST grams (by global document frequency) so
    * the inverted-index postings the prefix joins are the shortest
    * ones. The filter is lossless by construction (a tiny float slack
    * guards the ⌊·⌋ boundary, only ever ADDING a candidate); exact
    * containment then scores candidates only.
    *
    * 100 TB shape: gram df is a vocabulary-sized SHUFFLE join (never
    * broadcast — the tfidfTopTerms lesson); the prefix⋈index join is
    * a plain equi-join on the gram whose key distribution is driven
    * by the rarest-gram prefix side; the only per-doc window is
    * bounded by a single document's gram count.
    */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "containment threshold must be in (0, 1]")
    // NOT spread: measured 2-5x slower with the pre-kernel round-robin
    // here (escalating across invocations) - this pipeline persists the
    // gram sets and fans them through a prefix window + two joins, and
    // the spread shuffle upsets that balance; the other gram kernels
    // all win from it (see Tables.spreadScan)
    val sets = df
      .select(col(idCol), wordNgramsNative(col(textCol), n).as("__ng"))
      .filter(size(col("__ng")) > 0)
      .transform(graft.CachePool.persist(_))
    // candidate generation runs on 8-byte gram HASHES, not gram text —
    // the df join + per-doc window + inverted-index probe shuffle and
    // sort longs instead of ~30-byte strings (measured 8× on the cold
    // path at sf0.1). A hash collision can only merge two grams' df
    // counts (reordering which grams count as "rarest" — any
    // deterministic prefix of the required size stays lossless) or ADD
    // a candidate pair; it can never drop a true pair, and exact
    // verification below still compares the string gram sets.
    val grams = sets.select(col(idCol), size(col("__ng")).as("__cnt"),
      explode(col("__ng")).as("__g0"))
      .select(col(idCol), col("__cnt"), xxhash64(col("__g0")).as("__gram"))
    val dfTab = grams.groupBy(col("__gram")).agg(count(lit(1)).as("__df"))
    val wDoc = Window.partitionBy(col(idCol))
      .orderBy(col("__df"), col("__gram"))
    // the df table spans the corpus vocabulary — force the shuffle
    // join so a small test corpus can't bake in a broadcast shape
    // that would OOM at 100 TB (the tfidfTopTerms convention)
    val prefix = grams.hint("shuffle_merge")
      .join(dfTab.hint("shuffle_merge"), Seq("__gram"))
      .withColumn("__rn", row_number().over(wDoc))
      .filter(col("__rn") <=
        floor(col("__cnt") * lit(1.0 - threshold) + lit(1e-4)) + 1)
      .select(col(idCol).as("id_a"), col("__gram"))
    val index = grams.select(col(idCol).as("id_b"), col("__gram"))
    val cands = prefix.join(index, Seq("__gram"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cands
      .join(sets.select(col(idCol).as("id_a"), col("__ng").as("__ga")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__ng").as("__gb")), "id_b")
      .select(col("id_a"), col("id_b"),
        TextAnalysis.q4(
          size(array_intersect(col("__ga"), col("__gb"))).cast("double") /
            size(col("__ga"))).as("containment"),
        size(col("__ga")).cast("long").as("n_a"),
        size(col("__gb")).cast("long").as("n_b"))
      .filter(col("containment") >= threshold)
  }

  /** Evidence extraction for near-dup pair decisions: each (id_a,
    * id_b) pair gains its shared-gram count and the first `topK`
    * shared grams (lexicographic — deterministic regardless of the
    * engines' intersection order) joined into one reviewable string.
    * The human-audit step between "the pipeline says duplicate" and
    * "delete a document": reviewers see WHY, not just a score.
    * Pair-sized cost — gram sets join only onto the pair frame.
    */
  def explainPairs(pairs: DataFrame, df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, topK: Int = 3): DataFrame = {
    val sets = df.select(col(idCol), wordNgramsNative(col(textCol), n)
      .as("__ng"))
    pairs
      .join(sets.select(col(idCol).as("id_a"), col("__ng").as("__ga")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("__ng").as("__gb")), "id_b")
      .withColumn("__shared",
        array_sort(array_intersect(col("__ga"), col("__gb"))))
      .withColumn("n_shared", size(col("__shared")).cast("long"))
      .withColumn("evidence",
        concat_ws(" | ", slice(col("__shared"), 1, topK)))
      .drop("__ga", "__gb", "__shared")
  }

  /** Unblocked exact all-pairs n-gram Jaccard — ground-truth twin for
    * the LSH path. O(n²): only for bounded samples/audits, never the
    * full-corpus hot path.
    */
  def ngramJaccardAllPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    val sets = df
      .select(col(idCol), TextAnalysis.tokens(lower(col(textCol))).as("__toks"))
      .select(col(idCol), wordNgramsFromTokens(col("__toks"), n).as("__ng"))
      .select(col(idCol), transform(col("__ng"), g => xxhash64(g)).as("ngh"))
    val l = sets.alias("l"); val r = sets.alias("r")
    l.join(r, col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        size(array_intersect(col("l.ngh"), col("r.ngh"))).as("__inter"),
        size(col("l.ngh")).as("__na"), size(col("r.ngh")).as("__nb"))
      .select(col("id_a"), col("id_b"),
        TextAnalysis.q4(col("__inter").cast("double") /
          greatest(col("__na") + col("__nb") - col("__inter"), lit(1)))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard similarity between two shingle-set columns. */
  def jaccard(aSet: Column, bSet: Column): Column =
    TextAnalysis.q4(size(array_intersect(aSet, bSet)).cast("double") /
      greatest(size(array_union(aSet, bSet)), lit(1)))

  /** Near-dup pairs by exact word-n-gram Jaccard over a blocked
    * candidate set: candidates share (lang, length bucket) — the
    * portable-SQL blocking strategy — then exact Jaccard filters.
    * At 100 TB, swap the blocker for `minhashCandidates` (same
    * downstream verify); this variant exists because it is exactly
    * expressible in the DuckDB oracle.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      langCol: String, threshold: Double, n: Int = 3): DataFrame = {
    // ngram sets are compared as xxhash64 longs, not strings: the
    // intersection then runs on 8-byte values instead of ~20-char
    // strings (~10× cheaper per pair; a 64-bit collision altering a
    // count is ~1e-15). |A∪B| = |A|+|B|−|A∩B| avoids building the
    // union array; the staged select computes the intersection once.
    val withSets = df
      .select(col(idCol), col(langCol),
        floor(length(col(textCol)) / lit(64)).as("len_bucket"),
        TextAnalysis.tokens(lower(col(textCol))).as("__toks"))
      .select(col(idCol), col(langCol), col("len_bucket"),
        wordNgramsFromTokens(col("__toks"), n).as("__ng"))
      .select(col(idCol), col(langCol), col("len_bucket"),
        transform(col("__ng"), g => xxhash64(g)).as("ngh"))
    val l = withSets.alias("l"); val r = withSets.alias("r")
    l.join(r, col(s"l.$langCol") === col(s"r.$langCol") &&
        col("l.len_bucket") === col("r.len_bucket") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        size(array_intersect(col("l.ngh"), col("r.ngh"))).as("__inter"),
        size(col("l.ngh")).as("__na"), size(col("r.ngh")).as("__nb"))
      .select(col("id_a"), col("id_b"),
        TextAnalysis.q4(col("__inter").cast("double") /
          greatest(col("__na") + col("__nb") - col("__inter"), lit(1)))
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** SimHash near-dup: group by signature (identical simhash ⇒
    * near-identical token distribution). `portable = true` derives the
    * per-token hash from md5 (60 usable bits) so an external SQL oracle
    * can recompute the identical signature; default is the faster
    * native xxhash64 with all 64 bits.
    */
  def simhashGroups(df: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false): DataFrame = {
    val sdf = spread(df.select(col(idCol), col(textCol)))
    val sig =
      if (portable)
        // native single-pass kernel: md5 + all 60 bit-votes per doc
        sdf.select(col(idCol),
          TextAnalysis.tokens(lower(col(textCol))).as("__toks"))
          .select(col(idCol),
            exprCol(graft.expressions.PortableSimHash(
              colExpr(col("__toks")), 60)).as("simhash"))
      else
        // two-phase select: token hashing materializes once, then the
        // bit-votes read the same array (no re-hash per bit)
        sdf.select(col(idCol), Similarity.tokenHashes(col(textCol)).as("th"))
          .select(col(idCol),
            Similarity.simhashFromHashes(col("th"), 64).as("simhash"))
    sig.groupBy("simhash")
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))
  }

  /** SimHash near-dup pairs within a Hamming radius — the pigeonhole
    * upgrade over equality grouping: split the signature into
    * (radius+1) bit-blocks; any pair within distance ≤ radius must
    * agree EXACTLY on at least one block, so candidates come from an
    * equi-join on (block_id, block_value) and the exact Hamming check
    * (bit_count of xor) runs on candidates only. Same
    * shuffle-on-compact-key shape as every other dedup path; fully
    * portable (60-bit md5 simhash, xor/bit_count exist in DuckDB).
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      radius: Int = 3): DataFrame = {
    val sigs = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), TextAnalysis.tokens(lower(col(textCol))).as("__toks"))
      .select(col(idCol),
        exprCol(graft.expressions.PortableSimHash(
          colExpr(col("__toks")), 60)).as("sig"))
    hammingNearDups(sigs, idCol, "sig", numBits = 60, radius = radius)
  }

  /** Pigeonhole Hamming-radius pair search over ANY precomputed
    * bit-signature column (text simhash, image aHash, audio
    * fingerprint — the signature source is orthogonal): split the
    * `numBits` signature into (radius+1) blocks; a pair within
    * distance ≤ radius must agree exactly on ≥ 1 block, so candidates
    * come from an equi-join on (block_id, block_value) and the exact
    * bit_count(xor) check runs on candidates only. Works on signed
    * 64-bit signatures (the top block masks away sign-extension from
    * the arithmetic shift).
    */
  def hammingNearDups(sigs: DataFrame, idCol: String, sigCol: String,
      numBits: Int, radius: Int): DataFrame = {
    val blocks = radius + 1
    require(numBits >= 2 && numBits <= 64, "numBits must be in [2, 64]")
    require(blocks >= 2 && blocks <= numBits,
      s"radius must be in [1, ${numBits - 1}]")
    // Pigeonhole only needs SOME partition into radius+1 blocks; when
    // blocks does not divide numBits the low `rem` blocks are one bit
    // wider (floor/ceil widths), so any radius works — not just
    // divisors of numBits.
    val baseWidth = numBits / blocks
    val rem = numBits % blocks
    // block b covers [offset, offset+width): widths cover all bits once
    val layout = (0 until blocks).scanLeft((0, 0)) { case ((off, w), b) =>
      (off + w, baseWidth + (if (b < rem) 1 else 0))
    }.tail
    // widths are ≤ numBits/2 + 1 ≤ 33 (blocks ≥ 2), so the mask never
    // overflows; masking also strips the arithmetic shift's
    // sign-extension on signed signatures
    val bandCols = layout.zipWithIndex.map { case ((offset, width), b) =>
      struct(lit(b).as("block_id"),
        shiftright(col(sigCol), offset).bitwiseAND(lit((1L << width) - 1))
          .as("block_value"))
    }
    // the self-join references the signature pipeline from BOTH sides —
    // uncached, the upstream signature computation (a tokenizer pass, a
    // media decode, …) runs twice. The persisted frame is two longs per
    // row plus the id; MEMORY_AND_DISK, LRU-evictable (same convention
    // as decontaminateBloom's gram cache).
    val bands = sigs
      .select(col(idCol), col(sigCol).as("__sig"),
        explode(array(bandCols: _*)).as("blk"))
      .select(col(idCol), col("__sig"), col("blk.block_id"),
        col("blk.block_value"))
      .transform(graft.CachePool.persist(_))
    val l = bands.alias("l"); val r = bands.alias("r")
    l.join(r, col("l.block_id") === col("r.block_id") &&
        col("l.block_value") === col("r.block_value") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        bit_count(col("l.__sig").bitwiseXOR(col("r.__sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= radius)
  }

  /** Connected components over a near-duplicate pair list: collapses
    * pairwise edges (from any of the candidate generators above) into
    * duplicate CLUSTERS, labeling every member with the minimum doc id
    * of its component — the form a pipeline actually consumes ("keep
    * one per cluster"), since near-duplication is transitive in
    * practice (A≈B, B≈C ⇒ drop two of three) while the raw pair list
    * is not.
    *
    * Algorithm: iterative min-label propagation (the Pregel/GraphX CC
    * shape) — each round every node takes the min label over itself
    * and its neighbors; convergence is detected by counting changed
    * labels. Rounds needed = max component diameter, and dedup
    * components are shallow (near-dup clusters are quasi-cliques), so
    * this converges in a handful of rounds. Each round is one
    * shuffle-on-key join + aggregation; `localCheckpoint` truncates
    * the lineage so plan size stays constant across rounds. The
    * fixpoint (min id per component) is unique, so the result is
    * deterministic regardless of how many rounds ran. For graphs with
    * long chains at extreme scale, use [[connectedComponentsStar]],
    * which converges in O(log²) rounds instead of O(diameter).
    */
  def connectedComponents(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25,
      checkpointDir: Option[String] = None): DataFrame = {
    // reliable per-round lineage cuts when a dir is given — see
    // graft.operators.Iterate (executor loss past round 1 otherwise
    // fails a long job unrecoverably: localCheckpoint blocks are
    // executor-local)
    val reliable = graft.operators.Iterate.configure(edges, checkpointDir)
    def cut(df: DataFrame) = graft.operators.Iterate.cut(df, reliable)
    val sym = cut(edges.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(edges.select(col(bCol).as("src"), col(aCol).as("dst"))))
    var labels = cut(sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("label")))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = sym.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nb_label"))
      // the convergence probe rides the SAME action that materializes
      // the round's cut (Dataset.observe → CollectMetrics accumulator):
      // one job per round, not cut + a second isEmpty job per round —
      // the round-18 LPA template (fold the probe into the mandatory
      // materialization). The metric is the identical predicate the
      // old isEmpty scanned for.
      val obs = org.apache.spark.sql.Observation()
      val next = cut(labels.join(nbrMin, col("id") === col("src"), "left")
        .select(col("id"), col("label"),
          least(col("label"), coalesce(col("nb_label"), col("label")))
            .as("new_label"))
        .observe(obs,
          count(when(col("new_label") < col("label"), lit(1)))
            .as("changed")))
      converged = obs.get("changed").asInstanceOf[Long] == 0L
      labels = next.select(col("id"), col("new_label").as("label"))
      i += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    labels.select(col("id"), col("label").as("cluster_id"))
  }

  /** Connected components by alternating large-star / small-star edge
    * rewriting (Kiveris et al. 2014, "Connected Components in
    * MapReduce and Beyond" — public paper): each round, large-star
    * hooks every neighbor larger than a node onto the node's minimum
    * neighborhood member, small-star collapses the smaller neighbors
    * onto it. The edge set contracts toward a star forest in
    * O(log²) rounds REGARDLESS of component diameter — the variant
    * for chain-shaped duplicate families (boilerplate series,
    * crawl-date mirrors) where min-label propagation needs
    * O(diameter) rounds. Same output contract as
    * [[connectedComponents]]: (id, cluster_id = component minimum),
    * so the two are interchangeable and cross-checked in the spec.
    *
    * Each round is two groupBy-min shuffles over the current edge set
    * (which only shrinks); convergence compares a count + order-
    * independent hash checksum instead of materializing a diff.
    */
  def connectedComponentsStar(edges: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    val reliable = graft.operators.Iterate.configure(edges, checkpointDir)
    def cut(df: DataFrame) = graft.operators.Iterate.cut(df, reliable)
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.select(col("u"), col("v"))
        .union(e.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      sym.filter(col("v") > col("u"))
        .join(mins, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val directed = e.select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      val mins = directed.groupBy(col("u")).agg(min(col("v")).as("m"))
      directed.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mins.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }
    // decimal sum: order-independent and overflow-free (a plain long
    // sum of xxhash64 values trips ANSI overflow). The checksum rides
    // the SAME action that materializes each round's cut
    // (Dataset.observe) — one job per round, not cut + a second
    // checksum head() per round; the aggregate expressions are
    // byte-identical to the old standalone checksum.
    def checksumExprs = Seq(count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(28,0)")),
        lit(java.math.BigDecimal.ZERO)).as("h"))
    def cutWithChecksum(e: DataFrame): (DataFrame, (Long, java.math.BigDecimal)) = {
      val obs = org.apache.spark.sql.Observation()
      val cutE = cut(e.observe(obs, checksumExprs.head, checksumExprs.tail: _*))
      (cutE, (obs.get("n").asInstanceOf[Long],
        obs.get("h").asInstanceOf[java.math.BigDecimal]))
    }
    val raw = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
    // node set BEFORE dropping self-loops: a (v, v) edge still names a
    // node that must come out labeled (as its own singleton component)
    val allNodes = cut(raw.select(col("u").as("id"))
      .union(raw.select(col("v").as("id"))).distinct())
    var (e, sig) = cutWithChecksum(raw
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct())
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val (next, nextSig) = cutWithChecksum(smallStar(largeStar(e)))
      converged = nextSig == sig
      e = next; sig = nextSig
      i += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIter rounds")
    // fixpoint is a star forest: every non-root points at its
    // component minimum; roots (and isolated nodes) label themselves
    allNodes.join(e, col("id") === col("u"), "left")
      .select(col("id"), coalesce(col("v"), col("id")).as("cluster_id"))
  }

  /** Cross-document duplicate-span statistics — the character-level
    * repeated-substring signal (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — public paper —
    * approximated with fixed-length char grams instead of a suffix
    * array): for every document, how much of it is covered by
    * `gramChars`-length substrings that also occur in ANOTHER
    * document. High coverage = boilerplate/mirrored content the
    * passage- and doc-level dedups may miss (they align on token
    * windows; this catches arbitrary-offset char-level overlap).
    *
    * Plan: sliding char grams explode map-side with their start
    * positions; grams seen in ≥2 distinct docs survive a partial-agg'd
    * groupBy + semi-join; covered characters are the union length of
    * the surviving [pos, pos+k) intervals, computed with the classic
    * running-max-end window per doc (no per-position explode).
    * Output per document: n_dup_grams, dup_chars, dup_frac.
    *
    * Scale: the gram explode carries O(L·k) bytes per doc through the
    * groupBy shuffle. At 100 TB, set `hashGrams=true` to shuffle an
    * 8-byte xxhash64 of each gram instead of its text (collision odds
    * ~n²/2⁶⁴ — fine for statistics; the text variant is what the
    * byte-exact oracle replays). The interval-union window partitions
    * by doc — bounded by max document length, same bound as
    * repetitionStats.
    */
  /** Shared front half of [[dupSpanStats]] and [[dupSpans]]: the
    * per-doc positions of `k`-char grams that also occur in ≥ 2
    * distinct documents — sliding grams explode map-side, the
    * distinct-doc filter is a partial-agg'd groupBy, survivors come
    * back via a semi-join. Returns (idCol, __pos).
    */
  private def dupGramPositions(df: DataFrame, idCol: String,
      textCol: String, k: Int, hashGrams: Boolean): DataFrame =
    dupGramPosGram(df, idCol, textCol, k, hashGrams)
      .select(col(idCol), col("__pos"))

  /** [[dupGramPositions]] keeping the gram value (or its hash) —
    * [[dupSpanPartners]] needs it to join span grams back to the
    * partner documents sharing them. Returns (idCol, __pos, __gram).
    */
  private def dupGramPosGram(df: DataFrame, idCol: String,
      textCol: String, k: Int, hashGrams: Boolean): DataFrame = {
    // native gram kernel, not the declarative substr transform: the
    // lambda runs interpreted under the Generate and re-substrs per
    // element — the raw gram stream was 8 s of the sf0.1 span gate
    // (kernel parity pinned by spec incl. code-point offsets)
    val grams = spread(df.select(col(idCol), col(textCol)))
      .filter(length(col(textCol)) >= k)
      .select(col(idCol), exprCol(
        graft.expressions.CharGramsWithPos(colExpr(col(textCol)), k))
        .as("__gs"))
      .select(col(idCol), explode_outer(col("__gs")).as("__g"))
      .filter(col("__g").isNotNull)
      .select(col(idCol), col("__g.pos").as("__pos"),
        (if (hashGrams) xxhash64(col("__g.gram"))
         else col("__g.gram")).as("__gram"))
    val dupGrams = grams.groupBy(col("__gram"))
      .agg(countDistinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= 2)
      .select(col("__gram"))
    grams.join(dupGrams, Seq("__gram"), "left_semi")
      .select(col(idCol), col("__pos"), col("__gram"))
  }

  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
      gramChars: Int, hashGrams: Boolean = false): DataFrame = {
    require(gramChars >= 2, "gramChars must be ≥ 2")
    val k = gramChars
    val base = df.select(col(idCol), col(textCol))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val covered = greatest(lit(0),
      col("__pos") + k - greatest(col("__pos"),
        coalesce(max(col("__pos") + k).over(w), lit(0))))
    val perDoc = dupGramPositions(df, idCol, textCol, k, hashGrams)
      .withColumn("__cov", covered)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__n"), sum(col("__cov")).as("__c"))
    base.select(col(idCol), length(col(textCol)).as("__len"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__n"), lit(0L)).as("n_dup_grams"),
        coalesce(col("__c"), lit(0L)).cast("bigint").as("dup_chars"),
        TextAnalysis.q4(coalesce(col("__c"), lit(0L)).cast("double") /
          greatest(col("__len"), lit(1))).as("dup_frac"))
  }

  /** Variable-length MAXIMAL duplicate spans — the span-extent
    * deepening of [[dupSpanStats]] (which reports only per-doc
    * coverage totals), closing the remaining gap to Lee et al. 2022's
    * exact-substring semantics: adjacent/overlapping duplicated-gram
    * intervals [pos, pos+k) merge into maximal covered runs, each
    * reported with its extent. A duplicated substring of length
    * L ≥ k yields L−k+1 overlapping grams → exactly one span of
    * length L; disjoint duplicated regions yield one span each.
    *
    * Merge rule (half-open intervals): a gram starts a NEW span iff
    * its pos exceeds the running max end of all earlier grams in the
    * doc — pos == prevEnd is contiguous characters and merges, the
    * maximal-run semantics. With fixed-k grams ends are monotone in
    * pos, but the running-max form stays correct for any interval mix.
    *
    * Plan: same gram explode + distinct-doc semi-join as
    * [[dupSpanStats]], then TWO window passes over the same per-doc
    * partition (new-span flag via running max-end, span index via
    * running sum) and a partial-agg'd groupBy per (doc, span) —
    * bounded by document length, no per-character explode, no
    * self-join. Output: (idCol, span_idx, span_start, span_end
    * [inclusive], span_len, n_grams) — one row per maximal span.
    */
  def dupSpans(df: DataFrame, idCol: String, textCol: String,
      gramChars: Int, hashGrams: Boolean = false): DataFrame = {
    require(gramChars >= 2, "gramChars must be ≥ 2")
    val k = gramChars
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isNew = when(col("__pos") >
      coalesce(max(col("__pos") + k).over(wPrev), lit(0)), 1L)
      .otherwise(0L)
    dupGramPositions(df, idCol, textCol, k, hashGrams)
      .withColumn("__new", isNew)
      .withColumn("span_idx", sum(col("__new")).over(wRun))
      .groupBy(col(idCol), col("span_idx"))
      .agg(
        min(col("__pos")).cast("bigint").as("span_start"),
        (max(col("__pos") + k) - 1).cast("bigint").as("span_end"),
        (max(col("__pos") + k) - min(col("__pos")))
          .cast("bigint").as("span_len"),
        count(lit(1)).as("n_grams"))
  }

  /** Cross-document span ATTRIBUTION — the provenance deepening of
    * [[dupSpans]]: for every maximal duplicated span, WHICH partner
    * document shares it, and which sub-extent. The piece an auditor
    * asks for when a span-level dedup decision is challenged (Lee et
    * al. 2022 §4 attributes matches the same way); [[dupSpans]] says
    * "these characters are duplicated somewhere", this says where.
    *
    * A partner can share only part of a span (maximal spans merge
    * evidence from DIFFERENT partners into one run), so each output
    * row carries the partner-specific extent: the positions of the
    * span's grams that partner also contains. Output: (idCol,
    * span_idx, partner_id, shared_grams, shared_start, shared_end
    * [inclusive, in the span owner's coordinates]).
    *
    * Plan: the shared dup-gram table (one partial-agg'd groupBy +
    * semi-join) feeds BOTH sides — the owner side gets span indices
    * via the same two per-doc window passes as [[dupSpans]]; the
    * partner side is the distinct (doc, gram) projection; attribution
    * is ONE bucketed equi-join on the gram (hash), then a
    * partial-agg'd groupBy per (doc, span, partner). No self-join on
    * documents, no per-character explode; the join key is the gram —
    * exactly the key the dedup already shuffles on, so at 100 TB the
    * two sides co-partition.
    */
  /** `materializeGrams`: the dup-gram table feeds BOTH sides of the
    * attribution join (owner spans and partner projection), so by
    * default it is cut at the seam with an eager localCheckpoint —
    * without it the corpus-sized gram explode + distinct-doc
    * semi-join computes twice (the production path reads the stored
    * dup-gram parquet instead). Pass false to keep the operator
    * fully lazy.
    */
  def dupSpanPartners(df: DataFrame, idCol: String, textCol: String,
      gramChars: Int, hashGrams: Boolean = false,
      materializeGrams: Boolean = true): DataFrame = {
    require(gramChars >= 2, "gramChars must be ≥ 2")
    val k = gramChars
    val wPrev = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col(idCol)).orderBy(col("__pos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isNew = when(col("__pos") >
      coalesce(max(col("__pos") + k).over(wPrev), lit(0)), 1L)
      .otherwise(0L)
    val g0 = dupGramPosGram(df, idCol, textCol, k, hashGrams)
    val g = if (materializeGrams) g0.localCheckpoint() else g0
    val owner = g
      .withColumn("__new", isNew)
      .withColumn("span_idx", sum(col("__new")).over(wRun))
      .select(col(idCol), col("span_idx"), col("__pos"), col("__gram"))
    val partner = g
      .select(col(idCol).as("partner_id"), col("__gram").as("__pg"))
      .distinct()
    owner.join(partner,
        owner("__gram") === partner("__pg") &&
          col(idCol) =!= col("partner_id"))
      .groupBy(col(idCol), col("span_idx"), col("partner_id"))
      .agg(
        count(lit(1)).as("shared_grams"),
        min(col("__pos")).cast("bigint").as("shared_start"),
        (max(col("__pos") + k) - 1).cast("bigint").as("shared_end"))
  }

  /** Canonical-document selection: given near-dup cluster labels
    * (`clusters` = (id, cluster_id), as produced by
    * `connectedComponents` — ids absent from it are singletons and
    * keep themselves), mark per cluster the single best document:
    * highest `qualityCol`, ties broken toward the smallest id. The
    * standard last step of a dedup pipeline — drop the copies, keep
    * the best representative (e.g. the longest, or the highest
    * quality-score).
    *
    * Scale shape: winner selection is a partial-aggregated
    * `max(struct(quality, -id))` groupBy — the argmax rides map-side
    * combine, no window over the cluster (a per-cluster window would
    * hash every member to one task; viral clusters would skew it).
    * The winner table (one row per cluster) joins back broadcast-or-
    * shuffled at AQE's discretion. Output: (id, cluster_id, quality,
    * kept) for every input document.
    */
  def keepBestPerCluster(docs: DataFrame, idCol: String,
      clusters: DataFrame, qualityCol: String): DataFrame = {
    val labeled = docs.select(col(idCol), col(qualityCol))
      .join(clusters.select(col("id").as(idCol),
        col("cluster_id").as("__cl")), Seq(idCol), "left")
      .select(col(idCol), col(qualityCol),
        coalesce(col("__cl"), col(idCol)).as("cluster_id"))
    val winners = labeled.groupBy(col("cluster_id"))
      .agg(max(struct(col(qualityCol).as("__q"),
        (-col(idCol)).as("__negid"))).as("__w"))
      .select(col("cluster_id"), (-col("__w.__negid")).as("__keep_id"))
    labeled.join(winners, "cluster_id")
      .select(col(idCol), col("cluster_id"), col(qualityCol),
        (col(idCol) === col("__keep_id")).as("kept"))
  }

  /** Embedding-cosine near-dup pairs above a threshold. Candidates come
    * from banded sign-LSH (OR of `bands` AND-bands of `rowsPerBand`
    * hyperplane bits — see Similarity.signBands): a pair is a candidate
    * if it agrees on EVERY bit of ANY band. Identical vectors collide
    * in every band, so exact-duplicate recall is 1.0 at any setting;
    * near-dup recall is 1 − (1 − p^r)^b with p = 1 − θ/π.
    *
    * 100 TB scaling: bucket granularity is 2^rowsPerBand per band, so
    * size rowsPerBand ≈ log2(n / targetBucketRows) (e.g. 24–28 at 1e10
    * rows) and raise `bands` to keep recall; the candidate join stays
    * a pure equi-join on (band_id, band_sig).
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 4, rowsPerBand: Int = 16,
      dims: Int = 64): DataFrame = {
    val bandsDf = Similarity.signBands(df, idCol, vecCol, bands, rowsPerBand, dims)
    val l = bandsDf.alias("l"); val r = bandsDf.alias("r")
    val cands = l.join(r, col("l.band_id") === col("r.band_id") &&
        col("l.band_sig") === col("r.band_sig") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
    val vecs = df.select(col(idCol), col(vecCol),
      Similarity.norm(col(vecCol)).as("__n"))
    val denom = col("__n_a") * col("__n_b")
    cands
      .join(vecs.select(col(idCol).as("id_a"), col(vecCol).as("__v_a"),
        col("__n").as("__n_a")), "id_a")
      .join(vecs.select(col(idCol).as("id_b"), col(vecCol).as("__v_b"),
        col("__n").as("__n_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        when(denom === 0, lit(0.0))
          .otherwise(Similarity.dot(col("__v_a"), col("__v_b")) / denom)
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Within-cell high-cosine pair search — the candidate stage of
    * [[semanticDedup]], exposed so specs can assert its plan shape:
    * vectors assign to a coarse-quantizer cell (map-only against the
    * frozen centroids), and the ONLY join is the self-equi-join on the
    * compact cell id — never a corpus all-pairs. Cosine evaluates on
    * colliding pairs only.
    */
  def semanticPairs(vecs: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double): DataFrame = {
    val assigned = Similarity.ivfAssignments(
        vecs.select(col(idCol), col(vecCol)), idCol, vecCol, centroids)
      .withColumn("__n", Similarity.norm(col(vecCol)))
    val l = assigned.alias("l"); val r = assigned.alias("r")
    val denom = col("l.__n") * col("r.__n")
    l.join(r, col("l.cell") === col("r.cell") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        when(denom === 0, lit(0.0))
          .otherwise(
            Similarity.dot(col(s"l.$vecCol"), col(s"r.$vecCol")) / denom)
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * "SemDeDup: Data-efficient learning at web-scale through semantic
    * deduplication" — public paper): cluster the embedding space with
    * a coarse quantizer (the IVF cell assignment), search for
    * high-cosine pairs only WITHIN a cell (the paper's
    * within-cluster restriction), collapse pairs into duplicate
    * clusters (CC), and keep the highest-quality representative per
    * cluster (ties toward the smallest id).
    *
    * This is the dedup family token n-grams cannot express:
    * paraphrase twins share no n-grams (Jaccard 0, MinHash-invisible)
    * yet sit at cosine ≈ 1 in embedding space.
    *
    * 100 TB shape: grow nlist with the corpus so cells stay bounded
    * (the paper scales its cluster count the same way) — the pair
    * stage is an equi-join on the cell id (Σ m² over cell sizes m,
    * never n²), the quantizer is O(nlist·dims) on the driver, CC
    * touches only above-threshold pairs, and the keep-best argmax is
    * a partial-agg'd groupBy. Input must carry (id, vec, quality);
    * output is (id, cluster_id, quality, kept) for every input row.
    */
  def semanticDedup(docs: DataFrame, idCol: String, vecCol: String,
      qualityCol: String, centroids: Array[Array[Double]],
      threshold: Double): DataFrame = {
    val pairs = semanticPairs(docs, idCol, vecCol, centroids, threshold)
    val clusters = connectedComponents(pairs, "id_a", "id_b")
    keepBestPerCluster(docs, idCol, clusters, qualityCol)
  }

  /** Passage-level exact dedup (the C4/RefinedWeb substring cleaner):
    * split each document into fixed-size token passages, keep only the
    * globally FIRST occurrence of each passage (ordered by (doc, idx)),
    * and reassemble documents from their surviving passages. Boilerplate
    * repeated across documents — headers, navigation, license blurbs —
    * vanishes corpus-wide while each copy's first host keeps it.
    *
    * Scale shape: passages explode map-side (codegen'd slice/posexplode,
    * no UDF). First-occurrence is a partial-aggregated groupBy min on
    * the passage text — map-side combine collapses a viral passage's
    * occurrences before the shuffle, so a boilerplate block repeated
    * 10⁹ times costs one row per input partition, where a
    * passage-partitioned WINDOW would route every copy to one task and
    * windows cannot be skew-split. The winners join back onto the
    * passage stream (equi-join AQE can skew-split if a hot passage
    * still dominates); reassembly is one more shuffle keyed by the
    * unique doc id. The shuffled payload is the passage stream itself —
    * the unavoidable minimum for substring-level dedup.
    */
  def passageDedup(df: DataFrame, idCol: String, textCol: String,
      passageTokens: Int = 8): DataFrame = {
    require(passageTokens > 0, "passageTokens must be positive")
    val reserved = Seq("clean_text", "n_passages", "n_kept",
      "__toks", "__idx", "__passage", "__first")
    reserved.foreach(c => require(!df.columns.contains(c),
      s"input column '$c' collides with a passageDedup column"))
    val p = passageTokens
    // native chunk kernel: the declarative slice(split(…)) lambda
    // re-tokenized per passage on the interpreted Generate path
    // (plan-lint trap) — O(tokens²/p) per doc; the kernel is one pass
    val passages = df.select(col(idCol),
        posexplode(TextAnalysis.wordChunksNative(col(textCol), p)))
      .withColumnRenamed("pos", "__idx")
      .withColumnRenamed("col", "__passage")
    val firsts = passages.groupBy(col("__passage"))
      .agg(min(struct(col(idCol), col("__idx"))).as("__first"))
    val kept = passages.join(firsts, Seq("__passage"))
      .filter(struct(col(idCol), col("__idx")) === col("__first"))
    val rebuilt = kept.groupBy(col(idCol)).agg(
      array_join(transform(
        array_sort(collect_list(struct(col("__idx"), col("__passage")))),
        s => s.getField("__passage")), " ").as("clean_text"),
      count(lit(1)).as("n_kept"))
    val totals = df.select(col(idCol),
      size(TextAnalysis.wordChunksNative(col(textCol), p))
        .cast("long").as("n_passages"))
    totals.join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_passages"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
  }
}
