package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-curation operators for training-data pipelines: deterministic
  * train/valid/test splits, stratified sampling, benchmark
  * decontamination, PII redaction, and corpus-level token statistics.
  *
  * Scale design: split/sample/redact are map-only projections (no
  * shuffle at all); decontamination broadcasts the benchmark gram set
  * (benchmarks are thousands of documents, corpora are billions) so the
  * only shuffle is the per-doc hit aggregation; top-k tokens is a
  * partial-aggregated count followed by TakeOrdered on k rows.
  *
  * Determinism: all randomness derives from md5 of a salted key, which
  * any engine with bit-exact md5 replays (see Dedup.portableGramHashPairs
  * for the same trick on gram hashes). Re-running a split NEVER moves a
  * document between train and test — the property that matters when the
  * corpus is re-ingested incrementally.
  */
object Curation {

  // heavy map-side kernels engage the whole cluster even when the
  // input arrived as one unsplittable scan split — no-op on
  // properly-split inputs (see Tables.spreadScan)
  private def spread(df: org.apache.spark.sql.DataFrame) =
    graft.sources.Tables.spreadScan(df)

  /** 60-bit uniform hash of a salted string key (portable: DuckDB
    * `CAST('0x' || substr(md5(salt || key), 1, 15) AS BIGINT)`).
    */
  def saltedHash60(salt: String, key: Column): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 15),
      16, 10).cast("long")

  /** Deterministic train/valid/test assignment by hash bucket: bucket =
    * h(id) mod 100; train < `trainPct` <= valid < `trainPct+validPct`
    * <= test. Map-only — at 100 TB this is a free projection pushed
    * into the scan, and membership is stable under corpus growth
    * (adding documents never reassigns existing ones).
    */
  def splitAssign(df: DataFrame, idCol: String, trainPct: Int = 90,
      validPct: Int = 5, salt: String = "split|"): DataFrame = {
    val bucket = saltedHash60(salt, col(idCol)) % 100
    df.select(col(idCol), bucket.as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + validPct, "valid")
        .otherwise("test").as("split"))
  }

  /** Per-stratum quota sampling: keep at most `cap` documents per
    * stratum, chosen in deterministic salted-hash order (hash order ≡
    * uniform random order, stable under corpus growth until the quota
    * fills). The rank filter plans as WindowGroupLimit — per-partition
    * top-k heaps BEFORE the exchange, so a viral stratum ships cap
    * rows per partition, not its whole membership.
    */
  def quotaSample(df: DataFrame, idCol: String, strataCol: String,
      cap: Int, salt: String = "quota|"): DataFrame = {
    require(cap > 0, "cap must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(md5(concat(lit(salt), col(idCol).cast("string"))), col(idCol))
    df.select(col(idCol), col(strataCol))
      .withColumn("pick_rank", row_number().over(w).cast("long"))
      .filter(col("pick_rank") <= cap)
  }

  /** Leakage-safe split: [[splitAssign]] hashes each document
    * independently, so two near-duplicate documents can land on
    * opposite sides of the train/test boundary — the classic silent
    * eval-contamination path (a test doc whose near-copy was trained
    * on). Here the hash key is the near-dup CLUSTER representative
    * (min id of the connected component over the supplied pair edges;
    * docs in no pair are their own singleton cluster), so every
    * member of a duplicate cluster moves as one unit and no pair ever
    * straddles a split.
    *
    * `pairs` is any near-dup edge list — ngramJaccardPairsLsh,
    * containmentPairs, hammingNearDups — with id_a/id_b columns.
    * Scale: clustering cost is the CC iteration on the PAIR graph
    * (collision-sized, not corpus-sized); membership stays stable
    * under corpus growth exactly when the cluster representative does.
    */
  def leakageSafeSplit(docs: DataFrame, idCol: String, pairs: DataFrame,
      trainPct: Int = 90, validPct: Int = 5,
      salt: String = "split|"): DataFrame = {
    val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", idCol)
    val labeled = docs.select(col(idCol))
      .join(clusters, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
    val bucket = saltedHash60(salt, col("cluster_id")) % 100
    labeled.select(col(idCol), col("cluster_id"), bucket.as("bucket"),
      when(bucket < trainPct, "train")
        .when(bucket < trainPct + validPct, "valid")
        .otherwise("test").as("split"))
  }

  /** Deterministic stratified sample: keep a row iff its 4-digit hash
    * bucket falls under the stratum's rate (per-10000). Rates are a
    * literal when()-chain, so the filter is codegen'd and pushed to the
    * scan — sampling 1% of 100 TB reads the column-pruned scan once and
    * shuffles nothing.
    */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      ratesPer10k: Seq[(String, Int)], defaultPer10k: Int,
      salt: String = "sample|"): DataFrame = {
    val bucket = saltedHash60(salt, col(idCol)) % 10000
    val rate = ratesPer10k.foldLeft(lit(defaultPer10k)) {
      case (acc, (stratum, r)) =>
        when(col(strataCol) === stratum, lit(r)).otherwise(acc)
    }
    df.filter(bucket < rate)
  }

  /** Weighted sample WITHOUT replacement (Efraimidis–Spirakis A-ES):
    * each row draws u ∈ (0,1) from the salted portable hash and ranks
    * by u^(1/w); the top-k ranks are exactly a weighted sample without
    * replacement. The rank key is a map-only projection and the top-k
    * is TakeOrdered (per-partition heaps of k, only k rows per
    * partition move) — "sample 100k docs proportional to quality" at
    * 100 TB without a full sort or a global shuffle.
    *
    * CONTRACT: weights must be POSITIVE — A-ES is only defined for
    * w > 0. Rows with w ≤ 0 are FILTERED OUT (never sampled): w = 0
    * happens to fall out of the math (pow(u<1, +inf) = 0, rank floor),
    * but w < 0 would INVERT the ranking (1/w < 0 ⇒ u^(1/w) > 1, the
    * row always wins) — silently corrupting the sample — so the
    * explicit filter is the contract, not a convenience.
    * Deterministic and engine-portable: the oracle replays
    * `pow((md5_60(salt||id) + 0.5) / 2^60, 1/w)` bit-for-bit.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
      k: Int, salt: String = "wsample|"): DataFrame = {
    require(k > 0, "k must be positive")
    require(!df.columns.contains("__wkey"),
      "input column '__wkey' collides with the weightedSample working column")
    val u = (saltedHash60(salt, col(idCol)).cast("double") + lit(0.5)) /
      lit(math.pow(2, 60))
    df.filter(col(weightCol).cast("double") > 0)
      .withColumn("__wkey",
        pow(u, lit(1.0) / col(weightCol).cast("double")))
      .orderBy(col("__wkey").desc, col(idCol))
      .limit(k)
      .drop("__wkey")
  }

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val PhoneRe = "\\d{3}-\\d{4}(-\\d{4})?"

  /** PII redaction: email and phone patterns replaced with typed
    * placeholder tokens. Pure codegen'd regexp_replace (no UDF); the
    * patterns avoid constructs whose semantics differ between regex
    * engines (no backreferences, no lookaround), so an RE2-based oracle
    * replays them exactly.
    */
  def piiRedact(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Benchmark decontamination: for each corpus document, count its
    * word n-grams that also occur in `bench` (the held-out benchmark /
    * eval set), and the overlap ratio. Training on benchmark text
    * invalidates evals — this flags documents to drop.
    *
    * Scale: the benchmark gram set is DISTINCT'd and broadcast (eval
    * suites are ~1e3–1e6 docs; the corpus is the big side), so the
    * corpus is scanned once, map-side joined, and the only shuffle is
    * the per-doc count aggregation on (doc_id) — no corpus self-join
    * anywhere. Returns only contaminated docs (n_hits >= 1).
    */
  def decontaminate(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 4): DataFrame = {
    def grams(df: DataFrame) = gramSets(df, idCol, textCol, n)
    // explode_outer, NOT explode: plain explode makes the optimizer push
    // a `size(__ng) > 0 AND isnotnull(__ng)` filter BELOW the staged
    // projects, inlining the whole n-gram expression into the filter —
    // where split() re-evaluates per element access (O(tokens²) per row;
    // 22 s for this query at sf0.1 vs 0.9 s staged). explode_outer adds
    // no implicit filter, so the null check runs on the GENERATED column
    // above the Generate and the staging survives.
    val benchGrams = grams(bench)
      .select(explode_outer(col("__ng")).as("g"))
      .filter(col("g").isNotNull)
      .distinct()
    // Single corpus pass: carry the per-doc gram count through the
    // explode so the gram pipeline runs once and there is no second
    // corpus scan + doc_id self-join. n_grams is functionally dependent
    // on idCol, so grouping on both adds nothing to the shuffle key's
    // cardinality.
    grams(corpus)
      .select(col(idCol), size(col("__ng")).as("n_grams"),
        explode_outer(col("__ng")).as("g"))
      .filter(col("g").isNotNull)
      .join(broadcast(benchGrams), "g")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col(idCol), col("n_hits"), col("n_grams"),
        TextAnalysis.q4(col("n_hits").cast("double") /
          greatest(col("n_grams"), lit(1))).as("overlap"))
  }

  /** (idCol, __ng: array of word n-grams) — shared front half of the
    * decontamination variants. */
  private def gramSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = spread(df.select(col(idCol), col(textCol)))
    .select(col(idCol), TextAnalysis.tokens(lower(trim(col(textCol))))
      .as("__toks"))
    .select(col(idCol), Dedup.wordNgramsFromTokens(col("__toks"), n)
      .as("__ng"))

  /** Decontamination, Bloom-prefilter variant — the shape for when the
    * held-out set is too big to broadcast as a hash relation (a full
    * eval-suite union can reach 1e8–1e9 grams; a hash relation of that
    * blows executor memory, while a Bloom filter is `numBits/8` bytes
    * at any cardinality).
    *
    * Plan: (1) benchmark grams aggregate DISTRIBUTED into one Bloom
    * filter (`BloomFilterAggregate`, the same sketch Spark's runtime
    * filter injection uses); only the finished `numBits/8`-byte sketch
    * reaches the driver, where it embeds as a foldable literal —
    * `BloomFilterMightContain` requires a constant/scalar-subquery
    * bloom side, and this IS how Spark materializes its own runtime
    * filters. (2) The corpus gram stream drops every gram the filter
    * rejects — map-side, codegen'd, no shuffle. (3) Survivors (true
    * hits + ~fpp false positives) go through the exact semi-join,
    * which now shuffles only the prefiltered sliver instead of every
    * corpus gram. Output is bit-identical to `decontaminate` (the
    * exact join kills false positives); only the plan differs.
    */
  /** Bloom sizing: bits for a target false-positive probability at
    * `expectedItems` distinct items — m = −n·ln(p) / ln²2, the standard
    * optimal-k formula.
    */
  def bloomNumBits(expectedItems: Long, fpp: Double): Long = {
    require(fpp > 0 && fpp < 1, "fpp must be in (0, 1)")
    math.ceil(-expectedItems.toDouble * math.log(fpp) /
      (math.log(2) * math.log(2))).toLong
  }

  /** `decontaminateBloom` with the sketch auto-sized from the expected
    * gram cardinality and a target false-positive rate instead of a
    * hand-picked bit count.
    */
  def decontaminateBloomAuto(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 4, expectedGrams: Long,
      fpp: Double = 0.03): DataFrame =
    decontaminateBloom(corpus, bench, idCol, textCol, n, expectedGrams,
      bloomNumBits(expectedGrams, fpp))

  def decontaminateBloom(corpus: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 4, expectedGrams: Long = 4000000L,
      numBits: Long = 33554432L): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftglue.Glue
    // persisted: the gram tokenize+ngram+distinct pass feeds BOTH the
    // sketch-build action below and the exact verify join in the
    // returned plan — uncached it would run twice (a full second pass
    // over a 1e8–1e9-gram eval suite). MEMORY_AND_DISK, LRU-evictable;
    // callers with tight memory can spark.catalog.clearCache() after
    // consuming the result.
    val benchGrams = gramSets(bench, idCol, textCol, n)
      .select(explode_outer(col("__ng")).as("g"))
      .filter(col("g").isNotNull)
      .distinct()
      .transform(graft.CachePool.persist(_))
    // BloomFilterAggregate silently clamps its parameters to the
    // runtime-filter conf caps (defaults 4e6 items / 6.7e7 bits) —
    // raise them to the requested size for the build so the achieved
    // fpp is the one the caller asked for, then restore.
    val spark = bench.sparkSession
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (prevItems, prevBits) =
      (spark.conf.get(itemsKey), spark.conf.get(bitsKey))
    val bloomBytes =
      try {
        spark.conf.set(itemsKey, math.max(prevItems.toLong, expectedGrams))
        spark.conf.set(bitsKey, math.max(prevBits.toLong, numBits))
        benchGrams
          .select(Glue.column(new BloomFilterAggregate(
            Glue.expression(xxhash64(col("g"))),
            Literal(expectedGrams), Literal(numBits)).toAggregateExpression())
            .as("bf"))
          .head().getAs[Array[Byte]](0)
      } finally {
        spark.conf.set(itemsKey, prevItems)
        spark.conf.set(bitsKey, prevBits)
      }
    // achieved fpp at the DESIGNED cardinality: (1 − e^(−kn/m))^k with
    // k = max(1, round(m/n·ln2)) — the sketch's own k derivation
    {
      val m = numBits.toDouble; val nn = expectedGrams.toDouble
      val k = math.max(1, math.round(m / nn * math.log(2))).toDouble
      val achieved = math.pow(1 - math.exp(-k * nn / m), k)
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        f"decontaminateBloom sketch: $numBits%d bits, k=${k.toInt}%d, " +
          f"design fpp ≈ $achieved%.4g at $expectedGrams%d grams")
    }
    val mightContain = Glue.column(BloomFilterMightContain(
      Literal.create(bloomBytes,
        org.apache.spark.sql.types.BinaryType),
      Glue.expression(xxhash64(col("g")))))
    gramSets(corpus, idCol, textCol, n)
      .select(col(idCol), size(col("__ng")).as("n_grams"),
        explode_outer(col("__ng")).as("g"))
      .filter(col("g").isNotNull)
      .filter(mightContain)
      // exact verify WITHOUT a broadcast hint: at real scale this is a
      // shuffle semi-join, and the bloom prefilter is what keeps the
      // corpus side of that shuffle small
      .join(benchGrams, Seq("g"), "left_semi")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(lit(1)).as("n_hits"))
      .select(col(idCol), col("n_hits"), col("n_grams"),
        TextAnalysis.q4(col("n_hits").cast("double") /
          greatest(col("n_grams"), lit(1))).as("overlap"))
  }

  /** DSIR-style importance weights for domain-targeted data selection
    * (Xie et al. 2023, "Data Selection for Language Models via
    * Importance Resampling"): score every raw-corpus document by how
    * target-like its hashed n-gram features are —
    * log w(doc) = Σ_grams [ln p_target(bucket(g)) − ln p_raw(bucket(g))]
    * with unigram+bigram features hashed into `buckets` buckets and
    * add-one-smoothed bucket probabilities. Sampling ∝ exp(log w)
    * (e.g. via [[weightedSample]]) then selects raw data matching the
    * target distribution.
    *
    * Scale shape: both corpora stream once through a map-only
    * tokenize→gram→bucket projection; bucket counts partial-aggregate
    * to ≤ `buckets` rows per side (the shuffle carries buckets ×
    * partitions rows, never gram occurrences); the per-bucket
    * log-ratio table (≤ `buckets` rows) broadcast-joins back onto the
    * raw gram stream, and the per-doc sum is one partial-agg'd groupBy
    * on the doc id. Nothing is ever driver-side or O(corpus) beyond
    * the scans.
    *
    * Portability: the bucket is the repo's salted 60-bit md5 hash mod
    * `buckets`; each bucket's log-ratio is ln of an exactly-computed
    * rational ((c_t+1)(N_r+B) / ((c_r+1)(N_t+B)) — integer products
    * < 2⁵³, cast to double, one IEEE divide) floor-quantized to 9
    * decimals; per-doc totals sum those as DECIMAL(28,9) — order-
    * independent and replayable in any engine with md5 + ln.
    */
  def dsirLogWeights(raw: DataFrame, target: DataFrame, idCol: String,
      textCol: String, buckets: Int = 8192,
      salt: String = "dsir|"): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(!Set("n_grams", "log_w").contains(idCol),
      s"idCol '$idCol' collides with a dsirLogWeights output column")
    def gramBuckets(df: DataFrame, keep: Seq[Column]): DataFrame =
      // native single-pass gram kernels: the declarative
      // element_at(split(…), i) lambda re-tokenized per element on
      // the interpreted Generate path (plan-lint trap); the kernels
      // are bit-identical (unigram stream = token array, bigram
      // stream = sliding windows, empty for < 2 tokens)
      spread(df).select(keep :+ explode(concat(
          TextAnalysis.wordNgramsAllNative(col(textCol), 1, lowercase = true),
          TextAnalysis.wordNgramsAllNative(col(textCol), 2, lowercase = true)))
          .as("__g"): _*)
        .filter(col("__g") =!= "")
        .select(keep :+ (saltedHash60(salt, col("__g")) % buckets).as("__b"): _*)
    // ONE tokenize pass over the raw corpus: per-doc bucket counts are
    // the working set (≤ min(grams, buckets) rows per doc), persisted
    // because both the global bucket counts and the per-doc weight sum
    // derive from them — uncached, the tokenize+explode would run
    // twice over the big side (MEMORY_AND_DISK, LRU-evictable, same
    // convention as decontaminateBloom's gram cache).
    val rawPerDoc = gramBuckets(raw, Seq(col(idCol)))
      .groupBy(col(idCol), col("__b")).agg(count(lit(1)).as("__n"))
      .transform(graft.CachePool.persist(_))
    val tgtGrams = gramBuckets(target, Seq.empty)
    val rawCounts = rawPerDoc.groupBy(col("__b")).agg(sum(col("__n")).as("__cr"))
    val tgtCounts = tgtGrams.groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val rawTotal = rawPerDoc.agg(sum(col("__n")).as("__nr"))
    val tgtTotal = tgtGrams.agg(count(lit(1)).as("__nt"))
    // every raw gram's bucket is in rawCounts by construction, so a
    // left join from rawCounts covers the full stream; target-absent
    // buckets smooth to c_t = 0
    val lam = rawCounts
      .join(tgtCounts, Seq("__b"), "left")
      .crossJoin(broadcast(rawTotal)).crossJoin(broadcast(tgtTotal))
      .select(col("__b"),
        (floor(log(
          ((coalesce(col("__ct"), lit(0L)) + 1) *
            (col("__nr") + buckets)).cast("double") /
          ((col("__cr") + 1) * (col("__nt") + buckets)).cast("double"))
          * 1e9) / 1e9).as("__lam"))
    // Σ over occurrences of λ(bucket) == Σ over (doc, bucket) of
    // n·λ(bucket). Operand precisions are TIGHT — |λ| < 10³ at 9
    // decimals is decimal(12,9), n < 10¹⁰ is decimal(10,0) — so the
    // product type is decimal(23,9) and stays EXACT; a loose (20,0) ×
    // (28,9) would overflow precision 38 and Spark silently drops
    // scale (the rounding showed up as an oracle hash mismatch)
    rawPerDoc
      .join(broadcast(lam), Seq("__b"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).as("n_grams"),
        sum(col("__n").cast("decimal(10,0)") *
          col("__lam").cast("decimal(12,9)")).as("__s"))
      .select(col(idCol), col("n_grams"),
        TextAnalysis.q4(col("__s").cast("double")).as("log_w"))
  }

  /** Greedy-free sequence packing (concat-then-chunk): documents are
    * hash-sharded, laid end-to-end within each shard in id order, and
    * the resulting token stream is cut into fixed `budget`-token
    * training sequences. Documents may span a boundary — the GPT-style
    * packing that wastes zero tokens and needs no bin-packing search.
    * Emits per document: shard, token count, the shard-local start
    * offset, and the first/last pack (sequence) index it lands in.
    *
    * Scale: ONE shuffle (hash partition by shard) and one running-sum
    * window per shard. Shards are independent, so parallelism = nShards
    * regardless of corpus size; pick nShards ≫ executor count and the
    * 100 TB layout job is embarrassingly parallel. Assignment is
    * deterministic and stable: a document's (shard, offset) never
    * depends on partitioning or execution order.
    */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      budget: Int, nShards: Int, salt: String = "pack|"): DataFrame =
    packSequencesBy(df, idCol,
      TextAnalysis.tokenCount(col(textCol)).cast("long"),
      budget, nShards, salt)

  /** [[packSequences]] with an arbitrary per-doc length measure —
    * e.g. `size(wordpiecePieces(...))` summed over words, so packing
    * budgets count REAL subword tokens instead of whitespace words
    * (what the training job actually pays for). The measure must be a
    * deterministic map-side expression over the row.
    */
  def packSequencesBy(df: DataFrame, idCol: String, lenCol: Column,
      budget: Int, nShards: Int, salt: String = "pack|"): DataFrame = {
    require(budget > 0 && nShards > 0, "budget and nShards must be positive")
    // the id column survives into the output alongside these generated
    // names; a collision would make the window key ambiguous
    require(!Set("shard", "n_tokens", "__end", "start_offset",
      "pack_first", "pack_last").contains(idCol),
      s"idCol '$idCol' collides with a packSequences output column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Long.MinValue, 0)
    df.select(col(idCol),
        (saltedHash60(salt, col(idCol)) % nShards).as("shard"),
        lenCol.cast("long").as("n_tokens"))
      .withColumn("__end", sum(col("n_tokens")).over(w))
      .select(col(idCol), col("shard"), col("n_tokens"),
        (col("__end") - col("n_tokens")).as("start_offset"),
        expr(s"(__end - n_tokens) div $budget").as("pack_first"),
        // empty docs (n_tokens=0) occupy no pack; pin last to first
        expr(s"greatest(__end - 1, __end - n_tokens) div $budget")
          .as("pack_last"))
  }

  /** Length-bucketed dynamic batching: documents pad to the smallest
    * multiple of `step` ≥ their token count (integer arithmetic — no
    * float log2 boundary ambiguity) and batch WITHIN their (shard,
    * bucket): batches hold length-homogeneous docs, so padding waste
    * per doc is bounded by `step` instead of by the global max length
    * — the standard dynamic-batching layout for inference/training
    * over variable-length text (fairseq/HF `group_by_length`).
    *
    * Scale shape: bucket assignment and waste are MAP-ONLY (pushable
    * to the scan); the only window partitions by (shard, bucket) —
    * the same salted-shard bound as [[packSequences]], so one viral
    * length bucket never funnels to a single task. Total waste =
    * sum(pad_waste) is a partial-agg'd follow-up, and batch ids are
    * deterministic and stable per shard.
    */
  def lengthBuckets(df: DataFrame, idCol: String, textCol: String,
      step: Int, batchSize: Int, nShards: Int,
      salt: String = "lenbkt|"): DataFrame = {
    require(step > 0 && batchSize > 0 && nShards > 0,
      "step, batchSize and nShards must be positive")
    require(!Set("shard", "n_tokens", "bucket_bound", "batch_in_bucket",
      "pad_waste", "batch_max_tokens", "pad_waste_batch_max", "__rn")
      .contains(idCol),
      s"idCol '$idCol' collides with a lengthBuckets output column")
    val base = df.select(col(idCol),
        (saltedHash60(salt, col(idCol)) % nShards).as("shard"),
        TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
      .withColumn("bucket_bound",
        expr(s"((n_tokens + ${step - 1}) div $step) * $step"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col("bucket_bound")).orderBy(col(idCol))
    // batch-max accounting rides the SAME (shard, bucket) hash
    // partitioning (the batch key is a superset — no second exchange,
    // just a sort): a consumer that pads each batch to its own max
    // wastes pad_waste_batch_max ≤ pad_waste per doc; the bucket
    // bound stays the worst-case guarantee
    val wb = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard"), col("bucket_bound"), col("batch_in_bucket"))
    base.withColumn("__rn", row_number().over(w))
      .withColumn("batch_in_bucket",
        expr(s"CAST((__rn - 1) div $batchSize AS BIGINT)"))
      .withColumn("batch_max_tokens", max(col("n_tokens")).over(wb))
      .select(col(idCol), col("shard"), col("n_tokens"), col("bucket_bound"),
        col("batch_in_bucket"),
        (col("bucket_bound") - col("n_tokens")).as("pad_waste"),
        col("batch_max_tokens"),
        (col("batch_max_tokens") - col("n_tokens"))
          .as("pad_waste_batch_max"))
  }

  /** Deterministic negative sampling for contrastive training: each
    * query document draws `k` pseudo-random corpus documents — the
    * in-batch/random negatives of embedding-model training — without
    * any randomness source: negatives are the k consecutive positions
    * after a salted-hash offset inside the query's assigned shard of
    * the [[shuffleAssign]] permutation (hash order ≡ random order, so
    * a contiguous run is an iid-looking draw; consecutive positions
    * cannot collide, giving k distinct negatives whenever the shard
    * holds ≥ k docs).
    *
    * Scale shape: the permutation is shuffleAssign's per-shard window
    * (no global sort), shard sizes are an nShards-row broadcast, and
    * the probe is a plain equi-join on (shard, pos) — queries × k
    * rows against the corpus-sized position table. The query doc
    * itself is filtered if it happens to land in its own draw (≤ 1
    * of the k rows, deterministically — consumers see k or k−1).
    *
    * Contract: the query's probe shard is drawn with a DIFFERENT salt
    * than the permutation's shard assignment, so on corpora much
    * smaller than ~10·nShards docs a probe shard can be empty and
    * those queries emit no negatives (deterministically). Size
    * nShards to the corpus; k ≤ min shard size keeps draws distinct.
    */
  def negativeSample(docs: DataFrame, idCol: String, k: Int,
      nShards: Int = 16, salt: String = "neg|"): DataFrame = {
    require(k > 0 && nShards > 0, "k and nShards must be positive")
    val perm = shuffleAssign(docs, idCol, nShards, salt + "perm|")
      .withColumnRenamed(idCol, "neg_id")
    val counts = perm.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_s"))
    val probes = docs.select(col(idCol).as("query_id"),
        (saltedHash60(salt + "shard|", col(idCol)) % nShards).as("shard"),
        saltedHash60(salt + "pos|", col(idCol)).as("__h"))
      .join(broadcast(counts), Seq("shard"))
      .select(col("query_id"), col("shard"), col("__h"), col("n_s"),
        explode(sequence(lit(0), lit(k - 1))).as("__i"))
      .select(col("query_id"), col("shard"),
        col("__i").cast("long").as("neg_rank"),
        ((col("__h") + col("__i")) % col("n_s") + 1).as("pos"))
    probes.join(perm, Seq("shard", "pos"))
      .filter(col("neg_id") =!= col("query_id"))
      .select(col("query_id"), col("neg_rank"), col("neg_id"))
  }

  /** Deterministic global training-order shuffle + sharding: order is
    * md5(salt || id) — uniform, seedable via salt, reproducible on any
    * engine with bit-exact md5. Emits (id, shard, pos): shard = high
    * bits mod nShards, pos = 1-based rank of the hash within the shard.
    * Writing with `repartition(shard).sortWithinPartitions(pos)` lays
    * the corpus out in shuffled order with ONE shuffle; re-shuffling
    * for a new epoch is just a new salt, and membership is stable
    * under corpus growth (new docs interleave, old pairs keep their
    * relative order).
    */
  def shuffleAssign(df: DataFrame, idCol: String, nShards: Int,
      salt: String = "shuffle|"): DataFrame = {
    require(nShards > 0, "nShards must be positive")
    require(!Set("shard", "pos", "__h").contains(idCol),
      s"idCol '$idCol' collides with a shuffleAssign output column")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("__h"), col(idCol))
    df.select(col(idCol),
        md5(concat(lit(salt), col(idCol).cast("string"))).as("__h"))
      .withColumn("shard",
        conv(substring(col("__h"), 1, 15), 16, 10).cast("long") % nShards)
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col(idCol), col("shard"), col("pos"))
  }

  /** Corpus-level top-k token frequencies. explode → groupBy benefits
    * from map-side partial aggregation (the shuffle carries one row per
    * distinct token per partition, not per occurrence); the final
    * orderBy+limit plans as TakeOrderedAndProject — only k rows ever
    * reach the driver. Ties break on the token for determinism.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame =
    spread(df.select(col(textCol)))
      .select(explode(TextAnalysis.tokens(lower(trim(col(textCol)))))
        .as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)

  /** Per-document repetition statistics: token count, distinct-token
    * count, type-token ratio, and the max single-token frequency —
    * boilerplate/spam signals (a low TTR or a dominant token marks
    * machine-generated filler). Map-only, zero shuffles; the token
    * array materializes once per row (staged select).
    *
    * The max-frequency pass runs over the SORTED token array, where
    * equal tokens form contiguous runs — one fold tracking (previous
    * token, run length, max run) bounds the per-document cost at
    * O(tokens log tokens). The distinct×tokens nested scan it replaces
    * went quadratic on adversarial docs (a single 1 M-token spam doc
    * put ~10¹⁰ comparisons in one task).
    */
  def repetitionStats(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val runMax = aggregate(
      array_sort(col("__toks")),
      struct(lit(null).cast("string").as("prev"), lit(0).as("run"),
        lit(0).as("mx")),
      (acc, x) => {
        val run = when(x <=> acc.getField("prev"),
          acc.getField("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("mx"), run).as("mx"))
      },
      acc => acc.getField("mx"))
    df.select(col(idCol),
        TextAnalysis.tokens(lower(trim(col(textCol)))).as("__toks"))
      .select(col(idCol), col("__toks"),
        array_distinct(col("__toks")).as("__dist"))
      .select(col(idCol),
        size(col("__toks")).as("n_tokens"),
        size(col("__dist")).as("n_distinct"),
        TextAnalysis.q4(size(col("__dist")).cast("double") /
          greatest(size(col("__toks")), lit(1))).as("ttr"),
        // empty docs: NULL, matching list_max([]) in the oracle
        when(size(col("__toks")) === 0, lit(null).cast("int"))
          .otherwise(runMax).as("max_tok_freq"))
  }

  /** Source-level boilerplate line removal (the C4 pipeline's
    * template-stripping pass, Raffel et al. 2020 §2.2 — public paper):
    * a line occurring in at least `minFrac` of a source's documents
    * (for sources with at least `minDocs` documents) is boilerplate —
    * navigation, cookie banners, copyright footers — and every
    * occurrence is dropped from that source's documents. Line identity
    * is exact text within the SAME source only: a sentence that is
    * boilerplate on one site stays intact elsewhere.
    *
    * Output: (id, source, text-with-lines-removed, n_lines_kept,
    * n_lines_dropped); documents reduced to nothing survive with
    * empty text (downstream length filters decide their fate).
    *
    * 100 TB shape: lines explode map-side with their positions; the
    * (source, line) document-frequency count partial-aggregates (a
    * universal footer collapses to one row per map task before the
    * exchange); the strip is an anti-join on (source, line) — AQE
    * broadcasts the boilerplate side when it is small, and the join
    * key leads with `source` so a dominant site skew-splits. The only
    * corpus-wide shuffle is the per-document reassembly, keyed by the
    * UNIQUE doc id — perfectly uniform, never skewed. Reassembly
    * sorts on the materialized line position, so output text is
    * byte-deterministic.
    */
  def stripBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
      sourceCol: String, minDocs: Int = 10,
      minFrac: Double = 0.5): DataFrame = {
    require(minFrac > 0 && minFrac <= 1, "minFrac must be in (0, 1]")
    val lines = df.select(col(idCol), col(sourceCol),
      posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    // document frequency per (source, line): dedupe within doc first so
    // a line repeated inside one document counts once
    val lineDf = lines.select(col(sourceCol), col("__line"), col(idCol))
      .distinct()
      .groupBy(col(sourceCol), col("__line"))
      .agg(count(lit(1)).as("__n_with"))
    val srcDocs = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("__n_docs"))
    val boiler = lineDf.join(srcDocs, sourceCol)
      .filter(col("__n_docs") >= minDocs &&
        col("__n_with").cast("double") >= col("__n_docs") * minFrac)
      .select(col(sourceCol), col("__line"))
    val kept = lines.join(boiler, Seq(sourceCol, "__line"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol), col(sourceCol))
      .agg(array_sort(collect_list(struct(col("__pos"), col("__line"))))
        .as("__ls"))
      .select(col(idCol), col(sourceCol),
        array_join(transform(col("__ls"), s => s.getField("__line")), "\n")
          .as("__text"),
        size(col("__ls")).as("n_lines_kept"))
    df.select(col(idCol), col(sourceCol),
        size(split(col(textCol), "\n")).as("__n0"))
      .join(rebuilt.drop(sourceCol), Seq(idCol), "left")
      .select(col(idCol), col(sourceCol),
        coalesce(col("__text"), lit("")).as(textCol),
        coalesce(col("n_lines_kept"), lit(0)).as("n_lines_kept"),
        (col("__n0") - coalesce(col("n_lines_kept"), lit(0)))
          .as("n_lines_dropped"))
  }

  /** Temperature-scaled source mixture (the multilingual α-sampling
    * rule, Conneau & Lample 2019 / Raffel et al. 2020 §3.4.3 — public
    * papers): source `i` with `n_i` documents gets mixture weight
    * `n_i^α / Σ_j n_j^α`; α < 1 up-samples the tail sources a raw
    * proportional mix would drown. Output per source: document count,
    * the quantized weight numerator, and the per-million keep rate
    * that realizes `weight_i · budget` expected documents.
    *
    * Engine-portable by construction: `n^α` is quantized to an
    * integer numerator `w_q = ⌊n^α · 10^6⌋` BEFORE normalization, so
    * the weight sum is an exact integer and the rate arithmetic is
    * exact DECIMAL division — the only float op is `n^α` itself, and
    * at α = 0.5 that is IEEE-exact `sqrt` on every engine. Rates cap
    * at 10^6 (a source is never over-sampled past keeping everything;
    * budget beyond that flows nowhere — this is filtering, not
    * replication).
    *
    * 100 TB shape: one partial-aggregated count per source (a few
    * hundred rows out of any corpus), driver-free normalization via a
    * 1-row cross join, and the result is a broadcast-sized rate table.
    */
  def temperatureMixture(df: DataFrame, srcCol: String, alpha: Double,
      budget: Long): DataFrame = {
    require(alpha > 0 && alpha <= 1, "alpha must be in (0, 1]")
    require(budget > 0, "budget must be positive")
    val counts = df.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"))
    val wRaw = if (alpha == 0.5) sqrt(col("n_docs"))
      else pow(col("n_docs"), lit(alpha))
    val weighted = counts.withColumn("w_q",
      floor(wRaw * lit(1000000L)).cast("long"))
    val total = weighted.agg(sum(col("w_q")).as("__w_sum"))
    weighted.crossJoin(broadcast(total))
      // integral `div` on DECIMAL(38,0): exact ⌊num/den⌋ with no
      // intermediate rounding — the oracle's HUGEINT `//` replays it
      // bit-for-bit (plain decimal `/` rounds HALF_UP at result
      // scale, which can cross an integer boundary under floor())
      .withColumn("__num",
        lit(budget).cast("decimal(38,0)") * lit(1000000L) * col("w_q"))
      .withColumn("__den",
        col("__w_sum").cast("decimal(38,0)") * col("n_docs"))
      .select(col(srcCol), col("n_docs"), col("w_q"),
        least(lit(1000000L),
          expr("__num div __den").cast("long")).as("rate_ppm"))
  }

  /** Per-segment benchmark-contamination report from THETA SKETCHES:
    * estimate |grams(segment) ∩ grams(benchmark)| per corpus segment
    * without ever joining the corpus gram stream against the
    * benchmark. Each side aggregates its (hashed) n-grams into
    * per-segment theta state — one partial-agg'd pass, set-semantic
    * (duplicate gram updates are idempotent, no distinct needed) —
    * and the overlap estimate runs on the handful of post-aggregation
    * sketch rows. The 100 TB question this answers cheaply: "which
    * sources overlap the eval suite, and by how much" — triage BEFORE
    * the exact per-document [[decontaminate]] pass, whose gram join
    * only then needs to touch the flagged sources.
    *
    * Returns (segCol, est_grams, est_overlap) — estimates, not
    * exacts; tolerance is the theta error bound (the gate checks
    * against exact truth with set-size-scaled tolerances).
    */
  def contaminationSketchReport(corpus: DataFrame, segCol: String,
      bench: DataFrame, textCol: String, n: Int = 4): DataFrame = {
    // native single-pass gram kernel: the declarative transform feeds
    // a Generate here, where the interpreted lambda re-tokenizes per
    // element (the 12 s-vs-0.6 s trap — see expressions.WordNgrams)
    def gramStream(df: DataFrame, keyCols: Seq[Column]) =
      spread(df).select((keyCols :+ explode(
        Dedup.wordNgramsNative(col(textCol), n)).as("__g")): _*)
    val segSk = gramStream(corpus, Seq(col(segCol)))
      .groupBy(col(segCol))
      .agg(Theta.thetaSketchAgg(xxhash64(col("__g"))).as("__sk"))
    val benchSk = gramStream(bench, Seq.empty)
      .agg(Theta.thetaSketchAgg(xxhash64(col("__g"))).as("__skb"))
    segSk.crossJoin(broadcast(benchSk))
      .select(col(segCol),
        Theta.thetaEstimate(col("__sk")).as("est_grams"),
        Theta.thetaIntersectEstimate(col("__sk"), col("__skb"))
          .as("est_overlap"))
  }

  /** Source × benchmark contamination MATRIX — [[contaminationSketchReport]]
    * with the benchmark side also segmented (one eval suite per
    * `benchSegCol` value): every (source, benchmark) cell gets an
    * overlap estimate from the two pre-aggregated sketches, so "which
    * sources leak into which benchmarks" is answered without a single
    * corpus-vs-bench gram join. Cells = sources × benchmarks (the
    * benchmark sketch table broadcasts); estimate arithmetic runs on
    * post-aggregation rows only.
    */
  def contaminationSketchMatrix(corpus: DataFrame, segCol: String,
      bench: DataFrame, benchSegCol: String, textCol: String,
      n: Int = 4): DataFrame = {
    def gramStream(df: DataFrame, keyCols: Seq[Column]) =
      spread(df).select((keyCols :+ explode(
        Dedup.wordNgramsNative(col(textCol), n)).as("__g")): _*)
    val segSk = gramStream(corpus, Seq(col(segCol)))
      .groupBy(col(segCol))
      .agg(Theta.thetaSketchAgg(xxhash64(col("__g"))).as("__sk"))
    val benchSk = gramStream(bench, Seq(col(benchSegCol)))
      .groupBy(col(benchSegCol))
      .agg(Theta.thetaSketchAgg(xxhash64(col("__g"))).as("__skb"))
    segSk.crossJoin(broadcast(benchSk))
      .select(col(segCol), col(benchSegCol),
        Theta.thetaEstimate(col("__sk")).as("est_grams"),
        Theta.thetaIntersectEstimate(col("__sk"), col("__skb"))
          .as("est_overlap"))
  }

  /** Realize a [[temperatureMixture]]: keep a document iff its salted
    * hash bucket (per-million) falls under its source's keep rate.
    * Deterministic, stable under corpus growth (a document's fate
    * never depends on other documents' ids), and map-only past the
    * broadcast of the tiny rate table — the 100 TB mixing pass is
    * one scan.
    */
  def applyMixture(df: DataFrame, idCol: String, srcCol: String,
      alpha: Double, budget: Long, salt: String = "mix|"): DataFrame = {
    val rates = temperatureMixture(df, srcCol, alpha, budget)
      .select(col(srcCol).as("__mix_src"), col("rate_ppm"))
    // null-safe join: temperatureMixture's groupBy gives a NULL
    // source its own rate row, and a plain equi-join would silently
    // drop every null-source document (null never equals null) while
    // its weight still deflated the other sources' rates
    df.join(broadcast(rates), col(srcCol) <=> col("__mix_src"))
      .filter(saltedHash60(salt, col(idCol)) % 1000000L < col("rate_ppm"))
      .drop("__mix_src", "rate_ppm")
  }

  /** k-anonymity audit over a quasi-identifier tuple — the release
    * screen run before any record-level corpus or metadata export:
    * every row whose quasi-identifier combination is shared by fewer
    * than k rows is re-identifiable at confidence 1/count. Returns the
    * per-combination audit (the quasi-identifier columns, their group
    * size, and `violates`), so callers can suppress, generalize, or
    * drop the violating groups.
    *
    * Nulls are grouped as their own value (null IS a disclosing value
    * when rare — a null birthday in a table of non-nulls identifies).
    * Plan: ONE partial-agg'd groupBy on the tuple — the audit costs a
    * wordcount at any scale, and the output is combination-sized, not
    * row-sized.
    */
  def kAnonymityAudit(df: DataFrame, quasiCols: Seq[String], k: Int)
      : DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k >= 2, "k < 2 makes every row trivially anonymous")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .withColumn("violates", col("group_size") < k)
  }

  /** SURGICAL span excision — cut character ranges out of documents
    * instead of dropping the documents: the curation move for
    * span-level findings ([[graft.functions.Dedup.dupSpans]]
    * duplicate extents, benchmark-contamination spans, PII spans)
    * where the rest of the document is good training data. Dropping a
    * 10k-char document for one 80-char boilerplate span wastes 99% of
    * it; splicing the span out keeps it.
    *
    * `spans` carries (idCol, `startCol`, `endCol`) with 1-BASED
    * INCLUSIVE character offsets (dupSpans' own convention); spans
    * may arrive unsorted, and overlapping/adjacent ranges are handled
    * by the running cursor (never negative-length segments). A doc
    * with no span rows passes through untouched; a doc fully covered
    * becomes the empty string (the caller decides whether to drop
    * empties — that is a FILTER decision, not this operator's).
    *
    * Plan shape: spans aggregate per doc into a sorted struct array
    * (partial-agg'd collect_list — bounded by the doc's own span
    * count), ONE equi-join against the corpus on the id, and the
    * splice runs as a codegen'd `aggregate` fold over the span array
    * (two substr calls per span, no per-character explode, no UDF).
    */
  def scrubSpans(corpus: DataFrame, spans: DataFrame, idCol: String,
      textCol: String, startCol: String = "span_start",
      endCol: String = "span_end"): DataFrame = {
    val sp = spans.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(
        col(startCol).cast("long").as("s"),
        col(endCol).cast("long").as("e")))).as("__spans"))
    val init = struct(lit("").as("acc"), lit(1L).as("cur"))
    val folded = aggregate(col("__spans"), init,
      (st, sp2) => struct(
        concat(st.getField("acc"),
          col(textCol).substr(st.getField("cur"),
            greatest(sp2.getField("s") - st.getField("cur"), lit(0L))))
          .as("acc"),
        greatest(st.getField("cur"), sp2.getField("e") + 1).as("cur")),
      st => concat(st.getField("acc"),
        col(textCol).substr(st.getField("cur"),
          greatest(length(col(textCol)).cast("long")
            - st.getField("cur") + 1, lit(0L)))))
    val outCols = corpus.columns.map {
      case c if c == textCol =>
        when(col("__spans").isNull, col(textCol))
          .otherwise(folded).as(textCol)
      case c => col(c)
    }.toSeq
    corpus.join(sp, Seq(idCol), "left").select(outCols: _*)
  }
}
