package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Similarity}

/** Empirical scale check for the dedup/similarity hot paths: grow the
  * corpus by k× (content-distinct transforms per copy, so candidate
  * volume is not inflated quadratically by design) and confirm wall
  * time grows ~linearly — the local proxy for "no O(n²) stage".
  *
  * Copies are made content-distinct deterministically: every token
  * gets a copy-specific suffix, which changes every token, gram,
  * minhash and simhash (bag-of-words operators are permutation
  * INVARIANT — reversing/sorting tokens would leave simhash identical
  * and collapse sorted n-grams, inflating pairs quadratically; that
  * mistake is why this transform suffixes instead of permutes).
  * Embeddings get large per-copy noise (cos ≈0.6 vs original — below
  * every near-dup threshold). Within each copy the original dup
  * structure is preserved, so true pairs scale exactly k×.
  */
object ScaleSmoke {

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def docsAt(base: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { c =>
      val shifted = base.select(
        (col("doc_id") + lit(c * 1000000L)).as("doc_id"),
        col("lang"), col("text"))
      if (c == 0) shifted
      else shifted.withColumn("text",
        concat_ws(" ", transform(split(col("text"), "\\s+"),
          t => concat(t, lit(s"~$c")))))
    }.reduce(_ union _)

  private def embAt(base: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { c =>
      base.select((col("vec_id") + lit(c * 1000000L)).as("vec_id"),
        (if (c == 0) transform(col("embedding"), x => x.cast("double"))
         else transform(col("embedding"), (x, i) =>
           // hash noise, not modular-ramp noise: earlier affine
           // formulas ((vid·a + i·b + c·d) % m) made every copy's
           // noise a phase-shifted ramp over the dim index —
           // effectively rank-1, so cross-copy cosines stayed high
           // and the 16×/32× sweeps read superlinear while the
           // detectors were correctly pairing the fixture's own
           // accidental near-dups (% 17 even made c and c+17 exact
           // copies). xxhash64 per (vec, dim, copy) decorrelates all
           // copies: cross-copy cos ≈ 0.6, below every threshold.
           x.cast("double") + lit(0.8) *
             ((pmod(xxhash64(col("vec_id"), i, lit(c)), lit(1001L))
               .cast("double") - 500.0) / 500.0))).as("embedding"))
    }.reduce(_ union _)

  /** Big-corpus generator for the `trees` mode: one explode instead
    * of a factor-way union (a 263-way union's analyzed plan is its
    * own bottleneck). Same per-(vec, dim, copy) xxhash noise as
    * [[embAt]]; copy 0 keeps the original vectors.
    */
  private def embExploded(base: DataFrame, factor: Int): DataFrame =
    base.select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0L), lit(factor - 1L))).as("__c"))
      .select((col("vec_id") + col("__c") * 1000000L).as("vec_id"),
        when(col("__c") === 0,
          transform(col("embedding"), x => x.cast("double")))
        .otherwise(transform(col("embedding"), (x, i) =>
          x.cast("double") + lit(0.8) *
            ((pmod(xxhash64(col("vec_id"), i, col("__c")), lit(1001L))
              .cast("double") - 500.0) / 500.0))).as("embedding"))

  /** `trees` mode: the two-level-vs-tree separation at production
    * nlist (the r8 verdict's "prove it at nlist ≥ 4096"). Two
    * measurements per nlist:
    *
    *  - END-TO-END sampled training (FAISS 32 points/centroid,
    *    iters = 2). Expect NEAR-PARITY here and that is the honest
    *    reading: both paths share the identical O(sample·dims)
    *    mean-rebuild hash aggregate per sweep, and at dims = 64 that
    *    shared linear term dominates — the asymptotic assignment gap
    *    is real but drowned (recorded as such; the first sweep at
    *    nlist ≤ 2048 read the same).
    *  - The ASSIGNMENT PASS in isolation over the full corpus with
    *    the SAME trained quantizer — the step where the asymptotics
    *    actually differ: two-level scores √nlist supers + wprobe
    *    groups' members per row (O(√nlist·dims)); the tree walks
    *    beam·fanout·depth reps + beam leaves (O(log nlist·dims)).
    *    This column is where the tree must visibly pull ahead and
    *    where the O(n·√nlist) vs O(n·log nlist) index-build floor
    *    lives at 100 TB (assignment runs over the CORPUS, training
    *    only over the bounded sample).
    *
    * Flat Lloyd is omitted: O(nlist²) on the same sample is minutes
    * at 4096; its separation is measured in the main training block.
    */
  private def treeSweep(spark: SparkSession, emb0: DataFrame,
      nlists: Seq[Int]): Unit = {
    // JIT/codegen warmup outside the table: both trainers once at a
    // small nlist, so the first sweep row isn't inflated by first-run
    // compilation (measured ~4 s of warmup on row 1 otherwise)
    Similarity.ivfTrainTwoLevel(emb0, "vec_id", "embedding", 64,
      iters = 1, oversample = 1, wprobe = 2, sampleSize = 1024)
    Similarity.ivfTrainTree(emb0, "vec_id", "embedding", 64,
      iters = 1, oversample = 1, fanout = 8, beam = 3, sampleSize = 1024)
    println(f"${"nlist"}%-7s ${"sample"}%-8s ${"corpus"}%-8s ${"trn2Lvl"}%-9s ${"trnTree"}%-9s ${"asg2Lvl"}%-9s ${"asgTree"}%-9s ${"asgRatio"}%-8s")
    nlists.foreach { nlist =>
      val sample = 32 * nlist
      val f = math.max(1, (sample + 1999) / 2000)
      val emb = embExploded(emb0, f).cache()
      val ne = emb.count()
      val ((cents2, _), tTwo) = timed(Similarity.ivfTrainTwoLevel(
        emb, "vec_id", "embedding", nlist, iters = 2, oversample = 1,
        wprobe = 2, sampleSize = sample))
      val ((cents3, _), tTree) = timed(Similarity.ivfTrainTree(
        emb, "vec_id", "embedding", nlist, iters = 2, oversample = 1,
        fanout = 8, beam = 3, sampleSize = sample))
      // assignment isolation: SAME quantizer (cents2) through both
      // assignment kernels over the full corpus — asgRatio is the
      // measured √nlist / log nlist separation
      val ngroups = math.max(1, math.sqrt(nlist.toDouble).round.toInt)
      val (supers, members) = Similarity.ivfGroups(cents2, ngroups)
      val tree = Similarity.ivfTree(cents2, fanout = 8)
      val (_, tAsg2) = timed(Similarity.ivfAssignmentsTwoLevel(
        emb, "vec_id", "embedding", cents2, supers, members, wprobe = 2)
        .agg(sum(col("cell"))).collect())
      val (_, tAsgT) = timed(Similarity.ivfAssignmentsTree(
        emb, "vec_id", "embedding", cents2, tree, beam = 3)
        .agg(sum(col("cell"))).collect())
      println(f"$nlist%-7d $sample%-8d $ne%-8d $tTwo%-9.2f $tTree%-9.2f $tAsg2%-9.2f $tAsgT%-9.2f ${tAsg2 / tAsgT}%-8.2f" +
        s"  (cells: ${cents2.length}/${cents3.length})")
      emb.unpersist()
    }
  }

  /** `bpe` mode: the distributed per-round trainer vs the driver-side
    * trainer at realistic merge counts. bpeTrain pays ~2 Spark jobs
    * per merge — a scheduling floor (~0.1 s/merge) that is the WHOLE
    * cost at 1k+ merges and makes 32k vocabularies impractical in the
    * per-round-distributed shape; bpeTrainLocal pays ONE distributed
    * word count and then trains on the MB-sized vocab table at
    * ~µs/merge (parity-spec'd identical merge tables). Printed: both
    * trainers at 64 merges (overlap-comparable), local at 1024 and
    * 4096 (where the distributed loop would take minutes), with
    * per-merge costs.
    */
  private def bpeSweep(spark: SparkSession, docs0: DataFrame): Unit = {
    import graft.functions.TextAnalysis
    // the synthetic corpus has only ~31 distinct [a-z]+ words — BPE
    // exhausts in ~90 merges. Manufacture vocabulary docsAt-style but
    // with LETTER suffixes (docsAt's ~N suffix is invisible to the
    // [a-z]+ word regex): 32 copies × distinct letter tails ≈ 1k
    // distinct words ≈ 7k possible merges — room for the 4096 run.
    val docs = (0 until 32).map { c =>
      val suffix = ("" + ('a' + c % 26).toChar) * (1 + c / 26)
      val base = docs0.select(
        (col("doc_id") + lit(c * 1000000L)).as("doc_id"), col("text"))
      if (c == 0) base
      else base.withColumn("text", concat_ws(" ",
        transform(split(col("text"), "\\s+"),
          t => concat(t, lit(suffix)))))
    }.reduce(_ unionByName _).cache()
    docs.count()
    println(f"${"trainer"}%-12s ${"merges"}%-7s ${"total_s"}%-9s ${"s/merge"}%-9s")
    Seq(8, 64).foreach { m =>
      val (_, t) = timed(TextAnalysis.bpeTrain(docs, "text", m).count())
      println(f"${"distributed"}%-12s $m%-7d $t%-9.2f ${t / m}%-9.3f")
    }
    Seq(64, 1024, 4096).foreach { m =>
      val (n, t) = timed(TextAnalysis.bpeTrainLocal(docs, "text", m).count())
      println(f"${"local"}%-12s $m%-7d $t%-9.2f ${t / m}%-9.4f  (emitted $n)")
    }
    // the WordPiece trainer shares the incremental driver-loop shape
    // (delta-updated pair + symbol counts, occurrence index); its
    // per-merge cost must sit on the same µs floor as BPE's
    Seq(64, 1024, 4096).foreach { m =>
      val (n, t) = timed(
        TextAnalysis.wordpieceTrainLocal(docs, "text", m).count())
      println(f"${"wordpiece"}%-12s $m%-7d $t%-9.2f ${t / m}%-9.4f  (emitted $n)")
    }
    // unigram-LM trainer: cost = seed substring counting + emRounds
    // Viterbi-EM passes, each O(vocab·wordLen·maxPieceLen) — LINEAR
    // in the vocab (rounds are fixed, unlike merge-count-driven BPE/
    // WordPiece), so the sweep is over target vocab sizes instead of
    // merge counts; printed per-piece
    Seq(64, 512, 2048).foreach { tv =>
      val (n, t) = timed(TextAnalysis.unigramTrainLocal(docs, "text",
        targetMulti = tv, seedMulti = 4 * tv).count())
      println(f"${"unigram"}%-12s $tv%-7d $t%-9.2f ${t / tv}%-9.4f  (emitted $n)")
    }
    docs.unpersist()
  }

  /** `imi` mode: the multi-sequence probe's asymptotic separation,
    * measured at billion-scale K. Per query the probe ranks the best
    * `nprobe` of K² cells from 2K half-distances: `pairsSorted`
    * materializes and sorts all K² pair sums (K² log K); the lazy
    * `pairsMultiSeq` frontier walk (Babenko & Lempitsky 2012) pays
    * K log K + nprobe·log nprobe. At K = 2¹⁴ (2²⁸ cells — the
    * published billion-vector config) the materialized path sorts
    * 268M pairs PER QUERY; the walk touches ~nprobe. Driver-side
    * timing (the kernels are per-row closure math); bit-identical
    * outputs asserted on every sweep point.
    */
  private def imiSweep(ks: Seq[Int]): Unit = {
    val rnd = new scala.util.Random(7)
    println(f"${"K"}%-7s ${"cells"}%-11s ${"nprobe"}%-8s ${"sorted_s"}%-9s ${"lazy_s"}%-9s ${"ratio"}%-7s")
    ks.foreach { k =>
      val d = Array.fill(2, k)(rnd.nextInt(1 << 24).toLong)
      val nprobe = math.max(8, (k.toLong * k / 33).toInt) // ~3% of cells
      // one warm pass each, then timed
      graft.expressions.ImiProbeCells.pairsMultiSeq(d, nprobe)
      val t1 = System.nanoTime()
      val lazyCells = graft.expressions.ImiProbeCells.pairsMultiSeq(d, nprobe)
      val tLazy = (System.nanoTime() - t1) / 1e9
      val sortedTimed = k.toLong * k <= (1L << 26) // 268M-pair sorts OOM the toy driver
      if (sortedTimed) {
        graft.expressions.ImiProbeCells.pairsSorted(d, nprobe)
        val t0 = System.nanoTime()
        val sorted = graft.expressions.ImiProbeCells.pairsSorted(d, nprobe)
        val tSort = (System.nanoTime() - t0) / 1e9
        require(java.util.Arrays.equals(sorted, lazyCells),
          s"probe order diverged at K=$k")
        println(f"$k%-7d ${k.toLong * k}%-11d $nprobe%-8d $tSort%-9.2f $tLazy%-9.3f ${tSort / tLazy}%-7.1f")
      } else {
        println(f"$k%-7d ${k.toLong * k}%-11d $nprobe%-8d ${"skip"}%-9s $tLazy%-9.3f ${"-"}%-7s")
      }
    }
  }

  /** [[docsAt]] carrying the `source` column through (the mixture and
    * split stages key on it).
    */
  private def docsAtSrc(base: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { c =>
      val shifted = base.select(
        (col("doc_id") + lit(c * 1000000L)).as("doc_id"),
        col("source"), col("lang"), col("text"))
      if (c == 0) shifted
      else shifted.withColumn("text",
        concat_ws(" ", transform(split(col("text"), "\\s+"),
          t => concat(t, lit(s"~$c")))))
    }.reduce(_ unionByName _)

  /** `pipeline` mode: the END-TO-END rehearsal — the full composed
    * curation chain (clean → exact+near dedup → decontaminate →
    * mixture → leakage-safe split → pack; the CurationDemo chain
    * minus the demo-only NB screen) over a content-distinct corpus
    * grown up to ~100×, with PER-STAGE wall time. Isolated-stage
    * sweeps prove each hot path linear; this is where a hidden
    * composition constant would bite (a stage re-running its
    * upstream, a plan that grows with the chain, a survivor set that
    * collapses) — the per-table discipline of the reference's
    * kettle_report at real volume.
    *
    * Methodology: every stage output is localCheckpoint()'d (eager) —
    * the timed block is that stage's OWN compute, the next stage
    * reads materialized blocks, and the lineage cut keeps the
    * analyzed plan from growing multiplicatively with chain depth
    * (the round-6 CurationDemo OOM lesson). Survivor counts print per
    * stage so a collapsing funnel (which would fake linearity) is
    * visible. The near-dup pair graph is computed once in the
    * near-dup stage and REUSED by the split stage — the stored-
    * artifact shape production uses.
    */
  private def pipelineSweep(spark: SparkSession, docs0: DataFrame,
      factors: Seq[Int]): Unit = {
    import graft.functions.{Curation, TextAnalysis}
    val bench = docs0.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("text")).localCheckpoint()
    bench.count()
    case class StageRow(f: Int, docs: Long, times: Seq[Double],
      survivors: Seq[Long])
    val stages = Seq("clean", "exact", "neardup", "decon", "mixture",
      "split", "pack")
    val rows = scala.collection.mutable.ArrayBuffer.empty[StageRow]
    println(f"${"factor"}%-7s ${"docs"}%-8s " +
      stages.map(s => f"$s%-9s").mkString + "survivors")
    // JIT/codegen warmup pass at factor 1 (discarded): without it the
    // first table row pays first-run compilation for every stage and
    // the growth ratios read nonsense (the treeSweep convention)
    (Seq(-1) ++ factors).foreach { f0 =>
      val f = math.abs(f0).max(1)
      val warmup = f0 < 0
      val docs = docsAtSrc(docs0, f).localCheckpoint()
      val n0 = docs.count()
      // 1. clean: quality conjunction + entropy screen + PII redact
      val (clean, t1) = timed {
        val q = TextAnalysis.gopherQualityStats(docs, "doc_id", "text")
          .filter(col("passes")).select(col("doc_id"))
        docs.join(q, "doc_id")
          .filter(TextAnalysis.charEntropy(col("text"))
            .getField("entropy_nanos") > 2000000000L)
          .withColumn("text", Curation.piiRedact(col("text")))
          .localCheckpoint()
      }
      // 2. exact dedup (min-id per fingerprint survives)
      val (exact, t2) = timed {
        val kept = Dedup.exactGroups(clean, "doc_id", "text")
          .select(col("keeper_id").as("doc_id"))
        clean.join(kept, "doc_id").localCheckpoint()
      }
      // 3. near-dup: LSH pairs → connected components → keep best;
      // the pair graph is ALSO the split stage's input (stored
      // artifact — computed once, here)
      val ((deduped, pairs), t3) = timed {
        val p = Dedup.ngramJaccardPairsLsh(exact, "doc_id", "text",
          threshold = 0.6, n = 3, numHashes = 16, bands = 8)
          .localCheckpoint()
        val clusters = Dedup.connectedComponentsStar(p, "id_a", "id_b")
        val best = Dedup.keepBestPerCluster(
            exact.withColumn("q", length(col("text"))), "doc_id",
            clusters, "q")
          .filter(col("kept")).select(col("doc_id"))
        (exact.join(best, "doc_id").localCheckpoint(), p)
      }
      // 4. decontaminate against the FIXED base benchmark slice
      val (cleanSet, t4) = timed {
        val dirty = Curation.decontaminate(deduped, bench,
          "doc_id", "text").select(col("doc_id"))
        deduped.join(dirty, Seq("doc_id"), "left_anti").localCheckpoint()
      }
      // 5. temperature-scaled source mixture at 2/3 budget
      val (mixed, t5) = timed {
        val budget = math.max(1L, cleanSet.count() * 2 / 3)
        Curation.applyMixture(cleanSet, "doc_id", "source",
          alpha = 0.5, budget = budget).localCheckpoint()
      }
      // 6. leakage-safe split keyed by the near-dup pair graph
      val (train, t6) = timed {
        val split = Curation.leakageSafeSplit(mixed, "doc_id", pairs)
        mixed.join(split.filter(col("split") === "train")
          .select(col("doc_id")), "doc_id").localCheckpoint()
      }
      // 7. pack into fixed-budget shards
      val (packed, t7) = timed {
        Curation.packSequences(train, "doc_id", "text",
            budget = 4096, nShards = 8)
          .join(train.select(col("doc_id"), col("source"), col("text")),
            "doc_id")
          .localCheckpoint()
      }
      val times = Seq(t1, t2, t3, t4, t5, t6, t7)
      val survivors = Seq(clean.count(), exact.count(), deduped.count(),
        cleanSet.count(), mixed.count(), train.count(), packed.count())
      if (!warmup) {
        rows += StageRow(f, n0, times, survivors)
        println(f"$f%-7d $n0%-8d " +
          times.map(t => f"$t%-9.2f").mkString +
          survivors.mkString("/"))
      }
      Seq(docs, clean, exact, deduped, pairs, cleanSet, mixed, train,
        packed).foreach(_.unpersist())
    }
    // growth table: per stage, time ratio between consecutive factors
    // vs the factor ratio — near-linear stages sit near 1.0 (after
    // the job-overhead floor at small factors pushes them BELOW 1)
    if (rows.length >= 2) {
      println(f"${"stages"}%-9s " + rows.sliding(2).map { w =>
        f"x${w(0).f}->x${w(1).f}%-6s" }.mkString(" "))
      stages.indices.foreach { i =>
        val ratios = rows.sliding(2).map { w =>
          val growth = w(1).f.toDouble / w(0).f
          (w(1).times(i) / math.max(w(0).times(i), 1e-9)) / growth
        }.toSeq
        println(f"${stages(i)}%-9s " +
          ratios.map(r => f"$r%-9.2f").mkString)
      }
      println("(normalized: 1.0 = exactly linear in corpus growth; " +
        "<1 = sublinear/overhead-floor amortizing; investigate > ~1.5)")
    }
  }

  /** `gann` mode: graph-ANN scale under the nlist ∝ corpus contract.
    * Per cell the NSW build is O(m²·dims) and the walk O(ef·degree·
    * dims); with cell population m pinned by nlist ∝ corpus the
    * total build is corpus·m — LINEAR in the corpus, which is the
    * claim this sweep measures (a fixed nlist would read quadratic).
    * The flat IVF scan at the same nprobe prints alongside: both
    * must grow ~linearly; the walk's advantage is per-query work
    * within big cells, which a local[32] toy can't show — linearity
    * is what it can.
    */
  private def gannSweep(spark: SparkSession, emb0: DataFrame,
      factors: Seq[Int]): Unit = {
    val queries = emb0.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("qvec"))
    queries.count()
    println(f"${"factor"}%-7s ${"vecs"}%-8s ${"nlist"}%-7s ${"build+walk"}%-11s ${"flatIvf"}%-9s ${"append"}%-9s ${"sync"}%-7s")
    (Seq(-1) ++ factors).foreach { f0 =>
      val f = math.abs(f0).max(1)
      val emb = embExploded(emb0, f).cache()
      val ne = emb.count()
      val nlist = 16 * f
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", nlist)
      val (n1, tG) = timed(Similarity.graphAnnTopK(emb, "vec_id",
        "embedding", queries, "query_id", "qvec", k = 5, cents,
        nprobe = 4, degree = 8, ef = 64).count())
      val (n2, tF) = timed(Similarity.ivfTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, cents, nprobe = 4).count())
      // FIXED-size delta into the stored index (built outside the
      // timed block — a stored artifact): append cost must stay
      // ~flat while the store grows, since nlist ∝ corpus pins the
      // per-cell population the insertion walks touch
      val index = Similarity.graphAnnBuild(emb, "vec_id", "embedding",
        cents, degree = 8, efConstruction = 64).localCheckpoint()
      val delta = emb0.select((col("vec_id") + 90000000L).as("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val (n3, tA) = timed(Similarity.graphAnnAppend(index, delta,
        "vec_id", "embedding", cents, degree = 8,
        efConstruction = 64).count())
      // FIXED-size mixed CDC batch against the stored index ON DISK
      // (remove + insert, touched-cell rewrites incl. parquet IO) —
      // like append, must stay ~flat while the store grows, since
      // only the touched cells' partitions are read and rewritten
      val idxDir = java.nio.file.Files.createTempDirectory("graft_gsync")
      index.write.mode("overwrite").partitionBy("cell")
        .parquet(idxDir.toString)
      val cdc = emb0.filter(col("vec_id") % 50 === 1)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double") * lit(-1.0))
            .as("embedding"), lit("upsert").as("op"))
        .unionByName(emb0.filter(col("vec_id") % 50 === 2)
          .select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double"))
              .as("embedding"), lit("delete").as("op")))
      val (_, tSy) = timed(graft.streaming.VectorIngest.syncGraphBatch(
        cdc, "vec_id", "embedding", "op", cents, idxDir.toString,
        degree = 8, efConstruction = 64))
      val walk2 = java.nio.file.Files.walk(idxDir)
      try walk2.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f2 => { java.nio.file.Files.deleteIfExists(f2); () })
      finally walk2.close()
      if (f0 > 0) // factor-1 warmup discarded (JIT)
        println(f"$f%-7d $ne%-8d $nlist%-7d $tG%-11.2f $tF%-9.2f $tA%-9.2f $tSy%-7.2f  (rows: $n1/$n2/$n3)")
      emb.unpersist(); index.unpersist()
    }
  }

  /** `compact` mode: the small-files failure and its fix, measured.
    * The SAME corpus streams into an IVF batch store as B ∈ factors
    * micro-batches — raw file count grows linearly with B (the
    * failure) while row count stays fixed; compactIvfStore folds the
    * batches into the cell-clustered base segment, after which file
    * count must be FLAT (~nlist) regardless of B, and the indexed
    * search must cost the same over raw and compacted stores (same
    * rows, same pruned cell scan — the compaction is layout-only).
    */
  private def compactSweep(spark: SparkSession, emb0: DataFrame,
      batchCounts: Seq[Int]): Unit = {
    val emb = emb0.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .cache()
    emb.count()
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)
    val queries = emb0.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("qvec"))
    queries.count()
    println(f"${"batches"}%-8s ${"filesRaw"}%-9s ${"searchRaw"}%-10s ${"tCompact"}%-9s ${"filesCmp"}%-9s ${"searchCmp"}%-10s")
    (Seq(-4) ++ batchCounts).foreach { b0 =>
      val b = math.abs(b0)
      val dir = java.nio.file.Files.createTempDirectory("graft_smoke_ivfc")
      (0 until b).foreach { i =>
        graft.streaming.VectorIngest.ingestBatch(
          emb.filter(pmod(col("vec_id"), lit(b)) === i),
          "vec_id", "embedding", cents, dir.toString, i.toLong)
      }
      def files() = graft.streaming.VectorIngest
        .storeFileStats(spark, dir.toString)
        .agg(sum(col("n_files"))).collect()(0).getLong(0)
      def search() = Similarity.ivfTopKIndexed(
        graft.streaming.VectorStore.read(spark, dir.toString),
        "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, cents, nprobe = 4).count()
      val fRaw = files()
      val (n1, tRaw) = timed(search())
      val (_, tC) = timed(graft.streaming.VectorIngest
        .compactIvfStore(spark, dir.toString, protectLast = 0))
      // vacuum completes the maintenance: superseded segments leave
      // the disk (pinned readers gone), live files = the folded base
      graft.streaming.VectorStore.vacuum(spark, dir.toString, keep = 1)
      val fCmp = files()
      val (n2, tCmp) = timed(search())
      if (b0 > 0)
        println(f"$b%-8d $fRaw%-9d $tRaw%-10.2f $tC%-9.2f $fCmp%-9d $tCmp%-10.2f  (rows: $n1/$n2)")
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close()
    }
    emb.unpersist()
    ()
  }

  /** `gannskew` mode: the skewed-cell guard for the graph-ANN family.
    * Real skew arises when the FROZEN quantizer goes stale against
    * drifting data (the cellStats retrain signal): here 30% of the
    * corpus is replaced by near-copies of one anchor vector, all
    * landing in the anchor's cell under the quantizer trained on the
    * uniform corpus. Per-insert NSW cost is O(efC·degree·dims)
    * regardless of cell population (the build SEARCHES the partial
    * graph — standing rule 3), so the skewed build+walk should track
    * the uniform one within a small constant as the corpus grows; a
    * growing ratio would mean the cell-local constant bites and a
    * cell-split refinement (re-quantize oversized cells with
    * sub-centroids) is needed.
    */
  private def gannSkewSweep(spark: SparkSession, emb0: DataFrame,
      factors: Seq[Int]): Unit = {
    val queries = emb0.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"),
        transform(col("embedding"), x => x.cast("double")).as("qvec"))
    queries.count()
    println(f"${"factor"}%-7s ${"vecs"}%-8s ${"nlist"}%-7s ${"maxCell"}%-9s ${"tUniform"}%-9s ${"tSkew"}%-9s ${"ratio"}%-6s ${"maxSplit"}%-9s ${"tSplit"}%-7s")
    (Seq(-1) ++ factors).foreach { f0 =>
      val f = math.abs(f0).max(1)
      val emb = embExploded(emb0, f).cache()
      val ne = emb.count()
      val nlist = 16 * f
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", nlist)
      val (n1, tU) = timed(Similarity.graphAnnTopK(emb, "vec_id",
        "embedding", queries, "query_id", "qvec", k = 5, cents,
        nprobe = 4, degree = 8, ef = 64).count())
      // 30% of rows become jittered near-copies of the min-id anchor
      // vector — they all quantize into the anchor's cell under the
      // stale (uniform-trained) centroids
      val anchor = emb.orderBy(col("vec_id")).limit(1)
        .select(col("embedding")).collect()(0).getSeq[Double](0)
      val anchorCol = array(anchor.map(lit): _*)
      val skewed = emb.select(col("vec_id"),
        when(col("vec_id") % 10 < 3,
          transform(anchorCol, (x, i) => x +
            ((col("vec_id") * 13 + i * 7) % 23 - 11).cast("double") *
              lit(1e-4)))
          .otherwise(col("embedding")).as("embedding")).cache()
      skewed.count()
      val maxCell = Similarity.ivfAssignments(skewed, "vec_id",
          "embedding", cents)
        .groupBy(col("cell")).count()
        .agg(max(col("count"))).collect()(0).getLong(0)
      val (n2, tS) = timed(Similarity.graphAnnTopK(skewed, "vec_id",
        "embedding", queries, "query_id", "qvec", k = 5, cents,
        nprobe = 4, degree = 8, ef = 64).count())
      // the guard: split cells above 2× the mean population with
      // sub-centroids trained on their members (quantizer training
      // is a stored artifact — outside the timed block, the
      // ScaleSmoke convention); the skewed build+walk must return
      // to ~uniform cost
      val refined = Similarity.refineCentroids(skewed, "vec_id",
        "embedding", cents, maxPop = math.max(2L * ne / nlist, 1L))
      val maxSplit = Similarity.ivfAssignments(skewed, "vec_id",
          "embedding", refined)
        .groupBy(col("cell")).count()
        .agg(max(col("count"))).collect()(0).getLong(0)
      val (n3, tR) = timed(Similarity.graphAnnTopK(skewed, "vec_id",
        "embedding", queries, "query_id", "qvec", k = 5, refined,
        nprobe = 4, degree = 8, ef = 64).count())
      if (f0 > 0)
        println(f"$f%-7d $ne%-8d $nlist%-7d $maxCell%-9d $tU%-9.2f $tS%-9.2f ${tS / tU}%-6.2f $maxSplit%-9d $tR%-7.2f  (rows: $n1/$n2/$n3)")
      emb.unpersist(); skewed.unpersist()
    }
  }

  /** `pattern` mode: per-batch cost of the streaming sequence-pattern
    * matcher as accumulated journey HISTORY grows (the time-axis scale
    * test, not a data-volume one). Fixed-size micro-batches (users ×
    * charsPer events each, event-time ordered) arrive one file per
    * trigger; per-batch wall time and keyed-state bytes are sampled as
    * history grows ~batches×. The Pike-VM operator
    * ([[graft.streaming.EventStream.streamingSequencePattern]]) must
    * stay FLAT on both axes — O(automaton) state, each char consumed
    * once. The round-13 design (journey string in state, regex re-run
    * over the whole history per batch) is replicated inline as the
    * BASELINE: its state grows linearly with history and its total
    * regex work quadratically — the scale-killer this sweep documents.
    */
  private def patternSweep(spark: SparkSession, nBatches: Int,
      users: Int, charsPer: Int): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    val pattern = "v[ce]*p"

    def batchDf(b: Int): DataFrame = {
      val perBatch = users.toLong * charsPer
      spark.range(perBatch).select(
        pmod(col("id"), lit(users.toLong)).as("user_id"),
        timestamp_seconds(lit(b.toLong * charsPer) +
          floor(col("id") / users)).as("ts"),
        (lit(b * perBatch) + col("id")).as("event_id"),
        // deterministic pattern-rich mix: 40% view, 40% click,
        // 10% purchase, 10% signup
        when(pmod(col("id") * 2654435761L +
            pmod(col("id"), lit(users.toLong)) * 1315423911L, lit(10))
            < 4, "view")
          .when(pmod(col("id") * 2654435761L +
            pmod(col("id"), lit(users.toLong)) * 1315423911L, lit(10))
            < 8, "click")
          .when(pmod(col("id") * 2654435761L +
            pmod(col("id"), lit(users.toLong)) * 1315423911L, lit(10))
            === 8, "purchase")
          .otherwise("signup").as("event_type"))
    }

    // the round-13 baseline, inline and measurement-only: whole
    // journey string in keyed state, full-history regex per batch
    def stringTwin(stream: DataFrame): DataFrame = {
      val rx = java.util.regex.Pattern.compile(pattern)
      stream
        .select(col("user_id").cast("long").as("u"), col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("tu"),
          col("event_id").cast("long").as("eid"))
        .as[(Long, String, Long, Long)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(OM.Append(),
          GroupStateTimeout.NoTimeout())(
          (user: Long, rows: Iterator[(Long, String, Long, Long)],
              state: org.apache.spark.sql.streaming.GroupState[String]) => {
            val ordered = rows.toSeq.sortBy(r => (r._3, r._4))
            if (ordered.isEmpty) Iterator.empty
            else {
              val journey = state.getOption.getOrElse("") +
                ordered.map(r => r._2 match {
                  case "view" => "v"; case "click" => "c"
                  case "purchase" => "p"; case _ => "s"
                }).mkString
              state.update(journey)
              val m = rx.matcher(journey)
              var n = 0
              while (m.find()) n += 1
              Iterator.single((user, journey.length, n))
            }
          })
        .toDF("user_id", "n_events", "n_matches")
    }

    def run(label: String,
        op: DataFrame => DataFrame): Seq[(Int, Double, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_patsw")
      val chk = java.nio.file.Files.createTempDirectory("graft_patsw_chk")
      try {
        batchDf(0).coalesce(1).write
          .parquet(s"$dir/b${"%04d".format(0)}")
        val schema = spark.read.parquet(s"$dir/b0000").schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/b*")
        val q = op(stream).writeStream.format("noop")
          .outputMode("append")
          .option("checkpointLocation", chk.toString).start()
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Double, Long)]
        (0 until nBatches).foreach { b =>
          if (b > 0) batchDf(b).coalesce(1).write
            .parquet(s"$dir/b${"%04d".format(b)}")
          val (_, t) = timed(q.processAllAvailable())
          val bytes = Option(q.lastProgress)
            .flatMap(p => p.stateOperators.headOption)
            .map(_.memoryUsedBytes).getOrElse(0L)
          out += ((b + 1, t, bytes))
        }
        q.stop()
        out.toSeq
      } finally {
        Seq(dir, chk).foreach { d =>
          val w = java.nio.file.Files.walk(d)
          try w.sorted(java.util.Comparator
              .reverseOrder[java.nio.file.Path]())
            .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
          finally w.close()
        }
      }
    }

    val pike = run("pike", s =>
      graft.streaming.EventStream.streamingSequencePattern(s,
        "user_id", "event_type", "ts", "event_id",
        (t: String) => t match {
          case "view" => "v"; case "click" => "c"
          case "purchase" => "p"; case _ => "s"
        }, pattern))
    val base = run("string", stringTwin)
    val marks = Seq(1, 2, 5, 10, 20, 50, 100, 150, 200)
      .filter(_ <= nBatches)
    println(s"pattern sweep: $users users x $charsPer chars/batch, " +
      s"$nBatches batches (history grows ${nBatches}x); pattern " +
      s"'$pattern'; batch 1 includes stream boot")
    println(f"${"batch"}%-7s ${"history"}%-9s ${"pike_s"}%-8s ${"pike_stateMB"}%-13s ${"string_s"}%-9s ${"string_stateMB"}%-14s")
    marks.foreach { m =>
      val p = pike(m - 1); val s = base(m - 1)
      println(f"$m%-7d ${m.toLong * charsPer}%-9d ${p._2}%-8.2f ${p._3 / 1e6}%-13.2f ${s._2}%-9.2f ${s._3 / 1e6}%-14.2f")
    }
    // steady-state flatness: pike's mean per-batch cost in the last
    // quarter vs the second quarter (first quarter excluded: boot+JIT)
    def meanOf(xs: Seq[(Int, Double, Long)], lo: Int, hi: Int) = {
      val sl = xs.slice(lo, hi).map(_._2); sl.sum / sl.length
    }
    val q2 = meanOf(pike, nBatches / 4, nBatches / 2)
    val q4 = meanOf(pike, 3 * nBatches / 4, nBatches)
    val b2 = meanOf(base, nBatches / 4, nBatches / 2)
    val b4 = meanOf(base, 3 * nBatches / 4, nBatches)
    println(f"pike  per-batch mean: Q2 $q2%.3f s -> Q4 $q4%.3f s (ratio ${q4 / q2}%.2f — flat)")
    println(f"string per-batch mean: Q2 $b2%.3f s -> Q4 $b4%.3f s (ratio ${b4 / b2}%.2f)")
    println(f"final state bytes: pike ${pike.last._3}%d vs string ${base.last._3}%d (${base.last._3.toDouble / math.max(pike.last._3, 1)}%.1fx)")
  }

  /** `churn` mode: TOTAL keyed-state growth of the streaming pattern
    * matcher under KEY CHURN — the round-14-verdict missing axis. The
    * `pattern` sweep pins per-key state flat as one user's history
    * grows; here every batch brings a FRESH set of user ids (the
    * churning/anonymous-id shape of a long-running stream), so the
    * NoTimeout operator accumulates one dormant PikeState per user
    * ever seen — state rows grow linearly with batches, forever. The
    * TTL twin ([[graft.streaming.EventStream
    * .streamingSequencePatternTtl]], sliding event-time TTL spanning
    * ~3 batches here) evicts dormant users as the watermark passes,
    * so its TOTAL state stays flat at ~(users x TTL-batches) no
    * matter how long the stream runs — the bounded-state contract a
    * years-long 100 TB stream needs.
    */
  private def churnSweep(spark: SparkSession, nBatches: Int,
      users: Int, charsPer: Int): Unit = {
    val pattern = "v[ce]*p"
    val charOf = (t: String) => t match {
      case "view" => "v"; case "click" => "c"
      case "purchase" => "p"; case _ => "s"
    }

    // batch b: users FRESH ids (b*users …), event-time contiguous
    def batchDf(b: Int): DataFrame = {
      val perBatch = users.toLong * charsPer
      spark.range(perBatch).select(
        (lit(b.toLong * users) + pmod(col("id"), lit(users.toLong)))
          .as("user_id"),
        timestamp_seconds(lit(1L + b.toLong * charsPer) +
          floor(col("id") / users)).as("ts"),
        (lit(b * perBatch) + col("id")).as("event_id"),
        when(pmod(col("id") * 2654435761L +
            pmod(col("id"), lit(users.toLong)) * 1315423911L, lit(10))
            < 4, "view")
          .when(pmod(col("id") * 2654435761L +
            pmod(col("id"), lit(users.toLong)) * 1315423911L, lit(10))
            < 8, "click")
          .when(pmod(col("id") * 2654435761L +
            pmod(col("id"), lit(users.toLong)) * 1315423911L, lit(10))
            === 8, "purchase")
          .otherwise("signup").as("event_type"))
    }

    // provider column (round 16): the same sweep under the default
    // HDFSBacked provider and under RocksDB — the per-executor state
    // MEMORY story at churn scale (HDFSBacked holds every live key
    // on-heap; RocksDB keeps them off-heap/on-disk behind a bounded
    // cache). Outputs are bit-identical (RocksDbStateSpec pins it);
    // this measures the operational difference.
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey = "spark.sql.streaming.stateStore.rocksdb" +
      ".changelogCheckpointing.enabled"
    def run(op: DataFrame => DataFrame, provider: Option[String] = None,
        changelog: Boolean = false)
        : Seq[(Int, Double, Long, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_churn")
      val chk = java.nio.file.Files.createTempDirectory("graft_churn_chk")
      val oldProv = spark.conf.getOption(providerKey)
      val oldCl = spark.conf.getOption(changelogKey)
      provider.foreach(p => spark.conf.set(providerKey, p))
      if (changelog) spark.conf.set(changelogKey, "true")
      try {
        batchDf(0).coalesce(1).write.parquet(s"$dir/b${"%04d".format(0)}")
        val schema = spark.read.parquet(s"$dir/b0000").schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/b*")
        val q = op(stream).writeStream.format("noop")
          .outputMode("append")
          .option("checkpointLocation", chk.toString).start()
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Double, Long, Long)]
        (0 until nBatches).foreach { b =>
          if (b > 0) batchDf(b).coalesce(1).write
            .parquet(s"$dir/b${"%04d".format(b)}")
          val (_, t) = timed(q.processAllAvailable())
          val so = Option(q.lastProgress)
            .flatMap(p => p.stateOperators.headOption)
          out += ((b + 1, t, so.map(_.numRowsTotal).getOrElse(0L),
            so.map(_.memoryUsedBytes).getOrElse(0L)))
        }
        q.stop()
        out.toSeq
      } finally {
        oldProv.fold(spark.conf.unset(providerKey))(v =>
          spark.conf.set(providerKey, v))
        oldCl.fold(spark.conf.unset(changelogKey))(v =>
          spark.conf.set(changelogKey, v))
        Seq(dir, chk).foreach { d =>
          val w = java.nio.file.Files.walk(d)
          try w.sorted(java.util.Comparator
              .reverseOrder[java.nio.file.Path]())
            .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
          finally w.close()
        }
      }
    }

    // TTL ≈ 3 batches of event time; watermark tight (in-order fixture)
    val ttlMs = 3L * charsPer * 1000
    val ttl = run(s =>
      graft.streaming.EventStream.streamingSequencePatternTtl(s,
        "user_id", "event_type", "ts", "event_id", charOf, pattern,
        ttlMs = ttlMs, watermarkDelay = "1 second"))
    val noTtl = run(s =>
      graft.streaming.EventStream.streamingSequencePattern(s,
        "user_id", "event_type", "ts", "event_id", charOf, pattern))
    val marks = Seq(1, 2, 5, 10, 20, 40, 60, 100, 150, 200)
      .filter(_ <= nBatches)
    println(s"churn sweep: $users FRESH users x $charsPer chars per " +
      s"batch, $nBatches batches (${users.toLong * nBatches} distinct " +
      s"keys total); TTL = ${ttlMs / 1000} s event time (~3 batches)")
    println(f"${"batch"}%-7s ${"keys_seen"}%-10s ${"ttl_rows"}%-9s ${"ttl_MB"}%-8s ${"nottl_rows"}%-11s ${"nottl_MB"}%-9s")
    marks.foreach { m =>
      val a = ttl(m - 1); val b = noTtl(m - 1)
      println(f"$m%-7d ${m.toLong * users}%-10d ${a._3}%-9d ${a._4 / 1e6}%-8.2f ${b._3}%-11d ${b._4 / 1e6}%-9.2f")
    }
    def halfMean(xs: Seq[(Int, Double, Long, Long)], lo: Int, hi: Int) = {
      val sl = xs.slice(lo, hi).map(_._3.toDouble); sl.sum / sl.length
    }
    val t2 = halfMean(ttl, nBatches / 4, nBatches / 2)
    val t4 = halfMean(ttl, 3 * nBatches / 4, nBatches)
    val n2 = halfMean(noTtl, nBatches / 4, nBatches / 2)
    val n4 = halfMean(noTtl, 3 * nBatches / 4, nBatches)
    println(f"ttl    state rows mean: Q2 $t2%.0f -> Q4 $t4%.0f (ratio ${t4 / t2}%.2f — flat under churn)")
    println(f"nottl  state rows mean: Q2 $n2%.0f -> Q4 $n4%.0f (ratio ${n4 / n2}%.2f — linear growth)")
    println(f"final state: ttl ${ttl.last._3}%d rows / ${ttl.last._4 / 1e6}%.2f MB vs nottl ${noTtl.last._3}%d rows / ${noTtl.last._4 / 1e6}%.2f MB (${noTtl.last._3.toDouble / math.max(ttl.last._3, 1)}%.1fx rows)")

    // provider comparison at the same churn scale: rerun both ops on
    // RocksDB and print the final state rows / reported memory / mean
    // per-batch cost side by side with the default-provider runs above
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    val ttlR = run(s =>
      graft.streaming.EventStream.streamingSequencePatternTtl(s,
        "user_id", "event_type", "ts", "event_id", charOf, pattern,
        ttlMs = ttlMs, watermarkDelay = "1 second"), Some(rocks))
    val noTtlR = run(s =>
      graft.streaming.EventStream.streamingSequencePattern(s,
        "user_id", "event_type", "ts", "event_id", charOf, pattern),
      Some(rocks))
    // CHANGELOG-CHECKPOINTING arm (round 17): the production
    // low-latency commit mode — per-batch cost must not regress vs
    // plain RocksDB as live state grows (full snapshot uploads are
    // replaced by delta changelogs; that is the claim this curve
    // records)
    val ttlRC = run(s =>
      graft.streaming.EventStream.streamingSequencePatternTtl(s,
        "user_id", "event_type", "ts", "event_id", charOf, pattern,
        ttlMs = ttlMs, watermarkDelay = "1 second"), Some(rocks),
      changelog = true)
    val noTtlRC = run(s =>
      graft.streaming.EventStream.streamingSequencePattern(s,
        "user_id", "event_type", "ts", "event_id", charOf, pattern),
      Some(rocks), changelog = true)
    def batchMean(xs: Seq[(Int, Double, Long, Long)]) = {
      val ts = xs.drop(2).map(_._2); ts.sum / math.max(ts.length, 1)
    }
    println(f"${"op"}%-7s ${"provider"}%-12s ${"final_rows"}%-11s ${"state_MB"}%-9s ${"batch_s"}%-8s")
    Seq(("ttl", "hdfs-heap", ttl), ("ttl", "rocksdb", ttlR),
        ("ttl", "rocksdb+cl", ttlRC),
        ("nottl", "hdfs-heap", noTtl), ("nottl", "rocksdb", noTtlR),
        ("nottl", "rocksdb+cl", noTtlRC))
      .foreach { case (opN, prov, xs) =>
        println(f"$opN%-7s $prov%-12s ${xs.last._3}%-11d ${xs.last._4 / 1e6}%-9.2f ${batchMean(xs)}%-8.3f")
      }
    // the live-state GROWTH curves (NoTTL accumulates one state row
    // per distinct key ever seen): per-provider memory + per-batch
    // cost at the marks — the "millions of live keys" evidence
    println(f"${"batch"}%-7s ${"keys"}%-9s ${"heap_MB"}%-8s ${"heap_s"}%-7s ${"rocks_MB"}%-9s ${"rocks_s"}%-8s ${"rkcl_MB"}%-8s ${"rkcl_s"}%-7s")
    marks.foreach { b =>
      val (h, r, c) = (noTtl(b - 1), noTtlR(b - 1), noTtlRC(b - 1))
      println(f"$b%-7d ${h._3}%-9d ${h._4 / 1e6}%-8.2f ${h._2}%-7.3f ${r._4 / 1e6}%-9.2f ${r._2}%-8.3f ${c._4 / 1e6}%-8.2f ${c._2}%-7.3f")
    }
    val rowParity = ttl.last._3 == ttlR.last._3 &&
      ttl.last._3 == ttlRC.last._3 &&
      noTtl.last._3 == noTtlR.last._3 &&
      noTtl.last._3 == noTtlRC.last._3
    println(s"provider row-count parity (incl. changelog): $rowParity " +
      "(memory columns differ by design — HDFSBacked reports the " +
      "on-heap key map, RocksDB its block cache + memtables)")
    require(rowParity, "provider state-row divergence: " +
      s"ttl ${ttl.last._3} vs ${ttlR.last._3} vs ${ttlRC.last._3}, " +
      s"nottl ${noTtl.last._3} vs ${noTtlR.last._3} vs ${noTtlRC.last._3}")
  }

  /** `churnspill` mode (round 18 stretch): BatchSorter's spill path
    * priced UNDER RocksDB changelog checkpointing — the worst-case
    * production combination (a skewed hot key spilling sorted runs to
    * the local dirs inside every micro-batch while state commits ride
    * delta changelogs). Fixture = the churn sweep's fresh-keys-per-
    * batch shape, except 30% of each batch's rows land on ONE
    * (fresh-per-batch) hot key — the realistic skew shape, not
    * every-key-spills (which would price file churn, not the sorter).
    * Two arms on IDENTICAL data, both rocksdb+changelog:
    * `graft.stream.sortChunkRows` default (hot key sorts in memory)
    * vs forced below the hot key's row count (hot key spills
    * ~hotRows/chunk runs and k-way-merges; cold keys keep the
    * in-memory fast path). Printed: per-batch curve at the marks,
    * final-state row parity between arms (the spill path must be
    * bit-identical at scale, not just in the unit spec), and the
    * spillSorts delta — REQUIRED > 0, the arm is vacuous if
    * everything fit.
    */
  private def churnSpillSweep(spark: SparkSession, nBatches: Int,
      users: Int, charsPer: Int): Unit = {
    val pattern = "v[ce]*p"
    val charOf = (t: String) => t match {
      case "view" => "v"; case "click" => "c"
      case "purchase" => "p"; case _ => "s"
    }
    // 30% of rows → hot key b*users + users (OUTSIDE the batch's cold
    // id range [b*users, b*users+users)); rest = the churn fixture
    def hotBatchDf(b: Int): DataFrame = {
      val perBatch = users.toLong * charsPer
      val mix = pmod(col("id") * 2654435761L +
        pmod(col("id"), lit(users.toLong)) * 1315423911L, lit(10))
      spark.range(perBatch).select(
        when(pmod(col("id"), lit(10)) < 3,
            lit(b.toLong * users + users))
          .otherwise(lit(b.toLong * users) +
            pmod(col("id"), lit(users.toLong))).as("user_id"),
        timestamp_seconds(lit(1L + b.toLong * charsPer) +
          floor(col("id") / users)).as("ts"),
        (lit(b * perBatch) + col("id")).as("event_id"),
        when(mix < 4, "view").when(mix < 8, "click")
          .when(mix === 8, "purchase")
          .otherwise("signup").as("event_type"))
    }
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val changelogKey = "spark.sql.streaming.stateStore.rocksdb" +
      ".changelogCheckpointing.enabled"
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    val chunkKey = graft.streaming.BatchSorter.ChunkRowsConf
    def run(chunkRows: Option[Int]): Seq[(Int, Double, Long)] = {
      val dir = java.nio.file.Files.createTempDirectory("graft_chsp")
      val chk = java.nio.file.Files.createTempDirectory("graft_chsp_chk")
      val olds = Seq(providerKey, changelogKey, chunkKey)
        .map(k => k -> spark.conf.getOption(k))
      spark.conf.set(providerKey, rocks)
      spark.conf.set(changelogKey, "true")
      chunkRows.foreach(c => spark.conf.set(chunkKey, c.toString))
      try {
        hotBatchDf(0).coalesce(1).write.parquet(s"$dir/b0000")
        val schema = spark.read.parquet(s"$dir/b0000").schema
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$dir/b*")
        // conf is read at op CONSTRUCTION — must happen under the
        // overridden chunkRows
        val q = graft.streaming.EventStream.streamingSequencePattern(
            stream, "user_id", "event_type", "ts", "event_id", charOf,
            pattern)
          .writeStream.format("noop").outputMode("append")
          .option("checkpointLocation", chk.toString).start()
        val out = scala.collection.mutable.ArrayBuffer
          .empty[(Int, Double, Long)]
        (0 until nBatches).foreach { b =>
          if (b > 0) hotBatchDf(b).coalesce(1).write
            .parquet(s"$dir/b${"%04d".format(b)}")
          val (_, t) = timed(q.processAllAvailable())
          val so = Option(q.lastProgress)
            .flatMap(p => p.stateOperators.headOption)
          out += ((b + 1, t, so.map(_.numRowsTotal).getOrElse(0L)))
        }
        q.stop()
        out.toSeq
      } finally {
        olds.foreach { case (k, old) =>
          old.fold(spark.conf.unset(k))(v => spark.conf.set(k, v))
        }
        Seq(dir, chk).foreach { d =>
          val w = java.nio.file.Files.walk(d)
          try w.sorted(java.util.Comparator
              .reverseOrder[java.nio.file.Path]())
            .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
          finally w.close()
        }
      }
    }
    val hotRows = (users.toLong * charsPer * 3) / 10
    // force ~8 spilled runs per hot-key batch; never below 1024 rows
    val forcedChunk = math.max(1024, (hotRows / 8).toInt)
    println(s"churnspill sweep: $users users x $charsPer chars per " +
      s"batch, $nBatches batches, hot key ~$hotRows rows/batch; " +
      s"rocksdb+changelog both arms; spill arm sortChunkRows=" +
      s"$forcedChunk (default ${graft.streaming.BatchSorter
        .DefaultChunkRows})")
    val spills0 = graft.streaming.BatchSorter.spillSorts.get()
    val base = run(None)
    val spillsAfterBase = graft.streaming.BatchSorter.spillSorts.get()
    val spill = run(Some(forcedChunk))
    val spills = graft.streaming.BatchSorter.spillSorts.get() -
      spillsAfterBase
    val marks = Seq(1, 2, 5, 10, 20, 40, 60, 100).filter(_ <= nBatches)
    println(f"${"batch"}%-7s ${"rows_base"}%-10s ${"base_s"}%-8s ${"rows_spill"}%-11s ${"spill_s"}%-8s")
    marks.foreach { m =>
      val a = base(m - 1); val b = spill(m - 1)
      println(f"$m%-7d ${a._3}%-10d ${a._2}%-8.3f ${b._3}%-11d ${b._2}%-8.3f")
    }
    def mean(xs: Seq[(Int, Double, Long)]) = {
      val ts = xs.drop(2).map(_._2); ts.sum / math.max(ts.length, 1)
    }
    println(f"batch-time mean (post-warmup): base ${mean(base)}%.3f s " +
      f"vs spill ${mean(spill)}%.3f s " +
      f"(${mean(spill) / mean(base)}%.2fx); spillSorts delta: $spills " +
      s"(base arm: ${spillsAfterBase - spills0})")
    require(spills > 0,
      "spill arm never spilled — chunkRows did not bind; the arm is vacuous")
    require(base.last._3 == spill.last._3,
      s"state-row divergence between arms: ${base.last._3} vs " +
        s"${spill.last._3} — the spill path changed results at scale")
  }

  /** `race` mode: concurrent-reader stress for the manifest store —
    * the r13-verdict failure scenario (a `graphAnnTopKIndexed` search
    * racing a sync observing a half-committed store) driven for real.
    * A reader thread loops { pin the current snapshot → fingerprint
    * its full content } while the writer applies `rounds` mixed CDC
    * sync batches. Every version's content is immutable once
    * committed (segments are never rewritten), so each observation is
    * validated post-hoc against the content recorded for the version
    * it pinned: any torn read — files missing mid-swap, a mix of two
    * versions, a FileNotFoundException from a replaced file — shows
    * up as a fingerprint mismatch or an error. Printed: reads
    * completed, distinct versions observed, mismatches (must be 0),
    * errors (must be 0).
    */
  private def raceSweep(spark: SparkSession, emb0: DataFrame,
      rounds: Int): Unit = {
    import spark.implicits._
    val corpus = emb0.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double"))
          .as("embedding"))
      .cache()
    val n = corpus.count()
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_race")
    try {
      Similarity.graphAnnBuild(corpus, "vec_id", "embedding", cents,
          degree = 8, efConstruction = 64)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(dir.toString)
      graft.streaming.VectorStore.adopt(spark, dir.toString)
      def fingerprint(df: DataFrame): Long = df
        .select(xxhash64(col("vec_id"), col("cell"), col("embedding"),
          col("neighbors")).as("h"))
        // bit_xor: order-independent content digest, no ANSI overflow;
        // coalesce: an EMPTY probe slice digests as 0, not a null NPE
        .agg(expr("coalesce(bit_xor(h), 0L)")).collect()(0).getLong(0)
      val verHash = new java.util.concurrent.ConcurrentHashMap[Long, Long]
      val v0 = graft.streaming.VectorStore.version(spark, dir.toString)
      verHash.put(v0,
        fingerprint(graft.streaming.VectorStore.read(spark, dir.toString)))
      val observed =
        new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
      val errors =
        new java.util.concurrent.ConcurrentLinkedQueue[String]
      @volatile var done = false
      val reader = new Thread(() => {
        var flip = false
        while (!done) {
          try {
            val snap = graft.streaming.VectorStore
              .snapshot(spark, dir.toString).get
            val df = graft.streaming.VectorStore.readEntries(spark,
              dir.toString, snap.entries, snap.schemaJson)
            observed.add((snap.version, fingerprint(df)))
            // every other pass: a pinned PROBE read of one cell must
            // equal the pinned full read filtered to it — the
            // shard-pruned path under racing commits (vacuum never
            // runs here, so the pin cannot age out mid-check)
            if (flip) {
              val probed = fingerprint(graft.streaming.VectorStore
                .readPartitionsAt(spark, dir.toString, snap.version,
                  Seq("cell=3")))
              val filtered = fingerprint(df.filter(col("cell") === 3))
              if (probed != filtered) errors.add(
                s"pinned probe diverged at v${snap.version}: " +
                  s"$probed vs $filtered")
            }
            flip = !flip
          } catch {
            case e: Throwable => errors.add(e.toString.take(300))
          }
        }
      })
      reader.setDaemon(true)
      reader.start()
      val (_, tW) = timed {
        (1 to rounds).foreach { k =>
          // mixed CDC: shift a stripe of vectors (updates, some
          // cross-cell), insert a fresh stripe, delete another stripe
          val ups = corpus.filter(col("vec_id") % 17 === (k % 17).toLong)
            .select(col("vec_id"),
              transform(col("embedding"), x => x * lit(-1.0))
                .as("embedding"), lit("upsert").as("op"))
          val ins = corpus.filter(col("vec_id") % 29 === (k % 29).toLong)
            .select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
              col("embedding"), lit("upsert").as("op"))
          val del = corpus
            .filter(col("vec_id") % 23 === ((k + 7) % 23).toLong)
            .select(col("vec_id"), col("embedding"),
              lit("delete").as("op"))
          graft.streaming.VectorIngest.syncGraphBatch(
            ups.unionByName(ins).unionByName(del), "vec_id",
            "embedding", "op", cents, dir.toString, degree = 8,
            efConstruction = 64)
          val v = graft.streaming.VectorStore.version(spark, dir.toString)
          verHash.put(v, fingerprint(
            graft.streaming.VectorStore.read(spark, dir.toString)))
          ()
        }
      }
      done = true
      reader.join(30000)
      val obs = observed.toArray(Array.empty[(Long, Long)])
      val mismatches = obs.filter { case (v, h) =>
        Option(verHash.get(v)).forall(_ != h)
      }
      val errs = errors.toArray(Array.empty[String])
      println(f"race: $n%d vecs, $rounds%d sync rounds in $tW%.1f s; " +
        s"reader completed ${obs.length} pinned reads across " +
        s"${obs.map(_._1).distinct.length} distinct versions; " +
        s"mismatches ${mismatches.length}, errors ${errs.length}")
      mismatches.take(5).foreach { case (v, h) =>
        println(s"  TORN READ at v$v: got $h, committed ${verHash.get(v)}")
      }
      errs.take(5).foreach(e => println(s"  READER ERROR: $e"))
      // graph-store file audit after the long sync sequence: cells
      // rewrite wholesale per touched segment, so LIVE files per cell
      // must stay O(1) — a growing max here would demand a graph-store
      // compactor (the IVF store's compactIvfStore twin)
      val fstats = graft.streaming.VectorIngest
        .storeFileStats(spark, dir.toString)
        .collect().map(r => r.getLong(1))
      println(f"graph-store live files after $rounds%d syncs: " +
        f"${fstats.length}%d cells, max ${fstats.max}%d files/cell, " +
        f"mean ${fstats.sum.toDouble / fstats.length}%.2f")
      // pinned-read staleness telemetry BEFORE the vacuum: the
      // retained-window audit that sizes keep/minAgeMs measurably —
      // a pinned reader is safe iff its version still appears here
      // with missing_segments = 0
      println("version stats pre-vacuum (pinned-read staleness audit):")
      graft.streaming.VectorStore.versionStats(spark, dir.toString)
        .collect().foreach { r =>
          println(f"  v${r.getLong(0)}%-4d age ${r.getLong(1)}%4d s, " +
            f"${r.getInt(2)}%4d entries / ${r.getInt(3)}%3d segments, " +
            f"missing ${r.getInt(4)}%d, ckpt ${r.getBoolean(5)}%b")
        }
      // final sanity: vacuum then a fresh read still serves the last
      // version
      graft.streaming.VectorStore.vacuum(spark, dir.toString, keep = 1)
      val vLast = graft.streaming.VectorStore.version(spark, dir.toString)
      val after = fingerprint(
        graft.streaming.VectorStore.read(spark, dir.toString))
      println(s"post-vacuum read of v$vLast " +
        (if (after == verHash.get(vLast)) "MATCHES committed content"
         else "MISMATCH"))
    } finally {
      corpus.unpersist()
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close()
    }
  }

  /** `manifest` mode: per-commit cost as the LIVE-PARTITION count
    * grows 100× — the round-14-verdict manifest-scaling flag. Driver-
    * only (manifests name partitions; no data files needed): at each
    * live-count phase, one bulk commit grows the store, then `per`
    * small maintenance commits (drop 1, add 1 — the steady-state CDC
    * shape) are timed. Round-14 manifests rewrote the full live list
    * per commit (O(live)); round-15 delta manifests + every-10th
    * checkpoints keep the delta commits O(1) in live count, with the
    * periodic checkpoint the only O(live) write (amortized 1/10). The
    * sweep prints both medians per phase — delta medians must stay
    * FLAT across the 100× growth.
    *
    * Round-15 second half: checkpoints are SHARDED manifest lists
    * (the Iceberg move — [[graft.streaming.VectorStore.ShardTargetEntries]]),
    * the commit conflict check resolves only the drop keys' shards,
    * and the sweep's `probe_ms` column times a single-cell
    * [[graft.streaming.VectorStore.liveEntries]] listing (asserted
    * equal to the filtered full resolution). Must-hold shape:
    * delta_ms and probe_ms FLAT across the growth, ckpt_ms sublinear
    * (touched shards, not store size); only resolve_ms — the full
    * list, maintenance-path by design — grows O(live). Measured
    * (this box): 100→100k live, delta median 13→21 ms, ckpt
    * 39→147 ms, probe 5.5→14 ms vs full resolve 6.7→154 ms.
    */
  private def manifestSweep(spark: SparkSession, phases: Seq[Int],
      per: Int): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_manif")
    try {
      println(s"manifest sweep: live-partition phases " +
        s"${phases.mkString("/")} (${phases.last / phases.head}x), " +
        s"$per timed delta commits per phase, checkpoint every " +
        s"${graft.streaming.VectorStore.CheckpointInterval}")
      println(f"${"live"}%-8s ${"delta_ms_med"}%-13s ${"delta_ms_max"}%-13s ${"ckpt_ms"}%-9s ${"resolve_ms"}%-10s ${"probe_ms"}%-9s")
      var liveNow = 0
      var nextId = 0
      // distinct cells spread entries across checkpoint shards — the
      // probe column below lists ONE cell and must stay flat in live.
      // The seg dir is CREATED (round 17): commit verifies its adds
      // exist on disk pre-publish, so the timed commits below measure
      // the real path including that exists() probe.
      def freshEntry(): String = {
        nextId += 1
        java.nio.file.Files.createDirectories(
          dir.resolve(s"seg=s$nextId"))
        s"seg=s$nextId/cell=${nextId % 512}"
      }
      var pool = scala.collection.mutable.ArrayBuffer.empty[String]
      phases.foreach { target =>
        val grow = (liveNow until target).map(_ => freshEntry())
        graft.streaming.VectorStore.commit(spark, dir.toString,
          Seq.empty, grow, None, "{}")
        pool ++= grow
        liveNow = target
        val deltas = scala.collection.mutable.ArrayBuffer.empty[Double]
        val ckpts = scala.collection.mutable.ArrayBuffer.empty[Double]
        (1 to per).foreach { i =>
          val drop = pool.remove(pool.length - 1)
          val add = freshEntry(); pool += add
          val t0 = System.nanoTime()
          val v = graft.streaming.VectorStore.commit(spark,
            dir.toString, Seq(drop), Seq(add))
          val ms = (System.nanoTime() - t0) / 1e6
          if (v % graft.streaming.VectorStore.CheckpointInterval == 0)
            ckpts += ms
          else deltas += ms
        }
        val t1 = System.nanoTime()
        val snap = graft.streaming.VectorStore
          .snapshot(spark, dir.toString).get
        val resolveMs = (System.nanoTime() - t1) / 1e6
        require(snap.entries.length == liveNow,
          s"live count drifted: ${snap.entries.length} vs $liveNow")
        // probe-shaped listing (one cell): O(its shards + delta chain),
        // must stay flat while resolve_ms (the full list) grows O(live)
        val t2 = System.nanoTime()
        val probed = graft.streaming.VectorStore.liveEntries(spark,
          dir.toString, Seq("cell=7"))
        val probeMs = (System.nanoTime() - t2) / 1e6
        require(probed.forall(_.endsWith("cell=7")) &&
          probed.toSet ==
            snap.entries.filter(_.endsWith("cell=7")).toSet,
          "probe listing diverged from the filtered full resolution")
        def med(xs: Seq[Double]) =
          if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.length / 2)
        println(f"$liveNow%-8d ${med(deltas.toSeq)}%-13.2f ${deltas.max}%-13.2f ${med(ckpts.toSeq)}%-9.2f $resolveMs%-10.2f $probeMs%-9.2f")
      }
    } finally {
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close()
    }
  }

  /** `race2` mode: TWO WRITER THREADS on one manifest store — the
    * optimistic-concurrency drive (round 15). Each writer applies
    * `rounds` CDC sync batches over an ID-DISJOINT half of the corpus
    * (W1 even vec_ids, W2 odd; inserts in disjoint id bands), so the
    * expected FINAL ID SET is order-independent and computable by a
    * driver-side model — but the writers' batches constantly touch
    * the SAME quantizer cells, so their commits race and genuinely
    * conflict. A writer hitting the conflict error re-plans the whole
    * sync against the fresh snapshot (the documented contract) and
    * retries. Validates: zero LOST UPDATES (final store ids == the
    * model — a clobbered or silently-duplicated manifest fails this),
    * no duplicate ids (a same-cell double-commit would duplicate),
    * and prints landed versions + conflicts + retries.
    */
  private def race2Sweep(spark: SparkSession, emb0: DataFrame,
      rounds: Int): Unit = {
    import spark.implicits._
    val corpus = emb0.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double"))
          .as("embedding"))
      .cache()
    val n = corpus.count()
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_race2")
    try {
      Similarity.graphAnnBuild(corpus, "vec_id", "embedding", cents,
          degree = 8, efConstruction = 64)
        .write.mode("overwrite").partitionBy("cell")
        .parquet(dir.toString)
      graft.streaming.VectorStore.adopt(spark, dir.toString)
      val baseIds = corpus.select(col("vec_id"))
        .collect().map(_.getLong(0)).toSet
      // driver-side content model per writer half (id-disjoint, so
      // the union is the serial expectation in ANY interleaving)
      def batchOf(writer: Int, k: Int) = {
        val par = writer.toLong // 0 = even ids, 1 = odd ids
        val ups = corpus.filter(col("vec_id") % 2 === par &&
            col("vec_id") % 17 === (k % 17).toLong)
          .select(col("vec_id"),
            transform(col("embedding"), x => x * lit(-1.0))
              .as("embedding"), lit("upsert").as("op"))
        val ins = corpus.filter(col("vec_id") % 2 === par &&
            col("vec_id") % 29 === (k % 29).toLong)
          .select((col("vec_id") + lit((writer * 50 + k) * 1000000L))
            .as("vec_id"), col("embedding"), lit("upsert").as("op"))
        val del = corpus.filter(col("vec_id") % 2 === par &&
            col("vec_id") % 23 === ((k + 7) % 23).toLong)
          .select(col("vec_id"), col("embedding"),
            lit("delete").as("op"))
        ups.unionByName(ins).unionByName(del)
      }
      def modelOf(writer: Int): (Set[Long], Set[Long]) = {
        // (inserted, dead-base-ids) after the writer's rounds replay
        // IN ORDER — syncGraphBatch removes every mentioned id then
        // re-inserts the upserts, so an upsert always revives an id
        // (including one the same batch also tombstones)
        val par = writer.toLong
        var ins = Set.empty[Long]; var dead = Set.empty[Long]
        (1 to rounds).foreach { k =>
          val upsK = baseIds.filter(id => id % 2 == par &&
            id % 17 == (k % 17).toLong)
          val insK = baseIds.filter(id => id % 2 == par &&
            id % 29 == (k % 29).toLong)
            .map(_ + (writer * 50 + k) * 1000000L)
          val delK = baseIds.filter(id => id % 2 == par &&
            id % 23 == ((k + 7) % 23).toLong)
          ins ++= insK
          dead = (dead ++ delK) -- upsK
        }
        (ins, dead)
      }
      val conflicts = new java.util.concurrent.atomic.AtomicInteger
      val replans = new java.util.concurrent.atomic.AtomicInteger
      val failures =
        new java.util.concurrent.ConcurrentLinkedQueue[String]
      def writerLoop(writer: Int): Thread = new Thread(() => {
        (1 to rounds).foreach { k =>
          val batch = batchOf(writer, k)
          var landed = false
          var tries = 0
          while (!landed && tries < 25) {
            try {
              graft.streaming.VectorIngest.syncGraphBatch(batch,
                "vec_id", "embedding", "op", cents, dir.toString,
                degree = 8, efConstruction = 64)
              landed = true
            } catch {
              case e: IllegalStateException
                  if e.getMessage.contains("conflict") =>
                conflicts.incrementAndGet(); tries += 1
              case e: IllegalStateException
                  if e.getMessage.contains("vacuumed") =>
                // the round-16 vacuum arm's target: a committer whose
                // plan base aged out during its window fails with the
                // LOUD re-plan error and never publishes against the
                // vacuumed base — the retry re-plans from the current
                // head (syncGraphBatch re-reads it), which is exactly
                // the recovery the error message prescribes
                replans.incrementAndGet(); tries += 1
              case e: Throwable =>
                failures.add(s"w$writer r$k: ${e.toString.take(300)}")
                landed = true // unexpected: record and move on
            }
          }
          if (!landed) failures.add(s"w$writer r$k: retries exhausted")
        }
      })
      // vacuum arm (round 16): a concurrent reclaim cadence races the
      // two committers for the whole sweep. keep=6 leaves headroom for
      // in-flight plans (a plan is at most a few commits stale), so
      // most rounds land; when one does lose its base the failure
      // must be the loud re-plan error (counted above), never a
      // silent publish against vacuumed history — the final
      // serial-equivalence assertion proves no interleaving lost data
      val stopVacuum = new java.util.concurrent.atomic.AtomicBoolean
      val vacuums = new java.util.concurrent.atomic.AtomicInteger
      val vacuumThread = new Thread(() => {
        while (!stopVacuum.get()) {
          try {
            graft.streaming.VectorStore.vacuum(spark, dir.toString,
              keep = 6)
            vacuums.incrementAndGet()
          } catch {
            case e: Throwable =>
              failures.add(s"vacuum: ${e.toString.take(300)}")
          }
          Thread.sleep(200)
        }
      })
      val t0 = System.nanoTime()
      val ws = Seq(writerLoop(0), writerLoop(1))
      vacuumThread.start()
      ws.foreach(_.start()); ws.foreach(_.join())
      stopVacuum.set(true); vacuumThread.join()
      val tW = (System.nanoTime() - t0) / 1e9
      val (ins0, del0) = modelOf(0)
      val (ins1, del1) = modelOf(1)
      val expect = (baseIds -- del0 -- del1) ++ ins0 ++ ins1
      val finalIds = graft.streaming.VectorStore
        .read(spark, dir.toString)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val dupes = finalIds.groupBy(identity).count(_._2.length > 1)
      val got = finalIds.toSet
      val lost = expect -- got
      val phantom = got -- expect
      val v = graft.streaming.VectorStore.version(spark, dir.toString)
      println(f"race2: $n%d vecs, 2 writers x $rounds%d sync rounds " +
        f"in $tW%.1f s; landed version $v%d, " +
        s"${conflicts.get()} conflicts retried, " +
        s"${replans.get()} vacuumed-base re-plans retried, " +
        s"${vacuums.get()} concurrent vacuums, " +
        s"${failures.size()} failures")
      println(s"race2: lost updates ${lost.size}, phantom ids " +
        s"${phantom.size}, duplicate ids $dupes " +
        (if (lost.isEmpty && phantom.isEmpty && dupes == 0 &&
             failures.isEmpty) "— SERIAL-EQUIVALENT OK"
         else "— FAILED"))
      failures.forEach(f => println(s"  WRITER FAILURE: $f"))
      lost.take(5).foreach(id => println(s"  LOST: $id"))
      phantom.take(5).foreach(id => println(s"  PHANTOM: $id"))
    } finally {
      corpus.unpersist()
      val walk = java.nio.file.Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close()
    }
  }

  /** Reliable-vs-local lineage-cut overhead for the iterative ops
    * (round 16): the checkpointDir option buys executor-loss recovery
    * at the cost of one distributed write of the node-sized frame per
    * round — this prints that delta so the default stays fast on
    * purpose.
    */
  private def ckptSweep(sp: SparkSession, n: Int): Unit = {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    try {
      // chain of n nodes + random chords: multi-round CC work
      val chain = sp.range(n - 1L).select(col("id").as("a"),
        (col("id") + 1).as("b"))
      val chords = sp.range(n / 10L).select(
        pmod(col("id") * 2654435761L, lit(n.toLong)).as("a"),
        pmod(col("id") * 1315423911L, lit(n.toLong)).as("b"))
      val edges = chain.unionAll(chords).localCheckpoint()
      edges.count()
      val seeds = sp.range(20).select(
        (col("id") * (n / 20)).as("n"), col("id").as("lbl"))
      // warmup: JIT + codegen for BOTH variants' plans on a toy
      // graph, so the timed runs compare operators, not HotSpot
      // compile order (the first variant timed otherwise absorbs it)
      val toyE = sp.range(500).select(col("id").as("a"),
        (col("id") + 1).as("b")).localCheckpoint()
      val toyS = sp.range(4).select((col("id") * 100).as("n"),
        col("id").as("lbl"))
      graft.functions.Dedup.connectedComponentsStar(toyE, "a", "b").count()
      graft.functions.Dedup.connectedComponentsStar(toyE, "a", "b",
        checkpointDir = Some(ckptDir.toString)).count()
      graft.operators.Graph.labelPropagateConverged(
        toyE, "a", "b", toyS, "n", "lbl", maxIters = 4)._1.count()
      graft.operators.Graph.labelPropagateConverged(
        toyE, "a", "b", toyS, "n", "lbl", maxIters = 4,
        checkpointDir = Some(ckptDir.toString))._1.count()
      val (cLocal, tLocal) = timed(
        graft.functions.Dedup.connectedComponentsStar(
          edges, "a", "b").count())
      val (cRel, tRel) = timed(
        graft.functions.Dedup.connectedComponentsStar(
          edges, "a", "b",
          checkpointDir = Some(ckptDir.toString)).count())
      require(cLocal == cRel, s"cc parity broke: $cLocal vs $cRel")
      println(f"cc_star n=$n%d: local ${tLocal}%.2f s vs reliable " +
        f"${tRel}%.2f s (overhead ${(tRel / tLocal - 1) * 100}%.0f%%)")
      // fixed SMALL round count: the sweep measures PER-ROUND cut
      // overhead (write of a node-sized frame), not convergence —
      // a chain this size would otherwise run for minutes
      val lpaIters = 8
      val (l1, t1) = timed {
        val (lf, st) = graft.operators.Graph.labelPropagateConverged(
          edges, "a", "b", seeds, "n", "lbl", maxIters = lpaIters)
        (lf.count(), st.length)
      }
      val (l2, t2) = timed {
        val (lf, st) = graft.operators.Graph.labelPropagateConverged(
          edges, "a", "b", seeds, "n", "lbl", maxIters = lpaIters,
          checkpointDir = Some(ckptDir.toString))
        (lf.count(), st.length)
      }
      require(l1 == l2, s"lpa parity broke: $l1 vs $l2")
      println(f"lpa n=$n%d (${l1._2}%d rounds): local ${t1}%.2f s vs " +
        f"reliable ${t2}%.2f s (overhead ${(t2 / t1 - 1) * 100}%.0f%%)")
    } finally {
      val w = java.nio.file.Files.walk(ckptDir)
      try w.sorted(java.util.Comparator
          .reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally w.close()
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = graft.Sessions.envCores
    // a mode's numeric arguments (after the mode name), else its defaults
    def ints(defaults: Int*): Seq[Int] =
      if (args.length > 2) args.drop(2).map(_.toInt).toSeq else defaults
    def sweep(cores: Int = cpus, partitions: Int = cpus)(
        body: SparkSession => Unit): Unit = {
      val sp = graft.Sessions.local(cores, partitions)
      sp.sparkContext.setLogLevel("WARN")
      body(sp)
      sp.stop()
    }
    // a fixture table, read once up front so the sweep times warm reads
    def warm(sp: SparkSession, table: String): DataFrame = {
      val df = sp.read.parquet(s"$sfDir/$table.parquet")
      df.count()
      df
    }
    val modes: Map[String, () => Unit] = Map(
      // Spark's default 200 shuffle partitions
      "manifest" -> (() => sweep(4, 200)(
        manifestSweep(_, ints(100, 1000, 10000), per = 40))),
      "ckpt" -> (() => sweep(partitions = 16)(ckptSweep(_, ints(200000).head))),
      "race2" -> (() => sweep()(sp => race2Sweep(sp, warm(sp, "embeddings"), ints(6).head))),
      "race" -> (() => sweep()(sp => raceSweep(sp, warm(sp, "embeddings"), ints(8).head))),
      "pattern" -> (() => {
        val Seq(nb, us, cp) = ints(120, 128, 200)
        sweep(partitions = 8)(patternSweep(_, nb, us, cp))
      }),
      // state ops parallelize per shuffle partition — at the 10^6-key
      // sweep scale the 8-partition default left half the box idle
      "churn" -> (() => {
        val Seq(nb, us, cp) = ints(60, 256, 40)
        sweep()(churnSweep(_, nb, us, cp))
      }),
      "churnspill" -> (() => {
        val Seq(nb, us, cp) = ints(30, 2000, 50)
        sweep()(churnSpillSweep(_, nb, us, cp))
      }),
      "gannskew" -> (() => sweep()(sp =>
        gannSkewSweep(sp, warm(sp, "embeddings"), ints(1, 4, 16)))),
      "compact" -> (() => sweep()(sp =>
        compactSweep(sp, warm(sp, "embeddings"), ints(4, 16, 64)))),
      "gann" -> (() => sweep()(sp =>
        gannSweep(sp, warm(sp, "embeddings"), ints(1, 4, 16)))),
      "pipeline" -> (() => sweep()(sp =>
        pipelineSweep(sp, warm(sp, "documents"), ints(1, 4, 16, 64)))),
      "imi" -> (() => imiSweep(ints(128, 512, 2048, 8192, 16384))),
      "bpe" -> (() => sweep()(sp =>
        bpeSweep(sp, sp.read.parquet(s"$sfDir/documents.parquet")))),
      "trees" -> (() => sweep()(sp =>
        treeSweep(sp, warm(sp, "embeddings"), ints(4096, 8192, 16384)))))
    modes.get(args.lift(1).getOrElse("")) match {
      case Some(run) => run()
      case None =>
        val factors = if (args.length > 1) args.drop(1).map(_.toInt).toSeq
                      else Seq(1, 2, 4)
        sweep()(factorSweep(_, sfDir, factors))
        sys.exit(0)
    }
  }

  /** The default mode: every hot path at each corpus scale factor. */
  private def factorSweep(spark: SparkSession, sfDir: String,
      factors: Seq[Int]): Unit = {
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // warmup
    docs0.count(); emb0.count()
    println(f"${"factor"}%-7s ${"docs"}%-7s ${"minhash"}%-9s ${"hamming"}%-9s ${"embdup"}%-9s ${"annlsh"}%-9s ${"passage"}%-9s ${"tfidf"}%-9s ${"lmscore"}%-9s")
    factors.foreach { f =>
      val docs = docsAt(docs0, f).cache()
      val nd = docs.count()
      val emb = embAt(emb0, f).cache()
      emb.count()
      val (p1, tMinhash) = timed(Dedup.ngramJaccardPairsLsh(
        docs, "doc_id", "text", threshold = 0.5).count())
      val (p2, tHamming) = timed(Dedup.simhashNearDups(
        docs, "doc_id", "text", radius = 3).count())
      val (p3, tEmbDup) = timed(Dedup.embeddingNearDups(
        emb, "vec_id", "embedding", threshold = 0.95,
        bands = 4, rowsPerBand = 16).count())
      val queries = emb0.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"),
          transform(col("embedding"), x => x.cast("double")).as("qvec"))
      val (p4, tAnn) = timed(Similarity.lshTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, bands = 8, rowsPerBand = 16)
        .count())
      val (p5, tPassage) = timed(Dedup.passageDedup(
        docs, "doc_id", "text").count())
      val (p6, tTfidf) = timed(graft.functions.TextAnalysis.tfidfTopTerms(
        docs.select(col("doc_id"), col("text")), "doc_id", "text").count())
      val (p7, tLm) = timed(graft.functions.TextAnalysis.bigramLmScore(
        docs.select(col("doc_id"), col("text")), "doc_id", "text").count())
      println(f"$f%-7d $nd%-7d $tMinhash%-9.2f $tHamming%-9.2f $tEmbDup%-9.2f $tAnn%-9.2f $tPassage%-9.2f $tTfidf%-9.2f $tLm%-9.2f" +
        s"   (pairs: $p1/$p2/$p3, ann: $p4, rows: $p5/$p6/$p7)")
      docs.unpersist(); emb.unpersist()
    }
    // Round-6 second-session paths: directed containment (prefix
    // filter over the rarest-gram inverted index), RAG token chunking
    // (map-only explode), and wordpiece tokenization (codegen'd
    // greedy matcher). All three must grow ~linearly.
    println(f"${"factor"}%-7s ${"docs"}%-7s ${"contain"}%-9s ${"chunk"}%-9s ${"wordpiece"}%-9s")
    factors.foreach { f =>
      val docs = docsAt(docs0, f).cache()
      val nd = docs.count()
      val (c1, tCont) = timed(Dedup.containmentPairs(
        docs, "doc_id", "text", threshold = 0.9, n = 3).count())
      val (c2, tChunk) = timed(graft.functions.TextAnalysis.chunkTokens(
        docs, "doc_id", "text", size = 64, stride = 48).count())
      val letters = ('a' to 'z').map(_.toString)
      val vocab = Seq("the", "and", "ing") ++ letters ++
        letters.map("##" + _) :+ "##ing"
      val (c3, tWp) = timed(docs.select(
          explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
            .as("w"))
        .select(graft.functions.TextAnalysis.wordpiecePieces(col("w"), vocab)
          .as("p"))
        .agg(sum(size(col("p")))).collect().head.getLong(0))
      println(f"$f%-7d $nd%-7d $tCont%-9.2f $tChunk%-9.2f $tWp%-9.2f" +
        s"   (pairs: $c1, chunks: $c2, pieces: $c3)")
      docs.unpersist()
    }
    // Round-7 paths: PQ ADC search (books trained once on the base —
    // quantizer size is corpus-independent), IVF frozen-quantizer
    // append + indexed search (delta is FIXED size; append cost must
    // stay flat while the store grows), boilerplate stripping (two
    // partial-agg'd passes over the line stream), and semantic dedup
    // (cell equi-join pair search; planted twins scale k× with the
    // copies). All must grow ~linearly with the corpus — except the
    // IVF append column, which must stay ~flat.
    println(f"${"factor"}%-7s ${"vecs"}%-7s ${"pq"}%-9s ${"ivfapp"}%-9s ${"boiler"}%-9s ${"semdedup"}%-9s")
    factors.foreach { f =>
      val emb = embAt(emb0, f).cache()
      val ne = emb.count()
      val docs = docsAt(docs0, f).cache()
      docs.count()
      val emb0d = emb0.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val queries = emb0d.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val books = Similarity.pqBooks(emb0d, "vec_id", "embedding",
        m = 8, k = 16, dims = 64)
      val (n1, tPq) = timed(Similarity.pqTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", books, k = 5).count())
      // frozen quantizer from the base; store = the grown corpus,
      // pre-assigned (a stored artifact); timed work = assign a
      // FIXED-size delta + search the combined index
      val cents = Similarity.ivfCentroids(emb0d, "vec_id", "embedding", 16)
      val store = Similarity.ivfAssignments(emb, "vec_id", "embedding", cents)
        .cache()
      store.count()
      val delta = emb0d.select((col("vec_id") + 90000000L).as("vec_id"),
        col("embedding"))
      val (n2, tApp) = timed {
        val appended = store.unionByName(
          Similarity.ivfAssignments(delta, "vec_id", "embedding", cents))
        Similarity.ivfTopKIndexed(appended, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4).count()
      }
      val (n3, tBoiler) = timed(graft.functions.Curation
        .stripBoilerplateLines(
          docs.withColumn("source", (col("doc_id") % 20).cast("string")),
          "doc_id", "text", "source", minDocs = 5, minFrac = 0.6).count())
      val aug = emb.unionByName(
        emb.filter(col("vec_id") % 20 === 0)
          .select((col("vec_id") + 50000000L).as("vec_id"),
            concat(array(element_at(col("embedding"), 1) + lit(0.001)),
              slice(col("embedding"), 2, 63)).as("embedding")))
        .withColumn("quality", (col("vec_id") % 7).cast("int"))
      // SemDeDup's scaling contract (SURVEY §16, per Abbas 2023) is
      // nlist ∝ corpus: the first r7 sweep with a FIXED base-trained
      // nlist=16 read superlinear (4.7/8.4/18.3 s at 8/16/32×)
      // because per-cell populations — and the within-cell pair
      // join — grew with the factor. Train the quantizer on the
      // grown corpus at nlist = 16·f to honor the contract, OUTSIDE
      // the timed block: quantizer training is a stored artifact
      // (same treatment as pqBooks/the IVF store above), and its
      // O(n·nlist) cost would otherwise re-introduce an f² term that
      // production amortizes. The IVF-append stage keeps its FROZEN
      // base quantizer — that is ITS contract.
      //
      // ivfTrain with SAMPLE init (oversample=1), NOT farthest-point:
      // on this heavy-noise fixture farthest-point picks 127
      // hypercube corners and the seed cell captures 16,568 of
      // 16,800 vectors (measured) — the within-cell pair join then
      // does m² ≈ 274M candidate work (the f=8 stage took 50 s), and
      // corner-init Lloyd cannot rebalance in few sweeps. Sample
      // init draws centroids ∝ data mass, so occupancy starts
      // balanced (SemDeDup itself is k-means clustering). With
      // nlist ∝ f a planted twin can land across a cell boundary —
      // the coarse-quantization recall loss the paper accepts.
      val semCents = Similarity.ivfTrain(
        aug.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", 16 * f, iters = 2, oversample = 1)
      // quantizer health BEFORE trusting the timing: the corner-init
      // pathology was a 126x imbalance here — one number, no join
      val occ = Similarity.ivfOccupancyStats(
        aug.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", semCents).collect().head
      println(f"[occupancy] f=$f nlist=${16 * f} used=${occ.getLong(1)} " +
        f"max=${occ.getLong(3)} imbalance=${occ.getDouble(5)}%.1f")
      val (n4, tSem) = timed {
        Dedup.semanticDedup(aug, "vec_id", "embedding", "quality",
          semCents, threshold = 0.9).filter(!col("kept")).count()
      }
      println(f"$f%-7d $ne%-7d $tPq%-9.2f $tApp%-9.2f $tBoiler%-9.2f $tSem%-9.2f" +
        s"   (ann: $n1/$n2, docs kept: $n3, dropped dups: $n4)")
      emb.unpersist(); docs.unpersist(); store.unpersist()
    }
    // Round-8: quantizer TRAINING scale. The SemDeDup contract sets
    // nlist ∝ corpus, which makes flat full-corpus Lloyd
    // (O(n·nlist·dims)/sweep) corpus-QUADRATIC — the r7 verdict's top
    // gap. The production path (ivfTrainTwoLevel) removes both
    // factors: a bounded hash-ordered training sample (the FAISS
    // points-per-centroid convention; cost independent of
    // the corpus) and two-level assignment inside the Lloyd loop
    // (O(√nlist·wprobe) cells scored per row instead of nlist).
    // Sample here is 64·nlist rows (within the FAISS 30–256/centroid
    // range; 128·nlist would exceed this fixture's corpus at the top
    // factor and show nothing). Honest asymptotics: sampled two-level
    // training grows as nlist^1.5 (the two-level bound), so with nlist = 16f the
    // twoLvl column should grow ~f^1.5 while flatFull grows ~f² —
    // both are PRINTED, the gap is measured, not asserted. Occupancy
    // + movement stats accompany the timing (the r7 lesson: a bad
    // quantizer is visible in imbalance long before it is visible in
    // timings).
    // 4× the sweep factors here: at the base factors both columns sit
    // on Spark's ~1 s/job scheduling floor and the asymptotic gap is
    // invisible; at 4× the flat column's n·nlist (∝ f²) term clears
    // the floor while the sampled two-level column stays near it.
    println(f"${"factor"}%-7s ${"vecs"}%-7s ${"nlist"}%-7s ${"flatFull"}%-9s ${"twoLvl"}%-9s ${"tree"}%-9s")
    factors.map(_ * 4).foreach { f =>
      val emb = embAt(emb0, f).cache()
      val ne = emb.count()
      val nlist = 16 * f
      val (_, tFlat) = timed(Similarity.ivfTrain(
        emb, "vec_id", "embedding", nlist, iters = 2, oversample = 1))
      val ((cents2, moves), tTwo) = timed(Similarity.ivfTrainTwoLevel(
        emb, "vec_id", "embedding", nlist, iters = 2, oversample = 1,
        wprobe = 2, sampleSize = 64 * nlist))
      // the log-depth end of the progression: flat O(nlist²) →
      // two-level O(nlist^1.5) → tree O(nlist·log nlist) under the
      // same points-per-centroid sample
      val ((cents3, _), tTree) = timed(Similarity.ivfTrainTree(
        emb, "vec_id", "embedding", nlist, iters = 2, oversample = 1,
        fanout = 8, beam = 3, sampleSize = 64 * nlist))
      val occ = Similarity.ivfOccupancyStats(
        emb, "vec_id", "embedding", cents2).collect().head
      val occ3 = Similarity.ivfOccupancyStats(
        emb, "vec_id", "embedding", cents3).collect().head
      val mv = moves.map(s =>
        f"iter${s.iter}: moved=${s.movedCells} empty=${s.emptyCells} " +
        f"maxMove2=${s.maxMoveSq}%.3g").mkString("; ")
      println(f"$f%-7d $ne%-7d $nlist%-7d $tFlat%-9.2f $tTwo%-9.2f $tTree%-9.2f" +
        f"   (twoLvl occ: used=${occ.getLong(1)} " +
        f"imb=${occ.getDouble(5)}%.1f; tree occ: used=${occ3.getLong(1)} " +
        f"imb=${occ3.getDouble(5)}%.1f | $mv)")
      emb.unpersist()
    }
    // Incremental dedup scale claim: FIXED delta batch against a
    // GROWING history whose band index is prebuilt (the production
    // shape — the index is a stored artifact). Incremental cost must
    // stay near-flat while the full-corpus pipeline grows with the
    // corpus: the delta pays its own hashing + collision-sized
    // verification only.
    println(f"${"factor"}%-7s ${"history"}%-8s ${"fullLsh"}%-9s ${"incLsh"}%-9s")
    factors.foreach { f =>
      val hist = docsAt(docs0, f).filter(col("doc_id") % 5 =!= 0).cache()
      val nh = hist.count()
      val delta = docs0.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"), col("text"))
      val index = Dedup.lshBands(hist, "doc_id", "text", 16, 8, 3).cache()
      index.count()
      val (nInc, tInc) = timed(Dedup.nearDupDelta(
        index, hist, delta, "doc_id", "text", threshold = 0.5).count())
      val (nFull, tFull) = timed(Dedup.ngramJaccardPairsLsh(
        hist.unionByName(delta), "doc_id", "text", threshold = 0.5).count())
      println(f"$f%-7d $nh%-8d $tFull%-9.2f $tInc%-9.2f" +
        s"  (pairs full: $nFull, delta-touching: $nInc)")
      hist.unpersist(); index.unpersist()
    }
    // Round-7 second-session paths: NB classification (model/priors
    // prebuilt from the BASE corpus — stored artifacts; timed work =
    // tf scan + shuffle join against the vocab-sized model), CDC
    // chunking + chunk-hash dedup counts (single-pass kernel +
    // wordcount), char entropy (pure map-only projection). All three
    // must grow ~linearly with the corpus.
    println(f"${"factor"}%-7s ${"docs"}%-7s ${"nbclass"}%-9s ${"cdcchunk"}%-9s ${"entropy"}%-9s")
    val nbModel = graft.functions.TextAnalysis.naiveBayesTrain(
      docs0, "lang", "text").cache()
    nbModel.count()
    val nbPriors = graft.functions.TextAnalysis.naiveBayesPriors(
      docs0, "lang", "text").cache()
    nbPriors.count()
    factors.foreach { f =>
      val docs = docsAt(docs0, f).cache()
      val nd = docs.count()
      val (s1, tNb) = timed(graft.functions.TextAnalysis
        .naiveBayesClassify(docs, "doc_id", "text", nbModel, nbPriors)
        .count())
      val (s2, tCdc) = timed(graft.functions.Multimodal
        .chunkContentDefined(docs.select(col("doc_id"), col("text")), "text")
        .groupBy(col("chunk_hash")).agg(count(lit(1)))
        .count())
      val (s3, tEnt) = timed(docs
        .select(graft.functions.TextAnalysis.charEntropy(col("text"))
          .as("ce"))
        .agg(sum(col("ce.entropy_nanos"))).collect().head.getLong(0))
      println(f"$f%-7d $nd%-7d $tNb%-9.2f $tCdc%-9.2f $tEnt%-9.2f" +
        s"   (classified: $s1, distinct chunks: $s2, nanos: $s3)")
      docs.unpersist()
    }
    nbModel.unpersist(); nbPriors.unpersist()
  }
}
