package graft.tools

import org.apache.spark.sql.functions._
import graft.functions.{Curation, Dedup, TextAnalysis}

/** CLI: the full LLM training-data curation pipeline, end to end, on
  * the fixture corpus — quality filter → PII redaction → exact dedup
  * → near-dup clustering with keep-best → benchmark decontamination →
  * temperature-scaled source mixing → sequence packing into shards.
  * Every stage is one of the library's gated operators; this tool
  * exists to show (and smoke-test) that they COMPOSE: the output of
  * each stage is the literal input of the next, and the whole run
  * prints a funnel of per-stage survivor counts.
  *
  * Usage: runMain graft.tools.CurationDemo [sfDir] [outDir]
  */
object CurationDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse(
      java.nio.file.Files.createTempDirectory("graft-curation").toString)
    val spark = graft.Sessions.local(8, 8)
    spark.sparkContext.setLogLevel("ERROR")

    def stage(name: String, n: Long): Unit =
      println(f"[curate] $name%-28s $n%8d docs")
    // each stage frame is consumed 2-3 times (its own count + the
    // next stage's input); persist-at-stage keeps the funnel linear
    // instead of re-running the whole upstream pipeline per reuse
    def persisted(df: org.apache.spark.sql.DataFrame) = df.persist()

    val docs = persisted(spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("lang"), col("text")))
    stage("ingest", docs.count())

    // 1. quality gate: Gopher stats conjunction (word count, ratios)
    val quality = TextAnalysis.gopherQualityStats(docs, "doc_id", "text")
      .filter(col("passes"))
      .select(col("doc_id"))
    val qualified = persisted(docs.join(quality, "doc_id"))
    stage("quality filter", qualified.count())

    // 1b. char-entropy gibberish screen (round 7): the map-only
    // kernel — drop anything under 2 bits of code-point entropy
    // (single-symbol runs, binary-paste artifacts)
    val lively = persisted(qualified.filter(
      TextAnalysis.charEntropy(col("text"))
        .getField("entropy_nanos") > 2000000000L))
    stage("entropy screen", lively.count())

    // 1c. NB label-consistency screen (round 7): train the
    // multinomial NB language model on the corpus' own tags, keep
    // docs whose prediction agrees with their tag — the cheap
    // mislabeled-document detector
    val nbModel = TextAnalysis.naiveBayesTrain(lively, "lang", "text")
    val nbPriors = TextAnalysis.naiveBayesPriors(lively, "lang", "text")
    val consistent = TextAnalysis
      .naiveBayesClassify(lively, "doc_id", "text", nbModel, nbPriors)
      .select(col("doc_id"), col("pred_label"))
    // localCheckpoint, not persist: persist caches DATA but keeps the
    // full ANALYZED plan, and every downstream self-join (LSH bands,
    // CC symmetrize) textually DUPLICATES it — with the NB stage's
    // own multi-reference plan in the chain, the train-split frame's
    // treeString reached 1.45 GB and Spark's cache-name construction
    // (CachedRDDBuilder.cachedName stringifies the plan) OOM'd. A
    // stage-boundary lineage cut is the composition contract for deep
    // pipelines; production uses reliable checkpoints, same idea.
    val tagged = lively.join(consistent, "doc_id")
      .filter(col("lang") === col("pred_label")).drop("pred_label")
      .localCheckpoint()
    stage("NB lang-consistent", tagged.count())

    // 2. PII redaction (map-only projection)
    val redacted = tagged.withColumn("text",
      Curation.piiRedact(col("text")))

    // 3. exact dedup: the min-id doc per identical fingerprint survives
    val exactKept = Dedup.exactGroups(redacted, "doc_id", "text")
      .select(col("keeper_id").as("doc_id"))
    val exact = persisted(redacted.join(exactKept, "doc_id"))
    stage("exact dedup", exact.count())

    // 4. near-dup: LSH pairs → connected components → keep best (by
    // length as the quality proxy) per duplicate cluster
    val pairs = Dedup.ngramJaccardPairsLsh(exact, "doc_id", "text",
      threshold = 0.6, n = 3, numHashes = 16, bands = 8)
    val clusters = Dedup.connectedComponentsStar(pairs, "id_a", "id_b")
    val scored = exact.withColumn("q", length(col("text")))
    val best = Dedup.keepBestPerCluster(scored, "doc_id", clusters, "q")
      .filter(col("kept")).select(col("doc_id"))
    val deduped = persisted(exact.join(best, "doc_id"))
    stage("near-dup keep-best", deduped.count())

    // 5. decontamination against a tiny synthetic benchmark built
    // from a slice of the corpus itself (worst case: guaranteed hits)
    val bench = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), col("text"))
    val dirty = Curation.decontaminate(deduped, bench, "doc_id", "text")
      .select(col("doc_id"))
    val clean = persisted(deduped.join(dirty, Seq("doc_id"), "left_anti"))
    stage("decontaminated", clean.count())

    // 6. temperature-scaled source mixing at alpha = 0.5
    val budget = math.max(1L, clean.count() * 2 / 3)
    val mixed = persisted(Curation.applyMixture(clean, "doc_id", "source",
      alpha = 0.5, budget = budget))
    stage("mixture sample", mixed.count())

    // 6b. leakage-safe eval split: the near-dup pair graph from stage 4
    // keys the split, so no duplicate pair straddles train/test; only
    // the train slice continues into packing
    val split = Curation.leakageSafeSplit(mixed, "doc_id", pairs)
    val train = persisted(mixed.join(
      split.filter(col("split") === "train").select(col("doc_id")),
      "doc_id"))
    stage("train split (leak-safe)", train.count())

    // 7. pack into fixed-budget shards and write partitioned output
    val packed = Curation.packSequences(train, "doc_id", "text",
      budget = 4096, nShards = 8)
    graft.sources.Writers.writePartitioned(
      packed.join(train.select(col("doc_id"), col("source"), col("text")),
        "doc_id"),
      s"$outDir/shards", Seq("shard"))
    val shards = spark.read.parquet(s"$outDir/shards")
    stage("packed+written", shards.count())
    println(s"[curate] shards at $outDir/shards: " +
      shards.select(col("shard")).distinct().count() + " shard dirs")

    // 8. k-anonymity release audit (round 7) over the shard export's
    // quasi-identifiers — the screen run before anything ships
    val audit = Curation.kAnonymityAudit(
      shards.select(col("source"), col("shard")), Seq("source", "shard"),
      k = 3)
    val bad = audit.filter(col("violates")).count()
    println(s"[curate] k-anonymity audit (source x shard, k=3): " +
      s"${audit.count()} combos, $bad violating")
  }
}
