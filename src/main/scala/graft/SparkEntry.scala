package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.{CopyPipeline, DiffSync, Validation}
import graft.functions.{Dedup, Similarity, TextAnalysis}
import graft.parser.TsqlParser
import graft.convert.Config

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2, each with a DuckDB-runnable oracle in `oracleSql`.
  *
  * Conventions keeping Spark and DuckDB hash-identical:
  *  - every query ends in a total ORDER BY on a unique key;
  *  - double aggregation goes through DECIMAL (exact, engine-independent
  *    summation) and is cast back to double;
  *  - only portable hashes (md5 hex) appear in oracle-checked output;
  *  - timestamps are formatted/truncated to second precision or coarser
  *    (events.parquet is ns; Spark reads it as long via nanosAsLong).
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** events with ns-long ts converted to a timestamp column. */
  private def events(s: SparkSession, dir: String): DataFrame = {
    val df = t(s, dir, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // `div` (integral) — `/` is double division, and ns epochs
        // (~1.7e18) exceed a double's 53-bit mantissa: the rounded
        // quotient drifts ±1 µs, which the µs-exact oracles catch
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        // TIMESTAMP(MICROS, isAdjustedToUTC=false) parquet loads as
        // NTZ; every downstream operator (unix_micros, session_window,
        // range joins) wants an instant. The session timezone is
        // pinned to UTC, so this cast maps wall-clock to the identical
        // instant the old INT64-nanos fixtures produced — and the
        // DuckDB oracles (naive timestamps throughout) stay exact.
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Exact decimal sum of a double column, surfaced as double.
    * Scale 4 because price×(1−discount) products are true 4-decimal
    * rationals: scale 3 would round at .0005 ties where engines'
    * double→decimal tie-breaking differs; at scale 4 nothing rounds.
    */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  /** Flagship query on sf=0.001; driver smoke-checks rows>0.
    * TPC-H Q1-shaped pricing summary over lineitem.
    */
  def entry(spark: SparkSession): DataFrame =
    q1PricingSummary(spark, "/root/testdata/sf0.001")

  private def q1PricingSummary(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  // ---- diff/sync fixture: deterministic source/target derived from
  // orders (keys %10==4 deleted from source; %10==3 missing from
  // target; %7==0 perturbed in target) ----
  private def diffSrc(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 10 =!= 4)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
  private def diffTgt(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").filter(col("o_orderkey") % 10 =!= 3)
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"))

  // ---- stream-prefix-as-batch fixture (round 8; completed round
  // 11): the driver-facing oracle regime for the streaming twins. The
  // table is written as `slices` deterministic parquet files and
  // re-read as a file-source STREAM at one file per micro-batch — a
  // deterministic multi-batch replay, so a streaming operator's
  // cumulative output is hash-comparable against batch SQL over the
  // same rows. Arrival-order-independent operators (pair sets,
  // monotone counts) slice by id; ORDER-CONTRACTED and watermarked
  // twins (funnel, cohort, transitions, path n-grams, windows) slice
  // by TIME-CONTIGUOUS tertiles, which satisfies both the watermark
  // monotonicity and the in-order-arrival contract (equal timestamps
  // land in the same slice, so a boundary can never split a tie).
  // As of round 11 EVERY EventStream operator has a driver gate.

  /** Write `df` as `slices` files to a temp dir; open as a stream. */
  private def streamPrefix(s: SparkSession, df: DataFrame,
      sliceCol: String, slices: Int,
      cacheKey: Option[String] = None): DataFrame =
    streamPrefixBy(s, df, pmod(col(sliceCol), lit(slices)), slices,
      cacheKey)

  /** [[streamPrefix]] with a caller-supplied slice index column
    * (0 until slices). Watermarked gates need TIME-CONTIGUOUS slices:
    * id-sliced batches each span the whole time range, so the
    * watermark jumps to ~max after batch 1 and every later batch's
    * rows arrive LATE and drop — the id fixture is only valid for
    * operators without event-time semantics.
    */
  /** Temp dirs created by the streaming fixtures, deleted on JVM exit
    * (a shutdown hook — deleteOnExit can't remove non-empty dirs).
    * Keeps bench/verify reruns from accumulating parquet + checkpoint
    * dirs in /tmp; within one run the dirs must outlive their stream.
    */
  private val streamTmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private lazy val streamTmpHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      streamTmpDirs.forEach(deleteRecursively(_))))
  private def trackStreamTmp(p: java.nio.file.Path): java.nio.file.Path = {
    streamTmpHook; streamTmpDirs.add(p); p
  }
  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(
          java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close() // Files.walk holds directory fds until closed
    }

  /** Fixture memo: `cacheKey` (when given) identifies a DETERMINISTIC
    * (input dir, projection, slicing) triple, so the sliced parquet is
    * written once per JVM and every later gate/rerun re-opens it —
    * bench reruns and the six event-stream gates previously each paid
    * 3 parquet writes + the min/max slice-bound agg per invocation.
    */
  private val streamFixtureDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]

  /** stream_scd2_apply memo: per (session, input dir), the FINAL
    * folded dimension frame (localCheckpoint'd, hence session-bound —
    * see [[SessionMemo]]; bench/verify reruns re-read it).
    */
  private val scd2StreamResults = new SessionMemo

  /** The [[scd2StreamResults]] builder (round 18 — extracted for the
    * memo-off fresh variant): folds the classified CDC stream
    * micro-batch by micro-batch into the versioned dimension and
    * returns the final folded frame.
    */
  private def buildScd2Stream(s: SparkSession, dir: String): DataFrame = {
    val ord = t(s, dir, "orders")
    var dim = ord.filter(col("o_orderkey") % 10 =!= 3)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"),
        lit("2025-01-01").as("valid_from"),
        lit(null).cast("string").as("valid_to"),
        lit(true).as("is_current"))
      .localCheckpoint()
    val changes = DiffSync.diff(
        diffSrc(s, dir).drop("o_custkey"),
        diffTgt(s, dir).drop("o_custkey"), Seq("o_orderkey"))
      .filter(col(DiffSync.FlagCol) =!= "identical")
    val stream = streamPrefixBy(s, changes,
      pmod(col("o_orderkey"), lit(3)).cast("int"), 3,
      Some(s"$dir|cdc-scd2"))
    val chk = trackStreamTmp(
      java.nio.file.Files.createTempDirectory("graft_scd2_chk"))
    val q = stream.writeStream
      .outputMode("update")
      .option("checkpointLocation", chk.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // localCheckpoint per fold: cuts the lineage (the plan
        // would otherwise double per batch) and makes the fold
        // durable for the next micro-batch
        dim = graft.operators.Scd2.applyCdc(dim, batch,
            "o_orderkey", Seq("o_totalprice"), DiffSync.FlagCol,
            lit("2026-01-01"))
          .localCheckpoint()
      }
      .start()
    q.awaitTermination()
    dim
  }

  /** stream_sync_apply memo: per input dir, the in-memory Derby URL
    * holding the FINAL synced table — the continuous CDC sync runs
    * once per JVM; bench/verify reruns re-read the result table (the
    * database lives until JVM exit, the Derby in-memory contract).
    */
  private val syncTargetUrls =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** The [[syncTargetUrls]] builder (round 18 — extracted so the
    * bench memo-off pass can run it FRESH per call via
    * [[memoStreamInnerEnabled]]): seeds a new in-memory Derby target
    * with the diff fixture's target state, streams the classified CDC
    * diff through continuousSyncWriter in 3 micro-batches, and
    * returns the target's JDBC URL.
    */
  private def buildSyncTarget(s: SparkSession, dir: String): String = {
    val u = "jdbc:derby:memory:graft_sync_" +
      java.util.UUID.randomUUID().toString.replace("-", "") +
      ";create=true"
    // DDL-create with UNQUOTED identifiers (Derby uppercases them);
    // the JDBC partition writer resolves the lower-case DataFrame
    // columns against the existing table case-insensitively (the
    // SyncDemo pattern)
    val conn = java.sql.DriverManager.getConnection(u)
    try conn.createStatement().executeUpdate(
      "CREATE TABLE SYNC_TARGET (o_orderkey BIGINT NOT NULL " +
        "PRIMARY KEY, o_custkey BIGINT, o_totalprice DOUBLE)")
    finally conn.close()
    graft.operators.JdbcSink.write(diffTgt(s, dir),
      graft.operators.JdbcSink.Spec(u, "SYNC_TARGET", "", "",
        numPartitions = 4, truncate = false,
        relaxDurability = false, rewriteBatchedInserts = false))
    val changes = DiffSync.diff(diffSrc(s, dir), diffTgt(s, dir),
        Seq("o_orderkey"))
      .filter(col(DiffSync.FlagCol) =!= "identical")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        when(col(DiffSync.FlagCol) === "deleted", lit("delete"))
          .otherwise(lit("upsert")).as("op"))
    val stream = streamPrefixBy(s, changes,
      pmod(col("o_orderkey"), lit(3)).cast("int"), 3,
      Some(s"$dir|cdc-sync"))
    val chk = trackStreamTmp(
      java.nio.file.Files.createTempDirectory("graft_sync_chk"))
    val q = graft.streaming.EventStream.continuousSyncWriter(
        stream, Seq("o_orderkey"),
        DiffSync.SyncTarget(u, "SYNC_TARGET", "", "",
          dialect = "generic"),
        chk.toString, opCol = Some("op"),
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    u
  }

  /** stream_graph_ingest memo: per input dir, the parquet dir of the
    * STREAMED graph index store — the vector stream runs once per
    * JVM; bench/verify reruns re-read (and re-search) the store.
    */
  private val graphIngestDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** The [[graphIngestDirs]] builder, shared by every gate that reads
    * the streamed graph store (stream_graph_ingest,
    * sim_ann_graph_probe) — ONE definition so the store's shape can
    * never depend on which gate ran first.
    */
  private def graphIngestStore(s: SparkSession, dir: String): String =
    graphIngestDirs.computeIfAbsent(dir, _ => {
      val (corpus, _) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id",
        "embedding", 16)
      val stream = streamPrefixBy(s, corpus,
        pmod(col("vec_id"), lit(3)).cast("int"), 3,
        Some(s"$dir|gann-ingest"))
      val idx = trackStreamTmp(
        java.nio.file.Files.createTempDirectory("graft_gann_idx"))
      val chk = trackStreamTmp(
        java.nio.file.Files.createTempDirectory("graft_gann_chk"))
      val q = graft.streaming.VectorIngest.streamingGraphIngest(
          stream, "vec_id", "embedding", cents, idx.toString,
          chk.toString, degree = 8, efConstruction = 64,
          trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      idx.toString
    })

  /** sim_ivf_compact memo: per input dir, the COMPACTED IVF batch
    * store (built once per JVM: 3 ingest batches, then offline
    * compaction folds them into the canonical base segment).
    */
  private val ivfCompactDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** The [[ivfCompactDirs]] builder, shared by sim_ivf_compact and
    * sim_ivf_probe_read — ONE definition, same reason as
    * [[graphIngestStore]].
    */
  private def ivfCompactStore(s: SparkSession, dir: String): String =
    ivfCompactDirs.computeIfAbsent(dir, _ => {
      val (corpus, _) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id",
        "embedding", 16)
      val store = trackStreamTmp(
        java.nio.file.Files.createTempDirectory("graft_ivfc"))
      (0 until 3).foreach { b =>
        graft.streaming.VectorIngest.ingestBatch(
          corpus.filter(pmod(col("vec_id"), lit(3)) === b),
          "vec_id", "embedding", cents, store.toString, b.toLong)
      }
      graft.streaming.VectorIngest.compactIvfStore(s, store.toString,
        protectLast = 0)
      store.toString
    })

  /** sim_ivf_store_remove memo: per input dir, the IVF batch store
    * after tombstone application (3 ingest batches, then
    * removeIvfBatch of the band-2/4 twins) — once per JVM.
    */
  private val ivfRemoveDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** sim_graph_lifecycle memo: per input dir, the graph store after
    * the full lifecycle chain (build → batch ingest → CDC sync →
    * tombstone removal) — once per JVM.
    */
  private val graphLifecycleDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** stream_vector_sync memo: per input dir, the graph store after
    * the full CDC sync stream (insert/update/delete) has run —
    * once per JVM, like the other CDC stream gates.
    */
  private val vectorSyncDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]

  /** The [[vectorSyncDirs]] builder (round 18 — extracted for the
    * memo-off fresh variant): builds the corrupted-twin base store,
    * streams the CDC upsert/delete batches through
    * streamingVectorSync, and returns the synced store's dir.
    */
  private def buildVectorSyncStore(s: SparkSession, dir: String): String = {
    val (corpus, _) = plantedAnnFixture(s, dir)
    val cents = Similarity.ivfCentroids(corpus, "vec_id",
      "embedding", 16)
    val band = floor(col("vec_id") / 100000L)
    val corrupted = corpus.filter(band.between(1, 3))
      .select(col("vec_id"),
        transform(col("embedding"), x => x * lit(-1.0))
          .as("embedding"))
    // naturals = everything OUTSIDE the planted-twin bands 1–5
    // (not just band 0): with the fixture assert this is
    // equivalent, but it stays correct if naturals ever grow past
    // vec_id 600000
    val base = corpus.filter(!band.between(1, 5))
      .unionByName(corrupted)
    val idx = trackStreamTmp(
      java.nio.file.Files.createTempDirectory("graft_vsync_idx"))
    Similarity.graphAnnBuild(base, "vec_id", "embedding", cents,
        degree = 8, efConstruction = 64)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(idx.toString)
    val changes = corpus.filter(band.isin(1, 3, 5))
      .select(col("vec_id"), col("embedding"),
        lit("upsert").as("op"))
      .unionByName(corpus.filter(band.isin(2, 4))
        .select(col("vec_id"), col("embedding"),
          lit("delete").as("op")))
    val stream = streamPrefixBy(s, changes,
      pmod(col("vec_id"), lit(3)).cast("int"), 3,
      Some(s"$dir|vec-sync"))
    val chk = trackStreamTmp(
      java.nio.file.Files.createTempDirectory("graft_vsync_chk"))
    val q = graft.streaming.VectorIngest.streamingVectorSync(
        stream, "vec_id", "embedding", "op", cents, idx.toString,
        chk.toString, degree = 8, efConstruction = 64,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    idx.toString
  }

  /** Once-per-dir fixture-contract check for [[plantedAnnFixture]]:
    * natural vec_ids must sit below the planted-twin band range.
    */
  private val annFixtureChecked =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]

  /** sim_store_snapshot memo: per input dir, (the manifest entries
    * pinned BEFORE the sync, their schema json, the store dir whose
    * latest version is the post-sync state).
    */
  private val storeSnapshotDirs = new java.util.concurrent
    .ConcurrentHashMap[String, (Seq[String], String, String)]

  /** sim_store_changes memo: per input dir, (IVF store dir, version
    * before the tombstone batch, version after).
    */
  private val storeChangesDirs = new java.util.concurrent
    .ConcurrentHashMap[String, (String, Long, Long)]

  // `sliceIdx` is BY-NAME: it is only evaluated inside the memo's
  // build closure, so a slice expression whose construction costs a
  // full scan (the tertile bounds agg) runs atomically once-per-JVM
  // with the parquet write — two concurrent first callers can no
  // longer both pay the scan with one result silently discarded.
  private def streamPrefixBy(s: SparkSession, df: DataFrame,
      sliceIdx: => Column, slices: Int,
      cacheKey: Option[String] = None): DataFrame = {
    def build(): java.nio.file.Path = {
      val tmp = trackStreamTmp(
        java.nio.file.Files.createTempDirectory("graft_stream_gate"))
      val sliced = df.withColumn("__slice", sliceIdx)
      (0 until slices).foreach { i =>
        sliced.filter(col("__slice") === i).drop("__slice")
          .coalesce(1).write.parquet(tmp.resolve(s"b$i").toString)
      }
      tmp
    }
    val tmp = cacheKey match {
      case Some(k) => streamFixtureDirs.computeIfAbsent(k, _ => build())
      case None => build()
    }
    s.readStream.schema(df.schema).option("maxFilesPerTrigger", "1")
      .parquet(tmp.toString + "/*")
  }

  /** The 3 time-contiguous tertile slices of the events table (exact
    * integer arithmetic; see stream_window_agg) projected to `cols`,
    * as a one-file-per-trigger stream — memoized per (dir, cols), so
    * the slice-bound agg and parquet writes run once per JVM for all
    * six event-stream gates.
    */
  private def eventsTertileStream(s: SparkSession, dir: String,
      cols: Seq[String]): DataFrame = {
    val ev = events(s, dir).select(cols.map(col): _*)
    val key = s"$dir|events-tertile|${cols.mkString(",")}"
    // the slice bounds cost a full scan and are part of the fixture:
    // the by-name argument defers them into the memo's build closure,
    // so scan + parquet write happen atomically once-per-JVM
    streamPrefixBy(s, ev, {
      val b = ev.agg(min(unix_micros(col("ts"))).as("lo"),
        max(unix_micros(col("ts"))).as("hi")).collect().head
      val lo = b.getLong(0); val span = b.getLong(1) - lo + 1
      expr(s"((unix_micros(ts) - ${lo}L) * 3) div ${span}L").cast("int")
    }, 3, Some(key))
  }

  /** Run a streaming frame to completion into a memory sink; return
    * the sink table. Blocking; the query name is unique per call so
    * bench reruns don't collide.
    */
  private def runToMemory(df: DataFrame, mode: String): DataFrame = {
    val name = "mem_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val chk = java.nio.file.Files.createTempDirectory("graft_stream_chk")
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(mode)
      .option("checkpointLocation", chk.toString).start()
    // stop BEFORE deleting: if processAllAvailable throws and the
    // query were left running, removing its checkpoint would wedge
    // the still-live query (and the shared session) mid-bench
    try q.processAllAvailable()
    finally {
      try q.stop()
      finally deleteRecursively(chk)
    }
    df.sparkSession.table(name)
  }

  /** Shared ANN fixture: every 50th embedding is a query; 5 perturbed
    * near-copies per query (amps 0.002k → cos ≈0.9989–0.99996, portable
    * integer-noise formula the oracle replays) are planted into the
    * corpus, so the true top-5 is known, high-similarity, and
    * uniquely ordered.
    */
  private def plantedAnnFixture(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val emb = t(s, dir, "embeddings")
    // fixture contract, asserted once per dir (1-row aggregate): the
    // planted twins occupy vec_id ∈ [100000, 600000) (bands 1–5), so
    // natural ids must stay below band 1 or every band-keyed gate
    // (remove/sync/lifecycle) would silently misclassify naturals as
    // twins
    annFixtureChecked.computeIfAbsent(dir, _ => {
      val mx = emb.agg(max(col("vec_id"))).collect()(0).getLong(0)
      require(mx < 100000L,
        s"plantedAnnFixture: natural vec_id $mx collides with the " +
          "planted-twin band range [100000, 600000)")
      java.lang.Boolean.TRUE
    })
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val planted = queries
      .select(col("query_id"), col("qvec"),
        explode(array((0 until 5).map(k => lit(k)): _*)).as("k"))
      .select((col("query_id") + (col("k") + 1) * 100000L).as("vec_id"),
        transform(col("qvec"), (x, i) =>
          x.cast("double") + (col("k") + 1).cast("double") * lit(0.002) *
            (((col("query_id") * 31 + i * 17) % 19 - 9).cast("double") /
              lit(9.0))).as("embedding"))
    // fixture-only repartition: the tiny single-split parquet would
    // otherwise run all per-row scoring (sign bits / cell argmin) on
    // one core; production corpora arrive already multi-split, and
    // library operators never force a shuffle themselves
    val corpus = emb
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .union(planted)
      .repartition(col("vec_id"))
    (corpus, queries)
  }

  /** Structured WordPiece vocab whose greedy longest-match result has a
    * closed form the DuckDB oracle replays exactly: whole words (beat
    * letterwise starts at position 0 by longest-match), all single
    * letters as start AND continuation pieces (so no a–z word ever
    * UNKs), plus "##ing" (so greedy mid-word matching is observable —
    * leftmost non-overlapping 'ing' consumption ≡ regexp_replace 'g').
    * No 1-letter whole words, so the oracle's max-prefix-length rule
    * is unambiguous.
    */
  private val wordpieceWholeWords: Seq[String] = Seq(
    "the", "and", "of", "to", "in", "is", "that", "for", "it", "with",
    "as", "on", "be", "by", "this", "are", "or", "from", "at", "not",
    "ing")
  private val wordpieceVocab: Seq[String] = {
    val letters = ('a' to 'z').map(_.toString)
    wordpieceWholeWords ++ letters ++ letters.map("##" + _) :+ "##ing"
  }

  /** Once-per-JVM memo of streaming-gate RESULTS (round 16 bench
    * hygiene): every `stream_*` gate runs a real streaming query —
    * fixture write + query boot + micro-batches — whose ~3–4 s boot
    * floor is identical on every rerun and by round 15 added up to
    * 18% of bench wall time, masking real operator movement. The
    * memo runs the gate ONCE per (gate, dir, state-store provider,
    * session) and localCheckpoints the (small) result, so bench
    * rerun passes measure a block read and the boot cost shows up
    * exactly once — in the bench's `first` map, where the
    * boot-vs-steady separation already lives (round 13). Correctness
    * runs are untouched (Verify invokes each gate once per JVM);
    * provider rides in the key so the RocksDB parity matrix still
    * executes both providers for real.
    */
  /** Per-(live session, key) DataFrame memo (round-16 ADVICE fix):
    * memoized frames are localCheckpoint'd, so they are readable only
    * under the session that built them — the old single-tenant memo
    * evicted on a session-change check-then-act over two volatiles,
    * and two LIVE sessions racing their gates could leave one
    * session's frame memoized under the other's tenure (a dead-block
    * read after the first session stops). Entries are now keyed by
    * the session OBJECT: live sessions coexist (no eviction thrash —
    * the RocksDB parity matrix interleaves sessions), and stopped
    * sessions are swept on every access (their checkpoint blocks are
    * gone with their BlockManager). The sweep is the ONLY reclamation
    * (round-18 ADVICE: the previous WeakHashMap "belt" was inert —
    * the memoized frames strongly reference their owning session, so
    * no entry could ever be weakly collected; the claim is dropped
    * rather than papered over). Consequence, documented: a stopped
    * session's (small, localCheckpoint'd) frames are retained until
    * the next getOrBuild or clearResultMemos call — bounded in every
    * real caller (bench/verify hit the memo continuously), and the
    * blocks themselves died with the session's BlockManager either
    * way. The inner compute runs the gate under the key's bin lock,
    * exactly like the previous CHM memo.
    */
  private final class SessionMemo {
    private val maps = new java.util.concurrent.ConcurrentHashMap[
      SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()
    def getOrBuild(s: SparkSession, key: String,
        build: => DataFrame): DataFrame = {
      sweep()
      maps.computeIfAbsent(s, _ =>
          new java.util.concurrent.ConcurrentHashMap[String, DataFrame])
        .computeIfAbsent(key, _ => build)
    }
    def sweep(): Unit = {
      maps.entrySet().removeIf(e => e.getKey.sparkContext.isStopped)
      ()
    }
    def clear(): Unit = maps.clear()
  }

  private val streamGateResults = new SessionMemo

  /** Memo bypass for the plan-inspecting and timing modes of
    * tools.Gates: a memoized stream gate returns a bare
    * LogicalRDD scan of its localCheckpoint — correct data, opaque
    * plan — which would permanently blind the interpreted-path lint
    * to regressions in a stream gate's post-processing and make warm
    * `Gates time` runs measure a block read. Gates flips this off;
    * bench and Verify (where the memo is the point) leave it on.
    */
  @volatile private[graft] var memoStreamGatesEnabled = true

  /** Inner-memo bypass (round 18, closing the memo-off blind spot):
    * stream_scd2_apply / stream_sync_apply / stream_vector_sync
    * memoize their FOLDED END STATE per input dir (Derby URL, folded
    * dimension, synced store), so even with [[memoStreamGatesEnabled]]
    * off their re-execution was a warm read of that state and the
    * bench memo-off series recorded a fixture read, not the operator.
    * Flipping this off makes those three gates rebuild their end
    * state from the (still-memoized) fixtures on every call — the
    * real steady-state streaming cost, comparable round over round
    * like the other 24 gates. Bench's memo-off pass and tools.Gates
    * flip it; Verify and correctness runs leave it on (one execution
    * per JVM either way).
    */
  @volatile private[graft] var memoStreamInnerEnabled = true

  /** Explicit clear for block-wiping specs (session-keyed eviction is
    * otherwise automatic — see [[SessionMemo]]).
    */
  private[graft] def clearResultMemos(): Unit = {
    streamGateResults.clear()
    scd2StreamResults.clear()
  }

  private def memoStreamGate(name: String,
      fn: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (s, dir) => {
      if (!memoStreamGatesEnabled) fn(s, dir)
      else {
        val prov = s.conf.getOption(
          "spark.sql.streaming.stateStore.providerClass")
          .getOrElse("default")
        // changelog mode changes the state persistence path — a parity
        // matrix flipping it must re-execute, not hit the plain-RocksDB
        // memo entry
        val changelog = s.conf.getOption("spark.sql.streaming.stateStore" +
          ".rocksdb.changelogCheckpointing.enabled").getOrElse("false")
        val key = s"$name|$dir|$prov|$changelog"
        streamGateResults.getOrBuild(s, key, fn(s, dir).localCheckpoint())
      }
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rawQueries.map { case (n, fn) =>
      if (n.startsWith("stream_")) (n, memoStreamGate(n, fn)) else (n, fn)
    }

  private def rawQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- aggregation / join / window headliners ----------
    "q1_pricing_summary" -> ((s, dir) => q1PricingSummary(s, dir)),

    "q3_segment_revenue" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_window_ranks" -> ((s, dir) => {
      // the statistical window-rank family: ntile quartiles,
      // percent_rank, cume_dist — all pure count arithmetic over the
      // same (group, order) window, engine-identical by construction
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          ntile(4).over(w).as("quartile"),
          TextAnalysis.q4(percent_rank().over(w)).as("pct_rank"),
          TextAnalysis.q4(cume_dist().over(w)).as("cume"))
        .orderBy(col("o_orderkey"))
    }),

    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .withColumn("running_total",
          sum(col("o_totalprice").cast("decimal(18,3)"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double"))
        .select(col("o_custkey"), col("o_orderkey"), col("rn"),
          col("running_total"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "q_rollup_pricing" -> ((s, dir) =>
      // ROLLUP lattice in one pass: Catalyst expands to grouping sets,
      // one shuffle serves all three aggregation levels (map-side
      // partials per level). NULL group keys -> 'ALL' sentinel.
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().cast("bigint").as("gid"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("sum_qty"), col("sum_disc_price"), col("n_rows"))
        .orderBy(col("gid"), col("rf"), col("ls"))),

    "q_percentiles" -> ((s, dir) =>
      // exact interpolated percentiles (bit-identical to DuckDB
      // quantile_cont — verified empirically). Exact percentile
      // buffers per group, which is fine for few groups; the 100 TB
      // path for high-cardinality groups is approx_percentile (t-digest
      // sketch, mergeable map-side) — parity-tested in the spec.
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_quantity, 0.5)").as("p50_qty"),
          expr("percentile(l_quantity, 0.9)").as("p90_qty"),
          expr("percentile(l_extendedprice, 0.9)").as("p90_price"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))),

    "q_pivot_revenue" -> ((s, dir) => {
      // pivot = single groupBy(status) with per-segment conditional
      // aggregates: one shuffle, no per-value scans. Values are
      // enumerated explicitly so the plan is static (no driver-side
      // distinct pass) — the 100 TB-safe way to pivot.
      val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE",
        "HOUSEHOLD", "MACHINERY")
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderstatus"))
        .pivot("c_mktsegment", segs)
        .agg(dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("o_orderstatus"))
    }),

    "q_topk_per_group" -> ((s, dir) => {
      // top-3 orders by price per market segment: rank + filter plans
      // as WindowGroupLimit — per-partition top-k BEFORE the shuffle,
      // so the exchange carries ≤ k rows per group per partition, not
      // every row (the 100 TB-safe per-group top-k)
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"))),
          col("o_custkey") === col("c_custkey"))
        .withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= 3)
        .select(col("c_mktsegment"), col("rk"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("c_mktsegment"), col("rk"))
    }),

    "q_grouping_sets" -> ((s, dir) =>
      // explicit GROUPING SETS lattice — unlike rollup's prefix chain,
      // the two single-column sets are independent (cube-style slices
      // without the grand total). Catalyst expands to one Expand +
      // one shuffle serving every set; grouping_id() disambiguates
      // rows whose NULLs are data vs. set-placeholders.
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("bigint").as("gid"),
          dsum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("gid"), col("revenue"), col("n_rows"))
        .orderBy(col("gid"), col("st"), col("pri"))),

    "q_cube" -> ((s, dir) =>
      // full CUBE lattice (all 4 subsets incl. grand total) — the
      // remaining corner of the rollup/grouping-sets family. Same
      // single Expand + single shuffle: 4× the map-side rows but
      // partial-aggregated before the exchange, so the shuffle carries
      // |groups| rows per partition, not 4×|input|.
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().cast("bigint").as("gid"),
          dsum(col("o_totalprice")).as("revenue"),
          count(lit(1)).as("n_rows"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("gid"), col("revenue"), col("n_rows"))
        .orderBy(col("gid"), col("st"), col("pri"))),

    "q_unpivot" -> ((s, dir) =>
      // wide→long melt (Dataset.unpivot → Catalyst Expand): the
      // inverse of q_pivot_revenue. Map-side only — the 4× row
      // expansion never shuffles raw; the per-measure partial agg
      // reduces each partition to 4 rows before the exchange.
      t(s, dir, "lineitem")
        .unpivot(
          Array(col("l_orderkey")),
          Array(col("l_quantity"), col("l_extendedprice"),
            col("l_discount"), col("l_tax")),
          "measure", "val")
        .groupBy(col("measure"))
        .agg(count(lit(1)).as("n_rows"), dsum(col("val")).as("sum_val"))
        .orderBy(col("measure"))),

    "q_window_funcs" -> ((s, dir) => {
      // analytic-function battery over one window spec: lag/lead,
      // ntile, percent_rank, cume_dist all share a single sort+shuffle
      // on (custkey; date, key) — Catalyst plans ONE Window node.
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("prev_price",
          lag(col("o_totalprice"), 1).over(w))
        .withColumn("next_price",
          lead(col("o_totalprice"), 1).over(w))
        .withColumn("quartile", ntile(4).over(w).cast("bigint"))
        .withColumn("pct_rank", percent_rank().over(w))
        .withColumn("cume", cume_dist().over(w))
        .select(col("o_custkey"), col("o_orderkey"), col("prev_price"),
          col("next_price"), col("quartile"), col("pct_rank"), col("cume"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // ---------------- reference dataflow operators (C/B families) -----
    "c_full_copy_scrub" -> ((s, dir) => {
      // C1–C6: full-copy plan = read-side projection + NUL scrub
      val li = t(s, dir, "lineitem")
      CopyPipeline.scrubNulBytes(li)
        .withColumn("l_shipdate",
          date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    }),

    "c3_modulo_buckets" -> ((s, dir) => {
      // C3/P1: LOB-table modulo partitioning — bucket histogram proves
      // the split is complete and disjoint
      t(s, dir, "orders")
        .select(CopyPipeline.moduloBucket("o_orderkey", 8).as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
        .orderBy(col("bucket"))
    }),

    "b4_read_normalize" -> ((s, dir) => {
      // B4: read-side normalization (uuid→lower ≈ lower(text),
      // datetime→style-120 text)
      t(s, dir, "orders").select(
        col("o_orderkey"),
        lower(col("o_orderpriority")).as("pri_norm"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("od_text"))
        .orderBy(col("o_orderkey"))
    }),

    "c15_diff_classify" -> ((s, dir) => {
      // C11–C15: full-outer diff classification new/changed/deleted/identical
      DiffSync.diff(diffSrc(s, dir), diffTgt(s, dir), Seq("o_orderkey"))
        .select(col("o_orderkey"), col(DiffSync.FlagCol).as("row_state"))
        .orderBy(col("o_orderkey"))
    }),

    "c16_sync_apply" -> ((s, dir) => {
      // C16 (set-based): applying the diff reproduces the source table
      DiffSync.applyDiff(
        DiffSync.diff(diffSrc(s, dir), diffTgt(s, dir), Seq("o_orderkey")))
        .orderBy(col("o_orderkey"))
    }),

    "a22_fk_orphans" -> ((s, dir) => {
      // A22: FK validation as left-anti join; orphans seeded
      // deterministically (keys shifted out of range). Seeding is one
      // explode over a single scan — the naive union re-read the whole
      // fact table for the 0.1% seeded branch.
      val li = t(s, dir, "lineitem")
      val seeded = li.select(explode(array(
          col("l_orderkey"),
          when(col("l_orderkey") % 997 === 0,
            col("l_orderkey") + 100000000L))).as("l_orderkey"))
        .filter(col("l_orderkey").isNotNull)
      // parent (orders) is the small side of the anti join at any
      // realistic dim/fact ratio — broadcast it so only the child scans
      Validation.fkOrphans(seeded, Seq("l_orderkey"),
        t(s, dir, "orders"), Seq("o_orderkey"), broadcastParent = true)
        .distinct().orderBy(col("l_orderkey"))
    }),

    "a23_check_violations" -> ((s, dir) => {
      // A23/B6/B7: translated T-SQL CHECK evaluated distributively;
      // source predicate was ISNULL([o_totalprice],0) <= 40000 → rewrite
      val pred = graft.convert.ExprRewriter.rewrite(
        "ISNULL([o_totalprice], 0) <= 40000",
        graft.convert.ExprRewriter.Sparksql, _.toLowerCase)
      Validation.checkViolations(t(s, dir, "orders"), expr(pred))
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "a8_sequence_setval" -> ((s, dir) =>
      // A8/pl:3048–3063: setval after load (max for +step, min for -step)
      t(s, dir, "orders").agg(
        max(col("o_orderkey")).as("setval_pos"),
        min(col("o_orderkey")).as("setval_neg"),
        (max(col("o_orderkey")) + 1L).as("next_val"))),

    "b6_expr_rewrite" -> ((s, dir) => {
      // B6: translated T-SQL scalar expressions running distributed:
      // ISNULL→coalesce, CHARINDEX→position, DATEADD→interval, LEN
      val ev = events(s, dir)
      ev.select(
        col("event_id"),
        expr("COALESCE(props, '')").as("props_nn"),
        expr("POSITION('r' IN event_type)").as("pos_r"),
        expr("LENGTH(event_type)").as("type_len"),
        date_format(expr("ts + (2) * INTERVAL '1 day'"),
          "yyyy-MM-dd HH:mm:ss").as("ts_plus2d"))
        .orderBy(col("event_id"))
    }),

    "a12_view_tsql" -> ((s, dir) => {
      // A12: a T-SQL view translated by the parser and executed on
      // Spark: concat `+`→`||`, CONVERT→CAST, ISNULL→COALESCE
      val ddl =
        """CREATE VIEW [dbo].[nation_report] (nk, label, region_name) AS
          |SELECT n.n_nationkey, CONVERT(VARCHAR(40), n.n_name) + '|' + ISNULL(r.r_name, 'none'), r.r_name
          |FROM dbo.nation n INNER JOIN dbo.region r ON n.n_regionkey = r.r_regionkey
          |GO""".stripMargin
      val cat = new TsqlParser(Config()).parse(ddl.split("\n").toSeq)
      val viewSql = cat.schemas("public").views("nation_report").sql
      // extract the SELECT body (after AS) and run it on temp views
      val body = viewSql.substring(viewSql.indexOf(" AS ") + 4)
        .replaceAll("public\\.", "")
      t(s, dir, "nation").createOrReplaceTempView("nation")
      t(s, dir, "region").createOrReplaceTempView("region")
      // the view's column aliases live in the CREATE VIEW header
      s.sql(body).toDF("nk", "label", "region_name").orderBy(col("nk"))
    }),

    "c13_sorted_export" -> ((s, dir) =>
      // C13/C17: PK-ordered export (sort pushdown analog) with top-k
      t(s, dir, "lineitem")
        .orderBy(col("l_orderkey"), col("l_linenumber"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .limit(100)),

    "set_except" -> ((s, dir) => {
      // §2.D set ops: the diff semantics as EXCEPT ALL
      val o = t(s, dir, "orders")
      o.filter(col("o_orderkey") % 10 =!= 3).select(col("o_orderkey"))
        .exceptAll(o.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey")))
        .orderBy(col("o_orderkey"))
    }),

    "curate_quota_sample" -> ((s, dir) =>
      // per-source quota: at most 20 docs per source in deterministic
      // salted-hash order — plans as WindowGroupLimit (per-partition
      // top-k before the exchange)
      graft.functions.Curation.quotaSample(
        t(s, dir, "documents"), "doc_id", "source", cap = 20)
        .orderBy(col("doc_id"))),

    "profile_benford" -> ((s, dir) =>
      // forensic leading-digit audit of o_totalprice vs the Benford
      // expectation (string-safe digit extraction, quantized shares)
      graft.operators.Profile.benfordAudit(
        t(s, dir, "orders"), "o_totalprice")
        .orderBy(col("digit"))),

    "profile_impute_mean" -> ((s, dir) => {
      // data repair: plant NULLs on keys %13=0, refill with the
      // priority-group mean from exact decimal sums (quantized filled
      // values, auditable was_imputed flag)
      val holes = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          when(col("o_orderkey") % 13 === 0, lit(null))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      graft.operators.Profile.imputeGroupMean(holes,
          "o_orderpriority", "o_totalprice")
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice_filled"), col("was_imputed"))
        .orderBy(col("o_orderkey"))
    }),

    "profile_top_movers" -> ((s, dir) =>
      // WHICH vocabulary moved between two snapshots (PSI/KS give the
      // scalar): Laplace-smoothed share log-ratio per union-vocab
      // token in integer nanos, top-20 by |ratio| with token
      // tie-break; even/odd doc halves stand in for the snapshots
      graft.operators.Profile.tokenDriftMovers(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        "text", k = 20)),

    "profile_chi2_drift" -> ((s, dir) =>
      // Pearson χ² token-drift movers — the statistically-weighted
      // complement of the log-ratio movers (rare tokens stop
      // over-ranking); NO transcendentals, so the nano statistic is
      // bit-identical cross-engine by op-order pinning alone
      graft.operators.Profile.chi2TokenDrift(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        t(s, dir, "documents").filter(col("doc_id") % 2 === 1),
        "text", k = 25)),

    "profile_psi_drift" -> ((s, dir) =>
      // the monitoring-standard PSI over the same 64-bin layout as
      // the bucketed KS; Laplace-smoothed shares, ln terms quantized
      // and decimal-summed (the BM25 convention)
      graft.operators.Profile.psiDrift(
        diffSrc(s, dir), diffTgt(s, dir), "o_totalprice", buckets = 64)),

    "profile_ks_drift_bucketed" -> ((s, dir) =>
      // the corpus-scale KS path: 64 equal-width bins over combined
      // bounds — cum pass over ≤64 rows, never per distinct value
      graft.operators.Profile.ksDriftBucketed(
        diffSrc(s, dir), diffTgt(s, dir), "o_totalprice", buckets = 64)),

    "profile_ks_drift" -> ((s, dir) => {
      // distribution-drift audit over the diff fixture: target
      // perturbs o_totalprice (+1.0 on keys %7=0) and drops/adds
      // different key slices, so the exact discrete KS distance is
      // small but nonzero — the shape-change signal a mean/variance
      // audit would miss
      graft.operators.Profile.ksDrift(
        diffSrc(s, dir), diffTgt(s, dir), "o_totalprice")
    }),

    "profile_source_cards" -> ((s, dir) =>
      // one-row-per-source data cards: volume, mean length, dominant
      // language (count argmax, ties to the smaller lang), exact-dup
      // rate against the WHOLE corpus (cross-source dups count)
      graft.operators.Profile.sourceCards(
        t(s, dir, "documents"), "source", "doc_id", "text", "lang",
        "n_chars")
        .orderBy(col("source"))),

    "profile_correlation" -> ((s, dir) =>
      // per-group Pearson r from exact decimal moments — six numbers
      // per group through the shuffle, doubles only in the final
      // fixed IEEE expression both engines replay
      graft.operators.Profile.correlation(
        t(s, dir, "lineitem"), "l_returnflag", "l_quantity",
        "l_extendedprice")
        .orderBy(col("l_returnflag"))),

    "events_moving_avg" -> ((s, dir) => {
      // 3-hour moving average per event type with a RANGE frame over
      // the integer hour index (gap-aware: missing hours shrink the
      // window, unlike a ROWS frame) — pre-aggregated to hourly rows
      // first, so the window runs over buckets, never raw events
      val hourly = events(s, dir)
        .select(col("event_type"),
          expr("unix_micros(date_trunc('HOUR', ts)) div 3600000000")
            .as("hour_idx"),
          col("value"))
        .groupBy(col("event_type"), col("hour_idx"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,3)")).as("__sv"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hour_idx"))
        .rangeBetween(-2, 0)
      hourly
        .withColumn("mov_n", sum(col("n_events")).over(w))
        .withColumn("mov_avg",
          TextAnalysis.q4(sum(col("__sv")).over(w).cast("double") /
            col("mov_n").cast("double")))
        .select(col("event_type"), col("hour_idx"), col("n_events"),
          col("mov_n"), col("mov_avg"))
        .orderBy(col("event_type"), col("hour_idx"))
    }),

    "events_top_paths" -> ((s, dir) =>
      // top-10 length-3 behavioral paths: per-user lead windows →
      // global partial-agg'd counts → TakeOrdered (the path-mining
      // complement of the transition matrix)
      graft.operators.Sessionize.topPaths(events(s, dir),
        "user_id", "event_type", col("ts"), "event_id", n = 3, k = 10)),

    "events_pattern_match" -> ((s, dir) =>
      // MATCH_RECOGNIZE-lite: per-user journey string (one char per
      // event, time-ordered) + one regex pass — count each user's
      // non-overlapping view→(click|error)*→purchase runs. The
      // free-form pattern complement of the fixed funnel/paths gates;
      // one partial-agg'd groupBy, regex once per user.
      graft.operators.Sessionize.sequencePattern(events(s, dir),
          "user_id",
          when(col("event_type") === "view", lit("v"))
            .when(col("event_type") === "click", lit("c"))
            .when(col("event_type") === "purchase", lit("p"))
            .when(col("event_type") === "signup", lit("s"))
            .otherwise(lit("e")),
          col("ts"), "event_id", "v[ce]*p")
        .orderBy(col("user_id"))),

    "events_pattern_extract" -> ((s, dir) =>
      // the extraction sibling of events_pattern_match: emit the
      // matched runs themselves (space-joined, journey order) next to
      // the count — same single partial-agg'd groupBy, regex once per
      // user, leftmost non-overlapping semantics shared with the
      // DuckDB oracle
      graft.operators.Sessionize.sequencePatternExtract(events(s, dir),
          "user_id",
          when(col("event_type") === "view", lit("v"))
            .when(col("event_type") === "click", lit("c"))
            .when(col("event_type") === "purchase", lit("p"))
            .when(col("event_type") === "signup", lit("s"))
            .otherwise(lit("e")),
          col("ts"), "event_id", "v[ce]*p")
        .orderBy(col("user_id"))),

    "stream_pattern_multi" -> ((s, dir) => {
      // k journey patterns matched in ONE streaming pass: the chars
      // decode once per event and feed k independent Pike engines
      // riding together in keyed state (O(Σ automaton sizes) per
      // user). Patterns: the funnel run and the signup-to-purchase
      // run. Latest row per (user, pattern) by n_events; must equal
      // the per-pattern batch oracles exactly.
      val stream = eventsTertileStream(s, dir,
        Seq("user_id", "ts", "event_type", "event_id"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingSequencePatternMulti(
          stream, "user_id", "event_type", "ts", "event_id",
          (t: String) => t match {
            case "view" => "v"; case "click" => "c"
            case "purchase" => "p"; case "signup" => "s"
            case _ => "e"
          }, Seq(("vp_run", "v[ce]*p"), ("sp_run", "s[vce]*p"))),
        "append")
      val w = Window.partitionBy(col("user_id"), col("pattern"))
        .orderBy(col("n_events").desc)
      emitted.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("n_matches") > 0)
        .select(col("user_id"), col("pattern"), col("n_events"),
          col("n_matches"))
        .orderBy(col("user_id"), col("pattern"))
    }),

    "stream_pattern_multi_ttl" -> ((s, dir) => {
      // TTL-evicting k-pattern matcher: one shared char decode, k Pike
      // engines per user, sliding event-time TTL on the whole state.
      // The 100-year horizon exceeds the fixture span, so the result
      // must equal stream_pattern_multi's batch oracle verbatim.
      val stream = eventsTertileStream(s, dir,
        Seq("user_id", "ts", "event_type", "event_id"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingSequencePatternMultiTtl(
          stream, "user_id", "event_type", "ts", "event_id",
          (t: String) => t match {
            case "view" => "v"; case "click" => "c"
            case "purchase" => "p"; case "signup" => "s"
            case _ => "e"
          }, Seq(("vp_run", "v[ce]*p"), ("sp_run", "s[vce]*p")),
          ttlMs = 3155760000000L), "append")
      val w = Window.partitionBy(col("user_id"), col("pattern"))
        .orderBy(col("n_events").desc)
      emitted.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("n_matches") > 0)
        .select(col("user_id"), col("pattern"), col("n_events"),
          col("n_matches"))
        .orderBy(col("user_id"), col("pattern"))
    }),

    "events_transitions" -> ((s, dir) =>
      // per-user lag-1 behavioral transition matrix with exact counts
      // and row-normalized probabilities — the Markov complement of
      // the fixed-order funnel
      graft.operators.Sessionize.transitionMatrix(events(s, dir),
        "user_id", "event_type", col("ts"), "event_id")
        .orderBy(col("from_type"), col("to_type"))),

    "events_ohlc" -> ((s, dir) =>
      // OHLC bars per (type, hour): open/close via min_by/max_by on the
      // (ts, event_id) struct — PARTIAL-AGGREGABLE argmin/argmax, not a
      // per-bucket window (hot buckets stay map-side combinable); the
      // oracle pins the same firsts/lasts with row_number
      events(s, dir)
        .select(col("event_type"), date_trunc("hour", col("ts")).as("bucket"),
          col("ts"), col("event_id"), col("value"))
        .groupBy(col("event_type"), col("bucket"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id"))).as("open"),
          max_by(col("value"), struct(col("ts"), col("event_id"))).as("close"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          count(lit(1)).as("n_events"))
        .withColumn("bucket", date_format(col("bucket"), "yyyy-MM-dd HH:mm:ss"))
        .orderBy(col("event_type"), col("bucket"))),

    "events_twap" -> ((s, dir) => {
      // time-weighted average price: weight = µs until the next event
      // of the same type (exact integers from unix_micros; the last
      // event carries no interval). The weighted sum accumulates in
      // DECIMAL (partition-order independent); only the final division
      // happens in doubles, identically in both engines.
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      events(s, dir)
        .select(col("event_type"), col("ts"), col("event_id"), col("value"))
        .withColumn("dt",
          (lead(unix_micros(col("ts")), 1).over(w) - unix_micros(col("ts"))))
        .filter(col("dt").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_intervals"),
          sum(col("dt")).as("sum_dt_us"),
          sum(col("value").cast("decimal(10,2)") * col("dt")).as("__vdt"))
        .select(col("event_type"), col("n_intervals"), col("sum_dt_us"),
          TextAnalysis.q4(col("__vdt").cast("double") /
            col("sum_dt_us").cast("double")).as("twap"))
        .orderBy(col("event_type"))
    }),

    "set_intersect" -> ((s, dir) => {
      // INTERSECT ALL bag semantics (Dataset.intersectAll) — the §2.D
      // set operator set_except's twin: multiplicity = min of the two
      // sides' counts
      val a = diffSrc(s, dir).select(col("o_custkey"))
      val b = diffTgt(s, dir).select(col("o_custkey"))
      a.intersectAll(b)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("o_custkey"))
    }),

    "events_window" -> ((s, dir) =>
      // streaming-parity windowed aggregation (batch semantics == the
      // Structured Streaming plan in graft.streaming.EventStream)
      graft.streaming.EventStream.windowedAgg(events(s, dir), "1 hour")
        .withColumn("window_start",
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy(col("window_start"), col("event_type"))),

    // ---------------- parser/emitter operators as golden relations ----
    "ddl_type_map" -> ((s, dir) => {
      // A3/A4/B1/B2: parse a fixture dump; emit (column, pg_type, spark
      // type, not_null) — golden-checked against a VALUES oracle
      val ddl =
        """CREATE TABLE [dbo].[TypeZoo](
          |	[id] [bigint] IDENTITY(1,1) NOT NULL,
          |	[guid] [uniqueidentifier] NOT NULL,
          |	[ver] [rowversion] NOT NULL,
          |	[name] [nvarchar](100) NULL,
          |	[blob] [varbinary](max) NULL,
          |	[price] [numeric](10, 0) NULL,
          |	[flag] [bit] NOT NULL,
          |	[created] [datetime2](7) NULL
          |) ON [PRIMARY]
          |GO""".stripMargin
      val cat = new TsqlParser(Config(convertNumericToInt = true))
        .parse(ddl.split("\n").toSeq)
      val tab = cat.table("public", "TypeZoo").get
      import s.implicits._
      tab.cols.sortBy(_.pos).map(c =>
        (c.name, c.pgType, c.sparkType.simpleString, c.notNull))
        .toDF("col_name", "pg_type", "spark_type", "not_null")
        .orderBy(col("col_name"))
    }),

    "ddl_constraints" -> ((s, dir) => {
      // A6/A19/A20/A22/B11: constraint records from a parsed dump
      val ddl =
        """CREATE TABLE [dbo].[Parent](
          |	[id] [int] NOT NULL,
          | CONSTRAINT [PK_Parent] PRIMARY KEY CLUSTERED ([id] ASC)
          |) ON [PRIMARY]
          |GO
          |CREATE TABLE [dbo].[Child](
          |	[id] [int] NOT NULL,
          |	[pid] [int] NULL,
          |	[code] [varchar](10) NOT NULL
          |) ON [PRIMARY]
          |GO
          |ALTER TABLE [dbo].[Child] ADD CONSTRAINT [PK_Child] PRIMARY KEY CLUSTERED ([id] ASC)
          |GO
          |ALTER TABLE [dbo].[Child] ADD CONSTRAINT [UQ_Code] UNIQUE NONCLUSTERED ([code] ASC)
          |GO
          |ALTER TABLE [dbo].[Child] WITH CHECK ADD CONSTRAINT [FK_Child_Parent] FOREIGN KEY([pid])
          |REFERENCES [dbo].[Parent] ([id])
          |ON DELETE CASCADE
          |GO""".stripMargin
      val cat = new TsqlParser(Config()).parse(ddl.split("\n").toSeq)
      import s.implicits._
      cat.allTables.flatMap { case (_, tab) =>
        tab.constraints.map {
          case graft.catalog.PrimaryKey(n, cols) =>
            (tab.name, "PK", n.getOrElse(""), cols.mkString("+"))
          case graft.catalog.Unique(n, cols) =>
            (tab.name, "UNIQUE", n.getOrElse(""), cols.mkString("+"))
          case fk: graft.catalog.ForeignKey =>
            (tab.name, "FK", fk.name.getOrElse(""),
              fk.localCols.mkString("+") + "->" + fk.remoteTable + "." +
                fk.remoteCols.mkString("+") +
                (if (fk.onDeleteCascade) " ON DELETE CASCADE" else ""))
          case c: graft.catalog.Check =>
            (tab.name, "CHECK", c.name.getOrElse(""), c.predicate)
        }
      }.toDF("table_name", "kind", "con_name", "detail")
        .orderBy(col("table_name"), col("kind"), col("con_name"))
    }),

    // ---------------- extension operators: text analysis --------------
    "txt_token_count" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.subwordCountEstimate(col("text")).as("n_subwords"),
        length(col("text")).as("n_chars_measured"))
        .orderBy(col("doc_id"))),

    "txt_wordpiece" -> ((s, dir) => {
      // REAL greedy longest-match WordPiece (expressions.WordpieceTokenize,
      // codegen'd, vocab as one per-partition reference object) over the
      // structured vocab above; per-doc piece counts. Map-only until the
      // per-doc partial-agg'd groupBy — the 100 TB tokenization pass
      // shape. The UNK count is a pinned invariant (a-z words can never
      // fail against a vocab containing every single letter).
      val words = t(s, dir, "documents").select(col("doc_id"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .as("word"))
      words
        .withColumn("p",
          TextAnalysis.wordpiecePieces(col("word"), wordpieceVocab))
        .groupBy(col("doc_id"))
        .agg(
          count(lit(1)).as("n_words"),
          sum(size(col("p")).cast("long")).as("n_pieces"),
          sum(when(size(col("p")) === 1, 1L).otherwise(0L)).as("n_single"),
          sum(when(col("p") === array(lit("[UNK]")), 1L).otherwise(0L))
            .as("n_unk"))
        .orderBy(col("doc_id"))
    }),

    "txt_wordpiece_train" -> ((s, dir) =>
      // the TRAIN side of WordPiece (encode + fertility were already
      // gated): 8 likelihood-gain merges — score = n_pair/(n_a·n_b),
      // the rule that separates WordPiece from BPE (rare-symbol pairs
      // merge first). Driver-side over the word-freq table (the
      // bpeTrainLocal scale contract); the oracle unrolls all 8
      // rounds in SQL, including the ##-aware greedy merge
      // application and the bit-identical IEEE score division.
      TextAnalysis.wordpieceTrainLocal(t(s, dir, "documents"), "text",
          nMerges = 8)
        .orderBy(col("rank"))),

    "txt_chunk_tokens" -> ((s, dir) =>
      // RAG chunking: 64-token windows, stride 48 (16-token overlap);
      // map-only explode from the scan, md5 fingerprints key
      // chunk-level dedup/embedding joins downstream
      TextAnalysis.chunkTokens(t(s, dir, "documents"), "doc_id", "text",
        size = 64, stride = 48)
        .orderBy(col("doc_id"), col("chunk_id"))),

    "txt_wordpiece_fertility" -> ((s, dir) => {
      // per-language subword fertility (pieces per word) — THE metric
      // for how well a tokenizer's vocab fits each language slice of
      // a corpus (high fertility = wasted sequence length). Exact
      // integer counts per language; one double division at the end.
      val words = t(s, dir, "documents").select(col("lang"),
        explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
          .as("word"))
      words
        .withColumn("np",
          size(TextAnalysis.wordpiecePieces(col("word"), wordpieceVocab))
            .cast("long"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
        .select(col("lang"), col("n_words"), col("n_pieces"),
          TextAnalysis.q4(col("n_pieces").cast("double") /
            col("n_words").cast("double")).as("fertility"))
        .orderBy(col("lang"))
    }),

    "txt_quality" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
        .orderBy(col("doc_id"))),

    "txt_lang_id" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))),

    "txt_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))),

    "txt_shingle_fp" -> ((s, dir) =>
      // winnowing-style rolling-hash sketch: min md5 over 8-char
      // shingles of normalized text (staged select: normalization
      // materializes once, not once per shingle)
      t(s, dir, "documents")
        .select(col("doc_id"),
          regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("__norm"))
        .select(col("doc_id"),
          TextAnalysis.shingleFingerprintFromNorm(col("__norm"), 8).as("sfp"))
        .orderBy(col("doc_id"))),

    // ---------------- extension operators: dedup -----------------------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("fp"))),

    "dedup_ngram_jaccard" -> ((s, dir) =>
      // THE corpus-dedup hot path: MinHash-LSH candidates (2-row bands →
      // recall ≈1 at j≥0.8) + exact-Jaccard verify on candidates only.
      // Portable md5 hashing lets the oracle replicate the exact
      // candidate set, so the full pipeline is hash-verified.
      Dedup.ngramJaccardPairsLsh(t(s, dir, "documents"), "doc_id", "text",
        threshold = 0.15, n = 3, numHashes = 16, bands = 8, portable = true)
        .orderBy(col("id_a"), col("id_b"))),

    "dedup_evidence" -> ((s, dir) => {
      // auditable dedup decisions: each verified near-dup pair carries
      // its shared-gram count and the first 3 shared grams (lexical
      // order — engine-independent) as a reviewable evidence string
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairsLsh(docs, "doc_id", "text",
        threshold = 0.15, n = 3, numHashes = 16, bands = 8,
        portable = true)
      Dedup.explainPairs(pairs, docs, "doc_id", "text", n = 3, topK = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dedup_containment" -> ((s, dir) => {
      // directed near-superset detection (doc quoted/embedded in a
      // longer doc — the case Jaccard-targeted LSH structurally
      // misses). Fixture plants an extended copy (original + fixed
      // tail) of every 40th doc; originals are ≥0.9-contained in
      // their extensions. The prefix filter (rarest-gram inverted
      // index) must be lossless: the oracle computes ground truth
      // over ALL gram-sharing pairs, so any candidate the filter
      // dropped would hash-mismatch.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val tail = " quarterly compliance appendix retained for archival reference only"
      val extended = docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 900000L).as("doc_id"),
          concat(col("text"), lit(tail)).as("text"))
      Dedup.containmentPairs(docs.union(extended), "doc_id", "text",
          threshold = 0.9, n = 3)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dedup_incremental_lsh" -> ((s, dir) => {
      // incremental ingest dedup: history (doc_id % 5 ≠ 0) ships a
      // PERSISTED band index; the delta batch (doc_id % 5 = 0) is the
      // only thing tokenized/hashed; result must equal the
      // full-corpus LSH+verify restricted to pairs touching the delta
      // (the oracle runs the full pipeline and filters)
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 5 =!= 0)
      val delta = docs.filter(col("doc_id") % 5 === 0)
      val index = Dedup.lshBands(history, "doc_id", "text",
        numHashes = 16, bands = 8, ngramN = 3, portable = true)
      Dedup.nearDupDelta(index, history, delta, "doc_id", "text",
          threshold = 0.15, n = 3, numHashes = 16, bands = 8,
          portable = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dedup_lpa_delta" -> ((s, dir) => {
      // the INCREMENTAL family composed end to end (the delta twin of
      // curate_documents' batch composition): history's near-dup
      // graph is labeled (the stored table), a delta batch arrives,
      // nearDupDelta derives ONLY the delta-touching edges from the
      // persisted band index, and labelPropagateDelta repairs labels
      // with 2 frontier-restricted warm-start rounds — every stage
      // delta-sized (delta docs hashed, frontier-sized votes), which
      // is the 100 TB contract for continuous ingest. The oracle
      // replays the portable-minhash pipeline into the full LPA
      // unroll.
      val docs = t(s, dir, "documents")
      val history = docs.filter(col("doc_id") % 5 =!= 0)
      val delta = docs.filter(col("doc_id") % 5 === 0)
      // localCheckpoints = the stored-artifact seams made literal
      // (edge tables and the label table are PERSISTED artifacts in
      // the incremental contract); without the cuts every downstream
      // reference re-runs the full LSH+verify pipeline (measured
      // 9.2 s warm vs ~3 s cut)
      val baseEdges = Dedup.ngramJaccardPairsLsh(history, "doc_id",
        "text", threshold = 0.15, n = 3, numHashes = 16, bands = 8,
        portable = true).localCheckpoint()
      val seeds = docs.filter(col("doc_id") % 10 === 1)
        .select(col("doc_id").as("node"), col("doc_id").as("lbl"))
      val stored = graft.operators.Graph.labelPropagate(
          baseEdges, "id_a", "id_b", seeds, "node", "lbl", iters = 2)
        .localCheckpoint()
      val index = Dedup.lshBands(history, "doc_id", "text",
        numHashes = 16, bands = 8, ngramN = 3, portable = true)
      val deltaEdges = Dedup.nearDupDelta(index, history, delta,
        "doc_id", "text", threshold = 0.15, n = 3, numHashes = 16,
        bands = 8, portable = true).localCheckpoint()
      val fullEdges = baseEdges.select(col("id_a"), col("id_b"))
        .unionByName(deltaEdges.select(col("id_a"), col("id_b")))
      graft.operators.Graph.labelPropagateDelta(stored, fullEdges,
          "id_a", "id_b", deltaEdges, seeds, "node", "lbl", rounds = 2)
        ._1.orderBy(col("node"))
    }),

    "dedup_ngram_allpairs" -> ((s, dir) =>
      // ground-truth twin on a BOUNDED audit sample (first 200 ids —
      // constant cost at any sf): unblocked exact all-pairs Jaccard,
      // independently recomputable by the oracle
      Dedup.ngramJaccardAllPairs(
        t(s, dir, "documents").filter(col("doc_id") < 200),
        "doc_id", "text", threshold = 0.15, n = 3)
        .orderBy(col("id_a"), col("id_b"))),

    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
        numHashes = 16, bands = 4, ngramN = 3, portable = true)
        .orderBy(col("id_a"), col("id_b"))),

    "stream_neardup_lsh" -> ((s, dir) => {
      // the STREAMING near-dup twin under the batch oracle: the corpus
      // replays as 3 deterministic micro-batches (stream-prefix
      // fixture), the band index accumulates as keyed state, and the
      // cumulative pair set must equal dedup_minhash_lsh's batch
      // self-join EXACTLY — pair sets are arrival-order independent,
      // which is what makes this twin oracle-gateable. Portable md5
      // signatures (the oracle's replay path); maxBucket uncapped so
      // cap semantics can't fork the comparison.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stream = streamPrefix(s, docs, "doc_id", 3,
        Some(s"$dir|docs3|full"))
      runToMemory(graft.streaming.EventStream.streamingNearDupCandidates(
          stream, "doc_id", "text", numHashes = 16, bands = 4,
          ngramN = 3, maxBucket = Int.MaxValue, portable = true),
        "append")
        .select(col("id_a"), col("id_b")).distinct()
        .orderBy(col("id_a"), col("id_b"))
    }),

    "stream_neardup_ttl" -> ((s, dir) => {
      // the TTL-evicting near-dup candidate index (round 15): band
      // buckets idle past the horizon leave the state store — the
      // NoTimeout twin's total state grows with every distinct bucket
      // ever seen, forever, on a content-churning corpus. Horizon
      // past the synthetic event-time span + a watermark delay
      // spanning the id range (slices are id-mod) → nothing evicts,
      // nothing is late, and the pair set must equal the batch LSH
      // self-join verbatim (the shared oracle).
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          timestamp_seconds(col("doc_id") + 1).as("ts"))
      val stream = streamPrefix(s, docs, "doc_id", 3,
        Some(s"$dir|docs3|full_ts"))
      runToMemory(graft.streaming.EventStream.streamingNearDupCandidatesTtl(
          stream, "doc_id", "text", "ts", ttlMs = 3155760000000L,
          numHashes = 16, bands = 4, ngramN = 3,
          maxBucket = Int.MaxValue, portable = true,
          watermarkDelay = "36500 days"),
        "append")
        .select(col("id_a"), col("id_b")).distinct()
        .orderBy(col("id_a"), col("id_b"))
    }),

    "stream_dedup_exact" -> ((s, dir) => {
      // streaming exact dedup under the oracle: kept = per
      // fingerprint, the min-id row of the EARLIEST micro-batch
      // containing it (the operator keeps min-id within the first
      // batch; slices are doc_id % 3, so the keep rule is
      // argmin(batch_idx, doc_id) — fully deterministic and
      // SQL-replayable because the fixture's batch assignment is a
      // pure function of doc_id).
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val stream = streamPrefix(s, docs, "doc_id", 3,
        Some(s"$dir|docs3|full"))
      runToMemory(graft.streaming.EventStream.streamingExactDedup(
          stream, "doc_id", "text"), "append")
        .select(col("doc_id"), col("text"), col("fp"))
        .orderBy(col("doc_id"))
    }),

    "stream_dedup_ttl" -> ((s, dir) => {
      // the TTL-evicting dedup under the SAME oracle: with a horizon
      // past the synthetic event-time span (and a watermark delay
      // spanning the whole id range — slices are id-mod, not
      // time-contiguous) nothing expires and nothing is late, so the
      // keeper rule must equal streamingExactDedup exactly. The
      // within-horizon/re-admission semantics are spec-driven
      // (EventStreamSpec "TTL dedup").
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          timestamp_seconds(col("doc_id") + 1).as("ts"))
      val stream = streamPrefix(s, docs, "doc_id", 3,
        Some(s"$dir|docs3|full_ts"))
      runToMemory(graft.streaming.EventStream.streamingExactDedupTtl(
          stream, "doc_id", "text", "ts", ttlMs = 3155760000000L,
          watermarkDelay = "36500 days"), "append")
        .select(col("doc_id"), col("text"), col("fp"))
        .orderBy(col("doc_id"))
    }),

    "stream_window_agg" -> ((s, dir) => {
      // watermarked append-mode windowed aggregation under the
      // oracle: the events table streams in 3 slices, tumbling 1-hour
      // windows FINALIZE (and only then emit) when the 2-hour
      // watermark passes their end — so the emitted set is exactly
      // the windows with end <= max(ts) − 2h. Deterministic
      // regardless of slicing: the final watermark is the global max
      // event time, and a window emits in whichever batch first
      // crosses it. The tail windows above the watermark are the
      // documented append-mode loss — the oracle models it, which is
      // the point: watermark semantics themselves are gated.
      // time-contiguous tertile slices (exact integer arithmetic):
      // batch i's rows are all newer than batch i−1's, so nothing is
      // late and the watermark advances like a real in-order stream
      val stream = eventsTertileStream(s, dir,
          Seq("event_id", "ts", "event_type", "value"))
        .withWatermark("ts", "2 hours")
      runToMemory(graft.streaming.EventStream.windowedAgg(
          stream, "1 hour"), "append")
        .withColumn("window_start",
          date_format(col("window_start"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("sum_value", col("sum_value").cast("double"))
        .orderBy(col("window_start"), col("event_type"))
    }),

    "stream_session_window" -> ((s, dir) => {
      // watermarked session windows under the oracle: gap sessions
      // merge across micro-batches in state and FINALIZE when the
      // watermark passes session end (= last event + gap). With
      // time-contiguous slices the emitted set is exactly the batch
      // sessions with end <= max(ts) − 2h: a session old enough to
      // finalize at a batch boundary cannot have a merging
      // continuation (the next batch's events are ≥ 2.5h past its
      // last event — far beyond the 30-minute gap), so cross-batch
      // merging and finalization never disagree with batch.
      val stream = eventsTertileStream(s, dir,
          Seq("event_id", "ts", "user_id", "value"))
        .withWatermark("ts", "2 hours")
      runToMemory(graft.streaming.EventStream.sessionWindowAgg(
          stream, "30 minutes"), "append")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"), col("sum_value").cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("start_us"))
    }),

    "stream_token_drift" -> ((s, dir) => {
      // streaming token counts → batch drift scorer, end to end under
      // the oracle: the odd-doc half streams in 3 micro-batches
      // through cumulative keyed state (one UPDATE row per touched
      // token per batch); the LATEST count per token (max — counts
      // are monotone) must equal the batch wordcount, so scoring
      // against the even-half reference equals profile_top_movers'
      // batch operator exactly.
      val docs = t(s, dir, "documents")
      val live = streamPrefix(s,
        docs.filter(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("text")), "doc_id", 3,
        Some(s"$dir|docs3|odd"))
      val counts = runToMemory(
          graft.streaming.EventStream.streamingTokenCounts(live, "text"),
          "update")
        .groupBy(col("token")).agg(max(col("cnt")).as("cnt"))
      val ref = graft.operators.Profile.tokenCounts(
        docs.filter(col("doc_id") % 2 === 0), "text")
      graft.operators.Profile.scoreDriftCounts(ref, counts, k = 20)
    }),

    "stream_quota_sample" -> ((s, dir) => {
      // the quota-curation loop as a CONTINUOUS job: documents stream
      // in 3 micro-batches; per-source keyed state keeps the cap
      // smallest (salted-md5, id) pairs (O(cap) per stratum) and each
      // batch emits the stratum's current pick set with its running
      // seen count. The latest emission per stratum (max seen) must
      // equal the batch quotaSample over the whole corpus — including
      // cross-batch evictions (a later smaller hash displaces an
      // earlier pick exactly as the batch rank filter would). Oracle:
      // curate_quota_sample's SQL verbatim.
      val docs = t(s, dir, "documents")
      val live = streamPrefix(s,
        docs.select(col("doc_id"), col("source")), "doc_id", 3,
        Some(s"$dir|docs3|quota"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingQuotaSample(
          live, "doc_id", "source", cap = 20), "append")
      val w = Window.partitionBy(col("stratum"))
        .orderBy(col("seen").desc)
      emitted.withColumn("__dr", dense_rank().over(w))
        .filter(col("__dr") === 1)
        .select(col("id").as("doc_id"), col("stratum").as("source"),
          col("pick_rank"))
        .orderBy(col("doc_id"))
    }),

    "stream_quota_ttl" -> ((s, dir) => {
      // TTL-evicting quota sampler (round 15): per-stratum state ages
      // out `ttlMs` after the stratum's last sighting — TOTAL state
      // bounded under stratum churn (per-domain quotas over a crawl's
      // long-tail source column). Event time here is synthetic
      // (timestamp_seconds(doc_id)) and the id-sliced batches are NOT
      // time-contiguous, so the watermark delay spans the whole id
      // range — no row is late, nothing evicts, and the final reduce
      // must equal the batch quotaSample verbatim (the op's documented
      // within-horizon contract; EventStreamSpec drives real
      // evictions).
      val docs = t(s, dir, "documents")
      val live = streamPrefix(s,
        // +1: doc_id 0 would land exactly ON the initial watermark
        // (epoch 0) and be dropped as late by the stateful operator
        docs.select(col("doc_id"), col("source"),
          timestamp_seconds(col("doc_id") + 1).as("ts")), "doc_id", 3,
        Some(s"$dir|docs3|quota_ts"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingQuotaSampleTtl(
          live, "doc_id", "source", "ts", cap = 20,
          ttlMs = 3155760000000L, watermarkDelay = "36500 days"),
        "append")
      val w = Window.partitionBy(col("stratum"))
        .orderBy(col("seen").desc)
      emitted.withColumn("__dr", dense_rank().over(w))
        .filter(col("__dr") === 1)
        .select(col("id").as("doc_id"), col("stratum").as("source"),
          col("pick_rank"))
        .orderBy(col("doc_id"))
    }),

    "stream_weighted_sample" -> ((s, dir) => {
      // continuous A-ES weighted sampling: documents stream in 3
      // micro-batches across 8 deterministic shards whose keyed state
      // keeps per-shard top-200 by the batch operator's exact rank
      // key (state O(shards*k)). Latest emission per shard, then the
      // global top-200 by (key DESC, id) — must equal the batch
      // weightedSample verbatim (the per-shard union necessarily
      // contains the global top-k). Oracle: curate_weighted_sample's
      // SQL verbatim.
      val docs = t(s, dir, "documents")
      val live = streamPrefix(s,
        docs.select(col("doc_id"),
          octet_length(col("text")).as("w")), "doc_id", 3,
        Some(s"$dir|docs3|wsample"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingWeightedSample(
          live, "doc_id", "w", k = 200, shards = 8), "append")
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("seen").desc)
      emitted.withColumn("__dr", dense_rank().over(w))
        .filter(col("__dr") === 1)
        .orderBy(col("wkey").desc, col("id"))
        .limit(200)
        .select(col("id").as("doc_id"), col("w").cast("int").as("w"))
        .orderBy(col("doc_id"))
    }),

    "stream_weighted_ttl" -> ((s, dir) => {
      // TTL variant of the sharded A-ES sampler: a shard idle past the
      // TTL finalizes and resets (a sample-horizon contract — the
      // shard key space is already bounded). Horizon exceeds the
      // synthetic event-time span, so the reduce must equal the batch
      // weightedSample verbatim, same as the NoTimeout twin.
      val docs = t(s, dir, "documents")
      val live = streamPrefix(s,
        // +1: see stream_quota_ttl — epoch-0 event time is late
        docs.select(col("doc_id"),
          octet_length(col("text")).as("w"),
          timestamp_seconds(col("doc_id") + 1).as("ts")), "doc_id", 3,
        Some(s"$dir|docs3|wsample_ts"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingWeightedSampleTtl(
          live, "doc_id", "w", "ts", k = 200,
          ttlMs = 3155760000000L, shards = 8,
          watermarkDelay = "36500 days"), "append")
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("seen").desc)
      emitted.withColumn("__dr", dense_rank().over(w))
        .filter(col("__dr") === 1)
        .orderBy(col("wkey").desc, col("id"))
        .limit(200)
        .select(col("id").as("doc_id"), col("w").cast("int").as("w"))
        .orderBy(col("doc_id"))
    }),

    "stream_sync_apply" -> ((s, dir) => {
      // CONTINUOUS CDC SYNC end to end under the batch oracle — the
      // streaming twin of c16_sync_apply and the reference's third
      // capability (the incremental Kettle job, pl:4269–5032): the
      // classified diff (new/changed/deleted) streams as CDC rows in
      // 3 micro-batches into continuousSyncWriter's foreachBatch
      // upsert/delete loop against a real JDBC target (in-memory
      // Derby, generic dialect) seeded with the diff fixture's target
      // state. Batch assignment is pmod(pk, 3) — each key changes at
      // most once, and upserts/deletes are keyed, so arrival order
      // across batches cannot fork the final state. The final target
      // table must equal the source table — c16's own oracle SQL,
      // verbatim. Insert, update AND delete tombstones are all
      // exercised by construction (keys %10==3 are new, %7==0 are
      // changed, %10==4 are deleted).
      val url =
        if (!memoStreamInnerEnabled) buildSyncTarget(s, dir)
        else syncTargetUrls.computeIfAbsent(dir, _ => buildSyncTarget(s, dir))
      s.read.format("jdbc").option("url", url)
        .option("dbtable", "SYNC_TARGET").load()
        // Derby uppercases unquoted identifiers on read-back
        .select(col("O_ORDERKEY").as("o_orderkey"),
          col("O_CUSTKEY").as("o_custkey"),
          col("O_TOTALPRICE").as("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    "stream_scd2_apply" -> ((s, dir) => {
      // STREAMING SCD2: the classified CDC stream folds micro-batch
      // by micro-batch into the versioned dimension via
      // Scd2.applyCdc (delta semantics: absence = no news; deletes
      // are explicit tombstones) — foreachBatch + merge, the
      // production MERGE-INTO shape. Each key changes at most once
      // across the stream, so the folded result must equal ONE batch
      // apply2 of the full snapshot — c20_scd2_apply's own oracle,
      // verbatim. Exercises close-reopen (changed), insert (new) and
      // close-only (deleted tombstone) version chaining.
      (if (!memoStreamInnerEnabled) buildScd2Stream(s, dir)
       else scd2StreamResults.getOrBuild(s, dir, buildScd2Stream(s, dir)))
        .orderBy(col("o_orderkey"), col("valid_from"), col("is_current"))
    }),

    "stream_graph_ingest" -> ((s, dir) => {
      // STREAMING GRAPH-INDEX INGEST end to end under the brute-force
      // oracle — the stream_sync_apply pattern for the vector store:
      // the planted ANN corpus streams in 3 micro-batches (pmod(id,3)
      // slices; the exactness contract is insertion-order
      // independent, so slice assignment is free to be arbitrary)
      // through streamingGraphIngest's foreachBatch into the parquet
      // cell store — each batch probes only its touched cells, builds
      // via search-and-link against the FROZEN quantizer, and
      // dynamic-overwrites those partitions. The search over the
      // STREAMED store at full-probe exactness (ef ≥ any cell
      // population) must equal brute force over the whole corpus —
      // the same plantedAnnOracle every batch ANN gate runs, which
      // passes iff every streamed vector landed in the right cell
      // with a walkable graph.
      val idxDir = graphIngestStore(s, dir)
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      Similarity.graphAnnTopKIndexed(graft.streaming.VectorStore.read(s, idxDir), "vec_id",
          "embedding", queries, "query_id", "qvec", k = 5, cents,
          nprobe = 4, ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "stream_vector_sync" -> ((s, dir) => {
      // FULL CDC LOOP on the vector store — continuousSyncWriter's
      // shape aimed at the graph index: the base store holds the
      // naturals plus CORRUPTED (negated, rank-bottom) twins for
      // bands 1–3 and no twins for bands 4–5; the CDC stream then
      // upserts the TRUE vectors of bands 1, 3, 5 (1 and 3 are
      // UPDATES that must move the node across cells — the negated
      // vector sits in a different quantizer cell — and 5 is an
      // INSERT) and deletes bands 2 and 4 (2 removes an existing
      // node, 4 is a tombstone for an id that never existed → no-op).
      // Final store = naturals + true twins of bands 1/3/5, so the
      // top-3 search equals the remove oracle (brute force minus
      // bands 2/4) — which holds iff all four CDC paths applied.
      val idxDir =
        if (!memoStreamInnerEnabled) buildVectorSyncStore(s, dir)
        else vectorSyncDirs.computeIfAbsent(dir,
          _ => buildVectorSyncStore(s, dir))
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      Similarity.graphAnnTopKIndexed(graft.streaming.VectorStore.read(s, idxDir), "vec_id",
          "embedding", queries, "query_id", "qvec", k = 3, cents,
          nprobe = 4, ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_store_changes" -> ((s, dir) => {
      // ROW-LEVEL CHANGE FEED under the oracle (round 15 — the Delta
      // table_changes move, completing the store's operational triad
      // next to snapshot isolation and time travel): the embeddings
      // corpus lands in an IVF store as one committed batch, then a
      // tombstone batch deletes vec_id % 37 == 0. readChanges between
      // the two versions must report EXACTLY those rows as removes
      // and nothing else — the touched partitions were REWRITTEN
      // (survivors re-land byte-identical in a fresh segment), so
      // every survivor must cancel out of the feed, and untouched
      // partitions are never read at all (cost O(changed partitions),
      // the property that makes polling the feed cheaper than
      // re-scanning a 100 TB store).
      val (idxDir, vPre, vPost) =
        storeChangesDirs.computeIfAbsent(dir, _ => {
          val corpus = t(s, dir, "embeddings").select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double"))
              .as("embedding"))
          val cents = Similarity.ivfCentroids(corpus, "vec_id",
            "embedding", 16)
          val store = trackStreamTmp(
            java.nio.file.Files.createTempDirectory("graft_chg_idx"))
          graft.streaming.VectorIngest.ingestBatch(corpus, "vec_id",
            "embedding", cents, store.toString, batchId = 0L)
          val v1 = graft.streaming.VectorStore.version(s, store.toString)
          graft.streaming.VectorIngest.removeIvfBatch(
            corpus.filter(col("vec_id") % 37 === 0)
              .select(col("vec_id")),
            "vec_id", store.toString)
          (store.toString, v1,
            graft.streaming.VectorStore.version(s, store.toString))
        })
      graft.streaming.VectorStore.readChanges(s, idxDir, vPre, vPost)
        .select(col("_change_type").as("change_type"), col("vec_id"))
        .orderBy(col("vec_id"))
    }),

    "sim_store_snapshot" -> ((s, dir) => {
      // SNAPSHOT ISOLATION under the oracle: pin the store's manifest
      // BEFORE a CDC sync, apply the sync, then run the SAME top-3
      // search over (a) the pinned entries and (b) a fresh read. The
      // base store holds the naturals + true twins of bands 1-3; the
      // sync deletes band 1 and inserts band 4 — so the pinned search
      // must return the OLD planted ranking (bands 1,2,3; the pinned
      // files were superseded, never rewritten) while the fresh read
      // returns the NEW one (bands 2,3,4). The oracle is closed-form
      // planted arithmetic: pinned rank r -> query+r*100000, fresh
      // rank r -> query+(r+1)*100000. This is the reader-races-writer
      // guarantee as a hash gate, not just a spec.
      val (pinnedEntries, schemaJson, idxDir) =
        storeSnapshotDirs.computeIfAbsent(dir, _ => {
          val (corpus, _) = plantedAnnFixture(s, dir)
          val cents = Similarity.ivfCentroids(corpus, "vec_id",
            "embedding", 16)
          val band = floor(col("vec_id") / 100000L)
          val base = corpus.filter(band <= 3)
          val idx = trackStreamTmp(
            java.nio.file.Files.createTempDirectory("graft_snap_idx"))
          Similarity.graphAnnBuild(base, "vec_id", "embedding", cents,
              degree = 8, efConstruction = 64)
            .write.mode("overwrite").partitionBy("cell")
            .parquet(idx.toString)
          val snap = graft.streaming.VectorStore
            .adopt(s, idx.toString).get
          // the sync commits AFTER the pin: delete band 1, insert the
          // true band-4 twins
          val cdc = corpus.filter(band === 1)
            .select(col("vec_id"), col("embedding"),
              lit("delete").as("op"))
            .unionByName(corpus.filter(band === 4)
              .select(col("vec_id"), col("embedding"),
                lit("upsert").as("op")))
          graft.streaming.VectorIngest.syncGraphBatch(cdc, "vec_id",
            "embedding", "op", cents, idx.toString, degree = 8,
            efConstruction = 64)
          (snap.entries, snap.schemaJson, idx.toString)
        })
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      def topk(store: DataFrame, label: String) =
        Similarity.graphAnnTopKIndexed(store, "vec_id", "embedding",
            queries, "query_id", "qvec", k = 3, cents, nprobe = 4,
            ef = 1024)
          .select(lit(label).as("snap"), col("query_id"), col("rank"),
            col("vec_id").as("neighbor_id"))
      topk(graft.streaming.VectorStore.readEntries(s, idxDir,
          pinnedEntries, schemaJson), "pinned")
        .unionByName(topk(
          graft.streaming.VectorStore.read(s, idxDir), "fresh"))
        .orderBy(col("snap"), col("query_id"), col("rank"))
    }),

    "stream_pattern_match" -> ((s, dir) => {
      // order-contracted streaming twin of events_pattern_match with
      // BOUNDED keyed state: per-user state is the incremental Pike-VM
      // automaton state (graft.streaming.PikeRegex — O(NFA states)
      // per user, independent of journey length), fed each batch's
      // chars once in (ts, event_id) order; pattern runs spanning
      // micro-batch boundaries count exactly once because the threads
      // carry across the boundary (time-contiguous tertile slices
      // satisfy the arrival contract). The cumulative append sink
      // reduces to the final state by argmax(n_events); must equal
      // the batch oracle verbatim.
      val stream = eventsTertileStream(s, dir,
        Seq("user_id", "ts", "event_type", "event_id"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingSequencePattern(
          stream, "user_id", "event_type", "ts", "event_id",
          (t: String) => t match {
            case "view" => "v"; case "click" => "c"
            case "purchase" => "p"; case "signup" => "s"
            case _ => "e"
          }, "v[ce]*p"), "append")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n_events").desc)
      emitted.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("n_matches") > 0)
        .select(col("user_id"), col("n_events"), col("n_matches"))
        .orderBy(col("user_id"))
    }),

    "stream_pattern_ttl" -> ((s, dir) => {
      // the TTL-EVICTING pattern matcher (round 15): identical
      // semantics to stream_pattern_match WITHIN the TTL horizon —
      // here the horizon (100 years) exceeds the fixture span, so no
      // key evicts and the result must be bit-identical to the
      // NoTimeout twin under the same batch oracle. TOTAL state is
      // bounded by keys active inside one horizon (the NoTimeout twin
      // accumulates dormant users forever — EventStreamSpec drives
      // real evictions; ScaleSmoke's churn column measures flatness).
      val stream = eventsTertileStream(s, dir,
        Seq("user_id", "ts", "event_type", "event_id"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingSequencePatternTtl(
          stream, "user_id", "event_type", "ts", "event_id",
          (t: String) => t match {
            case "view" => "v"; case "click" => "c"
            case "purchase" => "p"; case "signup" => "s"
            case _ => "e"
          }, "v[ce]*p", ttlMs = 3155760000000L), "append")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("n_events").desc)
      emitted.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1 && col("n_matches") > 0)
        .select(col("user_id"), col("n_events"), col("n_matches"))
        .orderBy(col("user_id"))
    }),

    "stream_funnel" -> ((s, dir) => {
      // the ORDER-CONTRACTED streaming funnel under the batch oracle:
      // the in-order-arrival contract (streamingFunnel's scaladoc) is
      // satisfied by the same time-contiguous tertile slices as the
      // watermarked gates — batch i's events are all newer than batch
      // i−1's, so per-user arrival is event-time-ordered and a tie
      // can never split across a boundary (equal ts → same slice).
      // Per user the emitted max_step strictly increases (in-order
      // arrival means steps only ever FILL upward), so the cumulative
      // append sink reduces to the final state by argmax(max_step) —
      // which must equal the batch funnel (events_funnel's oracle
      // verbatim).
      val stream = eventsTertileStream(s, dir,
        Seq("user_id", "ts", "event_type"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingFunnel(
          stream.withColumn("ts_us", unix_micros(col("ts"))),
          "user_id", "event_type", "ts_us",
          Seq("view", "click", "purchase")), "append")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("max_step").desc)
      emitted.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"),
          element_at(col("steps_us"), 1).as("step1_us"),
          element_at(col("steps_us"), 2).as("step2_us"),
          element_at(col("steps_us"), 3).as("step3_us"),
          col("max_step"))
        .orderBy(col("user_id"))
    }),

    "stream_funnel_ttl" -> ((s, dir) => {
      // TTL twin of stream_funnel: dormant users re-emit their final
      // (steps, max_step) row on eviction and leave the state store;
      // horizon past the fixture span → equals the batch funnel
      // oracle verbatim. Takes the raw ts column (the TTL variant
      // derives step microseconds itself — the watermark needs the
      // event-time column).
      val stream = eventsTertileStream(s, dir,
        Seq("user_id", "ts", "event_type"))
      val emitted = runToMemory(
        graft.streaming.EventStream.streamingFunnelTtl(
          stream, "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"),
          ttlMs = 3155760000000L), "append")
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("max_step").desc)
      emitted.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("user_id"),
          element_at(col("steps_us"), 1).as("step1_us"),
          element_at(col("steps_us"), 2).as("step2_us"),
          element_at(col("steps_us"), 3).as("step3_us"),
          col("max_step"))
        .orderBy(col("user_id"))
    }),

    "stream_cohort_retention" -> ((s, dir) => {
      // streaming cohort twin under the batch oracle: per-user keyed
      // state emits one delta row per first (user, period-offset)
      // sighting; in-order arrival (time-contiguous slices) fixes the
      // cohort at the user's true first event. The downstream
      // retention matrix is the documented additive consumer — count
      // of deltas per cell — and must equal the batch
      // events_cohort_retention oracle verbatim (periodDays=1, the
      // dense ~450-cell daily matrix).
      val stream = eventsTertileStream(s, dir, Seq("user_id", "ts"))
      // localCheckpoint: the retention matrix SELF-JOINS the delta
      // table (cells ⋈ sizes) and a MemoryPlan view reuses the same
      // attribute ids on both sides — the analyzer dies with
      // "conflicting references". The cut also matches the consumer
      // contract (the matrix reads the STORED delta log).
      val deltas = runToMemory(
        graft.streaming.EventStream.streamingCohortActivity(
          stream, "user_id", "ts", periodDays = 1), "append")
        .localCheckpoint()
      val cells = deltas
        .groupBy(col("cohort_period"), col("period_offset"))
        .agg(count(lit(1)).as("n_active"))
      val sizes = cells.filter(col("period_offset") === 0)
        .select(col("cohort_period"), col("n_active").as("n_cohort"))
      cells.join(broadcast(sizes), "cohort_period")
        .select(col("cohort_period"), col("period_offset"),
          col("n_active"), col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort"))
            .as("retention_rate"))
        .orderBy(col("cohort_period"), col("period_offset"))
    }),

    "stream_cohort_ttl" -> ((s, dir) => {
      // TTL twin of stream_cohort_retention: dormant users' (cohort,
      // offsets) state evicts silently (re-emitting deltas would
      // double-count the additive matrix); horizon past the fixture
      // span → equals the batch cohort oracle verbatim.
      val stream = eventsTertileStream(s, dir, Seq("user_id", "ts"))
      val deltas = runToMemory(
        graft.streaming.EventStream.streamingCohortActivityTtl(
          stream, "user_id", "ts", ttlMs = 3155760000000L,
          periodDays = 1), "append")
        .localCheckpoint()
      val cells = deltas
        .groupBy(col("cohort_period"), col("period_offset"))
        .agg(count(lit(1)).as("n_active"))
      val sizes = cells.filter(col("period_offset") === 0)
        .select(col("cohort_period"), col("n_active").as("n_cohort"))
      cells.join(broadcast(sizes), "cohort_period")
        .select(col("cohort_period"), col("period_offset"),
          col("n_active"), col("n_cohort"),
          (col("n_active").cast("double") / col("n_cohort"))
            .as("retention_rate"))
        .orderBy(col("cohort_period"), col("period_offset"))
    }),

    "stream_transitions" -> ((s, dir) => {
      // the keyed last-event-state transition twin under the batch
      // oracle: time-contiguous slices give per-user (ts, event_id)
      // arrival order globally (equal ts → same slice; within a batch
      // the operator sorts by (ts, eid) itself), so the cumulative
      // emitted pairs are exactly the batch lag-1 pairs; the matrix
      // aggregation downstream is transitionMatrix's own.
      val stream = eventsTertileStream(s, dir,
        Seq("event_id", "ts", "user_id", "event_type"))
      // localCheckpoint: totals self-joins the delta-derived cells
      // (the MemoryPlan conflicting-references trap, as in the cohort
      // gate) and the matrix reads the STORED pair log by contract
      val pairs = runToMemory(
        graft.streaming.EventStream.streamingTransitions(
          stream, "user_id", "event_type", "ts", "event_id"), "append")
        .localCheckpoint()
      val cells = pairs.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy(col("from_type"))
        .agg(sum(col("n")).as("__tot"))
      cells.join(broadcast(totals), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          (floor(col("n").cast("double") / col("__tot").cast("double")
            * 10000) / 10000).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    "stream_transitions_ttl" -> ((s, dir) => {
      // TTL twin of stream_transitions (round 15): dormant users
      // leave the state store; horizon past the fixture span → the
      // cumulative pairs equal the batch lag-1 pairs verbatim under
      // the same oracle. Same tertile fixture, same reduce.
      val stream = eventsTertileStream(s, dir,
        Seq("event_id", "ts", "user_id", "event_type"))
      val pairs = runToMemory(
        graft.streaming.EventStream.streamingTransitionsTtl(
          stream, "user_id", "event_type", "ts", "event_id",
          ttlMs = 3155760000000L), "append")
        .localCheckpoint()
      val cells = pairs.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      val totals = cells.groupBy(col("from_type"))
        .agg(sum(col("n")).as("__tot"))
      cells.join(broadcast(totals), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          (floor(col("n").cast("double") / col("__tot").cast("double")
            * 10000) / 10000).as("p"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    "stream_path_ngrams" -> ((s, dir) => {
      // the bounded last-(n−1)-types keyed-state path twin under the
      // batch top-paths oracle — same arrival-order argument as
      // stream_transitions; the additive counter + TakeOrdered k is
      // the documented downstream consumer
      val stream = eventsTertileStream(s, dir,
        Seq("event_id", "ts", "user_id", "event_type"))
      runToMemory(
        graft.streaming.EventStream.streamingPathNgrams(
          stream, "user_id", "event_type", "ts", "event_id", n = 3),
        "append")
        .groupBy(col("path")).agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("path").asc)
        .limit(10)
    }),

    "stream_path_ngrams_ttl" -> ((s, dir) => {
      // TTL twin of stream_path_ngrams: dormant users' type windows
      // evict (nothing re-emits — the path log is a delta stream and
      // a re-emission would double the additive counter); horizon
      // past the fixture span → equals the batch top-paths oracle.
      val stream = eventsTertileStream(s, dir,
        Seq("event_id", "ts", "user_id", "event_type"))
      runToMemory(
        graft.streaming.EventStream.streamingPathNgramsTtl(
          stream, "user_id", "event_type", "ts", "event_id",
          ttlMs = 3155760000000L, n = 3), "append")
        .groupBy(col("path")).agg(count(lit(1)).as("n_paths"))
        .orderBy(col("n_paths").desc, col("path").asc)
        .limit(10)
    }),

    "dedup_script_routed" -> ((s, dir) => {
      // script-routed dedup composition: docs with doc_id % 100 ∈
      // {96, 97} are replaced by planted 30-char pure-CJK twins over a
      // 20-char alphabet (a twin pair shares base = floor(id/2); the
      // odd twin perturbs position 15). The planted docs are
      // whitespace-free, so the word route sees ONE token and word
      // n-grams miss the near-dup — the router must send them down the
      // char-shingle path. Everything else keeps the corpus text and
      // routes to word n-grams (same params as dedup_ngram_jaccard).
      val alpha = "日月山川水火木金土人心手口目耳車門馬魚鳥"
      val isCjk = col("doc_id") % 100 === 96 || col("doc_id") % 100 === 97
      val base = floor(col("doc_id") / lit(2.0)).cast("long")
      val chars = (0 until 30).map { i =>
        val perturb =
          if (i == 15) when(col("doc_id") % 2 === 1, lit(3L)).otherwise(lit(0L))
          else lit(0L)
        val idx = pmod(base * 7 + lit(i.toLong * 13) + perturb, lit(20L))
          .cast("int")
        lit(alpha).substr(idx + 1, lit(1))
      }
      val text2 = when(isCjk, concat(chars: _*)).otherwise(col("text"))
      Dedup.scriptRoutedNearDups(
        t(s, dir, "documents").select(col("doc_id"), text2.as("text")),
        "doc_id", "text", wordThreshold = 0.15, charThreshold = 0.5,
        wordN = 3, charK = 3, numHashes = 16, bands = 8, portable = true)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dedup_simhash_hamming" -> ((s, dir) =>
      // pigeonhole blocks: pairs within Hamming distance 3 of the
      // 60-bit portable simhash; the oracle replays blocks, xor and
      // bit_count exactly
      Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text",
        radius = 3)
        .orderBy(col("id_a"), col("id_b"))),

    "dedup_simhash" -> ((s, dir) =>
      // portable mode: per-token 60-bit md5-derived hash, bit-vote
      // signature — the oracle recomputes the identical simhash
      Dedup.simhashGroups(t(s, dir, "documents"), "doc_id", "text",
        portable = true)
        .orderBy(col("simhash"))),

    // ---------------- extension operators: similarity search ----------
    "sim_random_projection" -> ((s, dir) => {
      // JL sign-matrix projection 64 → 8 dims: map-only nested folds,
      // md5-derived signs the oracle replays; the dimension-reduction
      // front end for every downstream ANN/near-dup shuffle
      val proj = Similarity.randomProject(col("embedding"), k = 8,
        dims = 64)
      t(s, dir, "embeddings")
        .select(col("vec_id"), proj.as("__p"))
        .select(col("vec_id") +: (0 until 8).map(j =>
          TextAnalysis.q4(element_at(col("__p"), j + 1)).as(s"p$j")): _*)
        .orderBy(col("vec_id"))
    }),

    "sim_label_centroids" -> ((s, dir) =>
      // per-label class prototypes: one (label, dim) partial-agg'd
      // shuffle, decimal accumulation for cross-engine determinism
      Similarity.labelCentroids(t(s, dir, "embeddings"),
        "label", "embedding")
        .orderBy(col("label"), col("dim"))),

    "sim_perceptron_train" -> ((s, dir) => {
      // distributed quality-classifier training: 3 full-batch
      // perceptron epochs on integer-quantized embeddings (labels
      // 0–4 = +1 vs 5–9 = −1) — all-integer arithmetic, so the
      // trained weights replay bit-for-bit in the oracle's 3
      // unrolled iterations
      val emb = t(s, dir, "embeddings")
        .select(when(col("label") < 5, lit(1L)).otherwise(lit(-1L)).as("y"),
          col("embedding"))
      Similarity.perceptronTrain(emb, "embedding", "y",
          dims = 64, iters = 3)
        .orderBy(col("dim"))
    }),

    "sim_perceptron_classify" -> ((s, dir) => {
      // end-to-end train→score: the trained weights broadcast back
      // over the corpus as a map-side integer dot product; per true
      // label, how many rows the classifier keeps (score > 0) — the
      // corpus-filtering pass of a quality classifier, all exact
      val emb = t(s, dir, "embeddings")
        .select(col("label"),
          when(col("label") < 5, lit(1L)).otherwise(lit(-1L)).as("y"),
          col("embedding"))
      val w = Similarity.perceptronTrain(emb, "embedding", "y",
        dims = 64, iters = 3)
      Similarity.scoreLinear(emb, "embedding", w, dims = 64)
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("score") > 0, 1L).otherwise(0L)).as("n_kept"))
        .orderBy(col("label"))
    }),

    "sim_nearest_centroid" -> ((s, dir) => {
      // nearest-centroid classification composed from labelCentroids:
      // centroid vectors reassembled per label (tiny → broadcast), one
      // map-side cosine per (vector, label), argmax via a partial-agg'd
      // struct max — no window shuffle, no driver loop
      val emb = t(s, dir, "embeddings")
      val cvecs = Similarity.labelCentroids(emb, "label", "embedding")
        .groupBy(col("label").as("cand_label"))
        .agg(transform(
          array_sort(collect_list(struct(col("dim"), col("centroid")))),
          c => c.getField("centroid")).as("cvec"))
      emb.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cvecs))
        .select(col("vec_id"), col("cand_label"),
          TextAnalysis.q4(
            Similarity.cosine(col("embedding"), col("cvec"))).as("cos_q"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cos_q"),
          (-col("cand_label")).as("__nl"),
          col("cand_label").as("__l"))).as("__m"))
        .select(col("vec_id"), col("__m.__l").as("pred_label"),
          col("__m.cos_q").as("cos_sim"))
        .orderBy(col("vec_id"))
    }),

    "sim_ann_bruteforce" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          TextAnalysis.q4(col("cos")).as("cos_sim"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ann_quantized" -> ((s, dir) => {
      // int8-quantized cosine top-k: per-vector scales cancel in the
      // cosine, so candidate scoring is exact integer dot products over
      // 4×-smaller codes — bit-reproducible across engines, which float
      // cosine is not
      val emb = t(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.quantizedTopK(emb, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
          TextAnalysis.q4(col("cos")).as("approx_cos"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ann_pq" -> ((s, dir) => {
      // product-quantization ADC top-5 (Jégou 2011): m=8 subspaces ×
      // k=16 id-stride codebooks over the 64-dim embeddings; corpus
      // scores as 8 integer table lookups over its codes — vectors are
      // never read at query time. Distances carried as nano-unit longs
      // so encode, LUT and totals replay exactly in the oracle.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val books = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.pqTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", books, k = 5)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("dist_nano"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ann_lsh" -> ((s, dir) => {
      // banded sign-LSH scale path. Fixture: plant 5 perturbed copies
      // per query (cos ≈0.9989–0.99996, portable integer-noise formula)
      // so the true top-5 is known and high-similarity; with 8 bands ×
      // 16 rows the per-neighbor miss probability is ~4e-6, so LSH
      // top-5 equals the brute-force oracle's top-5 deterministically.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      Similarity.lshTopK(corpus, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, bands = 8, rowsPerBand = 16)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ann_ivf" -> ((s, dir) => {
      // IVF scale path over the same planted fixture: coarse cells from
      // deterministically sampled centroids, queries probe their 4
      // nearest cells. The planted near-copies (cos ≥0.9989) land in
      // the query's own cell, so IVF top-5 equals the brute-force
      // oracle exactly.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      Similarity.ivfTopK(corpus, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ivf_hier" -> ((s, dir) => {
      // two-level quantizer assignment (the IVF scale path's OWN
      // scale path: ~O(sqrt(nlist)) centroid dots per vector, for the
      // nlist ∝ corpus contract): centroids grouped under 4
      // super-centroids, corpus assigned at wprobe=2, search over the
      // two-level index. The planted ~0.002-perturbation copies
      // quantize like their query under ANY deterministic quantizer,
      // so top-5 must still equal the brute-force oracle — exactly
      // the sim_ann_ivf/sim_ivf_append contract. wprobe=2 (not 1):
      // at sf0.1 a handful of the 1000 queries' copies sat on a
      // supergroup knife edge at wprobe=1 and quantized into a cell
      // outside the query's flat nprobe=4 probe set — the exact
      // approximation mode the wprobe knob exists to buy back
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      val (supers, members) = Similarity.ivfGroups(cents, 4)
      val index = Similarity.ivfAssignmentsTwoLevel(corpus, "vec_id",
        "embedding", cents, supers, members, wprobe = 2)
      Similarity.ivfTopKIndexed(index, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ann_graph" -> ((s, dir) => {
      // graph-based ANN (NSW family), IVF-routed: cell-local
      // small-world graphs built and walked inside ONE cogroup on the
      // cell id; the high-recall/low-latency regime the flat scan
      // family doesn't cover. Gate runs the walk in its EXACTNESS
      // regime (ef ≥ any cell population → the best-first walk
      // provably visits the whole connected cell graph), so top-5
      // equals the brute-force oracle exactly — the
      // NearestCellTwoLevel full-probe convention; the approximate
      // small-ef regime is spec-pinned (recall on the planted
      // fixture).
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      Similarity.graphAnnTopK(corpus, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4,
          degree = 8, ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ann_graph_indexed" -> ((s, dir) => {
      // the STORED-INDEX half: graphAnnBuild materializes the
      // cell-local NSW graphs as a table (localCheckpoint = the
      // stored-artifact seam), graphAnnTopKIndexed walks them with no
      // rebuild — the ivfAssignments/ivfTopKIndexed relationship,
      // graph edition. Same exactness regime as sim_ann_graph, same
      // brute-force oracle.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      val index = Similarity.graphAnnBuild(corpus, "vec_id", "embedding",
        cents, degree = 8, efConstruction = 64).localCheckpoint()
      Similarity.graphAnnTopKIndexed(index, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4,
          ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ann_graph_append" -> ((s, dir) => {
      // incremental graph-index ingest (the sim_ivf_append contract,
      // graph edition): the base index is built WITHOUT the planted
      // twins, which then arrive as a delta and INSERT into the
      // stored cell graphs via search-and-link against the frozen
      // quantizer — untouched cells pass through unchanged. The
      // search over the appended index must still equal brute force
      // over the full corpus (the exactness regime is insertion-order
      // independent), i.e. the appended twins are immediately
      // findable at their true ranks.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val delta = corpus.join(emb.select(col("vec_id")),
        Seq("vec_id"), "left_anti") // = the planted twins
      val base = Similarity.graphAnnBuild(emb, "vec_id", "embedding",
        cents, degree = 8, efConstruction = 64)
      val appended = Similarity.graphAnnAppend(base, delta, "vec_id",
        "embedding", cents, degree = 8, efConstruction = 64)
        .localCheckpoint()
      Similarity.graphAnnTopKIndexed(appended, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4,
          ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ann_graph_remove" -> ((s, dir) => {
      // DELETE path of the stored graph index — the lifecycle op the
      // reference applies as a first-class sync action
      // (sqlserver2pgsql.pl:4645–4647 order_delete): tombstone two of
      // the five planted twins per query (the (k+1)-band 2 and 4
      // ids), graphAnnRemove rebuilds ONLY the touched cells over the
      // survivors in id order (≡ fresh build of all − set; the spec
      // pins the byte equality), and the top-3 search must equal
      // brute force over the survivors — ranks 1..3 become the twins
      // k = 0, 2, 4. Sensitive to the delete by construction: an
      // unapplied tombstone leaves k=1 at rank 2.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      val index = Similarity.graphAnnBuild(corpus, "vec_id", "embedding",
        cents, degree = 8, efConstruction = 64)
      val dead = corpus
        .filter(floor(col("vec_id") / 100000L).isin(2, 4))
        .select(col("vec_id"))
      val removed = Similarity.graphAnnRemove(index, dead, "vec_id",
        "embedding", degree = 8, efConstruction = 64).localCheckpoint()
      Similarity.graphAnnTopKIndexed(removed, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 3, cents, nprobe = 4,
          ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ivf_remove" -> ((s, dir) => {
      // flat-index twin of sim_ann_graph_remove: ivfRemove drops the
      // tombstoned assignment rows (one broadcast anti-join — IVF
      // postings carry no inter-row links, so no rebuild), search
      // over the survivors equals brute force minus the removed set.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      val index = Similarity.ivfAssignments(corpus, "vec_id", "embedding",
        cents)
      val dead = corpus
        .filter(floor(col("vec_id") / 100000L).isin(2, 4))
        .select(col("vec_id"))
      val removed = Similarity.ivfRemove(index, dead, "vec_id")
      Similarity.ivfTopKIndexed(removed, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 3, cents, nprobe = 4)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ivf_compact" -> ((s, dir) => {
      // STORE COMPACTION under the search oracle — the small-files
      // maintenance op for the streamed IVF store: the planted corpus
      // lands via 3 ingestBatch calls (3 ingest_batch=N partition
      // sets, exactly what a streaming ingest accumulates), then
      // compactIvfStore folds them into the canonical
      // ingest_batch=-1 cell-clustered base segment (one file per
      // cell; folded batch dirs deleted). The search over the
      // COMPACTED store must equal brute force — which holds iff
      // compaction lost no row, duplicated no row, and kept every
      // cell assignment intact. The file-count collapse itself is
      // asserted in the spec and measured in ScaleSmoke.
      val idxDir = ivfCompactStore(s, dir)
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      Similarity.ivfTopKIndexed(graft.streaming.VectorStore.read(s, idxDir), "vec_id",
          "embedding", queries, "query_id", "qvec", k = 5, cents,
          nprobe = 4)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ivf_probe_read" -> ((s, dir) => {
      // the 10⁶-partition search path end-to-end: the query set's
      // probe cells are computed driver-side from the quantizer
      // (≤ nlist values), VectorStore.readPartitions serves ONLY those
      // cells — checkpoint-shard-pruned, O(probed shards) manifest
      // bytes, never a full entry-list resolution — and the search
      // over the slice must equal brute force. That holds iff the
      // probe listing is exactly the probed cells' live entries AND
      // probedCells agrees with the cells ivfTopKIndexed explodes
      // internally (same probeCells expression by construction).
      // Shares sim_ivf_compact's store: the slice read must see the
      // post-compaction manifest, not any folded batch dir.
      val idxDir = ivfCompactStore(s, dir)
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      graft.streaming.VectorSearch.ivfTopK(s, idxDir, queries,
          "query_id", "qvec", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ann_graph_probe" -> ((s, dir) => {
      // the probe read composed with the STORED-GRAPH index (the
      // high-recall family): same slice discipline as
      // sim_ivf_probe_read but the per-cell answer comes from the
      // persisted NSW walk, so the gate fails if the probe listing
      // drops a cell the walk needs OR the stored neighbors column
      // doesn't survive the partition-pruned read. Shares
      // stream_graph_ingest's streamed store — the probe path must
      // work against a store built by a foreachBatch channel, not
      // just batch ingest.
      val idxDir = graphIngestStore(s, dir)
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      graft.streaming.VectorSearch.graphAnnTopK(s, idxDir, queries,
          "query_id", "qvec", k = 5, cents, nprobe = 4, ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ann_graph_refined" -> ((s, dir) => {
      // graph ANN under a REFINED quantizer (the skew guard in the
      // oracle set): cells above 2× the mean population re-quantize
      // with Lloyd-trained sub-centroids (refineCentroids), and the
      // search runs against the refined centroid array. The planted
      // near-copies quantize with their query under ANY deterministic
      // quantizer (the fixture contract), so the top-5 must still
      // equal brute force — which holds iff assignment and probe both
      // use the refined quantizer consistently.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      val nCorpus = corpus.count()
      val refined = Similarity.refineCentroids(corpus, "vec_id",
        "embedding", cents, maxPop = math.max(2L * nCorpus / 16, 1L))
      Similarity.graphAnnTopK(corpus, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, refined, nprobe = 4,
          degree = 8, ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_graph_lifecycle" -> ((s, dir) => {
      // the WHOLE index lifecycle composed on ONE store directory —
      // integration seams, not any single operator, are what this
      // gate exists to catch: (1) graphAnnBuild writes the naturals;
      // (2) ingestGraphBatch appends ALL five twin bands; (3)
      // syncGraphBatch re-delivers band 5 (idempotent upsert of an
      // unchanged vector — must not duplicate or reshuffle survivors)
      // and deletes band 2; (4) removeGraphBatch tombstones band 4.
      // Net survivors = corpus minus bands 2/4, so the final search
      // must equal the remove oracle — a hash that only matches if
      // every stage left the store in exactly the state the next
      // stage assumed.
      val idxDir = graphLifecycleDirs.computeIfAbsent(dir, _ => {
        val (corpus, _) = plantedAnnFixture(s, dir)
        val cents = Similarity.ivfCentroids(corpus, "vec_id",
          "embedding", 16)
        val band = floor(col("vec_id") / 100000L)
        val idx = trackStreamTmp(
          java.nio.file.Files.createTempDirectory("graft_glife"))
        Similarity.graphAnnBuild(corpus.filter(band === 0), "vec_id",
            "embedding", cents, degree = 8, efConstruction = 64)
          .write.mode("overwrite").partitionBy("cell")
          .parquet(idx.toString)
        graft.streaming.VectorIngest.ingestGraphBatch(
          corpus.filter(band >= 1), "vec_id", "embedding", cents,
          idx.toString, degree = 8, efConstruction = 64)
        val cdc = corpus.filter(band === 5)
          .select(col("vec_id"), col("embedding"),
            lit("upsert").as("op"))
          .unionByName(corpus.filter(band === 2)
            .select(col("vec_id"), col("embedding"),
              lit("delete").as("op")))
        graft.streaming.VectorIngest.syncGraphBatch(cdc, "vec_id",
          "embedding", "op", cents, idx.toString, degree = 8,
          efConstruction = 64)
        graft.streaming.VectorIngest.removeGraphBatch(
          corpus.filter(band === 4).select(col("vec_id")), "vec_id",
          "embedding", idx.toString, degree = 8, efConstruction = 64)
        idx.toString
      })
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      Similarity.graphAnnTopKIndexed(graft.streaming.VectorStore.read(s, idxDir), "vec_id",
          "embedding", queries, "query_id", "qvec", k = 3, cents,
          nprobe = 4, ef = 1024)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ivf_store_remove" -> ((s, dir) => {
      // store-level tombstone application for the IVF batch store —
      // the flat twin of removeGraphBatch's gate, completing the IVF
      // store lifecycle (ingest / remove / compact, each oracle-
      // gated): 3 ingest batches land the planted corpus, then
      // removeIvfBatch rewrites ONLY the (batch, cell) partitions
      // containing a band-2/4 twin (survivor-only rewrite, emptied
      // partition dirs deleted). Search over the store must equal
      // brute force minus the tombstoned set.
      val idxDir = ivfRemoveDirs.computeIfAbsent(dir, _ => {
        val (corpus, _) = plantedAnnFixture(s, dir)
        val cents = Similarity.ivfCentroids(corpus, "vec_id",
          "embedding", 16)
        val store = trackStreamTmp(
          java.nio.file.Files.createTempDirectory("graft_ivfr"))
        (0 until 3).foreach { b =>
          graft.streaming.VectorIngest.ingestBatch(
            corpus.filter(pmod(col("vec_id"), lit(3)) === b),
            "vec_id", "embedding", cents, store.toString, b.toLong)
        }
        graft.streaming.VectorIngest.removeIvfBatch(
          corpus.filter(floor(col("vec_id") / 100000L).isin(2, 4))
            .select(col("vec_id")),
          "vec_id", store.toString)
        store.toString
      })
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding",
        16)
      Similarity.ivfTopKIndexed(graft.streaming.VectorStore.read(s, idxDir), "vec_id",
          "embedding", queries, "query_id", "qvec", k = 3, cents,
          nprobe = 4)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_pq_occupancy" -> ((s, dir) => {
      // PQ codebook health over the encoded corpus (the stored-index
      // artifact): per subspace, codes used / dead / occupancy
      // spread — the audit that catches a training sample missing a
      // subspace mode before recall quietly degrades
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val fine = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, stride = 11L)
      // localCheckpoint = the stored-artifact seam made literal: the
      // operator contract is stats over the STORED codes table.
      // Without the cut the encode Project sits directly under the
      // Generate — OUTSIDE any whole-stage-codegen pipeline — and the
      // CodegenFallback HOF runs on the fully interpreted row path
      // (measured 11 s vs 1.5 s; the generator itself stays a plain
      // attribute, which is why the plan lint is rightly silent here)
      val encoded = emb.select(col("vec_id"),
        Similarity.pqEncodeNative(col("embedding"), fine).as("codes"))
        .localCheckpoint()
      Similarity.pqCodeStats(encoded, "codes", k = 16)
        .select(col("j").cast("int").as("j"), col("n_codes"),
          col("codes_used"), col("dead_codes"), col("max_occupancy"),
          col("mean_occupancy"), col("imbalance"))
    }),

    "sim_ivf_pq" -> ((s, dir) => {
      // the COMPOSED billion-scale index under the oracle (previously
      // spec-only): IVF coarse cells prune, fine PQ codes ADC-score.
      // oversample=1 makes the quantizer itself SQL-replayable — the
      // hash-ordered TakeOrdered sample IS the centroid set (ORDER BY
      // md5(vec_id) LIMIT 16 in DuckDB), so cells, probe ranking
      // (normSq − 2·dot, ties to the lower cell), codes, LUT and
      // integer ADC totals all replay engine-exactly.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
        nlist = 16, oversample = 1)
      val fine = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, stride = 11L)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.ivfPqTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, fine, nprobe = 4)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("dist_nano"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ivf_pq_residual" -> ((s, dir) => {
      // IVFADC — the composition the PQ paper ships: codes quantize
      // the RESIDUAL v − c(v) (fractional energy → finer quantization
      // for the same bits), the query's ADC table computes per probed
      // cell against q − c(cell). Same SQL-replayable oversample=1
      // quantizer as sim_ivf_pq; residual books from the id-stride
      // sample's residuals.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding",
        nlist = 16, oversample = 1)
      val books = Similarity.pqBooksResidual(emb, "vec_id", "embedding",
        cents, m = 8, k = 16, dims = 64, stride = 11L)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.ivfPqResidualTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, books, nprobe = 4)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("dist_nano"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ann_imi" -> ((s, dir) => {
      // inverted multi-index (Babenko & Lempitsky 2012): coarse cells
      // are PAIRS of per-half codes (K=8 per half → 64 cells from 16
      // centroids — the construction that reaches billion-scale cell
      // counts without nlist centroids); queries probe their 8 best
      // pairs by d0+d1 (2K half-distances, native kernel), fine PQ
      // codes ADC-score the probed cells. Every distance is a
      // nano-unit long, so cells, probes and scores replay exactly.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val coarse = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 2, k = 8, dims = 64, stride = 13L)
      val fine = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, stride = 11L)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.imiTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", coarse, fine, k = 5, nprobe = 8)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("dist_nano"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ann_imi_lazy" -> ((s, dir) => {
      // the BILLION-SCALE IMI probe path under the oracle: K=128 per
      // half → 128² = 16384 cells, so ImiProbeCells takes the lazy
      // multi-sequence branch (bigK² > 4096 — Babenko & Lempitsky
      // 2012's frontier walk, K·log K + nprobe·log nprobe) instead of
      // materializing the K² pair sort. The walk's exact-order
      // contract makes the oracle trivial: DuckDB replays the FULL
      // pair sort and the two must agree bit-for-bit, tie plateaus
      // included. nprobe=512 (3% of cells) keeps candidates non-empty
      // over the sparse gate-scale corpus; at production scale the
      // same ratio prunes 2²⁸ cells to a few thousand.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val coarse = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 2, k = 128, dims = 64, stride = 3L)
      val fine = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64, stride = 11L)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      Similarity.imiTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", coarse, fine, k = 5, nprobe = 512)
        .select(col("query_id"), col("rank"),
          col("vec_id").as("neighbor_id"), col("dist_nano"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_ivf_tree" -> ((s, dir) => {
      // LOG-DEPTH tree assignment (the deepening of sim_ivf_hier's
      // two-level path: beam-searched descent, O(log nlist) per
      // vector) over the planted fixture — the ~0.002-perturbation
      // copies quantize like their query under the deterministic
      // tree, so top-5 must equal the brute-force oracle exactly.
      // beam=2 is the approximation mode; fanout=4 over nlist=16
      // gives a depth-2 tree (the shape, not the scale — at
      // production nlist the same walk is 8-way and log-deep).
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", 16)
      val tree = Similarity.ivfTree(cents, fanout = 4)
      val index = Similarity.ivfAssignmentsTree(corpus, "vec_id",
        "embedding", cents, tree, beam = 2)
      Similarity.ivfTopKIndexed(index, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_margin_mine" -> ((s, dir) => {
      // ratio-margin bitext mining: German-doc vectors query the
      // English-doc slice; a pair is mined only when the best match
      // beats the runner-up by ≥ 1.05× — the hubness-suppressing
      // criterion of margin scoring (a raw cosine threshold admits
      // hub vectors that are everyone's neighbor)
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val byLang = emb.join(docs, emb("vec_id") === docs("doc_id"))
      val src = byLang.filter(col("lang") === "de")
        .select(col("vec_id").as("src_id"), col("embedding").as("qvec"))
      val tgt = byLang.filter(col("lang") === "en")
        .select(col("vec_id"), col("embedding"))
      Similarity.marginTopPairs(tgt, "vec_id", "embedding",
          src, "src_id", "qvec", marginThreshold = 1.05)
        .orderBy(col("src_id"))
    }),

    "sim_mean_pool" -> ((s, dir) => {
      // chunk-then-embed pooling: groups of 4 consecutive vectors
      // mean-pool into one parent vector (exact decimal per-dim sums;
      // declarative sorted reassembly). The gate re-explodes the
      // pooled array so the oracle also pins the dim ORDER of the
      // assembly, not just the values.
      val emb = t(s, dir, "embeddings")
        .select(expr("vec_id div 4").as("parent_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      Similarity.meanPool(emb, "parent_id", "embedding")
        .select(col("parent_id"), col("n_chunks"),
          posexplode(col("pooled")))
        .select(col("parent_id"), col("n_chunks"),
          col("pos").cast("long").as("dim"),
          TextAnalysis.q4(col("col")).as("pooled"))
        .orderBy(col("parent_id"), col("dim"))
    }),

    "sim_ivf_append" -> ((s, dir) => {
      // IVF index-as-tables append path: the quantizer is trained on
      // the BASE corpus only and frozen; base assignments form the
      // stored index; the planted near-copies arrive later as a DELTA
      // that assigns against the frozen centroids (map-only on the
      // delta) and unions in — history never recomputes. Search reads
      // the stored cell ids (ivfTopKIndexed — no corpus-wide argmin).
      // The planted copies are ~0.002-amplitude perturbations of
      // their query, so they assign into the query's own probe set
      // and the top-5 equals the brute-force oracle — if and only if
      // the appended assignments are correct.
      val (corpus, queries) = plantedAnnFixture(s, dir)
      val base = corpus.filter(col("vec_id") < 100000L)
      val delta = corpus.filter(col("vec_id") >= 100000L)
      val cents = Similarity.ivfCentroids(base, "vec_id", "embedding", 16)
      val index = Similarity.ivfAssignments(base, "vec_id", "embedding", cents)
        .union(Similarity.ivfAssignments(delta, "vec_id", "embedding", cents))
      Similarity.ivfTopKIndexed(index, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 5, cents, nprobe = 4)
        .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
        .orderBy(col("query_id"), col("rank"))
    }),

    "sim_lsh_recall" -> ((s, dir) => {
      // recall gate on PERTURBED near-duplicates (cos ≈0.98, not
      // copies): every vector gets a noised twin; banded sign-LSH must
      // recover ≥90% of the true pairs found by the exact cosine
      // (which the oracle recomputes independently). Expected recall
      // with 8×16 bands at cos 0.98 ≈ 0.98.
      val emb = t(s, dir, "embeddings")
      val noised = emb.select((col("vec_id") + 700000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") + lit(0.04) *
            (((col("vec_id") * 31 + i * 17) % 19 - 9).cast("double") /
              lit(9.0))).as("embedding"))
      val naturals = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val aug = naturals.union(noised)
      // truth: per-seed exact cosine against its twin (linear, no join)
      val truth = emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") + lit(0.04) *
              (((col("vec_id") * 31 + i * 17) % 19 - 9).cast("double") /
                lit(9.0))).as("w"))
        .select(col("vec_id"),
          (Similarity.dot(col("v"), col("w")) /
            (Similarity.norm(col("v")) * Similarity.norm(col("w")))).as("cos"))
        .filter(col("cos") >= 0.9)
      val bands = Similarity.signBands(aug, "vec_id", "embedding",
        bands = 8, rowsPerBand = 16)
      val l = bands.alias("l"); val r = bands.alias("r")
      val recovered = l.join(r,
          col("l.band_id") === col("r.band_id") &&
          col("l.band_sig") === col("r.band_sig") &&
          col("r.vec_id") === col("l.vec_id") + 700000L)
        .select(col("l.vec_id").as("vec_id")).distinct()
      val truthAgg = truth.agg(
        count(lit(1)).as("n_true"),
        TextAnalysis.q4(min(col("cos"))).as("min_cos"),
        TextAnalysis.q4(max(col("cos"))).as("max_cos"))
      val recAgg = recovered.join(truth, "vec_id")
        .agg(count(lit(1)).as("n_rec"))
      truthAgg.crossJoin(recAgg)
        .select(col("n_true"), col("min_cos"), col("max_cos"),
          (col("n_rec").cast("double") >=
            lit(0.9) * col("n_true").cast("double")).as("recall_ok"))
    }),

    "sim_ivf_recall" -> ((s, dir) => {
      // IVF twin of sim_lsh_recall: same noised-twin fixture (cos
      // ≈0.98), every natural queries the augmented corpus through the
      // coarse quantizer at the DEFAULT nprobe (4 of nlist=16). The
      // twin is each natural's true nearest by a wide margin (natural
      // max pair cos ≈0.51), so recall = fraction of rank-1 hits —
      // measuring the probe-miss rate at nprobe < nlist, which the
      // planted sim_ann_ivf fixture never exercises.
      val emb = t(s, dir, "embeddings")
      val noised = emb.select((col("vec_id") + 700000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          x.cast("double") + lit(0.04) *
            (((col("vec_id") * 31 + i * 17) % 19 - 9).cast("double") /
              lit(9.0))).as("embedding"))
      val naturals = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val aug = naturals.union(noised)
      val truth = emb.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"),
          transform(col("embedding"), (x, i) =>
            x.cast("double") + lit(0.04) *
              (((col("vec_id") * 31 + i * 17) % 19 - 9).cast("double") /
                lit(9.0))).as("w"))
        .select(col("vec_id"),
          (Similarity.dot(col("v"), col("w")) /
            (Similarity.norm(col("v")) * Similarity.norm(col("w")))).as("cos"))
        .filter(col("cos") >= 0.9)
      val queries = naturals
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val cents = Similarity.ivfCentroids(aug, "vec_id", "embedding", 16)
      val recovered = Similarity.ivfTopK(aug, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 1, cents, nprobe = 4)
        .filter(col("vec_id") === col("query_id") + 700000L)
        .select(col("query_id").as("vec_id"))
      val truthAgg = truth.agg(
        count(lit(1)).as("n_true"),
        TextAnalysis.q4(min(col("cos"))).as("min_cos"),
        TextAnalysis.q4(max(col("cos"))).as("max_cos"))
      val recAgg = recovered.join(truth, "vec_id")
        .agg(count(lit(1)).as("n_rec"))
      truthAgg.crossJoin(recAgg)
        .select(col("n_true"), col("min_cos"), col("max_cos"),
          (col("n_rec").cast("double") >=
            lit(0.9) * col("n_true").cast("double")).as("recall_ok"))
    }),

    "sim_projection_recall" -> ((s, dir) => {
      // does ANN survive JL compression? Same noised-twin fixture as
      // sim_ivf_recall, but the search runs entirely in the 16-dim
      // randomProject space (4× fewer bytes through every shuffle);
      // recall of the rank-1 twin against full-dim truth must stay
      // ≥ 0.9 for the oracle hash to match
      val emb = t(s, dir, "embeddings")
      val noise = (x: Column, i: Column) =>
        x.cast("double") + lit(0.04) *
          (((col("vec_id") * 31 + i * 17) % 19 - 9).cast("double") /
            lit(9.0))
      val noised = emb.select((col("vec_id") + 700000L).as("vec_id"),
        transform(col("embedding"), noise).as("embedding"))
      val naturals = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val aug = naturals.union(noised)
      val projCorpus = aug.select(col("vec_id"),
        Similarity.randomProject(col("embedding"), 16, 64).as("embedding"))
      // ~500 query vectors regardless of scale (the corpus stays
      // full-size): the brute-force probe is |queries|×|corpus| pairs,
      // so a fixed modulus would grow the probe QUADRATICALLY with SF
      // (5000 queries × 100k corpus = 500M pairs at sf0.1). The
      // modulus is n/500, floored at 10 — exactly 10 at sf0.01, which
      // pins the oracle's `vec_id % 10 = 0` slice; the count() is a
      // parquet metadata-only job.
      val qMod = math.max(10L, emb.count() / 500L)
      val projQueries = naturals.filter(col("vec_id") % qMod === 0)
        .select(col("vec_id").as("query_id"),
          Similarity.randomProject(col("embedding"), 16, 64).as("qvec"))
      val truth = emb.filter(col("vec_id") % qMod === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"),
          transform(col("embedding"), noise).as("w"))
        .select(col("vec_id"),
          (Similarity.dot(col("v"), col("w")) /
            (Similarity.norm(col("v")) * Similarity.norm(col("w"))))
            .as("cos"))
        .filter(col("cos") >= 0.9)
      val recovered = Similarity.bruteForceTopK(projCorpus, "vec_id",
          "embedding", projQueries, "query_id", "qvec", k = 1)
        .filter(col("vec_id") === col("query_id") + 700000L)
        .select(col("query_id").as("vec_id"))
      val truthAgg = truth.agg(
        count(lit(1)).as("n_true"),
        TextAnalysis.q4(min(col("cos"))).as("min_cos"),
        TextAnalysis.q4(max(col("cos"))).as("max_cos"))
      val recAgg = recovered.join(truth, "vec_id")
        .agg(count(lit(1)).as("n_rec"))
      truthAgg.crossJoin(recAgg)
        .select(col("n_true"), col("min_cos"), col("max_cos"),
          (col("n_rec").cast("double") >=
            lit(0.9) * col("n_true").cast("double")).as("recall_ok"))
    }),

    "dedup_embedding_cos" -> ((s, dir) => {
      // the synthetic embeddings have no natural near-dups (max pair
      // cosine ≈0.51), so seed exact duplicates (vec_id+10000) — the
      // banded detector recovers exact dups with probability 1 (equal
      // vectors share every band), which the brute-force oracle
      // verifies independently of the LSH internals
      val emb = t(s, dir, "embeddings")
      val aug = emb.select(col("vec_id"), col("embedding"))
        .union(emb.select((col("vec_id") + 10000).as("vec_id"),
          col("embedding")))
      Dedup.embeddingNearDups(aug, "vec_id", "embedding",
        threshold = 0.95, bands = 4, rowsPerBand = 16)
        .select(col("id_a"), col("id_b"),
          TextAnalysis.q4(col("cos")).as("cos_sim"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    "dedup_semantic" -> ((s, dir) => {
      // SemDeDup: paraphrase twins planted in EMBEDDING space — every
      // vec_id % 20 == 0 gains a +50000 twin with dim 1 nudged by
      // +0.001 (cos ≈ 1−1e-8 vs natural max pair cos ≈ 0.51), the
      // "same meaning, different words" shape n-gram MinHash provably
      // misses (the twin shares no text). The within-cell restriction
      // is a no-op ON THIS FIXTURE (a 0.001 nudge never crosses a
      // cell boundary — twins co-assign with their origin), so the
      // brute-force oracle's pair list equals the cell-join's, and
      // the planted clusters are (origin, twin) cliques whose CC
      // label is min-over-neighbors. Quality vec_id % 7 makes the
      // kept representative vary per pair.
      val emb = t(s, dir, "embeddings").select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val twins = emb.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 50000).as("vec_id"),
          concat(array(element_at(col("embedding"), 1) + lit(0.001)),
            slice(col("embedding"), 2, 63)).as("embedding"))
      val aug = emb.union(twins)
        .withColumn("quality", (col("vec_id") % 7).cast("int"))
      val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 16)
      Dedup.semanticDedup(aug, "vec_id", "embedding", "quality",
          cents, threshold = 0.9)
        .select(col("vec_id"), col("cluster_id"), col("quality"),
          col("kept"))
        .orderBy(col("vec_id"))
    }),

    "skew_salted_agg" -> ((s, dir) =>
      // skew-safe two-phase aggregation: the salted plan MUST produce
      // exactly the plain GROUP BY's results — which is precisely what
      // the oracle computes, so the salting path is verified end-to-end
      graft.operators.Skew.saltedSumCount(
        t(s, dir, "orders")
          .select(col("o_custkey"), col("o_orderkey"),
            col("o_totalprice").cast("decimal(18,3)").as("price")),
        Seq("o_custkey"), "price", saltSource = "o_orderkey", buckets = 16)
        .select(col("o_custkey"),
          col("sum_price").cast("double").as("sum_price"), col("cnt"))
        .orderBy(col("o_custkey"))),

    "skew_salted_agg_zipf" -> ((s, dir) =>
      // the salted path on data that actually NEEDS it: ~70% of all
      // rows collapse onto hot_key 0 (one reducer's partition under a
      // plain shuffle), the rest spread over 100 cold keys. The
      // two-phase plan must still equal the oracle's plain GROUP BY.
      graft.operators.Skew.saltedSumCount(
        t(s, dir, "orders")
          .select(
            when(col("o_orderkey") % 10 < 7, lit(0L))
              .otherwise(col("o_custkey") % 100 + 1).as("hot_key"),
            col("o_orderkey"),
            col("o_totalprice").cast("decimal(18,3)").as("price")),
        Seq("hot_key"), "price", saltSource = "o_orderkey", buckets = 32)
        .select(col("hot_key"),
          col("sum_price").cast("double").as("sum_price"), col("cnt"))
        .orderBy(col("hot_key"))),

    "skew_salted_join_zipf" -> ((s, dir) => {
      // salted replicated join under the same zipf skew: the hot key's
      // rows spread over 32 (key, salt) buckets, the 25-row dim side
      // replicates 32×. Rolled up per dim label so the oracle is a
      // plain join + GROUP BY.
      val big = t(s, dir, "orders").select(
        when(col("o_orderkey") % 10 < 7, lit(0L))
          .otherwise(col("o_custkey") % 25).as("hot_key"),
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,3)").as("price"))
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("hot_key"),
          col("n_name"))
      graft.operators.Skew.saltedJoin(big, dim, Seq("hot_key"),
          saltSource = "o_orderkey", buckets = 32)
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price")).cast("double").as("sum_price"))
        .orderBy(col("n_name"))
    }),

    "skew_unsalted_join_zipf" -> ((s, dir) => {
      // the UNSALTED twin of skew_salted_join_zipf, pinned to a plain
      // shuffle join (no broadcast, no salt): the 70%-hot key lands on
      // ONE reduce task — the bench records the skew penalty the salted
      // plan removes. Identical result, identical oracle.
      val big = t(s, dir, "orders").select(
        when(col("o_orderkey") % 10 < 7, lit(0L))
          .otherwise(col("o_custkey") % 25).as("hot_key"),
        col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,3)").as("price"))
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("hot_key"),
          col("n_name"))
      // AQE's skew-join mitigation stays ON (default) — the measured
      // gap vs the salted twin is therefore the honest residual, not a
      // strawman with the optimizer disabled
      big.hint("shuffle_merge").join(dim.hint("shuffle_merge"),
          Seq("hot_key"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price")).cast("double").as("sum_price"))
        .orderBy(col("n_name"))
    }),

    "curate_documents" -> ((s, dir) => {
      // the composed training-data curation pipeline: length + quality
      // filters, then near-duplicate removal (LSH candidates + exact
      // Jaccard ≥ 0.15; the lower doc_id of each dup pair survives) —
      // one declarative plan, one anti-join, no driver loop
      val docs = t(s, dir, "documents")
      val dupLosers = Dedup.ngramJaccardPairsLsh(docs, "doc_id", "text",
        threshold = 0.15, n = 3, numHashes = 16, bands = 8, portable = true)
        .select(col("id_b").as("doc_id")).distinct()
      docs.select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .filter(col("n_tokens") >= 25 && col("quality") >= 0.35)
        .join(dupLosers, Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    }),

    "c8_migration_copy" -> ((s, dir) => {
      // C8–C10/P10: the migration runner copying a parsed catalog's
      // tables concurrently from the test source; output = per-table
      // row counts the oracle recomputes directly
      val ddl =
        """CREATE TABLE [dbo].[orders](
          |	[o_orderkey] [bigint] NOT NULL,
          |	[o_custkey] [bigint] NOT NULL,
          |	[o_orderstatus] [nvarchar](10) NULL
          |) ON [PRIMARY]
          |GO
          |CREATE TABLE [dbo].[lineitem](
          |	[l_orderkey] [bigint] NOT NULL,
          |	[l_linenumber] [int] NOT NULL,
          |	[l_returnflag] [nvarchar](1) NULL
          |) ON [PRIMARY]
          |GO""".stripMargin
      val cat = new TsqlParser(Config()).parse(ddl.split("\n").toSeq)
      val results = graft.operators.MigrationRunner.runAll(s, cat,
        read = (_, tab) => Some(t(s, dir, tab.name)),
        sink = (_, _, df) => df.count(),
        parallelism = 2)
      import s.implicits._
      results.map(r => (r.table, r.rows)).toDF("table_name", "rows")
        .orderBy(col("table_name"))
    }),

    "citext_ci_join" -> ((s, dir) => {
      // B1 citext semantics: case-insensitive join via UTF8_LCASE
      // collation must behave exactly like lower()-equality
      val a = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val b = t(s, dir, "nation").select(
        col("n_nationkey").as("nk2"), upper(col("n_name")).as("n_name"))
      graft.functions.Citext.ciJoin(a, b, Seq("n_name"))
        .select(col("n_nationkey"), col("nk2"))
        .orderBy(col("n_nationkey"), col("nk2"))
    }),

    "citext_lower_join" -> ((s, dir) => {
      // the documented citext WORKAROUND (Spark 4.1 plans UTF8_LCASE
      // join keys sort-merge-only — standing limitation note): a
      // lower()-equality join is hash/broadcast-joinable and must
      // return exactly ciJoin's rows; gating it tri-SF makes the
      // workaround a verified first-class path, not a comment
      val a = t(s, dir, "nation").select(col("n_nationkey"), col("n_name"))
      val b = t(s, dir, "nation").select(
        col("n_nationkey").as("nk2"), upper(col("n_name")).as("n_name"))
      graft.functions.Citext.lowerJoin(a, b, Seq("n_name"))
        .select(col("n_nationkey"), col("nk2"))
        .orderBy(col("n_nationkey"), col("nk2"))
    }),

    "val_pk_duplicates" -> ((s, dir) =>
      // C-family validation: PK-duplicate audit (the pre-migration
      // check for a proposed key) — one groupBy, no self-join
      graft.operators.Validation.pkDuplicates(
          t(s, dir, "lineitem"), Seq("l_orderkey"))
        .orderBy(col("l_orderkey"))),

    "val_null_counts" -> ((s, dir) => {
      // NOT NULL audit in ONE aggregate pass (no per-column jobs);
      // nulls are planted via a deterministic predicate so the audit
      // has something to count on TPC-H's null-free tables
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderpriority") === "1-URGENT", lit(null))
          .otherwise(col("o_orderpriority")).as("pri"),
        when(col("o_orderstatus") === "F", lit(null))
          .otherwise(col("o_orderstatus")).as("status"))
      graft.operators.Validation.nullCounts(o, Seq("pri", "status"))
    }),

    // ---------------- extension operators: multimodal plumbing --------
    "mm_chunk_fixed" -> ((s, dir) =>
      // audio-style fixed-window framing of the payload with per-chunk
      // content hashes (char windows here so the oracle can replay;
      // the operator accepts binary columns identically)
      graft.functions.Multimodal.chunkFixed(
        t(s, dir, "documents").select(col("doc_id"), col("text")), "text", 256)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_len"),
          col("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    "dedup_chunk_overlap" -> ((s, dir) => {
      // blob-level near-dup via shared CDC chunks: every 10th doc
      // gets a prefix-edited twin planted — exact doc-hash dedup and
      // fixed chunking both miss it, but CDC boundaries resync after
      // the edit so the twin shares nearly all chunks; candidates are
      // an equi-join on the chunk hash behind a stop-chunk guard
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val twins = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("EDITED PREFIX "), col("text")).as("text"))
      graft.functions.Multimodal.chunkOverlapPairs(
        docs.unionByName(twins), "doc_id", "text", threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "mm_chunk_cdc" -> ((s, dir) =>
      // content-defined (rolling-hash) chunking — the edit-resilient
      // twin of mm_chunk_fixed: boundaries depend only on the local
      // 16-wide window, so chunk hashes survive upstream insertions
      // and chunk-level dedup dedups recrawled blobs; single-pass
      // native kernel for the spans, declarative substr+md5 for the
      // hashes
      graft.functions.Multimodal.chunkContentDefined(
        t(s, dir, "documents").select(col("doc_id"), col("text")), "text")
        .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
          col("chunk_len"), col("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    "mm_phash_neardup" -> ((s, dir) => {
      // image near-dup via perceptual hash over REAL decoded pixels:
      // synthetic gray PNGs planted in twin groups of 4 (one pixel
      // perturbed per twin) → decode → aHash64 → pigeonhole Hamming
      // pairs (the SAME scale-safe block machinery as text simhash);
      // the oracle replays the pixel/hash arithmetic and does the
      // quadratic Hamming join on the small fixture
      // the id list reads as ONE parquet split (tiny file) — without a
      // fan-out repartition every decode runs on a single core; at
      // real scale the scan itself provides the parallelism
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .repartition(col("doc_id"))
      val imgs = graft.functions.Multimodal.withSyntheticGrayPng8(
        docs, "doc_id", twinGroup = 4)
      val hashed = graft.functions.Multimodal.imageAHash64(imgs, "payload")
        .select(col("doc_id"), col("ahash"))
      graft.functions.Dedup.hammingNearDups(
          hashed, "doc_id", "ahash", numBits = 64, radius = 6)
        .orderBy(col("id_a"), col("id_b"))
    }),

    "mm_decode_png" -> ((s, dir) => {
      // REAL image decode (javax.imageio, pure JVM): synthetic PNGs
      // with id-derived dims are built per partition, every 97th
      // payload truncated; the decoder must report exact format/dims
      // (the oracle replays the dimension arithmetic) and route
      // corrupt payloads to decode_ok=false instead of failing tasks
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withPng = graft.functions.Multimodal.withSyntheticPng(
        docs, "doc_id", truncateEvery = 97L)
      graft.functions.Multimodal.decodeMeta(withPng, "payload",
          graft.functions.Multimodal.ImageIoDecoderFactory)
        .select(col("doc_id"),
          col("media_meta.format").as("format"),
          col("media_meta.width").as("width"),
          col("media_meta.height").as("height"),
          col("media_meta.n_frames").as("n_frames"),
          col("media_meta.decode_ok").as("decode_ok"))
        .orderBy(col("doc_id"))
    }),

    "mm_audio_fingerprint" -> ((s, dir) => {
      // 64-bit loudness fingerprint over REAL decoded PCM: synthetic
      // WAVs (sample values a pure function of the id), decoded by
      // javax.sound, 64 windows thresholded against the global mean
      // |sample| — all integer cross-products, so the oracle replays
      // the fingerprint from the sample formula alone
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val wavs = graft.functions.Multimodal.withSyntheticWav(docs, "doc_id")
      graft.functions.Multimodal.audioFingerprint64(wavs, "payload")
        .select(col("doc_id"), col("n_samples"), col("afp"))
        .orderBy(col("doc_id"))
    }),

    "mm_decode_wav" -> ((s, dir) => {
      // REAL audio decode (javax.sound.sampled, pure JVM): synthetic
      // PCM WAVs with id-derived params are built per partition, every
      // 89th payload truncated mid-data; the decoder must report exact
      // container params (the oracle replays the arithmetic) and the
      // frame-count drain must flag the truncated payloads
      val docs = t(s, dir, "documents").select(col("doc_id"))
      val withWav = graft.functions.Multimodal.withSyntheticWav(
        docs, "doc_id", truncateEvery = 89L)
      graft.functions.Multimodal.decodeAudioMeta(withWav, "payload")
        .select(col("doc_id"),
          col("audio_meta.format").as("format"),
          col("audio_meta.sample_rate").as("sample_rate"),
          col("audio_meta.channels").as("channels"),
          col("audio_meta.bits").as("bits"),
          col("audio_meta.frames").as("frames"),
          col("audio_meta.decode_ok").as("decode_ok"))
        .orderBy(col("doc_id"))
    }),

    "mm_byte_features" -> ((s, dir) => {
      // binary-column plumbing over text payloads cast to binary;
      // size is oracle-checked, content hash is engine-specific
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text").cast("binary").as("payload"))
      graft.functions.Multimodal.byteFeatures(docs, "payload")
        .select(col("doc_id"), col("media_size"))
        .orderBy(col("doc_id"))
    }),

    "mm_frame_sample" -> ((s, dir) => {
      // video-style frame sampling over a REAL multi-frame container:
      // synthetic GVID payloads (indexed gray PNG frames, count and
      // pixels id-derived) → stride-3 sample that decodes ONLY the
      // sampled frames → per-frame aHash64. The oracle replays frame
      // count, sampled indices and the pixel/hash arithmetic.
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .repartition(col("doc_id")) // tiny single-split fixture fan-out
      val vids = graft.functions.Multimodal.withSyntheticVideo(docs, "doc_id")
      graft.functions.Multimodal.frameSampleAHash(vids, "payload", every = 3)
        .select(col("doc_id"), col("frame_idx"), col("n_frames"), col("ahash"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    "mm_frame_sample_avi" -> ((s, dir) => {
      // the REAL-container twin of mm_frame_sample: the same md5
      // frames JPEG-encoded into a spec-valid MJPEG AVI, strided
      // decode through the RIFF walk + the JDK's own JPEG codec. The
      // oracle replays the STRUCTURAL contract (frame counts, sampled
      // indices, every decode succeeding) — JPEG pixel decode is
      // codec-defined, not engine-portable, so the aHash values stay
      // under the spec's self-parity check instead (FunctionsSpec
      // "MJPEG-in-AVI").
      val docs = t(s, dir, "documents").select(col("doc_id"))
        .repartition(col("doc_id"))
      val vids = graft.functions.Multimodal
        .withSyntheticMjpegAvi(docs, "doc_id")
      graft.functions.Multimodal
        .aviFrameSampleAHash(vids, "payload", every = 3)
        .select(col("doc_id"), col("frame_idx"), col("n_frames"),
          col("frame_ok"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // ---------------- extension operators: corpus curation ------------
    "curate_split_train_test" -> ((s, dir) =>
      // deterministic md5-bucket split: stable under corpus growth,
      // map-only, replayed bit-for-bit by the oracle
      graft.functions.Curation.splitAssign(t(s, dir, "documents"), "doc_id")
        .orderBy(col("doc_id"))),

    "curate_sample_stratified" -> ((s, dir) =>
      // per-language downsampling (en to 20%, rest to 50%) via the
      // same salted-hash buckets — a codegen'd filter, no shuffle
      graft.functions.Curation.stratifiedSample(
        t(s, dir, "documents"), "doc_id", "lang",
        ratesPer10k = Seq("en" -> 2000), defaultPer10k = 5000)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))),

    "curate_weighted_sample" -> ((s, dir) =>
      // A-ES weighted sample: 200 docs drawn proportional to byte
      // length, without replacement — rank key is map-only, selection
      // is TakeOrdered; the oracle replays the md5-derived ranks
      graft.functions.Curation.weightedSample(
        t(s, dir, "documents")
          .select(col("doc_id"), octet_length(col("text")).as("w")),
        "doc_id", "w", k = 200)
        .orderBy(col("doc_id"))),

    "curate_dsir_weights" -> ((s, dir) => {
      // DSIR importance weights: every document scored for likeness to
      // the target slice (doc_id % 7 = 0 standing in for a curated
      // domain sample) via hashed unigram+bigram bucket log-ratios;
      // bucket tables broadcast, per-doc sums decimal — the oracle
      // replays the md5 buckets and quantized ln ratios exactly
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      graft.functions.Curation.dsirLogWeights(
          docs, docs.filter(col("doc_id") % 7 === 0),
          "doc_id", "text", buckets = 8192)
        .orderBy(col("doc_id"))
    }),

    "curate_decontaminate" -> ((s, dir) => {
      // benchmark decontamination: docs sharing a 4-gram with the
      // held-out set (doc_id % 37 = 0 here; a real eval suite in
      // production). The benchmark gram set is broadcast — the corpus
      // side is never self-joined.
      val docs = t(s, dir, "documents")
      graft.functions.Curation.decontaminate(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0),
        "doc_id", "text", n = 4)
        .orderBy(col("doc_id"))
    }),

    "curate_decontaminate_bloom" -> ((s, dir) => {
      // Bloom-prefilter decontamination: same output as the exact
      // variant, but the corpus gram stream is cut map-side by a
      // distributed-built Bloom sketch BEFORE the (unbroadcast) exact
      // semi-join — the shape for eval sets too big to broadcast
      val docs = t(s, dir, "documents")
      graft.functions.Curation.decontaminateBloom(
        docs.filter(col("doc_id") % 37 =!= 0),
        docs.filter(col("doc_id") % 37 === 0),
        "doc_id", "text", n = 4,
        expectedGrams = 200000L, numBits = 2097152L)
        .orderBy(col("doc_id"))
    }),

    "curate_pack_sequences" -> ((s, dir) =>
      // concat-then-chunk sequence packing into 512-token training
      // sequences over 16 hash shards: one shuffle, one running-sum
      // window per shard, fully deterministic layout
      graft.functions.Curation.packSequences(
        t(s, dir, "documents"), "doc_id", "text",
        budget = 512, nShards = 16)
        .orderBy(col("doc_id"))),

    "curate_pack_wordpiece" -> ((s, dir) => {
      // packing budgeted in REAL subword tokens: per-doc length =
      // Σ over words of the wordpiece piece count (map-side transform
      // + aggregate — the tokenizer runs inside the scan projection),
      // fed into the same per-shard running-sum pack layout
      val np = aggregate(
        transform(expr("regexp_extract_all(lower(text), '[a-z]+', 0)"),
          w => size(TextAnalysis.wordpiecePieces(w, wordpieceVocab))
            .cast("long")),
        lit(0L), (acc, x) => acc + x)
      graft.functions.Curation.packSequencesBy(
        t(s, dir, "documents"), "doc_id", np,
        budget = 256, nShards = 16, salt = "packwp|")
        .orderBy(col("doc_id"))
    }),

    "curate_negative_sample" -> ((s, dir) =>
      // contrastive-training negatives: k consecutive positions after
      // a salted-hash offset in the per-shard md5 permutation —
      // deterministic, distinct, no global sort, equi-join probe
      graft.functions.Curation.negativeSample(
        t(s, dir, "documents"), "doc_id", k = 4, nShards = 16)
        .orderBy(col("query_id"), col("neg_rank"))),

    "curate_contamination_matrix" -> ((s, dir) => {
      // source × benchmark overlap triage: three synthetic eval
      // suites (bench_id = doc_id % 3 over the held-out slice), per
      // cell a theta intersection estimate checked against the exact
      // truth within tolerance — the "which sources leak into which
      // evals" answer, no corpus-vs-bench gram join
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
        .select((col("doc_id") % 3).as("bench_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 37 =!= 0)
      val est = graft.functions.Curation.contaminationSketchMatrix(
        corpus, "source", bench, "bench_id", "text", n = 4)
      def grams(df: org.apache.spark.sql.DataFrame, keys: Seq[Column]) =
        df.select((keys :+ explode(
          Dedup.wordNgramsNative(col("text"), 4)).as("g")): _*)
      val segD = grams(corpus, Seq(col("source"))).distinct()
        .transform(graft.CachePool.persist(_))
      val benchD = grams(bench, Seq(col("bench_id"))).distinct()
        .transform(graft.CachePool.persist(_))
      val nG = segD.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
      val nB = benchD.groupBy(col("bench_id"))
        .agg(count(lit(1)).as("__n_bench"))
      val ov = segD.join(benchD, "g")
        .groupBy(col("source"), col("bench_id"))
        .agg(count(lit(1)).as("n_overlap"))
      def ok(e: Column, exact: Column, scale: Column) =
        abs(e - exact).cast("double") <= lit(0.06) * scale + lit(1.0)
      est.join(nG, "source")
        .join(broadcast(nB), "bench_id")
        .join(ov, Seq("source", "bench_id"), "left")
        .select(col("source"), col("bench_id"), col("n_grams"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          ok(col("est_grams"), col("n_grams"), col("n_grams"))
            .as("grams_ok"),
          ok(col("est_overlap"), coalesce(col("n_overlap"), lit(0L)),
            col("n_grams") + col("__n_bench")).as("overlap_ok"))
        .orderBy(col("source"), col("bench_id"))
    }),

    "curate_split_containment_safe" -> ((s, dir) => {
      // the nastier leakage mode: a test doc QUOTED inside a train doc
      // (directed containment) — invisible to Jaccard edges. Same
      // cluster-representative hash split, edges = containmentPairs.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.containmentPairs(
        docs.select(col("doc_id"), col("text")), "doc_id", "text",
        threshold = 0.9, n = 3)
      graft.functions.Curation.leakageSafeSplit(docs, "doc_id", pairs,
          salt = "splitc|")
        .orderBy(col("doc_id"))
    }),

    "curate_split_leakage_safe" -> ((s, dir) => {
      // leakage-safe split: hash the near-dup CLUSTER representative,
      // not the doc — no near-dup pair may straddle train/test (the
      // silent eval-contamination path). Edges = the portable
      // LSH+Jaccard pipeline; oracle replays reachability + md5
      // bucketing.
      val docs = t(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairsLsh(docs, "doc_id", "text",
        threshold = 0.15, n = 3, numHashes = 16, bands = 8,
        portable = true)
      graft.functions.Curation.leakageSafeSplit(docs, "doc_id", pairs)
        .orderBy(col("doc_id"))
    }),

    "curate_length_buckets" -> ((s, dir) =>
      // length-bucketed dynamic batching: pad-to = next multiple of 32
      // tokens, batches of 8 within each (shard, bucket) — per-doc
      // padding waste bounded by the step, not the global max length
      graft.functions.Curation.lengthBuckets(
        t(s, dir, "documents"), "doc_id", "text",
        step = 32, batchSize = 8, nShards = 4)
        .orderBy(col("doc_id"))),

    "curate_shuffle_shard" -> ((s, dir) =>
      // deterministic md5-order global shuffle into 16 shards with
      // within-shard positions — the epoch-reshuffleable training
      // order layout (new salt = new epoch)
      graft.functions.Curation.shuffleAssign(
        t(s, dir, "documents"), "doc_id", nShards = 16)
        .orderBy(col("doc_id"))),

    "curate_strip_boilerplate" -> ((s, dir) => {
      // C4-style template stripping: every doc gains its source's
      // footer line (25/25 docs → boilerplate, dropped) and every 5th
      // doc a shared rare line (5/25 = 20% < 60% → kept); the original
      // text line is unique per doc and must survive byte-identically
      val planted = concat(col("text"),
        lit("\n"), lit("visit "), col("source"), lit(" for more"),
        when(col("doc_id") % 5 === 0, lit("\nrare line")).otherwise(lit("")))
      graft.functions.Curation.stripBoilerplateLines(
        t(s, dir, "documents")
          .select(col("doc_id"), col("source"), planted.as("text")),
        "doc_id", "text", "source", minDocs = 10, minFrac = 0.6)
        .orderBy(col("doc_id"))
    }),

    "curate_mixture_sample" -> ((s, dir) => {
      // temperature-scaled source mixing (α = 0.5, budget 300):
      // per-source weight n^α/Σn^α realized as an exact integer
      // keep-rate-per-million, then the deterministic salted-hash
      // Bernoulli keep — the oracle replays weights, rates and the
      // per-source kept counts bit-for-bit
      val docs = t(s, dir, "documents")
      val rates = graft.functions.Curation.temperatureMixture(
        docs, "source", alpha = 0.5, budget = 300L)
      val kept = graft.functions.Curation.applyMixture(
          docs, "doc_id", "source", alpha = 0.5, budget = 300L)
        .groupBy(col("source")).agg(count(lit(1)).as("kept_docs"))
      rates.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("w_q"), col("rate_ppm"),
          coalesce(col("kept_docs"), lit(0L)).as("kept_docs"))
        .orderBy(col("source"))
    }),

    "curate_contamination_sketch" -> ((s, dir) => {
      // sketch-based contamination triage: per-source gram counts and
      // benchmark-overlap estimates from theta state (no corpus-vs-
      // bench gram join); booleans assert the estimates land within
      // theta tolerance of the exact truths the oracle pins
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("doc_id") % 37 === 0)
        .select(col("doc_id"), col("text"))
      val corpus = docs.filter(col("doc_id") % 37 =!= 0)
      val est = graft.functions.Curation.contaminationSketchReport(
        corpus, "source", bench, "text", n = 4)
      def grams(df: org.apache.spark.sql.DataFrame, keys: Seq[Column]) =
        df.select((keys :+ explode(
          Dedup.wordNgramsNative(col("text"), 4)).as("g")): _*)
      // truth side: distinct gram sets persist across their two uses
      // (bench: total + overlap probe) and the per-source total and
      // overlap fold into ONE left join + aggregation — the original
      // two-agg shape re-ran the tokenize→explode→distinct pipeline
      // three times and was 11.5 s of the sf0.1 bench alone (vs ~4 s)
      val segD = grams(corpus, Seq(col("source"))).distinct()
      val benchD = grams(bench, Seq.empty).distinct()
        .transform(graft.CachePool.persist(_))
      val nB = benchD.agg(count(lit(1)).as("__n_bench"))
      val cnts = segD
        .join(benchD.withColumn("__hit", lit(1)), Seq("g"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_grams"),
          count(col("__hit")).as("n_overlap"))
      def ok(e: Column, exact: Column, scale: Column) =
        abs(e - exact).cast("double") <= lit(0.06) * scale + lit(1.0)
      est.join(cnts, "source")
        .crossJoin(broadcast(nB))
        .select(col("source"), col("n_grams"), col("n_overlap"),
          ok(col("est_grams"), col("n_grams"), col("n_grams"))
            .as("grams_ok"),
          ok(col("est_overlap"), col("n_overlap"),
            col("n_grams") + col("__n_bench")).as("overlap_ok"))
        .orderBy(col("source"))
    }),

    "curate_url_canonical" -> ((s, dir) => {
      // URL canonicalization over deterministically messied URLs
      // (mixed-case scheme/host, default ports, duplicate slashes,
      // trailing slash, tracking params, unsorted query, fragment) —
      // the canonical string is the URL-dedup key; domain is the
      // per-site aggregation key. Map-only, rides the scan.
      val id = col("doc_id").cast("string")
      val messy = when(col("doc_id") % 2 === 0,
        concat(lit("HTTP://WWW."), col("source"),
          lit(".Example.COM:80//path//"), id,
          when(col("doc_id") % 3 === 0, lit(""))
            .otherwise(lit("/?utm_source=feed&b=2&a=1&gclid=x")),
          lit("#frag")))
        .otherwise(concat(lit("HTTPS://"), col("source"),
          lit(".Example.ORG:443/p/"), id, lit("/"),
          when(col("doc_id") % 3 === 0, lit("?z=9&utm_medium=email&a=1"))
            .otherwise(lit("")),
          lit("#x")))
      t(s, dir, "documents")
        .select(col("doc_id"), messy.as("__u"))
        .select(col("doc_id"),
          graft.functions.Web.canonicalizeUrl(col("__u")).as("url_canon"),
          graft.functions.Web.domainOf(col("__u")).as("domain"))
        .orderBy(col("doc_id"))
    }),

    "curate_k_anonymity" -> ((s, dir) =>
      // release screen before a record-level export: any
      // (nation, segment) combination shared by fewer than k=10
      // customers re-identifies its members; one partial-agg'd
      // groupBy, combination-sized output
      graft.functions.Curation.kAnonymityAudit(
        t(s, dir, "customer"), Seq("c_nationkey", "c_mktsegment"), k = 10)
        .orderBy(col("c_nationkey"), col("c_mktsegment"))),

    "curate_pii_redact" -> ((s, dir) => {
      // the corpus has no natural PII, so synthesize a deterministic
      // contact line per doc (both engines build the identical string)
      // and redact it — exercising both patterns on every row
      val synth = concat(col("text"), lit(" Contact user"),
        col("doc_id").cast("string"), lit("@mail.example.org or 555-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit("-9876."))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Curation.piiRedact(synth).as("redacted"))
        .orderBy(col("doc_id"))
    }),

    "txt_top_tokens" -> ((s, dir) =>
      // corpus-level heavy hitters: partial-agg'd counts, TakeOrdered
      // top-20 (ties break on the token)
      graft.functions.Curation.topTokens(t(s, dir, "documents"), "text", 20)),

    "txt_bpe_pairs" -> ((s, dir) =>
      // BPE training round-1 statistics: adjacent char-pair counts
      // over the word-frequency table (the corpus is scanned once;
      // pair work is vocab-sized), top-20 with deterministic ties
      TextAnalysis.bpePairCounts(t(s, dir, "documents"), "text",
        topK = 20)),

    "txt_bpe_merges" -> ((s, dir) =>
      // full BPE merge training, 8 rounds: per round one vocab-sized
      // partial-agg'd pair count + a 1-row TakeOrdered to the driver
      // + a map-side greedy merge (native kernel). The oracle unrolls
      // all 8 rounds in SQL, reproducing the left-to-right greedy
      // pairing with the run-parity rule — so the hash match proves
      // pair stats, argmax ties AND merge application round by round
      TextAnalysis.bpeTrain(t(s, dir, "documents"), "text", nMerges = 8)
        .orderBy(col("rank"))),

    "txt_bpe_local" -> ((s, dir) =>
      // the DRIVER-SIDE trainer (the 32k-vocab scale path: one
      // distributed word count, then incremental merges over the
      // MB-sized vocab — ~0.4 ms/merge vs the per-round-distributed
      // loop's ~0.1 s/merge scheduling floor, ScaleSmoke `bpe` mode)
      // under the same 8-round oracle as txt_bpe_merges: the two
      // trainers are parity-pinned
      TextAnalysis.bpeTrainLocal(t(s, dir, "documents"), "text",
          nMerges = 8)
        .orderBy(col("rank"))),

    "txt_bpe_segment" -> ((s, dir) => {
      // the ENCODER half: train 8 merges (driver-side trainer), apply
      // them in rank order to every distinct word. Sequential
      // application is training's own replay, so the segmentation
      // must equal the oracle unroll's final v8 vocabulary state —
      // train→encode round-trip consistency under the hash.
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis.bpeTrainLocal(docs, "text", nMerges = 8)
        .collect().sortBy(_.getInt(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeSegmentWords(docs, "text", merges)
        .orderBy(col("word"))
    }),

    "txt_unigram_train" -> ((s, dir) =>
      // unigram-LM (SentencePiece-style) tokenizer training, hard-EM
      // variant: seed substrings → 2 Viterbi-EM rounds → count-ranked
      // prune. Driver-side over the word-freq table (one distributed
      // corpus scan — the bpeTrainLocal scale contract). The oracle
      // replays ALL of it in SQL: recursive-CTE Viterbi (list-carried
      // DP + backtrack), the longer-piece tie rule, the single-char
      // count floor, and the nano-quantized ln probabilities.
      TextAnalysis.unigramTrainLocal(t(s, dir, "documents"), "text")
        .orderBy(col("piece"))),

    "txt_unigram_soft" -> ((s, dir) =>
      // SOFT-EM unigram training under the oracle — the full
      // forward–backward E-step (Kudo 2018 §3.2), previously
      // spec-only behind the float-honesty boundary, made
      // hash-gateable by probability-space α/β (single
      // correctly-rounded IEEE ops in a pinned order — no log-sum-exp
      // anywhere) and nano-quantized per-(word,piece) posterior
      // contributions summed as exact longs. The oracle replays the
      // α and β lattices as list-carried recursive CTEs mirroring the
      // exact operation order, then the same quantize→sum→floor→prune
      // pipeline.
      TextAnalysis.unigramTrainSoftQuantLocal(t(s, dir, "documents"),
          "text")
        .orderBy(col("piece"))),

    "txt_unigram_prune" -> ((s, dir) =>
      // EXACT-LOSS pruning (Kudo 2018 §3.2 step 3) under the oracle —
      // the stretch left open by round 13: after one quantized
      // soft-EM round, each count-ranked candidate is scored by the
      // exact segmentation mass its removal destroys (a second
      // forward lattice per (word, candidate) with the candidate
      // zeroed), the lost-mass fraction floor-quantized to nano longs
      // per pair before the order-free sum. The published criterion's
      // ln is transcendental (not cross-engine bit-stable); lost-mass
      // is pure ÷ × − in pinned IEEE order — standing rule 7.
      TextAnalysis.unigramTrainPruneLocal(t(s, dir, "documents"),
          "text")
        .orderBy(col("piece"))),

    "txt_unigram_segment" -> ((s, dir) => {
      // the ENCODER half: train, then Viterbi-encode every distinct
      // word under the pruned table (native kernel). The oracle runs
      // a third recursive-CTE Viterbi pass under its own replayed
      // final table — train→encode round-trip consistency under the
      // hash, exactly the txt_bpe_segment pattern.
      val docs = t(s, dir, "documents")
      val pieces = TextAnalysis.unigramTrainLocal(docs, "text")
        .collect().map(r => (r.getString(0), r.getLong(2))).toSeq
      TextAnalysis.unigramSegmentWords(docs, "text", pieces)
        .orderBy(col("word"))
    }),

    "txt_repetition" -> ((s, dir) =>
      graft.functions.Curation.repetitionStats(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))),

    "txt_script_profile" -> ((s, dir) => {
      // script router over deterministically mixed text: every 4th doc
      // gains a CJK block, every 4th+2 a Cyrillic block, sized by
      // doc_id so dominance flips for some docs and not others
      val mixed = concat(col("text"),
        when(col("doc_id") % 4 === 1,
          repeat(lit("文"), (pmod(col("doc_id"), lit(50)) * 10)
            .cast("int"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 2,
          repeat(lit("д"), (pmod(col("doc_id"), lit(40)) * 12)
            .cast("int"))).otherwise(lit("")))
      graft.functions.TextAnalysis.scriptProfile(
        t(s, dir, "documents").select(col("doc_id"), mixed.as("text")),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "txt_gopher_quality" -> ((s, dir) => {
      // Gopher filter battery over a deterministically constructed
      // multiline doc (the corpus text is single-line): even doc_ids
      // get their body duplicated (nonzero dup-line fractions), every
      // doc gains a bullet line and an ellipsis line, and the ≥50-word
      // gate splits the 10–99-word corpus — so every metric and the
      // final conjunction take both branches
      val doc = concat(col("text"),
        when(col("doc_id") % 2 === 0,
          concat(lit("\n"), col("text"))).otherwise(lit("")),
        lit("\n"), substring(col("text"), 1, 20),
        lit("\n- bullet item\ntrailing dots..."))
      graft.functions.TextAnalysis.gopherQualityStats(
        t(s, dir, "documents").select(col("doc_id"), doc.as("text")),
        "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "txt_lm_score" -> ((s, dir) =>
      // corpus-trained bigram LM score: mean ln P(w2|w1) per doc —
      // per-bigram log-probs floor-quantized then decimal-summed so
      // the distributed mean is order-independent
      graft.functions.TextAnalysis.bigramLmScore(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text")
        .orderBy(col("doc_id"))),

    "txt_char_entropy" -> ((s, dir) =>
      // compression-proxy quality signal: per-doc Shannon entropy in
      // bits over the code-point distribution — ONE native map-only
      // kernel (no explode, no shuffle); nano-bit integer sum for
      // engine-exact replay; the oracle replays the explode+groupBy
      // formulation and must agree bit-for-bit
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.charEntropy(col("text")).as("__ce"))
        .select(col("doc_id"),
          col("__ce.n_chars").as("n_chars_used"),
          col("__ce.n_distinct").as("n_distinct_chars"),
          (col("__ce.entropy_nanos").cast("double") / 1e9).as("entropy_bits"))
        .orderBy(col("doc_id"))),

    "txt_nb_train" -> ((s, dir) =>
      // multinomial NB trained distributed on the even-id half of the
      // corpus (lang as the label): the dense smoothed (term × label)
      // log-likelihood model — one partial-agg'd wordcount exchange,
      // model join forced to shuffle (vocab-sized side)
      TextAnalysis.naiveBayesTrain(
        t(s, dir, "documents").filter(col("doc_id") % 2 === 0),
        "lang", "text")
        .orderBy(col("label"), col("term"))),

    "txt_nb_classify" -> ((s, dir) => {
      // the trained model classifying the held-out odd-id half:
      // per-term contributions floor-quantized and DECIMAL-summed
      // (order-independent), OOV terms on the per-label smoothed
      // default, argmax ties on the label — fully engine-replayable
      val train = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val test = t(s, dir, "documents").filter(col("doc_id") % 2 === 1)
      TextAnalysis.naiveBayesClassify(test, "doc_id", "text",
        TextAnalysis.naiveBayesTrain(train, "lang", "text"),
        TextAnalysis.naiveBayesPriors(train, "lang", "text"))
        .orderBy(col("doc_id"))
    }),

    "txt_nb_char" -> ((s, dir) => {
      // NB with CHAR 3-gram features (the fastText/CCNet subword
      // shape — language ID by morphology, robust to OOV words): the
      // native CharNgramsAll kernel over the ws-normalized lowercase
      // text, same train/test split and nano-unit replay as
      // txt_nb_classify; the oracle fans grams out with
      // unnest(range(...)) + substr over the same normalization.
      val train = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val test = t(s, dir, "documents").filter(col("doc_id") % 2 === 1)
      val feats = TextAnalysis.nbCharNgramFeatures(3)
      TextAnalysis.naiveBayesClassify(test, "doc_id", "text",
        TextAnalysis.naiveBayesTrain(train, "lang", "text", feats),
        TextAnalysis.naiveBayesPriors(train, "lang", "text", feats),
        feats)
        .orderBy(col("doc_id"))
    }),

    "txt_nb_ngram" -> ((s, dir) => {
      // NB with the fastText feature shape (unigrams + word bigrams)
      // on planted docs ONLY n-gram features can classify: label 'f'
      // is a doc's own token stream, label 'r' the SAME tokens
      // reversed — unigram bags are identical between the labels BY
      // CONSTRUCTION (a bag erases order), so a unigram model scores
      // every test doc to a tie and the prior decides; bigrams encode
      // order and separate the two. Same nano-unit replay discipline
      // as txt_nb_classify; the bigram stream is the native
      // WordNgramsAll kernel (never an interpreted-Generate lambda).
      val docs = t(s, dir, "documents").filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
      val revText = concat_ws(" ",
        reverse(split(trim(col("text")), "\\s+")))
      val train = docs.select(col("doc_id"), lit("f").as("lbl"),
          col("text"))
        .unionByName(docs.select(col("doc_id"), lit("r").as("lbl"),
          revText.as("text")))
      val test = t(s, dir, "documents").filter(col("doc_id") % 4 === 1)
        .select(col("doc_id"), col("text"))
      val testBoth = test.select((col("doc_id") * 2).as("test_id"),
          col("text"))
        .unionByName(test.select((col("doc_id") * 2 + 1).as("test_id"),
          revText.as("text")))
      val feats = TextAnalysis.nbUnionFeatures(Seq(
        TextAnalysis.nbUnigramFeatures,
        TextAnalysis.nbWordNgramFeatures(2)))
      TextAnalysis.naiveBayesClassify(testBoth, "test_id", "text",
        TextAnalysis.naiveBayesTrain(train, "lbl", "text", feats),
        TextAnalysis.naiveBayesPriors(train, "lbl", "text", feats),
        feats)
        .orderBy(col("test_id"))
    }),

    "txt_tfidf_top" -> ((s, dir) =>
      // per-doc top-3 TF-IDF terms: df from a partial-agg'd groupBy of
      // the tf table, shuffle-joined back (never broadcast — the df
      // table spans the whole corpus vocabulary), corpus size via a
      // 1-row broadcast; ranking on the floor-quantized score with a
      // term tie-break
      graft.functions.TextAnalysis.tfidfTopTerms(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", k = 3)
        .orderBy(col("doc_id"), col("rank"))),

    "txt_bm25_rank" -> ((s, dir) => {
      // Okapi BM25 top-10 per query over an inverted-index-shaped plan:
      // postings in one partial-agg'd groupBy, query side broadcast,
      // per-term vocabulary stats semi-joined down to the query's terms
      // before broadcasting; per-term scores decimal-summed so the
      // total is order-independent
      import s.implicits._
      val queries = Seq((1L, "spark window agg"), (2L, "fast hash join"),
        (3L, "customer query table")).toDF("query_id", "qtext")
      graft.functions.TextAnalysis.bm25Rank(
        t(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", queries, "query_id", "qtext", k = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "txt_hybrid_rrf" -> ((s, dir) => {
      // hybrid retrieval: BM25 lexical top-20 fused with dense-ANN
      // cosine top-20 by reciprocal-rank fusion (k=60). Query ids are
      // >= 10_000_000 — outside EVERY fixture's vec_id range (sf0.1
      // reaches vec_id 1999) and clear of the planted-ANN +k*100000
      // ids, so the dense self-match filter never fires at any SF;
      // dense query vectors are anchor-document embeddings
      import s.implicits._
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val emb = t(s, dir, "embeddings")
      val queries = Seq((10000001L, "spark window agg"),
        (10000002L, "fast hash join"),
        (10000003L, "customer query table")).toDF("query_id", "qtext")
      val lex = graft.functions.TextAnalysis.bm25Rank(
        docs, "doc_id", "text", queries, "query_id", "qtext", k = 20)
        .select(col("query_id"), col("doc_id"), col("rank"))
      val anchors = Seq((10000001L, 10L), (10000002L, 20L), (10000003L, 30L))
        .toDF("query_id", "anchor")
      val qvecs = anchors.join(emb, col("anchor") === col("vec_id"))
        .select(col("query_id"), col("embedding").as("qvec"))
      val dense = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        qvecs, "query_id", "qvec", k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.functions.TextAnalysis.rrfFuse(Seq(lex, dense),
          "query_id", "doc_id", "rank", kConst = 60, topK = 10)
        .orderBy(col("query_id"), col("rank"))
    }),

    "txt_rbo_lists" -> ((s, dir) => {
      // rank-biased overlap between the EXACT cosine top-20 and its
      // int8-QUANTIZED top-20 for the same queries — RBO as the
      // rank-damage meter of quantization (overlap is structurally
      // high at any SF, so the gate never degenerates to 0 rows):
      // one (query, doc) equi-join + frozen-decimal weight lookups
      val emb = t(s, dir, "embeddings")
      val embD = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val queries = embD.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(embD, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val quant = Similarity.quantizedTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.functions.TextAnalysis.rboOverlap(exact, quant,
          "query_id", "doc_id", "rank", p = 0.9, k = 20)
        .orderBy(col("query_id"))
    }),

    "sim_rbo_pq" -> ((s, dir) => {
      // the ANN-quality audit the recall gates can't give: RBO@20
      // between exact cosine ranking and the PQ ADC ranking — a
      // ranked-overlap number per query instead of rank-1 recall.
      // Both rankings replay in the oracle (brute-force cosine;
      // id-stride codebooks + integer ADC), and the RBO weights are
      // the same frozen 12-decimal literals as txt_rbo_lists.
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding"))
      val books = Similarity.pqBooks(emb, "vec_id", "embedding",
        m = 8, k = 16, dims = 64)
      val queries = emb.filter(col("vec_id") % 50 === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      val pq = Similarity.pqTopK(emb, "vec_id", "embedding",
          queries, "query_id", "qvec", books, k = 20)
        .select(col("query_id"), col("vec_id").as("doc_id"), col("rank"))
      graft.functions.TextAnalysis.rboOverlap(exact, pq,
          "query_id", "doc_id", "rank", p = 0.9, k = 20)
        .orderBy(col("query_id"))
    }),

    "dedup_passage" -> ((s, dir) =>
      // C4-style passage-level exact dedup: 8-token passages, global
      // first occurrence by (doc_id, idx) survives, documents
      // reassembled from surviving passages
      Dedup.passageDedup(t(s, dir, "documents"), "doc_id", "text",
        passageTokens = 8)
        .orderBy(col("doc_id"))),

    "q_trgm_similarity" -> ((s, dir) =>
      // pg_trgm-style fuzzy pair search over customer names: inverted
      // trigram index for candidates (never a cross join), exact
      // Jaccard re-score from the full trigram sets
      graft.functions.Trigram.similarPairs(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
          .filter(col("c_custkey") <= 500),
        "c_custkey", "c_name", threshold = 0.8)
        .orderBy(col("id_a"), col("id_b"))),

    "q_fuzzy_pairs" -> ((s, dir) =>
      // edit-distance-1 pair search over customer names: FastSS
      // deletion-neighborhood inverted index for candidates (never a
      // cross join), exact levenshtein verify; the oracle brute-forces
      // the same pairs quadratically on the capped slice
      graft.functions.FuzzyJoin.editDistancePairs(
        t(s, dir, "customer").select(col("c_custkey"), col("c_name"))
          .filter(col("c_custkey") <= 500),
        "c_custkey", "c_name", maxDist = 1)
        .orderBy(col("id_a"), col("id_b"))),

    "q_fuzzy_join_2t" -> ((s, dir) => {
      // TWO-TABLE fuzzy join at edit distance ≤ 2 (the scale shape:
      // both sides explode into their FastSS deletion neighborhoods,
      // candidates come from the variant equi-join — never a cross
      // join — and exact levenshtein verifies candidates only; the
      // d=1 self-join variant is q_fuzzy_pairs). Disjoint id-parity
      // slices so the slices exist at every SF; the oracle
      // brute-forces the capped slices quadratically.
      val c = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"))
        .filter(col("c_custkey") <= 600)
      graft.functions.FuzzyJoin.editDistanceJoin(
        c.filter(col("c_custkey") % 2 === 0), "c_custkey", "c_name",
        c.filter(col("c_custkey") % 2 === 1), "c_custkey", "c_name",
        maxDist = 2)
        .orderBy(col("left_id"), col("right_id"))
    }),

    "q_pagerank" -> ((s, dir) => {
      // fixed-point PageRank (3 iterations) on the customer→supplier
      // purchase graph: integer-scaled state makes every iteration
      // bit-exact and summation-order-free — the reproducibility
      // property a verified 100 TB web-graph weighting run needs.
      // Suppliers are dangling; their damped mass leaks by design.
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      // orders projects to 2 longs — broadcast it so the edge build's
      // only exchange is the distinct's partial-agg'd shuffle
      val edges = broadcast(o).join(l, "o_orderkey")
        .select("src", "dst").distinct()
      graft.operators.Graph.pageRankFixedPoint(edges, "src", "dst",
          iters = 3)
        .orderBy(col("node"))
    }),

    "q_label_prop" -> ((s, dir) => {
      // seeded label propagation on the customer↔supplier purchase
      // graph: supplier nations are the seed labels, two synchronous
      // rounds spread them to customers (integer edge-multiplicity
      // votes, ties to the smaller label, seeds clamped) — the
      // graph-based semi-supervised labeler for propagating
      // domain/quality labels over interaction graphs; the oracle
      // unrolls both rounds in SQL
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = broadcast(o).join(l, "o_orderkey").select("src", "dst")
      val seeds = t(s, dir, "supplier")
        .select((col("s_suppkey") * 2 + 1).as("node"),
          col("s_nationkey").as("nation"))
      graft.operators.Graph.labelPropagate(edges, "src", "dst",
          seeds, "node", "nation", iters = 2)
        .orderBy(col("node"))
    }),

    "q_label_prop_delta" -> ((s, dir) => {
      // INCREMENTAL label propagation — the stored-artifact shape: the
      // base purchase graph's 2-round labeling is the stored table
      // (replayed by the oracle exactly like q_label_prop), a delta of
      // new orders (o_orderkey % 5 = 0) arrives, and
      // labelPropagateDelta runs 2 frontier-restricted warm-start
      // rounds over the full graph: round 1 re-votes only nodes
      // incident to delta edges, round 2 only neighbors of changed
      // nodes — frontier-sized shuffle work, oracle-unrolled in SQL.
      // Graph bounded to o_orderkey <= 6000 to keep the gate's cost
      // gate-shaped (the operator itself is corpus-scale).
      val o = t(s, dir, "orders").filter(col("o_orderkey") <= 6000)
        .select(col("o_orderkey"), (col("o_custkey") * 2).as("src"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      val all = broadcast(o).join(l, "o_orderkey")
      val base = all.filter(col("o_orderkey") % 5 =!= 0)
        .select("src", "dst")
      val delta = all.filter(col("o_orderkey") % 5 === 0)
        .select("src", "dst")
      val full = all.select("src", "dst")
      val seeds = t(s, dir, "supplier")
        .select((col("s_suppkey") * 2 + 1).as("node"),
          col("s_nationkey").as("nation"))
      val stored = graft.operators.Graph.labelPropagate(
        base, "src", "dst", seeds, "node", "nation", iters = 2)
      graft.operators.Graph.labelPropagateDelta(stored, full,
          "src", "dst", delta, seeds, "node", "nation", rounds = 2)
        ._1.orderBy(col("node"))
    }),

    "q_triangles" -> ((s, dir) => {
      // per-node triangle counts on the parts-co-ordered graph
      // (market-basket projection, basket-size capped) via
      // degree-ordered orientation — each triangle generated exactly
      // once at its lowest-(degree,id) apex, candidate fan-out
      // O(E^1.5) instead of hub-quadratic; the oracle replays with
      // the simple id orientation, which must agree node for node
      val edges = graft.operators.Graph.coOccurrenceEdges(
        t(s, dir, "lineitem").filter(col("l_orderkey") <= 3000),
        "l_orderkey", "l_partkey", maxGroupSize = 8)
      graft.operators.Graph.triangleCounts(edges, "u", "v")
        .orderBy(col("node"))
    }),

    "q_jaro_winkler" -> ((s, dir) =>
      // Jaro-Winkler pair verify on a capped part-name slice: the
      // codegen byte-level kernel must reproduce DuckDB's
      // jaro_winkler_similarity to the last ulp on every surviving
      // pair (similarity values are hash-compared at 9 decimals)
      graft.functions.FuzzyJoin.jaroWinklerPairs(
        t(s, dir, "part").select(col("p_partkey"), col("p_name"))
          .filter(col("p_partkey") <= 400),
        "p_partkey", "p_name", minSim = 0.88)
        .orderBy(col("id_a"), col("id_b"))),

    "q_bloom_semijoin" -> ((s, dir) => {
      // Bloom-prefiltered semi join: membership sketch built
      // distributed, map-side might_contain cuts the big side before
      // the exact shuffle semi-join rescues correctness
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      graft.operators.BloomJoin.semi(t(s, dir, "orders"), cust,
          "o_custkey", expectedItems = 100000L, numBits = 1000000L)
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    }),

    "q_bloom_antijoin" -> ((s, dir) => {
      // Bloom anti join: a sketch REJECT is a definite non-member and
      // passes through with no shuffle; only the accepted sliver pays
      // the exact left_anti that kills false positives
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey").as("o_custkey"))
      graft.operators.BloomJoin.anti(t(s, dir, "orders"), cust,
          "o_custkey", expectedItems = 100000L, numBits = 1000000L)
        .select(col("o_orderkey"), col("o_custkey"))
        .orderBy(col("o_orderkey"))
    }),

    "layout_zorder" -> ((s, dir) =>
      // Morton z-value over (custkey, orderkey) low 10 bits — the
      // clustering key a multi-dim-pruning layout rewrite sorts by;
      // pure codegen'd shift/and/sum arithmetic the oracle replays
      t(s, dir, "orders").select(col("o_orderkey"),
        graft.operators.Layout.zValue(Seq(
          pmod(col("o_custkey"), lit(1024L)),
          pmod(col("o_orderkey"), lit(1024L))), 10).as("zval"))
        .orderBy(col("o_orderkey"))),

    "layout_minmax_prune" -> ((s, dir) => {
      // zone-map data skipping: per-"file" min/max stats (file = an
      // orderkey-clustered slice, so l_orderkey envelopes are tight
      // and disjoint) plus the prune verdict for a range predicate on
      // the clustered key (skips almost every file) and the same test
      // on an unclustered column (skips none) — the case for
      // clustering, measured. Stats are files-sized: the planner
      // consults them without touching data.
      val L = graft.operators.Layout
      L.minMaxStats(t(s, dir, "lineitem"),
          floor(col("l_orderkey") / 1000).cast("long"),
          Seq("l_orderkey", "l_extendedprice"))
        .select(col("file_id"), col("n_rows"),
          col("min_l_orderkey"), col("max_l_orderkey"),
          L.canPrune("l_orderkey", lit(10000L), lit(20000L))
            .as("pruned_clustered"),
          L.canPrune("l_extendedprice", lit(10000.0), lit(20000.0))
            .as("pruned_unclustered"))
        .orderBy(col("file_id"))
    }),

    "layout_compaction_plan" -> ((s, dir) => {
      // small-file compaction planning: per-partition file inventory
      // (size = floor(totalprice) as the deterministic byte proxy —
      // floor BEFORE the bigint cast, since Spark truncates and DuckDB
      // rounds on double→bigint), then start-offset binning into
      // ~6 MB output bins — the window is partitioned per table
      // partition, so planning parallelizes across partitions
      val files = t(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("part"),
          floor(col("o_orderkey") / 200).cast("long").as("file_id"))
        .agg(sum(floor(col("o_totalprice")).cast("long")).as("size_bytes"))
      graft.operators.Layout.compactionPlan(files, Seq("part"),
          "file_id", "size_bytes", targetSize = 6000000L)
        .orderBy(col("part"), col("file_id"))
    }),

    "q_approx_distinct" -> ((s, dir) =>
      // HLL sketch audit: approx_count_distinct must sit within 6% of
      // the exact count per group (rsd = 0.02) — the pre-flight a
      // sketch-only 100 TB profile runs on a slice before dropping
      // the exact (Expand-heavy) path. Oracle asserts ok = TRUE and
      // replays the exact counts.
      graft.operators.Profile.sketchDistinctAudit(
        events(s, dir), "event_type", "user_id", rsd = 0.02, tol = 0.06)
        .orderBy(col("event_type"))),

    "q_approx_topk" -> ((s, dir) =>
      // frequent-items sketch audit: every user whose event count is
      // strictly above the 10th-largest count must appear in the
      // approx_top_k(10) list with an exact estimate (all 150–1500
      // users tracked). Boundary ties excluded on both sides → the
      // row set is deterministic.
      graft.operators.Profile.topKAudit(
        events(s, dir), "user_id", k = 10)
        .orderBy(col("item"))),

    "q_approx_quantiles" -> ((s, dir) =>
      // quantile sketch audit: percentile_approx's estimate must land
      // within its RANK-error contract (1/accuracy), measured as the
      // fraction of rows ≤ estimate vs the requested p — value error
      // is unbounded on skewed data, rank error is the guarantee
      graft.operators.Profile.quantileAudit(
        t(s, dir, "lineitem"), "l_extendedprice",
        Seq(0.25, 0.5, 0.75, 0.95), accuracy = 100, tol = 0.02)
        .orderBy(col("p"))),

    "dedup_cluster_cc" -> ((s, dir) => {
      // duplicate CLUSTERS from the pairwise LSH+Jaccard edges:
      // iterative min-label propagation to the unique fixpoint (min
      // doc_id per connected component) — the oracle recomputes it as
      // a recursive reachability CTE
      val edges = Dedup.ngramJaccardPairsLsh(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.15, n = 3, numHashes = 16,
        bands = 8, portable = true)
      Dedup.connectedComponents(edges, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    "dedup_cluster_cc_star_ckpt" -> ((s, dir) => {
      // same clusters through the OTHER CC algorithm (large/small-star
      // contraction, O(log²) rounds regardless of diameter) AND the
      // round-16 reliable-checkpoint path: every per-round lineage cut
      // is a real checkpoint() into a job-scoped dir — the
      // executor-loss-safe configuration a long 100 TB CC job runs
      // with — proven here against the same recursive-CTE oracle as
      // dedup_cluster_cc, tri-SF
      val edges = Dedup.ngramJaccardPairsLsh(t(s, dir, "documents"),
        "doc_id", "text", threshold = 0.15, n = 3, numHashes = 16,
        bands = 8, portable = true)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cc_gate_ckpt")
      trackStreamTmp(ckpt)
      Dedup.connectedComponentsStar(edges, "id_a", "id_b",
          checkpointDir = Some(ckpt.toString))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    "events_json_extract" -> ((s, dir) =>
      // semi-structured path extraction: props is a JSON string column;
      // get_json_object is codegen'd map-side path evaluation (no UDF,
      // no schema inference pass), so the parse stays inside the scan
      // stage and the shuffle carries only (event_type, k) partials
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"),
          countDistinct(col("k")).as("n_distinct_k"))
        .orderBy(col("event_type"))),

    "dedup_span_coverage" -> ((s, dir) =>
      // char-level cross-doc duplicate-span coverage (30-char grams):
      // sliding grams explode map-side, ≥2-distinct-doc grams survive
      // a partial-agg'd groupBy, coverage = interval union via the
      // running-max-end window — no per-character explode
      Dedup.dupSpanStats(t(s, dir, "documents"), "doc_id", "text",
        gramChars = 30)
        .orderBy(col("doc_id"))),

    "dedup_span_extents" -> ((s, dir) =>
      // maximal merged duplicate spans (the Lee et al. exact-substring
      // extents dedup_span_coverage only totals): overlapping/adjacent
      // duplicated-gram intervals union into per-doc maximal runs via
      // two window passes + a partial-agg'd groupBy — each span row
      // carries (start, end, len, n_grams)
      Dedup.dupSpans(t(s, dir, "documents"), "doc_id", "text",
        gramChars = 30)
        .orderBy(col("doc_id"), col("span_idx"))),

    "curate_scrub_spans" -> ((s, dir) => {
      // SURGICAL decontamination: splice the maximal duplicated spans
      // (dedup_span_extents' own table) OUT of each document instead
      // of dropping the document — span-level curation's apply step.
      // One equi-join + a codegen'd aggregate fold over the per-doc
      // span array (two substrs per span); docs without spans pass
      // through byte-identical.
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val spans = Dedup.dupSpans(docs, "doc_id", "text", gramChars = 30)
      graft.functions.Curation.scrubSpans(docs, spans, "doc_id", "text")
        .orderBy(col("doc_id"))
    }),

    "dedup_span_partners" -> ((s, dir) =>
      // span ATTRIBUTION: each maximal duplicated span row names the
      // partner document(s) sharing it and the partner-specific
      // sub-extent — the dup-gram table feeds both sides of ONE
      // bucketed equi-join on the gram; no document self-join
      Dedup.dupSpanPartners(t(s, dir, "documents"), "doc_id", "text",
        gramChars = 30)
        .orderBy(col("doc_id"), col("span_idx"), col("partner_id"))),

    "dedup_cluster_keep_best" -> ((s, dir) => {
      // canonical selection on top of the cc clusters: keep the
      // longest member (n_chars, ties → min doc_id) of each near-dup
      // cluster; singleton docs keep themselves. Argmax is a
      // partial-agg'd struct max, never a per-cluster window.
      val docs = t(s, dir, "documents")
      val edges = Dedup.ngramJaccardPairsLsh(docs, "doc_id", "text",
        threshold = 0.15, n = 3, numHashes = 16, bands = 8,
        portable = true)
      val clusters = Dedup.connectedComponents(edges, "id_a", "id_b")
      Dedup.keepBestPerCluster(docs, "doc_id", clusters, "n_chars")
        .orderBy(col("doc_id"))
    }),

    "events_funnel" -> ((s, dir) =>
      // ordered conversion funnel view → click → purchase: per-step
      // partial-agg'd mins chained on the user key (partitioning
      // reused, no windows); unreached steps stay null
      graft.operators.Sessionize.funnel(events(s, dir), "user_id",
          unix_micros(col("ts")), "event_type",
          Seq("view", "click", "purchase"))
        .orderBy(col("user_id"))),

    "events_sessionize" -> ((s, dir) =>
      // gap-based sessionization (30-min) + per-session rollup: one
      // shuffle on user_id shared by the windows AND the aggregation
      graft.operators.Sessionize.rollup(events(s, dir), "user_id",
        "event_id", unix_micros(col("ts")), gapUs = 1800000000L, "value")
        .orderBy(col("user_id"), col("session_idx"))),

    "events_cohort_retention" -> ((s, dir) =>
      // daily cohort retention matrix (the fixture spans 30 days —
      // daily buckets give a dense ~450-cell matrix): one full-data
      // shuffle on
      // user_id (min + join + partial-agg'd distinct), then
      // cohort-cell-sized aggregation and a broadcast size lookup
      graft.operators.Sessionize.cohortRetention(events(s, dir),
          "user_id", col("ts"), periodDays = 1)
        .orderBy(col("cohort_period"), col("period_offset"))),

    "events_session_window" -> ((s, dir) =>
      // session_window batch/stream parity gate: the SAME groupBy the
      // streaming path uses (EventStream.streamingSessionAgg wraps this
      // around readStream), run in batch mode against the events
      // fixture. Window end = last event + gap; a gap of EXACTLY the
      // duration starts a new session (half-open merge interval).
      graft.streaming.EventStream.sessionWindowAgg(events(s, dir),
          "30 minutes")
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"), col("sum_value").cast("double").as("sum_value"))
        .orderBy(col("user_id"), col("start_us"))),

    "events_asof_join" -> ((s, dir) => {
      // backward as-of join: each click attributed to the user's most
      // recent prior purchase — union + one window pass, single shuffle
      // on user_id, no join node (oracle: DuckDB's native ASOF JOIN)
      val ev = events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin.backward(clicks, purchases,
          Seq("user_id"), "ts_us", tieCol = "purchase_id")
        .orderBy(col("event_id"))
    }),

    "events_asof_fwd" -> ((s, dir) => {
      // forward as-of join: each click paired with the user's NEXT
      // purchase at-or-after it — same single-shuffle union+window
      // shape as backward (oracle: DuckDB ASOF with <=)
      val ev = events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin.forward(clicks, purchases,
          Seq("user_id"), "ts_us", tieCol = "purchase_id")
        .orderBy(col("event_id"))
    }),

    "events_asof_nearest" -> ((s, dir) => {
      // nearest as-of join: closer of the backward/forward purchase,
      // equal distances resolve backward — one shuffle, two window
      // frames, no join node (oracle: explicit argmin over a θ-join)
      val ev = events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin.nearest(clicks, purchases,
          Seq("user_id"), "ts_us", tieCol = "purchase_id")
        .orderBy(col("event_id"))
    }),

    "events_attribution" -> ((s, dir) => {
      // stream-stream interval join, run in batch: each click paired
      // with the user's purchases in the 30 min after it — key
      // equi-join + residual range predicate; the identical definition
      // runs on watermarked streams with bounded state (spec-verified)
      val ev = events(s, dir).withColumn("ts_us", unix_micros(col("ts")))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"),
          col("ts_us").as("click_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("ts_us").as("purchase_us"))
      graft.streaming.EventStream.intervalJoin(clicks, purchases,
          "user_id", "click_us", "purchase_us", lit(1800000000L))
        .select(col("user_id"), col("click_id"), col("purchase_id"))
        .orderBy(col("click_id"), col("purchase_id"))
    }),

    "events_range_join" -> ((s, dir) => {
      // binned point-in-interval join: error events located in their
      // gap-session interval — equi-join on (user_id, bin), BETWEEN
      // only on bin-colliding candidates, never quadratic per key
      val ev = events(s, dir)
      val sessions = graft.operators.Sessionize.rollup(ev, "user_id",
          "event_id", unix_micros(col("ts")), gapUs = 1800000000L, "value")
        .select(col("user_id"), col("session_idx"),
          col("start_us"), col("end_us"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"))
      graft.operators.RangeJoin.pointInInterval(errors, sessions,
          "ts_us", "start_us", "end_us", binWidth = 3600000000L,
          equiKeys = Seq("user_id"))
        .orderBy(col("event_id"))
    }),

    "events_resample" -> ((s, dir) =>
      // gap-filled hourly resample per event_type: one aggregate
      // shuffle + a generated spine join + forward-fill window
      graft.operators.Resample.resample(events(s, dir), "event_type",
          unix_micros(col("ts")), binUs = 3600000000L, "value")
        .orderBy(col("event_type"), col("bucket_us"))),

    "events_interpolate" -> ((s, dir) =>
      // resample + linear interpolation across empty buckets: both
      // direction passes share one (event_type, bucket) sort — one
      // exchange, two adjacent Window nodes
      graft.operators.Resample.interpolated(events(s, dir), "event_type",
          unix_micros(col("ts")), binUs = 3600000000L, "value")
        .orderBy(col("event_type"), col("bucket_us"))),

    "profile_zscore" -> ((s, dir) =>
      // per-segment z-score outliers on order totals: exact decimal
      // moments (partition-order-independent variance), one partial-
      // agg'd stats shuffle + join-back
      graft.operators.Profile.zscoreOutliers(
        t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderkey"),
            col("o_totalprice")),
        "c_mktsegment", "o_totalprice")
        .select(col("c_mktsegment"), col("o_orderkey"), col("zscore"),
          col("is_outlier"))
        .orderBy(col("o_orderkey"))),

    "profile_mad_outliers" -> ((s, dir) =>
      // robust median/MAD outliers per segment — the heavy-tail-safe
      // twin of profile_zscore; exact medians (audit-scale path),
      // broadcast join-backs, 4-decimal-floored modified z
      graft.operators.Profile.madOutliers(
        t(s, dir, "orders")
          .join(broadcast(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment"))),
            col("o_custkey") === col("c_custkey"))
          .select(col("c_mktsegment"), col("o_orderkey"),
            col("o_totalprice")),
        "c_mktsegment", "o_totalprice")
        .select(col("c_mktsegment"), col("o_orderkey"), col("mad_z"),
          col("is_outlier"))
        .orderBy(col("o_orderkey"))),

    "profile_orders" -> ((s, dir) =>
      // per-column migration profile: one scan, one single-row agg
      // (exact distinct via Expand), canonical min/max strings
      graft.operators.Profile.profile(t(s, dir, "orders"))
        .orderBy(col("col_name"))),

    "profile_migration_audit" -> ((s, dir) =>
      // both sides profiled + full-outer compared per column: the
      // perturbed o_totalprice and the row-set drift must flag, the
      // intact o_custkey distinct-set must not
      graft.operators.Profile.compare(diffSrc(s, dir), diffTgt(s, dir))
        .orderBy(col("col_name"))),

    "profile_histogram" -> ((s, dir) =>
      // equi-width value distribution: 1-row min/max broadcast, then
      // a map-side bucket projection and a <=10-key groupBy — the
      // audit that catches in-range value drift min/max misses
      graft.operators.Profile.histogram(t(s, dir, "orders"),
        "o_totalprice", nBuckets = 10)
        .orderBy(col("bucket"))),

    "c19_digest_diff" -> ((s, dir) =>
      // Merkle-pruned incremental diff: per-bucket (count, xor-of-row-
      // hash) digests on both sides, full diff only over dirty buckets;
      // output = the non-identical rows a sync would apply
      DiffSync.digestDiff(diffSrc(s, dir), diffTgt(s, dir),
          Seq("o_orderkey"), nBuckets = 64)
        .select(col("o_orderkey"), col(DiffSync.FlagCol).as("row_state"))
        .orderBy(col("o_orderkey"))),

    "c27_incremental_agg_cdc" -> ((s, dir) => {
      // retraction-capable aggregate maintenance: mixed upsert (every
      // o_orderkey % 10 == 3, price+1, with a KEY MOVE to custkey+1
      // when % 20 == 3) and delete (% 10 == 4) CDC on the orders
      // fact; only the touched keys' rows re-aggregate — must equal
      // the oracle's full re-aggregation of the CDC-applied table
      val ord = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))
      val I = graft.operators.Incremental
      val state0 = I.aggState(ord, "o_custkey", Seq("o_totalprice"))
      val cdc = ord
        .filter(col("o_orderkey") % 10 === 3 || col("o_orderkey") % 10 === 4)
        .select(
          when(col("o_orderkey") % 10 === 4, lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("o_orderkey"),
          when(col("o_orderkey") % 20 === 3, col("o_custkey") + 1)
            .otherwise(col("o_custkey")).as("o_custkey"),
          (col("o_totalprice") + 1).as("o_totalprice"))
      I.aggStateCdc(ord, state0, cdc, "o_custkey", "o_orderkey",
          Seq("o_totalprice"))
        .select(col("o_custkey"), col("n_rows"),
          col("sum_o_totalprice").cast("double").as("sum_price"),
          col("min_o_totalprice").as("min_price"),
          col("max_o_totalprice").as("max_price"))
        .orderBy(col("o_custkey"))
    }),

    "c28_incremental_distinct" -> ((s, dir) => {
      // mergeable-sketch distinct counting: per-priority HLL state on
      // history unioned with a delta sketch; the unioned estimate
      // must be IDENTICAL under a completely different batch split
      // (register-max ⇒ partition-invariant — the 100 TB contract:
      // sketch every file, union later, arrival order irrelevant)
      // and within 6% of exact. NOT compared against a direct-agg
      // estimate: direct sketches use HIP, which union cannot
      // preserve — a real integration trap, pinned here.
      val P = graft.operators.Profile
      def unionEst(a: DataFrame, b: DataFrame) = P.estimateDistinct(
        P.mergeDistinctSketches(
          P.distinctSketch(a, "o_orderpriority", "o_custkey"),
          P.distinctSketch(b, "o_orderpriority", "o_custkey"),
          "o_orderpriority"),
        "o_orderpriority")
      val ord = t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_custkey"))
      val merged = unionEst(ord.filter(col("o_orderkey") % 7 =!= 0),
          ord.filter(col("o_orderkey") % 7 === 0))
        .withColumnRenamed("n_est", "n_inc")
      val alt = unionEst(ord.filter(col("o_orderkey") % 2 === 0),
          ord.filter(col("o_orderkey") % 2 =!= 0))
        .withColumnRenamed("n_est", "n_alt")
      val exact = ord.groupBy(col("o_orderpriority"))
        .agg(countDistinct(col("o_custkey")).as("n_exact"))
      exact.join(merged, Seq("o_orderpriority"))
        .join(alt, Seq("o_orderpriority"))
        .select(col("o_orderpriority"), col("n_exact"),
          (col("n_inc") === col("n_alt")).as("split_invariant"),
          (abs(col("n_inc") - col("n_exact")).cast("double") <=
            lit(0.06) * col("n_exact")).as("est_ok"))
        .orderBy(col("o_orderpriority"))
    }),

    "q_theta_segments" -> ((s, dir) => {
      // theta-sketch set algebra on pre-aggregated segment state:
      // distinct-customer overlap and difference between the hot
      // (priority 1–2) and cold order segments, estimated from two
      // compact sketches — no distinct-join over raw history. The
      // oracle pins exact counts; booleans assert each estimate
      // lands within theta tolerance of exact.
      val T = graft.functions.Theta
      val seg = t(s, dir, "orders").select(
        when(col("o_orderpriority") <= "2-HIGH", lit("hot"))
          .otherwise(lit("cold")).as("seg"),
        col("o_custkey"))
      val sk = seg.groupBy(col("seg"))
        .agg(T.thetaSketchAgg(col("o_custkey")).as("sk"))
      val pair = sk.filter(col("seg") === "hot").select(col("sk").as("sk_h"))
        .crossJoin(sk.filter(col("seg") === "cold").select(col("sk").as("sk_c")))
        .select(T.thetaEstimate(col("sk_h")).as("e_hot"),
          T.thetaEstimate(col("sk_c")).as("e_cold"),
          T.thetaIntersectEstimate(col("sk_h"), col("sk_c")).as("e_inter"),
          T.thetaDiffEstimate(col("sk_h"), col("sk_c")).as("e_diff"))
      val hot = seg.filter(col("seg") === "hot")
        .select(col("o_custkey")).distinct()
      val cold = seg.filter(col("seg") === "cold")
        .select(col("o_custkey")).distinct()
      val exact = hot.agg(count(lit(1)).as("n_hot"))
        .crossJoin(cold.agg(count(lit(1)).as("n_cold")))
        .crossJoin(hot.join(cold, Seq("o_custkey"), "left_semi")
          .agg(count(lit(1)).as("n_inter")))
      // tolerance scales with the SET the sketch sampled, not the
      // answer: a tiny A\B between two huge segments has absolute
      // error ~ |A|/√k (theta keeps k samples of A, few land in the
      // sliver), so 6%-of-answer would be an impossible bar
      def ok(est: Column, exact: Column, scale: Column) =
        abs(est - exact).cast("double") <= lit(0.06) * scale + lit(1.0)
      exact.crossJoin(pair)
        .select(col("n_hot"), col("n_cold"), col("n_inter"),
          ok(col("e_hot"), col("n_hot"), col("n_hot")).as("hot_ok"),
          ok(col("e_cold"), col("n_cold"), col("n_cold")).as("cold_ok"),
          ok(col("e_inter"), col("n_inter"), col("n_inter")).as("inter_ok"),
          ok(col("e_diff"), col("n_hot") - col("n_inter"), col("n_hot"))
            .as("diff_ok"))
    }),

    "c22_incremental_agg" -> ((s, dir) => {
      // incremental MV maintenance: combine(state(history),
      // state(delta)) replayed against the oracle's aggregate over
      // ALL rows — the equivalence IS the gate. Only the delta is
      // scanned at refresh time; the join is keys-sized.
      val ord = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_totalprice"))
      val hist = ord.filter(col("o_orderkey") % 5 < 3)
      val delta = ord.filter(col("o_orderkey") % 5 >= 3)
      val I = graft.operators.Incremental
      I.combine(
          I.aggState(hist, "o_custkey", Seq("o_totalprice")),
          I.aggState(delta, "o_custkey", Seq("o_totalprice")),
          "o_custkey", Seq("o_totalprice"))
        .select(col("o_custkey"), col("n_rows"),
          col("sum_o_totalprice").cast("double").as("sum_price"),
          col("min_o_totalprice").as("min_price"),
          col("max_o_totalprice").as("max_price"))
        .orderBy(col("o_custkey"))
    }),

    "c25_scd2_lookup" -> ((s, dir) => {
      // point-in-time SCD2 lookup: two-version synthetic dimension
      // over customer (every 3rd key re-versioned at ts 200), facts
      // from orders with a deterministic ts spanning the boundary —
      // equi-join on the key, interval predicate as residual filter
      val cust = t(s, dir, "customer")
      val v1 = cust.select(col("c_custkey"), col("c_acctbal").as("val"),
        lit(100L).as("valid_from"),
        when(col("c_custkey") % 3 === 0, lit(200L))
          .otherwise(lit(null).cast("long")).as("valid_to"))
      val v2 = cust.filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey"), (col("c_acctbal") + 10.0).as("val"),
          lit(200L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      val facts = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey").as("c_custkey"),
          (lit(150L) + col("o_orderkey") % 100).as("ts"))
      graft.operators.Scd2.lookup(v1.unionByName(v2), facts,
          "c_custkey", "ts")
        .orderBy(col("o_orderkey"))
    }),

    "c26_incremental_join_cdc" -> ((s, dir) => {
      // retraction-capable join maintenance: mixed insert/update/delete
      // CDC batches on BOTH sides of a stored orders⋈customer join —
      // stale rows drop via broadcast anti-joins on the touched keys,
      // touched slices re-derive from the upserted payloads; must equal
      // the oracle's full rejoin of the CDC-applied inputs
      val a0 = t(s, dir, "orders").select(col("o_custkey").as("custkey"),
        col("o_orderkey"), col("o_totalprice"))
      val b0 = t(s, dir, "customer").select(col("c_custkey").as("custkey"),
        col("c_name"), col("c_acctbal"))
      val j0 = a0.join(b0, Seq("custkey"))
      val aCdc = t(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 3 || col("o_orderkey") % 10 === 4)
        .select(when(col("o_orderkey") % 10 === 4, lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("o_custkey").as("custkey"), col("o_orderkey"),
          (col("o_totalprice") + 1).as("o_totalprice"))
      val bCdc = t(s, dir, "customer")
        .filter(col("c_custkey") % 7 === 2 || col("c_custkey") % 7 === 3)
        .select(when(col("c_custkey") % 7 === 3, lit("delete"))
            .otherwise(lit("upsert")).as("op"),
          col("c_custkey").as("custkey"),
          concat(col("c_name"), lit("*")).as("c_name"), col("c_acctbal"))
      graft.operators.Incremental.joinDeltaCdc(j0, a0, b0, aCdc, bCdc,
          Seq("custkey"), "o_orderkey", "custkey", "op")
        .orderBy(col("o_orderkey"))
    }),

    "c24_incremental_join" -> ((s, dir) => {
      // delta-only join maintenance: Δ(A⋈B) = ΔA⋈B₀ ∪ A₀⋈ΔB ∪ ΔA⋈ΔB
      // with both deltas broadcast — historical sides scanned, never
      // reshuffled. Oracle recomputes the delta as the full new join
      // minus the old⋈old quadrant (same predicate algebra).
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val l = t(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"),
          col("l_quantity"))
      graft.operators.Incremental.joinDelta(
        o.filter(col("o_orderkey") % 10 < 8),
        o.filter(col("o_orderkey") % 10 >= 8),
        l.filter(col("l_linenumber") % 7 < 6),
        l.filter(col("l_linenumber") % 7 >= 6),
        Seq("o_orderkey"))
        .orderBy(col("o_orderkey"), col("l_linenumber"))
    }),

    "c23_latest_by_key" -> ((s, dir) =>
      // CDC/upsert compaction: newest event per user via a partial-
      // agg'd struct-max argmax (map-side combine; no per-key window
      // a hot key could pin to one task)
      graft.operators.Incremental.latestByKey(
        events(s, dir).select(col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("event_id"),
          col("event_type"), col("value")),
        "user_id", "ts_us", "event_id", Seq("event_type", "value"))
        .orderBy(col("user_id"))),

    "c21_sampled_diff" -> ((s, dir) =>
      // sampled spot-check audit: both sides keep the same
      // deterministic 1/8 PK-hash slice (portable md5 mod), full
      // classification on the sliver only — row_state histogram
      // included so sampling bias would surface as a count shift
      graft.operators.DiffSync.sampledDiff(diffSrc(s, dir),
          diffTgt(s, dir), Seq("o_orderkey"), modulus = 8)
        .groupBy(col(graft.operators.DiffSync.FlagCol).as("row_state"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("row_state"))),

    "scd2_cdc_collapse" -> ((s, dir) => {
      // RAW multi-change-per-key CDC feed → collapseCdc → applyCdc,
      // against the snapshot apply2 oracle (c20's, verbatim): each
      // classified change gets two STALE earlier versions (lower seq,
      // wrong values, wrong flags — seq 0 pretends the key is new
      // with a negated price, seq 1 an intermediate +999 change);
      // the max(struct(seq, …)) collapse must keep exactly the
      // highest-seq truth per key, or the fold diverges from the
      // snapshot. This is the day-one real-CDC shape applyCdc's
      // one-change-per-key contract deferred to the caller — now
      // enforceable by construction.
      val dim = t(s, dir, "orders").filter(col("o_orderkey") % 10 =!= 3)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          lit("2025-01-01").as("valid_from"),
          lit(null).cast("string").as("valid_to"),
          lit(true).as("is_current"))
      val changes = DiffSync.diff(
          diffSrc(s, dir).drop("o_custkey"),
          diffTgt(s, dir).drop("o_custkey"), Seq("o_orderkey"))
        .filter(col(DiffSync.FlagCol) =!= "identical")
      val noisy = changes
        .select(col("o_orderkey"), col("o_totalprice"),
          col(DiffSync.FlagCol), lit(2L).as("seq"))
        .unionByName(changes.select(col("o_orderkey"),
          (col("o_totalprice") + 999.0).as("o_totalprice"),
          lit("changed").as(DiffSync.FlagCol), lit(1L).as("seq")))
        .unionByName(changes.select(col("o_orderkey"),
          (-col("o_totalprice")).as("o_totalprice"),
          lit("new").as(DiffSync.FlagCol), lit(0L).as("seq")))
      val collapsed = graft.operators.Scd2.collapseCdc(noisy,
        "o_orderkey", "seq").drop("seq")
      graft.operators.Scd2.applyCdc(dim, collapsed, "o_orderkey",
          Seq("o_totalprice"), DiffSync.FlagCol, lit("2026-01-01"))
        .orderBy(col("o_orderkey"), col("valid_from"), col("is_current"))
    }),

    "c20_scd2_apply" -> ((s, dir) => {
      // SCD Type-2 dimension maintenance (Kettle "Dimension
      // lookup/update", Spark-native): one full-outer join between
      // the current-version slice and the snapshot — changed keys
      // close + reopen, new keys open, vanished keys close
      val ord = t(s, dir, "orders")
      val dim = ord.filter(col("o_orderkey") % 10 =!= 3)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 7 === 0, col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")).as("o_totalprice"),
          lit("2025-01-01").as("valid_from"),
          lit(null).cast("string").as("valid_to"),
          lit(true).as("is_current"))
      val snap = ord.filter(col("o_orderkey") % 10 =!= 4)
        .select(col("o_orderkey"), col("o_totalprice"))
      graft.operators.Scd2.apply2(dim, snap, "o_orderkey",
          Seq("o_totalprice"), lit("2026-01-01"))
        .orderBy(col("o_orderkey"), col("valid_from"), col("is_current"))
    })
  )

  /** DuckDB oracles. Portability notes: DuckDB regexp_replace needs the
    * 'g' flag to replace all; `%` is mod; strftime for date formatting;
    * list_transform/list_min/list_distinct for array ops; md5 hex
    * matches Spark's.
    */
  /** Brute-force top-5 over naturals + the 5 planted near-copies per
    * query (portable integer-noise perturbation, replicated here
    * bit-for-bit) — the exact oracle both approximate ANN paths
    * (banded sign-LSH, IVF) must equal on this fixture.
    */
  /** Shared oracle prefix: the lexical BM25 top-20 (`llist`) and
    * dense cosine top-20 (`dlist`) retrieval lists of the hybrid
    * gates — txt_hybrid_rrf fuses them, txt_rbo_lists compares them.
    */
  private val hybridListsSqlPrefix: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
      |  FROM documents),
      |tfc AS (
      |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
      |    SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks)
      |  GROUP BY 1, 2, 3),
      |dft AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
      |stats AS (SELECT COUNT(*) AS n, SUM(len(tk)) AS sumdl FROM toks),
      |q AS (SELECT DISTINCT query_id, term FROM (
      |  SELECT query_id,
      |    unnest(regexp_split_to_array(trim(qtext), '\s+')) AS term
      |  FROM (VALUES (10000001, 'spark window agg'),
      |    (10000002, 'fast hash join'),
      |    (10000003, 'customer query table')) AS v(query_id, qtext))),
      |sc AS (
      |  SELECT q.query_id, tfc.doc_id,
      |    CAST(floor(
      |      ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) *
      |      (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
      |      (tf + CAST(1.2 AS DOUBLE) *
      |        (0.25 + CAST(0.75 AS DOUBLE) * dl * n
      |          / CAST(sumdl AS DOUBLE)))
      |      * 1e9) / 1e9 AS DECIMAL(28,9)) AS s
      |  FROM tfc JOIN q USING (term) JOIN dft USING (term)
      |  CROSS JOIN stats),
      |agg AS (SELECT query_id, doc_id, SUM(s) AS t FROM sc GROUP BY 1, 2),
      |llist AS (SELECT query_id, doc_id, rank FROM (
      |  SELECT query_id, doc_id, row_number() OVER (
      |    PARTITION BY query_id ORDER BY t DESC, doc_id) AS rank FROM agg)
      |  WHERE rank <= 20),
      |aq AS (SELECT * FROM (VALUES (10000001, 10), (10000002, 20),
      |  (10000003, 30)) v(query_id, anchor)),
      |dq AS (SELECT aq.query_id, e.embedding AS qvec
      |  FROM aq JOIN embeddings e ON e.vec_id = aq.anchor),
      |dscored AS (
      |  SELECT dq.query_id, e.vec_id AS doc_id,
      |    list_sum(list_transform(range(1, len(e.embedding) + 1),
      |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(dq.qvec[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(e.embedding,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
      |     * sqrt(list_sum(list_transform(dq.qvec,
      |         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM embeddings e CROSS JOIN dq),
      |dlist AS (SELECT query_id, doc_id, rank FROM (
      |  SELECT query_id, doc_id, ROW_NUMBER() OVER (
      |    PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
      |  FROM dscored) WHERE rank <= 20)""".stripMargin

  /** Shared by events_top_paths and its keyed-state streaming twin
    * stream_path_ngrams (additive path counter + TakeOrdered k).
    */
  private val topPathsOracle: String = """WITH p AS (
        |  SELECT event_type AS t0,
        |    lead(event_type, 1) OVER w AS t1,
        |    lead(event_type, 2) OVER w AS t2
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |c AS (
        |  SELECT t0 || ' > ' || t1 || ' > ' || t2 AS path,
        |    count(*) AS n_paths
        |  FROM p WHERE t1 IS NOT NULL AND t2 IS NOT NULL
        |  GROUP BY 1)
        |SELECT path, n_paths FROM c
        |ORDER BY n_paths DESC, path ASC LIMIT 10""".stripMargin

  /** events_pattern_match oracle: journey via ordered string_agg,
    * match count via regexp_extract_all — identical leftmost
    * non-overlapping semantics for the portable regex subset.
    */
  private val patternMatchOracle: String = """WITH j AS (
        |  SELECT user_id, string_agg(CASE event_type WHEN 'view' THEN 'v'
        |      WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
        |      WHEN 'signup' THEN 's' ELSE 'e' END, ''
        |      ORDER BY ts, event_id) AS journey
        |  FROM events GROUP BY user_id)
        |SELECT user_id, CAST(len(journey) AS INT) AS n_events,
        |  CAST(len(regexp_extract_all(journey, 'v[ce]*p')) AS INT)
        |    AS n_matches
        |FROM j WHERE len(regexp_extract_all(journey, 'v[ce]*p')) > 0
        |ORDER BY user_id""".stripMargin

  /** events_pattern_extract oracle: the matched runs themselves via
    * regexp_extract_all (leftmost non-overlapping — identical
    * semantics to the Spark side on the portable subset).
    */
  private val patternExtractOracle: String = """WITH j AS (
        |  SELECT user_id, string_agg(CASE event_type WHEN 'view' THEN 'v'
        |      WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
        |      WHEN 'signup' THEN 's' ELSE 'e' END, ''
        |      ORDER BY ts, event_id) AS journey
        |  FROM events GROUP BY user_id),
        |m AS (
        |  SELECT user_id, CAST(len(journey) AS INT) AS n_events,
        |    regexp_extract_all(journey, 'v[ce]*p') AS runs
        |  FROM j)
        |SELECT user_id, n_events, CAST(len(runs) AS INT) AS n_matches,
        |  array_to_string(runs, ' ') AS runs
        |FROM m WHERE len(runs) > 0
        |ORDER BY user_id""".stripMargin

  /** Shared oracle of the streaming exact-dedup twins (NoTimeout +
    * TTL): keeper per fingerprint = min-id row of the earliest slice
    * (doc_id % 3) containing it — the operator's first-batch min-id
    * rule under the deterministic stream-prefix fixture.
    */
  private val dedupExactStreamOracle: String =
    """SELECT doc_id, text, fp FROM (
      |  SELECT doc_id, text,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |    ROW_NUMBER() OVER (
      |      PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
      |      ORDER BY doc_id % 3, doc_id) AS rn
      |  FROM documents) t
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Shared oracle of the streaming A-ES sampler twins (NoTimeout +
    * TTL): the batch weightedSample replayed bit-for-bit.
    */
  private val weightedSampleStreamOracle: String =
    """SELECT doc_id, w FROM (
      |  SELECT doc_id, strlen(text) AS w,
      |    pow((CAST(('0x' || substr(md5('wsample|' ||
      |        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
      |      / 1152921504606846976.0,
      |      1.0 / strlen(text)) AS k
      |  FROM documents
      |  ORDER BY k DESC, doc_id LIMIT 200) t
      |ORDER BY doc_id""".stripMargin

  /** Shared oracle of the streaming quota sampler twins (NoTimeout +
    * TTL): the batch quotaSample replayed verbatim.
    */
  private val quotaSampleStreamOracle: String =
    """WITH r AS (
      |  SELECT doc_id, source,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY md5('quota|' || CAST(doc_id AS VARCHAR)), doc_id)
      |      AS BIGINT) AS pick_rank
      |  FROM documents)
      |SELECT doc_id, source, pick_rank FROM r
      |WHERE pick_rank <= 20 ORDER BY doc_id""".stripMargin

  /** stream_pattern_multi oracle: the per-pattern journey counts,
    * one labeled block per pattern.
    */
  private val patternMultiOracle: String = """WITH j AS (
        |  SELECT user_id, string_agg(CASE event_type WHEN 'view' THEN 'v'
        |      WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
        |      WHEN 'signup' THEN 's' ELSE 'e' END, ''
        |      ORDER BY ts, event_id) AS journey
        |  FROM events GROUP BY user_id),
        |c AS (
        |  SELECT user_id, 'vp_run' AS pattern,
        |    CAST(len(journey) AS INT) AS n_events,
        |    CAST(len(regexp_extract_all(journey, 'v[ce]*p')) AS INT)
        |      AS n_matches
        |  FROM j
        |  UNION ALL
        |  SELECT user_id, 'sp_run',
        |    CAST(len(journey) AS INT),
        |    CAST(len(regexp_extract_all(journey, 's[vce]*p')) AS INT)
        |  FROM j)
        |SELECT user_id, pattern, n_events, n_matches FROM c
        |WHERE n_matches > 0
        |ORDER BY user_id, pattern""".stripMargin

  /** Shared by events_transitions and its keyed-state streaming twin
    * stream_transitions (cumulative pairs + the same matrix agg).
    */
  private val transitionsOracle: String = """WITH p AS (
        |  SELECT user_id, event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*) AS n FROM p
        |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot
        |  FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  floor(CAST(c.n AS DOUBLE) / CAST(t.tot AS DOUBLE) * 10000) / 10000
        |    AS p
        |FROM c JOIN t USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin

  /** Shared by txt_bpe_merges and its driver-side twin
    * txt_bpe_local (bpeTrainLocal is parity-pinned to bpeTrain,
    * so the 8-round unroll gates both).
    */
  private val bpeMergesOracle: String = {
      // 8 unrolled BPE rounds (the shared bpeUnrollWith prefix); each
      // round: pair stats (x/p), argmax with the same (count desc,
      // pair asc) tie rule as the operator (m), greedy-match selection
      // via the run-parity rule (st/g/c — within a run of consecutive
      // match starts, every other start from the first; exactly
      // BpeMergePair's left-to-right scan), drop the consumed b's (d),
      // reassemble (v). Final select = the merge table m1..m8.
      val finalSel = (1 to 8).map(k =>
        s"SELECT $k AS rank, a AS sym_a, b AS sym_b, n FROM m$k")
        .mkString("\nUNION ALL ")
      s"""$bpeUnrollWith
         |$finalSel
         |ORDER BY rank""".stripMargin
    }

  /** The WITH prefix shared by the BPE oracles: word-freq table, v0 =
    * char symbols, then 8 unrolled merge rounds ending at v8 (the
    * segmentation state) and m1..m8 (the merge table rows).
    * EXHAUSTION-SAFE: st_k joins m_k with LEFT JOIN ON TRUE — when
    * training exhausts early, m_k is empty, every st is 0 and v_k
    * carries v_{k-1} forward unchanged (a cross join would empty
    * v_k..v8 and the segmentation oracle would return zero rows
    * while the Spark side still emits every word).
    */
  private def bpeUnrollWith: String = {
      val rounds = (1 to 8).map { k =>
        val prev = k - 1
        s"""e$k AS (
           |  SELECT w, f, generate_subscripts(s, 1) AS pos, unnest(s) AS sym
           |  FROM v$prev),
           |x$k AS (
           |  SELECT w, f, pos, sym,
           |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
           |  FROM e$k),
           |p$k AS (
           |  SELECT sym || ' ' || nxt AS pr, CAST(SUM(f) AS BIGINT) AS n
           |  FROM x$k WHERE nxt IS NOT NULL GROUP BY 1),
           |m$k AS (
           |  SELECT string_split(pr, ' ')[1] AS a,
           |    string_split(pr, ' ')[2] AS b, n
           |  FROM p$k ORDER BY n DESC, pr ASC LIMIT 1),
           |st$k AS (
           |  SELECT x.w, x.f, x.pos, x.sym, x.nxt,
           |    CASE WHEN x.sym = m.a AND x.nxt = m.b THEN 1 ELSE 0 END AS st
           |  FROM x$k x LEFT JOIN m$k m ON TRUE),
           |g$k AS (
           |  SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY w, st
           |    ORDER BY pos) AS grp
           |  FROM st$k),
           |c$k AS (
           |  SELECT *, CASE WHEN st = 1 AND
           |      (pos - MIN(pos) OVER (PARTITION BY w, grp, st)) % 2 = 0
           |    THEN 1 ELSE 0 END AS chosen
           |  FROM g$k),
           |d$k AS (
           |  SELECT *, COALESCE(LAG(chosen) OVER (PARTITION BY w
           |    ORDER BY pos), 0) AS dropme
           |  FROM c$k),
           |v$k AS (
           |  SELECT w, f, list(CASE WHEN chosen = 1 THEN sym || nxt
           |    ELSE sym END ORDER BY pos) AS s
           |  FROM d$k WHERE dropme = 0 GROUP BY w, f)""".stripMargin
      }.mkString(",\n")
      s"""WITH words AS (
         |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
         |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
         |    FROM documents) GROUP BY w),
         |v0 AS (
         |  SELECT w, f, list_transform(range(1, len(w) + 1),
         |    i -> w[CAST(i AS INT)]) AS s
         |  FROM words),
         |$rounds""".stripMargin
  }

  /** Oracle for txt_bpe_segment: the SEGMENTATION after the 8 trained
    * merges — v8's symbol lists per distinct word (the encoder output
    * the merge table exists to produce).
    */
  private val bpeSegmentOracle: String =
    s"""$bpeUnrollWith
       |SELECT w AS word, array_to_string(s, ' ') AS syms,
       |  CAST(len(s) AS INT) AS n_syms, f AS word_freq
       |FROM v8 ORDER BY w""".stripMargin

  /** Oracle for txt_wordpiece_train: 8 unrolled WordPiece merge
    * rounds — the bpeUnrollWith chain with two differences: the
    * argmax ranks by likelihood gain (double(pn)/(double(an)·
    * double(bn)) — each count converts BEFORE the multiply, exactly
    * mirroring the Scala side's overflow-safe operation order, so the
    * correctly-rounded IEEE multiply+divide are bit-identical
    * cross-engine; ties (a ASC, b ASC)) and the merge concat
    * strips the continuation marker. v0 segments first-char plain +
    * '##'-marked continuations. MATERIALIZED checkpoints (the
    * unigram-oracle lesson: un-materialized CTE chains re-execute
    * upstream per reference).
    */
  private def wordpieceTrainOracle: String = {
    val rounds = (1 to 8).map { k =>
      val p = k - 1
      s"""e$k AS MATERIALIZED (
         |  SELECT w, f, generate_subscripts(s, 1) AS pos, unnest(s) AS sym
         |  FROM v$p),
         |x$k AS MATERIALIZED (
         |  SELECT w, f, pos, sym,
         |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
         |  FROM e$k),
         |p$k AS MATERIALIZED (
         |  SELECT sym AS a, nxt AS b, CAST(SUM(f) AS BIGINT) AS n
         |  FROM x$k WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |sy$k AS MATERIALIZED (
         |  SELECT sym, CAST(SUM(f) AS BIGINT) AS n FROM e$k GROUP BY sym),
         |m$k AS MATERIALIZED (
         |  SELECT p.a, p.b, p.n AS pn, sa.n AS an, sb.n AS bn
         |  FROM p$k p JOIN sy$k sa ON p.a = sa.sym
         |    JOIN sy$k sb ON p.b = sb.sym
         |  ORDER BY CAST(p.n AS DOUBLE) /
         |      (CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)) DESC,
         |    p.a ASC, p.b ASC LIMIT 1),
         |st$k AS MATERIALIZED (
         |  SELECT x.w, x.f, x.pos, x.sym, x.nxt,
         |    CASE WHEN x.sym = m.a AND x.nxt = m.b THEN 1 ELSE 0 END AS st
         |  FROM x$k x LEFT JOIN m$k m ON TRUE),
         |g$k AS (
         |  SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY w, st
         |    ORDER BY pos) AS grp
         |  FROM st$k),
         |c$k AS (
         |  SELECT *, CASE WHEN st = 1 AND
         |      (pos - MIN(pos) OVER (PARTITION BY w, grp, st)) % 2 = 0
         |    THEN 1 ELSE 0 END AS chosen
         |  FROM g$k),
         |d$k AS (
         |  SELECT *, COALESCE(LAG(chosen) OVER (PARTITION BY w
         |    ORDER BY pos), 0) AS dropme
         |  FROM c$k),
         |v$k AS MATERIALIZED (
         |  SELECT w, f, list(CASE WHEN chosen = 1 THEN sym ||
         |      (CASE WHEN nxt LIKE '##%' THEN nxt[3:] ELSE nxt END)
         |    ELSE sym END ORDER BY pos) AS s
         |  FROM d$k WHERE dropme = 0 GROUP BY w, f)""".stripMargin
    }.mkString(",\n")
    val finalSel = (1 to 8).map(k =>
      s"SELECT $k AS rank, a AS sym_a, b AS sym_b, pn AS n_pair, " +
        s"an AS n_a, bn AS n_b FROM m$k").mkString("\nUNION ALL ")
    s"""WITH words AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |    FROM documents) GROUP BY w),
       |v0 AS MATERIALIZED (
       |  SELECT w, f, list_transform(range(1, len(w) + 1), i ->
       |    CASE WHEN i = 1 THEN w[1:1]
       |      ELSE '##' || w[CAST(i AS INT):CAST(i AS INT)] END) AS s
       |  FROM words),
       |$rounds
       |$finalSel
       |ORDER BY rank""".stripMargin
  }

  // ---- unigram-LM tokenizer oracle (txt_unigram_train/_segment) ----
  // Replays TextAnalysis.unigramTrainLocal exactly: seed substring
  // counts → 2 hard-EM rounds (recursive-CTE Viterbi + recount) →
  // count-ranked prune → nano-quantized ln probabilities. Every
  // Viterbi is a forward DP whose per-word state rides as LISTS
  // (bests/backs) through a recursive CTE, then a second recursive
  // CTE backtracks the chosen pieces. Checkpoint CTEs are
  // MATERIALIZED — without it DuckDB inlines each reference and the
  // upstream chain re-executes per row/iteration (measured: >120 s
  // vs 0.5 s at sf0.01). Params pinned to the operator defaults:
  // maxPieceLen 3, seedMulti 60, targetMulti 12, UNK −1e15 nano.

  /** One Viterbi pass (forward DP + backtrack) as recursive CTEs
    * `dp$n`/`bt$n` over CTE `words`, scoring with piece-map CTE
    * `$pm`. Tie rule: (score DESC, k DESC) via struct sort — equal
    * score prefers the LONGER piece, matching
    * expressions.UnigramSegment.viterbi.
    */
  private def unigramViterbiCte(n: Int, pm: String): String =
    s"""dp$n AS (
       |  SELECT w, f, [0::BIGINT] AS bests, [0] AS backs, 1 AS t FROM words
       |  UNION ALL
       |  SELECT w, f, list_append(bests, c.best.s),
       |    list_append(backs, c.best.k), t + 1
       |  FROM (
       |    SELECT w, f, bests, backs, t,
       |      list_sort(list_filter(
       |        list_transform(range(1, least(3, t) + 1), k -> struct_pack(
       |          s := bests[t - k + 1] + CASE WHEN k = 1 THEN
       |              coalesce(m[w[t-k+1:t]][1], -1000000000000000::BIGINT)
       |            ELSE m[w[t-k+1:t]][1] END,
       |          k := k)),
       |        c -> c.s IS NOT NULL), 'DESC')[1] AS best
       |    FROM dp$n, $pm WHERE t <= len(w)
       |  ) c
       |),
       |bt$n AS (
       |  SELECT w, f, backs, len(w) AS pos, []::VARCHAR[] AS segs
       |  FROM dp$n WHERE t = len(w) + 1
       |  UNION ALL
       |  SELECT w, f, backs, pos - backs[pos + 1],
       |    list_prepend(w[pos - backs[pos + 1] + 1 : pos], segs)
       |  FROM bt$n WHERE pos > 0
       |)""".stripMargin

  /** Nano log-prob table + lookup map over count CTE `$s`:
    * lp = floor(ln(cnt/Σcnt)·1e9) as BIGINT.
    */
  private def unigramLogpCte(n: Int, s: String): String =
    s"""p$n AS MATERIALIZED (
       |  SELECT p, CAST(floor(ln(CAST(cnt AS DOUBLE) /
       |    (SELECT CAST(SUM(cnt) AS DOUBLE) FROM $s)) * 1e9) AS BIGINT) AS lp
       |  FROM $s),
       |pm$n AS MATERIALIZED (
       |  SELECT map_from_entries(list((p, lp))) AS m FROM p$n)""".stripMargin

  /** One hard-EM round: Viterbi under pm$${r-1}, recount by word
    * freq; multi-char pieces keep only count > 0, single chars floor
    * at 1 (coverage guarantee — must survive pruning of the longer
    * pieces that absorbed them).
    */
  private def unigramEmRound(r: Int): String =
    s"""${unigramViterbiCte(r, s"pm${r - 1}")},
       |c${r}raw AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(f) AS BIGINT) AS cnt FROM (
       |    SELECT f, unnest(segs) AS piece FROM bt$r WHERE pos = 0)
       |  GROUP BY piece),
       |s$r AS MATERIALIZED (
       |  SELECT piece AS p, cnt FROM c${r}raw WHERE len(piece) > 1
       |  UNION ALL
       |  SELECT chars.p, GREATEST(COALESCE(c.cnt, 0::BIGINT), 1::BIGINT)
       |  FROM chars LEFT JOIN c${r}raw c ON chars.p = c.piece),
       |${unigramLogpCte(r, s"s$r")}""".stripMargin

  /** Shared WITH prefix of both unigram oracles: word freq → chars →
    * seed substrings → seed selection (ALL single chars + top-60
    * multi by (cnt DESC, p ASC)) → EM rounds 1,2 → prune (chars +
    * top-12 multi) → final probabilities pfin/pmfin.
    */
  private def unigramUnrollWith: String =
    s"""WITH RECURSIVE words AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |    FROM documents) GROUP BY w),
       |chars AS MATERIALIZED (
       |  SELECT DISTINCT unnest(list_transform(range(1, len(w) + 1),
       |    i -> w[CAST(i AS INT):CAST(i AS INT)])) AS p FROM words),
       |sub AS MATERIALIZED (
       |  SELECT p, CAST(SUM(f) AS BIGINT) AS cnt FROM (
       |    SELECT f, unnest(flatten(list_transform(range(1, len(w) + 1), i ->
       |      list_transform(range(1, least(3, len(w) - i + 1) + 1), k ->
       |        w[CAST(i AS INT):CAST(i + k - 1 AS INT)])))) AS p
       |    FROM words) GROUP BY p),
       |s0 AS MATERIALIZED (
       |  SELECT sub.p, sub.cnt FROM sub JOIN chars ON sub.p = chars.p
       |  UNION ALL
       |  (SELECT p, cnt FROM sub WHERE len(p) > 1
       |   ORDER BY cnt DESC, p ASC LIMIT 60)),
       |${unigramLogpCte(0, "s0")},
       |${unigramEmRound(1)},
       |${unigramEmRound(2)},
       |pruned AS MATERIALIZED (
       |  SELECT chars.p, s2.cnt FROM chars JOIN s2 ON chars.p = s2.p
       |  UNION ALL
       |  (SELECT p, cnt FROM s2 WHERE len(p) > 1
       |   ORDER BY cnt DESC, p ASC LIMIT 12)),
       |pfin AS MATERIALIZED (
       |  SELECT p, cnt, CAST(floor(ln(CAST(cnt AS DOUBLE) /
       |    (SELECT CAST(SUM(cnt) AS DOUBLE) FROM pruned)) * 1e9) AS BIGINT)
       |    AS lp
       |  FROM pruned),
       |pmfin AS MATERIALIZED (
       |  SELECT map_from_entries(list((p, lp))) AS m FROM pfin)""".stripMargin

  /** Oracle for txt_unigram_soft: ONE quantized soft-EM round
    * replayed in SQL. α and β lattices ride as DOUBLE lists through
    * recursive CTEs whose step expression mirrors the Scala side's
    * EXACT IEEE operation order — k-ascending ((t₁+t₂)+t₃) sums,
    * alpha·p and p·beta product orders, probabilities from one
    * BIGINT/BIGINT double division — so every double is bit-identical
    * cross-engine (no log/exp anywhere). Posterior contributions
    * floor-quantize to nano BIGINTs per (word, piece) BEFORE the
    * SUM, making the aggregation exact and order-free. Then the same
    * char-floor (1e9 nano = one occurrence), zero-drop and top-12
    * count-ranked prune as the Scala side.
    */
  /** Shared WITH-prefix of the soft-EM oracles: word freq → seed →
    * ONE quantized forward–backward EM round, ending at `s1` (the
    * post-EM nano counts BEFORE any pruning). Used by
    * txt_unigram_soft (count-ranked prune) and txt_unigram_prune
    * (exact-loss prune).
    */
  private def unigramSoftCore: String =
    s"""WITH RECURSIVE words AS MATERIALIZED (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
       |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
       |    FROM documents) GROUP BY w),
       |chars AS MATERIALIZED (
       |  SELECT DISTINCT unnest(list_transform(range(1, len(w) + 1),
       |    i -> w[CAST(i AS INT):CAST(i AS INT)])) AS p FROM words),
       |sub AS MATERIALIZED (
       |  SELECT p, CAST(SUM(f) AS BIGINT) AS cnt FROM (
       |    SELECT f, unnest(flatten(list_transform(range(1, len(w) + 1), i ->
       |      list_transform(range(1, least(3, len(w) - i + 1) + 1), k ->
       |        w[CAST(i AS INT):CAST(i + k - 1 AS INT)])))) AS p
       |    FROM words) GROUP BY p),
       |s0 AS MATERIALIZED (
       |  SELECT sub.p, sub.cnt FROM sub JOIN chars ON sub.p = chars.p
       |  UNION ALL
       |  (SELECT p, cnt FROM sub WHERE len(p) > 1
       |   ORDER BY cnt DESC, p ASC LIMIT 60)),
       |pr0 AS MATERIALIZED (
       |  SELECT p, CAST(cnt AS DOUBLE) /
       |    (SELECT CAST(SUM(cnt) AS DOUBLE) FROM s0) AS pv
       |  FROM s0),
       |prm AS MATERIALIZED (
       |  SELECT map_from_entries(list((p, pv))) AS m FROM pr0),
       |dpf AS (
       |  SELECT w, f, [CAST(1.0 AS DOUBLE)] AS al, 1 AS t FROM words
       |  UNION ALL
       |  SELECT w, f, list_append(al,
       |    (CASE WHEN t >= 1 THEN al[t] * COALESCE(m[w[t:t]][1], 0.0)
       |       ELSE 0.0 END
       |     + CASE WHEN t >= 2 THEN al[t-1] * COALESCE(m[w[t-1:t]][1], 0.0)
       |       ELSE 0.0 END)
       |     + CASE WHEN t >= 3 THEN al[t-2] * COALESCE(m[w[t-2:t]][1], 0.0)
       |       ELSE 0.0 END),
       |    t + 1
       |  FROM dpf, prm WHERE t <= len(w)),
       |fwd AS MATERIALIZED (SELECT w, f, al FROM dpf WHERE t = len(w) + 1),
       |dpb AS (
       |  SELECT w, f, [CAST(1.0 AS DOUBLE)] AS bl, 1 AS u FROM words
       |  UNION ALL
       |  SELECT w, f, list_append(bl,
       |    (CASE WHEN u >= 1 THEN
       |        COALESCE(m[w[len(w)-u+1 : len(w)-u+1]][1], 0.0) * bl[u]
       |       ELSE 0.0 END
       |     + CASE WHEN u >= 2 THEN
       |        COALESCE(m[w[len(w)-u+1 : len(w)-u+2]][1], 0.0) * bl[u-1]
       |       ELSE 0.0 END)
       |     + CASE WHEN u >= 3 THEN
       |        COALESCE(m[w[len(w)-u+1 : len(w)-u+3]][1], 0.0) * bl[u-2]
       |       ELSE 0.0 END),
       |    u + 1
       |  FROM dpb, prm WHERE u <= len(w)),
       |bwd AS MATERIALIZED (SELECT w, bl FROM dpb WHERE u = len(w) + 1),
       |ps AS (
       |  SELECT fw.w, fw.f, fw.al, b.bl, len(fw.w) AS wl,
       |    unnest(range(0, len(fw.w))) AS s
       |  FROM fwd fw JOIN bwd b ON fw.w = b.w
       |  WHERE fw.al[len(fw.w) + 1] > 0),
       |pk AS (
       |  SELECT w, f, al, bl, wl, s,
       |    unnest(range(1, least(3, wl - s) + 1)) AS k
       |  FROM ps),
       |contrib AS MATERIALIZED (
       |  SELECT w[CAST(s + 1 AS INT):CAST(s + k AS INT)] AS piece,
       |    CAST(floor(((((al[CAST(s + 1 AS INT)] *
       |        COALESCE(m[w[CAST(s + 1 AS INT):CAST(s + k AS INT)]][1],
       |          0.0)) *
       |        bl[CAST(wl - s - k + 1 AS INT)]) / al[CAST(wl + 1 AS INT)]
       |        * CAST(f AS DOUBLE)) * 1e9)) AS BIGINT) AS c
       |  FROM pk, prm),
       |cexp AS MATERIALIZED (
       |  SELECT piece, CAST(SUM(c) AS BIGINT) AS cnt FROM contrib
       |  GROUP BY piece),
       |s1 AS MATERIALIZED (
       |  SELECT piece AS p, cnt FROM cexp WHERE len(piece) > 1 AND cnt > 0
       |  UNION ALL
       |  SELECT chars.p, GREATEST(COALESCE(c.cnt, CAST(0 AS BIGINT)),
       |    CAST(1000000000 AS BIGINT))
       |  FROM chars LEFT JOIN cexp c ON chars.p = c.piece)""".stripMargin

  private def unigramSoftOracle: String =
    s"""$unigramSoftCore,
       |pruneds AS (
       |  SELECT chars.p, s1.cnt FROM chars JOIN s1 ON chars.p = s1.p
       |  UNION ALL
       |  (SELECT p, cnt FROM s1 WHERE len(p) > 1
       |   ORDER BY cnt DESC, p ASC LIMIT 12))
       |SELECT p AS piece, cnt AS exp_cnt_nano FROM pruneds
       |ORDER BY piece""".stripMargin

  /** Oracle for txt_unigram_prune: the exact-loss prune replayed in
    * SQL on top of [[unigramSoftCore]]'s post-EM counts. Per
    * (word, candidate) pair (candidate = top-24 count-ranked
    * multi-char piece, pair kept only when the word contains it), a
    * second forward lattice runs with the candidate's probability
    * zeroed — the recursion mirrors the Scala α's exact IEEE
    * operation order (k ascending, ((t₁+t₂)+t₃)), so the lost-mass
    * fraction (1 − α^{¬x}/α) is bit-identical cross-engine; it
    * floor-quantizes to nano per pair BEFORE the order-free BIGINT
    * sum. Keep chars + top-12 candidates by (loss DESC, piece ASC).
    */
  private def unigramPruneOracle: String =
    s"""$unigramSoftCore,
       |pr1 AS MATERIALIZED (
       |  SELECT p, CAST(cnt AS DOUBLE) /
       |    (SELECT CAST(SUM(cnt) AS DOUBLE) FROM s1) AS pv
       |  FROM s1),
       |prm1 AS MATERIALIZED (
       |  SELECT map_from_entries(list((p, pv))) AS m FROM pr1),
       |cands AS MATERIALIZED (
       |  SELECT p AS x FROM s1 WHERE len(p) > 1
       |  ORDER BY cnt DESC, p ASC LIMIT 24),
       |dpf2 AS (
       |  SELECT w, f, [CAST(1.0 AS DOUBLE)] AS al, 1 AS t FROM words
       |  UNION ALL
       |  SELECT w, f, list_append(al,
       |    (CASE WHEN t >= 1 THEN al[t] * COALESCE(m[w[t:t]][1], 0.0)
       |       ELSE 0.0 END
       |     + CASE WHEN t >= 2 THEN al[t-1] * COALESCE(m[w[t-1:t]][1], 0.0)
       |       ELSE 0.0 END)
       |     + CASE WHEN t >= 3 THEN al[t-2] * COALESCE(m[w[t-2:t]][1], 0.0)
       |       ELSE 0.0 END),
       |    t + 1
       |  FROM dpf2, prm1 WHERE t <= len(w)),
       |fwd2 AS MATERIALIZED (
       |  SELECT w, f, al[len(w) + 1] AS alf FROM dpf2
       |  WHERE t = len(w) + 1),
       |wx AS MATERIALIZED (
       |  SELECT fw.w, fw.f, fw.alf, c.x FROM fwd2 fw, cands c
       |  WHERE fw.alf > 0 AND contains(fw.w, c.x)),
       |dpx AS (
       |  SELECT w, f, alf, x, [CAST(1.0 AS DOUBLE)] AS al, 1 AS t
       |  FROM wx
       |  UNION ALL
       |  SELECT w, f, alf, x, list_append(al,
       |    (CASE WHEN t >= 1 THEN al[t] *
       |        (CASE WHEN w[t:t] = x THEN 0.0
       |          ELSE COALESCE(m[w[t:t]][1], 0.0) END)
       |       ELSE 0.0 END
       |     + CASE WHEN t >= 2 THEN al[t-1] *
       |        (CASE WHEN w[t-1:t] = x THEN 0.0
       |          ELSE COALESCE(m[w[t-1:t]][1], 0.0) END)
       |       ELSE 0.0 END)
       |     + CASE WHEN t >= 3 THEN al[t-2] *
       |        (CASE WHEN w[t-2:t] = x THEN 0.0
       |          ELSE COALESCE(m[w[t-2:t]][1], 0.0) END)
       |       ELSE 0.0 END),
       |    t + 1
       |  FROM dpx, prm1 WHERE t <= len(w)),
       |lossc AS MATERIALIZED (
       |  SELECT x, CAST(floor(((1.0 - al[len(w) + 1] / alf)
       |      * CAST(f AS DOUBLE)) * 1e9) AS BIGINT) AS c
       |  FROM dpx WHERE t = len(w) + 1),
       |lossagg AS MATERIALIZED (
       |  SELECT x, CAST(SUM(c) AS BIGINT) AS loss FROM lossc
       |  WHERE c > 0 GROUP BY x),
       |keptm AS (
       |  SELECT cands.x AS p,
       |    COALESCE(lossagg.loss, CAST(0 AS BIGINT)) AS loss
       |  FROM cands LEFT JOIN lossagg ON cands.x = lossagg.x
       |  ORDER BY loss DESC, p ASC LIMIT 12),
       |outp AS (
       |  SELECT chars.p, s1.cnt, CAST(0 AS BIGINT) AS loss
       |  FROM chars JOIN s1 ON chars.p = s1.p
       |  UNION ALL
       |  SELECT keptm.p, s1.cnt, keptm.loss
       |  FROM keptm JOIN s1 ON keptm.p = s1.p)
       |SELECT p AS piece, cnt AS exp_cnt_nano, loss AS loss_nano
       |FROM outp ORDER BY piece""".stripMargin

  private def unigramTrainOracle: String =
    s"""$unigramUnrollWith
       |SELECT p AS piece, cnt, lp AS logp_nano FROM pfin ORDER BY piece""".stripMargin

  private def unigramSegmentOracle: String =
    s"""$unigramUnrollWith,
       |${unigramViterbiCte(3, "pmfin")}
       |SELECT w AS word, array_to_string(segs, ' ') AS syms,
       |  CAST(len(segs) AS INT) AS n_syms, f AS word_freq
       |FROM bt3 WHERE pos = 0 ORDER BY word""".stripMargin

  /** Shared by events_funnel and its order-contracted streaming twin
    * stream_funnel (time-contiguous slices satisfy the in-order
    * arrival contract, so the final keyed state equals the batch
    * funnel exactly).
    */
  private val funnelOracle: String =
    // step-i min constrained to ≥ step-(i−1)'s min, chained joins
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us, event_type FROM events),
      |s1 AS (
      |  SELECT user_id, MIN(ts_us) AS step1_us FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |s2 AS (
      |  SELECT e.user_id, MIN(ts_us) AS step2_us
      |  FROM e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE event_type = 'click' AND ts_us >= step1_us
      |  GROUP BY e.user_id),
      |s3 AS (
      |  SELECT e.user_id, MIN(ts_us) AS step3_us
      |  FROM e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE event_type = 'purchase' AND ts_us >= step2_us
      |  GROUP BY e.user_id)
      |SELECT s1.user_id, step1_us, step2_us, step3_us,
      |  CAST(CASE WHEN step3_us IS NOT NULL THEN 3
      |    WHEN step2_us IS NOT NULL THEN 2 ELSE 1 END AS BIGINT)
      |    AS max_step
      |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
      |LEFT JOIN s3 ON s1.user_id = s3.user_id
      |ORDER BY s1.user_id""".stripMargin

  /** Shared by events_cohort_retention and its streaming twin
    * stream_cohort_retention (delta rows per first (user, offset)
    * sighting count up to the batch activity matrix exactly).
    */
  private val cohortOracle: String =
    // integral daily buckets since epoch; DuckDB `//` is integer
    // division (`/` would be double), floor matches Spark's floor
    """WITH e AS (
      |  SELECT user_id,
      |    CAST(floor(datediff('day', DATE '1970-01-01',
      |      CAST(ts AS DATE)) / 1) AS INT) AS per
      |  FROM events),
      |firsts AS (
      |  SELECT user_id, MIN(per) AS cohort FROM e GROUP BY user_id),
      |act AS (
      |  SELECT DISTINCT f.cohort, e.per - f.cohort AS period_offset,
      |    e.user_id
      |  FROM e JOIN firsts f USING (user_id)),
      |m AS (
      |  SELECT cohort, period_offset, COUNT(*) AS n_active
      |  FROM act GROUP BY 1, 2),
      |c AS (
      |  SELECT cohort, n_active AS n_cohort FROM m
      |  WHERE period_offset = 0)
      |SELECT m.cohort AS cohort_period, m.period_offset, m.n_active,
      |  c.n_cohort,
      |  CAST(m.n_active AS DOUBLE) / c.n_cohort AS retention_rate
      |FROM m JOIN c ON m.cohort = c.cohort
      |ORDER BY cohort_period, period_offset""".stripMargin

  /** Shared by profile_top_movers and its streaming twin
    * stream_token_drift (the streamed cumulative counts equal the
    * batch wordcount, so the scorer output is identical).
    */
  private val topMoversOracle: String =
    """WITH cs AS (
      |  SELECT token, COUNT(*) AS cnt_src FROM (
      |    SELECT unnest(regexp_split_to_array(lower(trim(text)),
      |      '\s+')) AS token
      |    FROM documents WHERE doc_id % 2 = 0) u
      |  WHERE token <> '' GROUP BY token),
      |ct AS (
      |  SELECT token, COUNT(*) AS cnt_tgt FROM (
      |    SELECT unnest(regexp_split_to_array(lower(trim(text)),
      |      '\s+')) AS token
      |    FROM documents WHERE doc_id % 2 = 1) u
      |  WHERE token <> '' GROUP BY token),
      |j AS (
      |  SELECT COALESCE(cs.token, ct.token) AS token,
      |    COALESCE(cs.cnt_src, 0) AS cnt_src,
      |    COALESCE(ct.cnt_tgt, 0) AS cnt_tgt
      |  FROM cs FULL OUTER JOIN ct ON cs.token = ct.token),
      |tot AS (
      |  SELECT SUM(cnt_src) AS ns, SUM(cnt_tgt) AS nt, COUNT(*) AS v
      |  FROM j),
      |scored AS (
      |  SELECT token, cnt_src, cnt_tgt,
      |    CAST(floor(ln(((cnt_src + 1.0) * CAST(nt + v AS DOUBLE))
      |      / ((cnt_tgt + 1.0) * CAST(ns + v AS DOUBLE))) * 1e9)
      |      AS BIGINT) AS nanos
      |  FROM j CROSS JOIN tot)
      |SELECT token, cnt_src, cnt_tgt,
      |  CAST(nanos AS DOUBLE) / 1e9 AS log_ratio
      |FROM scored ORDER BY abs(nanos) DESC, token ASC LIMIT 20""".stripMargin

  /** Shared by dedup_minhash_lsh and its streaming twin
    * stream_neardup_lsh (cumulative streamed pair set == batch
    * self-join).
    */
  private val minhashLshOracle: String =
    """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |hp AS (
        |  SELECT doc_id, list_transform(ngrams, g -> {
        |    'h1': CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT),
        |    'h2': CAST(('0x' || substr(md5(g), 16, 10)) AS BIGINT)}) AS hs
        |  FROM ng),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    s -> list_min(list_transform(hs, h ->
        |      xor(((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30),
        |          (((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30)) >> 15)))) AS sg
        |  FROM hp),
        |bands AS (
        |  SELECT doc_id, b AS band_id,
        |    CAST(sg[b*4+1] AS VARCHAR) || '|' || CAST(sg[b*4+2] AS VARCHAR) || '|' ||
        |    CAST(sg[b*4+3] AS VARCHAR) || '|' || CAST(sg[b*4+4] AS VARCHAR) AS band_hash
        |  FROM sig, range(0, 4) t(b))
        |SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |FROM bands l JOIN bands r
        |  ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        |  AND l.doc_id < r.doc_id
        |ORDER BY id_a, id_b""".stripMargin

  private val plantedAnnOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      |  WHERE vec_id % 50 = 0),
      |planted AS (
      |  SELECT q.query_id + (k + 1) * 100000 AS vec_id,
      |    list_transform(range(1, 65), i -> CAST(qvec[i] AS DOUBLE)
      |      + CAST(k + 1 AS DOUBLE) * CAST(0.002 AS DOUBLE)
      |        * (CAST((q.query_id * 31 + (i - 1) * 17) % 19 - 9 AS DOUBLE)
      |           / CAST(9 AS DOUBLE))) AS emb
      |  FROM q, range(0, 5) t(k)),
      |corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |  UNION ALL SELECT vec_id, emb FROM planted),
      |scored AS (
      |  SELECT q.query_id, c.vec_id,
      |    list_sum(list_transform(range(1, 65),
      |      i -> c.emb[i] * CAST(q.qvec[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(c.emb, x -> x * x)))
      |     * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM corpus c CROSS JOIN q
      |  WHERE c.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id AS neighbor_id
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** sim_store_snapshot oracle — pure planted arithmetic, no floats:
    * the pinned (pre-sync) store holds true twins of bands 1–3, whose
    * cosine ranking is band order (amp (k+1)·0.002 strictly orders
    * them), so pinned rank r → query_id + r·100000; the fresh
    * (post-sync) store deleted band 1 and inserted band 4, so fresh
    * rank r → query_id + (r+1)·100000.
    */
  private val storeSnapshotOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id FROM embeddings WHERE vec_id % 50 = 0)
      |SELECT 'pinned' AS snap, query_id, r AS rank,
      |  query_id + r * 100000 AS neighbor_id
      |FROM q, range(1, 4) t(r)
      |UNION ALL
      |SELECT 'fresh' AS snap, query_id, r AS rank,
      |  query_id + (r + 1) * 100000 AS neighbor_id
      |FROM q, range(1, 4) t(r)
      |ORDER BY snap, query_id, rank""".stripMargin

  /** plantedAnnOracle minus the tombstoned twins: brute force over
    * the corpus with the (k+1)-band 2 and 4 planted ids removed
    * (vec_id // 100000 ∈ {2, 4} — exactly the Spark side's
    * floor(vec_id / 100000) tombstone set), top-3. Shared by the
    * graph and IVF remove gates.
    */
  private val plantedAnnRemoveOracle: String =
    """WITH q AS (
      |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
      |  WHERE vec_id % 50 = 0),
      |planted AS (
      |  SELECT q.query_id + (k + 1) * 100000 AS vec_id,
      |    list_transform(range(1, 65), i -> CAST(qvec[i] AS DOUBLE)
      |      + CAST(k + 1 AS DOUBLE) * CAST(0.002 AS DOUBLE)
      |        * (CAST((q.query_id * 31 + (i - 1) * 17) % 19 - 9 AS DOUBLE)
      |           / CAST(9 AS DOUBLE))) AS emb
      |  FROM q, range(0, 5) t(k)),
      |corpus AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
      |  FROM embeddings
      |  UNION ALL SELECT vec_id, emb FROM planted),
      |survivors AS (
      |  SELECT * FROM corpus WHERE vec_id // 100000 NOT IN (2, 4)),
      |scored AS (
      |  SELECT q.query_id, c.vec_id,
      |    list_sum(list_transform(range(1, 65),
      |      i -> c.emb[i] * CAST(q.qvec[i] AS DOUBLE)))
      |    / (sqrt(list_sum(list_transform(c.emb, x -> x * x)))
      |     * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
      |  FROM survivors c CROSS JOIN q
      |  WHERE c.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, vec_id, cos,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, rank, vec_id AS neighbor_id
      |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  /** Shared oracle prefix: the dedup_ngram_jaccard pair pipeline +
    * recursive reachability CTE (`reach`) that the cluster oracles
    * build on. */
  private val ccReachSql: String =
    """WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |hp AS (
        |  SELECT doc_id, list_transform(ngrams, g -> {
        |    'h1': CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT),
        |    'h2': CAST(('0x' || substr(md5(g), 16, 10)) AS BIGINT)}) AS hs
        |  FROM ng),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    s -> list_min(list_transform(hs, h ->
        |      xor(((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30),
        |          (((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30)) >> 15)))) AS sg
        |  FROM hp),
        |bands AS (
        |  SELECT doc_id, b AS band_id,
        |    CAST(sg[b*2+1] AS VARCHAR) || '|' || CAST(sg[b*2+2] AS VARCHAR) AS band_hash
        |  FROM sig, range(0, 8) t(b)),
        |cands AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM bands l JOIN bands r
        |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        |    AND l.doc_id < r.doc_id),
        |scored AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id
        |  WHERE floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 >= 0.15),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM scored
        |  UNION ALL SELECT id_b, id_a FROM scored),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q3_segment_revenue" ->
      """SELECT c_mktsegment,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(DISTINCT o_orderkey) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_window_ranks" ->
      """SELECT o_orderkey, o_orderpriority,
        |  ntile(4) OVER w AS quartile,
        |  floor(percent_rank() OVER w * 10000) / 10000 AS pct_rank,
        |  floor(cume_dist() OVER w * 10000) / 10000 AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |  ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |  ROW_NUMBER() OVER w AS rn,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,3))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "c_full_copy_scrub" ->
      """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
        |  l_extendedprice, l_discount, l_tax,
        |  replace(l_returnflag, chr(0), '') AS l_returnflag,
        |  replace(l_linestatus, chr(0), '') AS l_linestatus,
        |  strftime(l_shipdate, '%Y-%m-%d %H:%M:%S') AS l_shipdate
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "c3_modulo_buckets" ->
      """SELECT o_orderkey % 8 AS bucket, COUNT(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "b4_read_normalize" ->
      """SELECT o_orderkey, lower(o_orderpriority) AS pri_norm,
        |  strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS od_text
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "c15_diff_classify" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 4),
        |tgt AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3)
        |SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |  CASE WHEN t.o_orderkey IS NULL THEN 'new'
        |       WHEN s.o_orderkey IS NULL THEN 'deleted'
        |       WHEN s.o_custkey IS DISTINCT FROM t.o_custkey
        |         OR s.o_totalprice IS DISTINCT FROM t.o_totalprice
        |         THEN 'changed'
        |       ELSE 'identical' END AS row_state
        |FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    "c16_sync_apply" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 10 <> 4 ORDER BY o_orderkey""".stripMargin,

    // the continuous CDC sync must converge to the batch apply's
    // state — c16's oracle, verbatim
    "stream_sync_apply" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 10 <> 4 ORDER BY o_orderkey""".stripMargin,

    "a22_fk_orphans" ->
      """WITH seeded AS (
        |  SELECT l_orderkey FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey + 100000000 AS l_orderkey FROM lineitem
        |  WHERE l_orderkey % 997 = 0)
        |SELECT DISTINCT l_orderkey FROM seeded
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |ORDER BY l_orderkey""".stripMargin,

    "a23_check_violations" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE NOT COALESCE(COALESCE(o_totalprice, 0) <= 40000, TRUE)
        |ORDER BY o_orderkey""".stripMargin,

    "a8_sequence_setval" ->
      """SELECT MAX(o_orderkey) AS setval_pos, MIN(o_orderkey) AS setval_neg,
        |  MAX(o_orderkey) + 1 AS next_val FROM orders""".stripMargin,

    "b6_expr_rewrite" ->
      """SELECT event_id, COALESCE(props, '') AS props_nn,
        |  POSITION('r' IN event_type) AS pos_r,
        |  LENGTH(event_type) AS type_len,
        |  strftime(ts + 2 * INTERVAL '1 day', '%Y-%m-%d %H:%M:%S') AS ts_plus2d
        |FROM events ORDER BY event_id""".stripMargin,

    "a12_view_tsql" ->
      """SELECT n.n_nationkey AS nk,
        |  CAST(n.n_name AS VARCHAR(40)) || '|' || COALESCE(r.r_name, 'none') AS label,
        |  r.r_name AS region_name
        |FROM nation n INNER JOIN region r ON n.n_regionkey = r.r_regionkey
        |ORDER BY nk""".stripMargin,

    "c13_sorted_export" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin,

    "set_except" ->
      """SELECT o_orderkey FROM orders WHERE o_orderkey % 10 <> 3
        |EXCEPT ALL
        |SELECT o_orderkey FROM orders WHERE o_orderkey % 7 = 0
        |ORDER BY o_orderkey""".stripMargin,

    "curate_quota_sample" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5('quota|' || CAST(doc_id AS VARCHAR)), doc_id)
        |      AS BIGINT) AS pick_rank
        |  FROM documents)
        |SELECT doc_id, source, pick_rank FROM r
        |WHERE pick_rank <= 20 ORDER BY doc_id""".stripMargin,

    "profile_benford" ->
      """WITH d AS (
        |  SELECT CAST(substr(CAST(CAST(floor(abs(CAST(o_totalprice AS DOUBLE)))
        |    AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL
        |    AND CAST(floor(abs(CAST(o_totalprice AS DOUBLE))) AS BIGINT) >= 1),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY digit),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM c)
        |SELECT digit, n,
        |  floor(CAST(n AS DOUBLE) / CAST(t AS DOUBLE) * 10000) / 10000
        |    AS obs_share,
        |  floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 10000)
        |    / 10000 AS exp_share,
        |  floor(abs(
        |    floor(CAST(n AS DOUBLE) / CAST(t AS DOUBLE) * 10000) / 10000
        |    - floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0) * 10000)
        |      / 10000) * 10000) / 10000 AS dev
        |FROM c, tot ORDER BY digit""".stripMargin,

    "profile_impute_mean" ->
      """WITH holes AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |      ELSE o_totalprice END AS v
        |  FROM orders),
        |means AS (
        |  SELECT o_orderpriority,
        |    floor(CAST(sum(CAST(v AS DECIMAL(18,4))) AS DOUBLE)
        |      / count(*) * 10000) / 10000 AS m
        |  FROM holes WHERE v IS NOT NULL GROUP BY o_orderpriority)
        |SELECT h.o_orderkey, h.o_orderpriority,
        |  COALESCE(CAST(h.v AS DOUBLE), m.m) AS o_totalprice_filled,
        |  (h.v IS NULL AND m.m IS NOT NULL) AS was_imputed
        |FROM holes h LEFT JOIN means m
        |  ON h.o_orderpriority = m.o_orderpriority
        |ORDER BY h.o_orderkey""".stripMargin,

    "profile_top_movers" -> topMoversOracle,

    "profile_chi2_drift" ->
      // same wordcount + full-outer join as the movers oracle; the χ²
      // term mirrors the Spark side's exact operation order
      // ((o−e)²/e src + tgt, ×1e9, floor) — no transcendentals
      """WITH cs AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_src FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)),
        |      '\s+')) AS token
        |    FROM documents WHERE doc_id % 2 = 0) u
        |  WHERE token <> '' GROUP BY token),
        |ct AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt_tgt FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)),
        |      '\s+')) AS token
        |    FROM documents WHERE doc_id % 2 = 1) u
        |  WHERE token <> '' GROUP BY token),
        |j AS (
        |  SELECT COALESCE(cs.token, ct.token) AS token,
        |    COALESCE(cs.cnt_src, 0) AS cnt_src,
        |    COALESCE(ct.cnt_tgt, 0) AS cnt_tgt
        |  FROM cs FULL OUTER JOIN ct ON cs.token = ct.token),
        |tot AS (
        |  SELECT CAST(SUM(cnt_src) AS BIGINT) AS a,
        |    CAST(SUM(cnt_tgt) AS BIGINT) AS b FROM j),
        |scored AS (
        |  SELECT token, cnt_src, cnt_tgt,
        |    CAST(floor((
        |      CASE WHEN a > 0 THEN
        |      (CAST(cnt_src AS DOUBLE) -
        |        CAST(cnt_src + cnt_tgt AS DOUBLE) * CAST(a AS DOUBLE)
        |          / CAST(a + b AS DOUBLE)) *
        |      (CAST(cnt_src AS DOUBLE) -
        |        CAST(cnt_src + cnt_tgt AS DOUBLE) * CAST(a AS DOUBLE)
        |          / CAST(a + b AS DOUBLE)) /
        |      (CAST(cnt_src + cnt_tgt AS DOUBLE) * CAST(a AS DOUBLE)
        |          / CAST(a + b AS DOUBLE))
        |      ELSE 0.0 END
        |      +
        |      CASE WHEN b > 0 THEN
        |      (CAST(cnt_tgt AS DOUBLE) -
        |        CAST(cnt_src + cnt_tgt AS DOUBLE) * CAST(b AS DOUBLE)
        |          / CAST(a + b AS DOUBLE)) *
        |      (CAST(cnt_tgt AS DOUBLE) -
        |        CAST(cnt_src + cnt_tgt AS DOUBLE) * CAST(b AS DOUBLE)
        |          / CAST(a + b AS DOUBLE)) /
        |      (CAST(cnt_src + cnt_tgt AS DOUBLE) * CAST(b AS DOUBLE)
        |          / CAST(a + b AS DOUBLE))
        |      ELSE 0.0 END
        |    ) * 1e9) AS BIGINT) AS chi2_nano
        |  FROM j CROSS JOIN tot)
        |SELECT token, cnt_src, cnt_tgt, chi2_nano
        |FROM scored ORDER BY chi2_nano DESC, token ASC LIMIT 25""".stripMargin,
    // the streaming twin's cumulative counts equal the batch
    // wordcount, so the SAME oracle gates both
    "stream_token_drift" -> topMoversOracle,

    // streaming A-ES weighted sampling: latest per-shard top-k, global
    // reduce = the batch sample verbatim — and the TTL twin under a
    // horizon longer than the fixture is bit-identical by contract
    "stream_weighted_sample" -> weightedSampleStreamOracle,
    "stream_weighted_ttl" -> weightedSampleStreamOracle,

    // streaming quota sampling: the latest per-stratum emission must
    // equal the batch quotaSample verbatim (TTL twin likewise)
    "stream_quota_sample" -> quotaSampleStreamOracle,
    "stream_quota_ttl" -> quotaSampleStreamOracle,
    // the order-contracted twins share their batch oracles verbatim:
    // time-contiguous slices make the stream's final keyed state equal
    // the batch computation (see the gate comments)
    "stream_funnel" -> funnelOracle,
    "stream_cohort_retention" -> cohortOracle,
    "stream_transitions" -> transitionsOracle,
    "stream_path_ngrams" -> topPathsOracle,
    // the round-15 TTL twins share the batch oracles verbatim: with a
    // horizon past the fixture span they are bit-identical to the
    // NoTimeout twins by contract (eviction semantics are spec-driven)
    "stream_funnel_ttl" -> funnelOracle,
    "stream_cohort_ttl" -> cohortOracle,
    "stream_transitions_ttl" -> transitionsOracle,
    "stream_path_ngrams_ttl" -> topPathsOracle,

    "stream_window_agg" ->
      // the batch window aggregate RESTRICTED to finalized windows:
      // end <= max(ts) − 2h (the final watermark) — append-mode
      // emission semantics modeled exactly
      """WITH wm AS (
        |  SELECT max(ts) - INTERVAL 2 HOUR AS w FROM events)
        |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |    AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DECIMAL(18,3))
        |    AS DOUBLE) AS sum_value
        |FROM events, wm
        |WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= wm.w
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "stream_session_window" ->
      // the events_session_window replay restricted to FINALIZED
      // sessions: end (= last event + gap) <= max(ts) − 2h
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |wm AS (SELECT epoch_us(max(ts)) - 7200000000 AS w FROM events),
        |b AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |      OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0
        |    END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY
        |    ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM b),
        |sess AS (
        |  SELECT user_id, MIN(ts_us) AS start_us,
        |    MAX(ts_us) + 1800000000 AS end_us, COUNT(*) AS n_events,
        |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |  FROM s GROUP BY user_id, sid)
        |SELECT sess.* FROM sess, wm WHERE sess.end_us <= wm.w
        |ORDER BY user_id, start_us""".stripMargin,

    "stream_dedup_exact" -> dedupExactStreamOracle,
    // the TTL twin under a horizon past the fixture span is
    // bit-identical to the NoTimeout dedup by contract
    "stream_dedup_ttl" -> dedupExactStreamOracle,

    "profile_psi_drift" ->
      """WITH src AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderkey % 10 <> 4),
        |tgt AS (
        |  SELECT CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |    ELSE o_totalprice END AS DOUBLE) AS v
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |u AS (
        |  SELECT v, 1 AS s, 0 AS t FROM src WHERE v IS NOT NULL
        |  UNION ALL
        |  SELECT v, 0 AS s, 1 AS t FROM tgt WHERE v IS NOT NULL),
        |bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM u),
        |binned AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |    ELSE least(63, CAST(floor((v - lo) / (hi - lo) * 64) AS BIGINT))
        |    END AS bin, s, t
        |  FROM u, bounds),
        |pb AS (
        |  SELECT bin, CAST(sum(s) AS BIGINT) AS cs,
        |    CAST(sum(t) AS BIGINT) AS ct
        |  FROM binned GROUP BY bin),
        |allbins AS (SELECT CAST(range AS BIGINT) AS bin FROM range(64)),
        |pbf AS (
        |  SELECT b.bin, COALESCE(cs, 0) AS cs, COALESCE(ct, 0) AS ct
        |  FROM allbins b LEFT JOIN pb ON b.bin = pb.bin),
        |tot AS (SELECT CAST(sum(s) AS BIGINT) AS n_src,
        |  CAST(sum(t) AS BIGINT) AS n_tgt FROM u),
        |terms AS (
        |  SELECT n_src, n_tgt,
        |    CAST(floor(
        |      (CAST(cs + 1 AS DOUBLE) / CAST(n_src + 64 AS DOUBLE)
        |        - CAST(ct + 1 AS DOUBLE) / CAST(n_tgt + 64 AS DOUBLE))
        |      * ln((CAST(cs + 1 AS DOUBLE) / CAST(n_src + 64 AS DOUBLE))
        |        / (CAST(ct + 1 AS DOUBLE) / CAST(n_tgt + 64 AS DOUBLE)))
        |      * 1e9) / 1e9 AS DECIMAL(28,9)) AS term
        |  FROM pbf, tot)
        |SELECT n_src, n_tgt,
        |  floor(CAST(sum(term) AS DOUBLE) * 10000) / 10000 AS psi
        |FROM terms GROUP BY n_src, n_tgt""".stripMargin,

    "profile_ks_drift_bucketed" ->
      """WITH src AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
        |  WHERE o_orderkey % 10 <> 4),
        |tgt AS (
        |  SELECT CAST(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |    ELSE o_totalprice END AS DOUBLE) AS v
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |u AS (
        |  SELECT v, 1 AS s, 0 AS t FROM src WHERE v IS NOT NULL
        |  UNION ALL
        |  SELECT v, 0 AS s, 1 AS t FROM tgt WHERE v IS NOT NULL),
        |bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM u),
        |binned AS (
        |  SELECT CASE WHEN hi = lo THEN 0
        |    ELSE least(63, CAST(floor((v - lo) / (hi - lo) * 64) AS BIGINT))
        |    END AS bin, s, t
        |  FROM u, bounds),
        |pb AS (
        |  SELECT bin, CAST(sum(s) AS BIGINT) AS cs,
        |    CAST(sum(t) AS BIGINT) AS ct
        |  FROM binned GROUP BY bin),
        |cum AS (
        |  SELECT bin,
        |    CAST(sum(cs) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fs,
        |    CAST(sum(ct) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ft
        |  FROM pb),
        |tot AS (SELECT CAST(sum(s) AS BIGINT) AS n_src,
        |  CAST(sum(t) AS BIGINT) AS n_tgt FROM u)
        |SELECT n_src, n_tgt,
        |  floor(max(abs(CAST(fs AS DOUBLE) / CAST(n_src AS DOUBLE)
        |    - CAST(ft AS DOUBLE) / CAST(n_tgt AS DOUBLE))) * 10000) / 10000
        |    AS ks_bucketed
        |FROM cum, tot GROUP BY n_src, n_tgt""".stripMargin,

    "profile_ks_drift" ->
      """WITH src AS (
        |  SELECT o_totalprice AS v FROM orders WHERE o_orderkey % 10 <> 4),
        |tgt AS (
        |  SELECT CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |    ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |u AS (
        |  SELECT v, 1 AS s, 0 AS t FROM src WHERE v IS NOT NULL
        |  UNION ALL
        |  SELECT v, 0 AS s, 1 AS t FROM tgt WHERE v IS NOT NULL),
        |pv AS (
        |  SELECT v, CAST(sum(s) AS BIGINT) AS cs, CAST(sum(t) AS BIGINT) AS ct
        |  FROM u GROUP BY v),
        |cum AS (
        |  SELECT v,
        |    CAST(sum(cs) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fs,
        |    CAST(sum(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ft
        |  FROM pv),
        |tot AS (
        |  SELECT CAST(sum(s) AS BIGINT) AS n_src, CAST(sum(t) AS BIGINT) AS n_tgt
        |  FROM u)
        |SELECT n_src, n_tgt,
        |  floor(max(abs(CAST(fs AS DOUBLE) / CAST(n_src AS DOUBLE)
        |    - CAST(ft AS DOUBLE) / CAST(n_tgt AS DOUBLE))) * 10000) / 10000 AS ks
        |FROM cum, tot GROUP BY n_src, n_tgt""".stripMargin,

    "profile_source_cards" ->
      """WITH fp AS (
        |  SELECT source, doc_id, lang, n_chars,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS f
        |  FROM documents),
        |dups AS (SELECT f FROM fp GROUP BY f HAVING count(*) > 1),
        |flagged AS (
        |  SELECT fp.source, fp.lang, fp.n_chars,
        |    CASE WHEN d.f IS NULL THEN 0 ELSE 1 END AS dup
        |  FROM fp LEFT JOIN dups d ON fp.f = d.f),
        |base AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars,
        |    CAST(sum(dup) AS BIGINT) AS dup_docs
        |  FROM flagged GROUP BY source),
        |lc AS (SELECT source, lang, count(*) AS c
        |  FROM flagged GROUP BY source, lang),
        |tl AS (
        |  SELECT source, lang AS top_lang, c AS top_lang_docs FROM (
        |    SELECT source, lang, c, ROW_NUMBER() OVER (
        |      PARTITION BY source ORDER BY c DESC, lang ASC) AS rn
        |    FROM lc) WHERE rn = 1)
        |SELECT b.source, b.n_docs,
        |  floor(CAST(b.chars AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
        |    * 10000) / 10000 AS mean_chars,
        |  tl.top_lang, tl.top_lang_docs, b.dup_docs,
        |  floor(CAST(b.dup_docs AS DOUBLE) / CAST(b.n_docs AS DOUBLE)
        |    * 10000) / 10000 AS dup_rate
        |FROM base b JOIN tl ON b.source = tl.source
        |ORDER BY b.source""".stripMargin,

    "profile_correlation" ->
      """WITH m AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS sx,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS sy,
        |    -- DECIMAL(19,4) operands force int128 product storage in
        |    -- DuckDB (an 18-digit product would overflow int64);
        |    -- values are identical — both engines' sums are exact
        |    sum(CAST(l_quantity AS DECIMAL(19,4))
        |      * CAST(l_extendedprice AS DECIMAL(19,4))) AS sxy,
        |    sum(CAST(l_quantity AS DECIMAL(19,4))
        |      * CAST(l_quantity AS DECIMAL(19,4))) AS sx2,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,4))
        |      * CAST(l_extendedprice AS DECIMAL(19,4))) AS sy2
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag, n,
        |    CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n AS cov,
        |    CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n AS vx,
        |    CAST(sy2 AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n AS vy
        |  FROM m)
        |SELECT l_returnflag, n,
        |  CASE WHEN n > 1 AND vx > 0 AND vy > 0
        |    THEN floor(cov / sqrt(vx * vy) * 10000) / 10000
        |    ELSE NULL END AS corr
        |FROM c ORDER BY l_returnflag""".stripMargin,

    "events_moving_avg" ->
      """WITH hourly AS (
        |  SELECT event_type,
        |    epoch_us(date_trunc('hour', ts)) // 3600000000 AS hour_idx,
        |    count(*) AS n_events,
        |    sum(CAST(value AS DECIMAL(18,3))) AS sv
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, hour_idx, n_events,
        |  CAST(sum(n_events) OVER w AS BIGINT) AS mov_n,
        |  floor(CAST(sum(sv) OVER w AS DOUBLE)
        |    / CAST(CAST(sum(n_events) OVER w AS BIGINT) AS DOUBLE)
        |    * 10000) / 10000 AS mov_avg
        |FROM hourly
        |WINDOW w AS (PARTITION BY event_type ORDER BY hour_idx
        |  RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, hour_idx""".stripMargin,

    "events_top_paths" -> topPathsOracle,

    "events_transitions" -> transitionsOracle,
    "events_pattern_match" -> patternMatchOracle,
    // the streaming journey fold must converge to the batch result;
    // the TTL twins are bit-identical when the horizon outlives the
    // fixture (their own gates pin exactly that, tri-SF)
    "stream_pattern_match" -> patternMatchOracle,
    "stream_pattern_ttl" -> patternMatchOracle,
    "events_pattern_extract" -> patternExtractOracle,
    "stream_pattern_multi" -> patternMultiOracle,
    "stream_pattern_multi_ttl" -> patternMultiOracle,

    "events_ohlc" ->
      """WITH e AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket,
        |    ts, event_id, value
        |  FROM events),
        |r AS (
        |  SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts, event_id) AS rn_a,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, bucket
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM e)
        |SELECT event_type, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
        |  max(CASE WHEN rn_a = 1 THEN value END) AS open,
        |  max(CASE WHEN rn_d = 1 THEN value END) AS close,
        |  max(value) AS high, min(value) AS low,
        |  count(*) AS n_events
        |FROM r GROUP BY event_type, bucket
        |ORDER BY event_type, bucket""".stripMargin,

    "events_twap" ->
      """WITH d AS (
        |  SELECT event_type, value,
        |    lead(epoch_us(ts)) OVER (PARTITION BY event_type
        |      ORDER BY ts, event_id) - epoch_us(ts) AS dt
        |  FROM events),
        |f AS (SELECT * FROM d WHERE dt IS NOT NULL)
        |SELECT event_type,
        |  count(*) AS n_intervals,
        |  CAST(sum(dt) AS BIGINT) AS sum_dt_us,
        |  floor(CAST(sum(CAST(value AS DECIMAL(10,2)) * dt) AS DOUBLE)
        |    / CAST(CAST(sum(dt) AS BIGINT) AS DOUBLE) * 10000) / 10000 AS twap
        |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin,

    "set_intersect" ->
      """WITH i AS (
        |  SELECT o_custkey FROM orders WHERE o_orderkey % 10 <> 4
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderkey % 10 <> 3)
        |SELECT o_custkey, count(*) AS n FROM i
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "events_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,3))) AS DECIMAL(18,3)) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ddl_type_map" ->
      """SELECT * FROM (VALUES
        |  ('id', 'bigint', 'bigint', TRUE),
        |  ('guid', 'uuid', 'string', TRUE),
        |  ('ver', 'bytea', 'binary', TRUE),
        |  ('name', 'varchar(100)', 'string', FALSE),
        |  ('blob', 'bytea', 'binary', FALSE),
        |  ('price', 'bigint', 'bigint', FALSE),
        |  ('flag', 'boolean', 'boolean', TRUE),
        |  ('created', 'timestamp', 'timestamp_ntz', FALSE)
        |) AS t(col_name, pg_type, spark_type, not_null)
        |ORDER BY col_name""".stripMargin,

    "ddl_constraints" ->
      """SELECT * FROM (VALUES
        |  ('Child', 'FK', 'FK_Child_Parent', 'pid->Parent.id ON DELETE CASCADE'),
        |  ('Child', 'PK', 'PK_Child', 'id'),
        |  ('Child', 'UNIQUE', 'UQ_Code', 'code'),
        |  ('Parent', 'PK', 'PK_Parent', 'id')
        |) AS t(table_name, kind, con_name, detail)
        |ORDER BY table_name, kind, con_name""".stripMargin,

    "txt_token_count" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |    + (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g'))) AS n_subwords,
        |  length(text) AS n_chars_measured
        |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_chunk_tokens" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |nz AS (
        |  SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0),
        |ch AS (
        |  SELECT doc_id, tk, n,
        |    unnest(range(0, CASE WHEN n > 16 THEN (n - 16 + 47) // 48
        |      ELSE 1 END)) AS chunk_id
        |  FROM nz)
        |SELECT doc_id, chunk_id,
        |  chunk_id * 48 AS start_token,
        |  CAST(len(tk[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS BIGINT)
        |    AS chunk_tokens,
        |  md5(array_to_string(tk[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' '))
        |    AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,

    "txt_wordpiece_fertility" ->
      s"""WITH wv(piece) AS (VALUES ${wordpieceWholeWords
            .map(w => s"('$w')").mkString(", ")}),
        |toks AS (
        |  SELECT lang,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents),
        |pref AS (
        |  SELECT lang, word,
        |    coalesce((SELECT max(length(v.piece)) FROM wv v
        |              WHERE starts_with(t.word, v.piece)), 1) AS p
        |  FROM toks t),
        |np AS (
        |  SELECT lang,
        |    1 + length(regexp_replace(substr(word, p + 1), 'ing', '#', 'g'))
        |      AS n
        |  FROM pref)
        |SELECT lang,
        |  count(*) AS n_words,
        |  CAST(sum(n) AS BIGINT) AS n_pieces,
        |  floor(CAST(CAST(sum(n) AS BIGINT) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE) * 10000) / 10000 AS fertility
        |FROM np GROUP BY lang ORDER BY lang""".stripMargin,

    "txt_quality" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    ' ' || lower(text) || ' ' AS padded
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    floor(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) * 10000) / 10000 AS punct_ratio,
        |    floor(CAST(
        |        (length(padded) - length(replace(padded, ' the ', ''))) / 5
        |      + (length(padded) - length(replace(padded, ' a ', ''))) / 3
        |      + (length(padded) - length(replace(padded, ' and ', ''))) / 5
        |      + (length(padded) - length(replace(padded, ' of ', ''))) / 4
        |      + (length(padded) - length(replace(padded, ' to ', ''))) / 4
        |      + (length(padded) - length(replace(padded, ' in ', ''))) / 4
        |      AS DOUBLE) / greatest(n_tokens, 1) * 10000) / 10000 AS stopword_ratio,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score
        |  FROM base)
        |SELECT doc_id, punct_ratio, stopword_ratio,
        |  floor(greatest(least((len_score + least(stopword_ratio * 5, 1.0)
        |    - least(punct_ratio * 5, 1.0)) / 2, 1.0), 0.0) * 10000) / 10000 AS quality
        |FROM m ORDER BY doc_id""".stripMargin,

    // Greedy WordPiece closed form: the start piece is the longest
    // whole-word vocab prefix (else one letter); the tail consumes
    // "##ing" exactly where leftmost non-overlapping regexp
    // replacement finds 'ing' (greedy char-scan ≡ leftmost-nonoverlap
    // because both resume AFTER each 3-char hit) and one letter
    // everywhere else, so tail pieces = length after collapsing each
    // 'ing' to one char.
    "txt_wordpiece" ->
      s"""WITH wv(piece) AS (VALUES ${wordpieceWholeWords
            .map(w => s"('$w')").mkString(", ")}),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents),
        |pref AS (
        |  SELECT doc_id, word,
        |    coalesce((SELECT max(length(v.piece)) FROM wv v
        |              WHERE starts_with(t.word, v.piece)), 1) AS p
        |  FROM toks t),
        |np AS (
        |  SELECT doc_id,
        |    1 + length(regexp_replace(substr(word, p + 1), 'ing', '#', 'g'))
        |      AS n
        |  FROM pref)
        |SELECT doc_id,
        |  count(*) AS n_words,
        |  CAST(sum(n) AS BIGINT) AS n_pieces,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_single,
        |  CAST(0 AS BIGINT) AS n_unk
        |FROM np GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "txt_lang_id" ->
      """WITH v AS (
        |  SELECT doc_id,
        |    (length(p) - length(replace(p, ' der ', ''))) / 5
        |      + (length(p) - length(replace(p, ' die ', ''))) / 5
        |      + (length(p) - length(replace(p, ' und ', ''))) / 5
        |      + (length(p) - length(replace(p, ' ist ', ''))) / 5
        |      + (length(p) - length(replace(p, ' nicht ', ''))) / 7 AS de,
        |    (length(p) - length(replace(p, ' the ', ''))) / 5
        |      + (length(p) - length(replace(p, ' and ', ''))) / 5
        |      + (length(p) - length(replace(p, ' is ', ''))) / 4
        |      + (length(p) - length(replace(p, ' of ', ''))) / 4
        |      + (length(p) - length(replace(p, ' to ', ''))) / 4 AS en,
        |    (length(p) - length(replace(p, ' el ', ''))) / 4
        |      + (length(p) - length(replace(p, ' la ', ''))) / 4
        |      + (length(p) - length(replace(p, ' que ', ''))) / 5
        |      + (length(p) - length(replace(p, ' los ', ''))) / 5
        |      + (length(p) - length(replace(p, ' es ', ''))) / 4 AS es,
        |    (length(p) - length(replace(p, ' le ', ''))) / 4
        |      + (length(p) - length(replace(p, ' la ', ''))) / 4
        |      + (length(p) - length(replace(p, ' les ', ''))) / 5
        |      + (length(p) - length(replace(p, ' est ', ''))) / 5
        |      + (length(p) - length(replace(p, ' une ', ''))) / 5 AS fr,
        |    (length(p) - length(replace(p, ' 的 ', ''))) / 3
        |      + (length(p) - length(replace(p, ' 是 ', ''))) / 3
        |      + (length(p) - length(replace(p, ' 了 ', ''))) / 3
        |      + (length(p) - length(replace(p, ' 在 ', ''))) / 3
        |      + (length(p) - length(replace(p, ' 我 ', ''))) / 3 AS zh
        |  FROM (SELECT doc_id, ' ' || lower(text) || ' ' AS p FROM documents))
        |SELECT doc_id,
        |  CASE WHEN de >= en AND de >= es AND de >= fr AND de >= zh THEN 'de'
        |       WHEN en >= es AND en >= fr AND en >= zh THEN 'en'
        |       WHEN es >= fr AND es >= zh THEN 'es'
        |       WHEN fr >= zh THEN 'fr'
        |       ELSE 'zh' END AS lang_pred
        |FROM v ORDER BY doc_id""".stripMargin,

    "txt_fingerprint" ->
      """SELECT doc_id,
        |  md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_shingle_fp" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
        |  FROM documents)
        |SELECT doc_id,
        |  list_min(list_transform(
        |    range(1, greatest(length(norm) - 7, 1) + 1),
        |    i -> md5(substr(norm, i, 8)))) AS sfp
        |FROM n ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        |  MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // Shared CTE prologue for the md5-minhash replicas: tokens → ngrams
    // (short-doc guarded exactly like Dedup.wordNgramsFromTokens).
    "dedup_ngram_jaccard" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |hp AS (
        |  SELECT doc_id, list_transform(ngrams, g -> {
        |    'h1': CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT),
        |    'h2': CAST(('0x' || substr(md5(g), 16, 10)) AS BIGINT)}) AS hs
        |  FROM ng),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    s -> list_min(list_transform(hs, h ->
        |      xor(((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30),
        |          (((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30)) >> 15)))) AS sg
        |  FROM hp),
        |bands AS (
        |  SELECT doc_id, b AS band_id,
        |    CAST(sg[b*2+1] AS VARCHAR) || '|' || CAST(sg[b*2+2] AS VARCHAR) AS band_hash
        |  FROM sig, range(0, 8) t(b)),
        |cands AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM bands l JOIN bands r
        |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        |    AND l.doc_id < r.doc_id),
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 AS jaccard
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id)
        |SELECT id_a, id_b, jaccard FROM scored WHERE jaccard >= 0.15
        |ORDER BY id_a, id_b""".stripMargin,

    // the dedup_ngram_jaccard pipeline + per-pair evidence: sorted
    // shared grams, count, and the first-3 string
    "dedup_evidence" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |hp AS (
        |  SELECT doc_id, list_transform(ngrams, g -> {
        |    'h1': CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT),
        |    'h2': CAST(('0x' || substr(md5(g), 16, 10)) AS BIGINT)}) AS hs
        |  FROM ng),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    s -> list_min(list_transform(hs, h ->
        |      xor(((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30),
        |          (((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30)) >> 15)))) AS sg
        |  FROM hp),
        |bands AS (
        |  SELECT doc_id, b AS band_id,
        |    CAST(sg[b*2+1] AS VARCHAR) || '|' || CAST(sg[b*2+2] AS VARCHAR) AS band_hash
        |  FROM sig, range(0, 8) t(b)),
        |cands AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM bands l JOIN bands r
        |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        |    AND l.doc_id < r.doc_id),
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 AS jaccard,
        |    list_sort(list_intersect(a.ngrams, b.ngrams)) AS shared
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id)
        |SELECT id_a, id_b, jaccard,
        |  CAST(len(shared) AS BIGINT) AS n_shared,
        |  array_to_string(shared[1:3], ' | ') AS evidence
        |FROM scored WHERE jaccard >= 0.15
        |ORDER BY id_a, id_b""".stripMargin,

    // Ground truth for the prefix-filtered containment search: exact
    // directed containment over EVERY pair sharing at least one gram
    // (any pair with containment ≥ 0.9 > 0 shares a gram, so this is
    // the complete qualifying set — losslessness of the Spark side's
    // prefix filter is exactly what the hash match proves).
    "dedup_containment" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 900000 AS doc_id,
        |    text || ' quarterly compliance appendix retained for archival reference only' AS text
        |  FROM documents WHERE doc_id % 40 = 0),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM docs),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |nz AS (SELECT doc_id, ngrams FROM ng WHERE len(ngrams) > 0),
        |g AS (SELECT doc_id, unnest(ngrams) AS gram FROM nz),
        |shared AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id),
        |scored AS (
        |  SELECT s.id_a, s.id_b,
        |    floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE)
        |      / len(a.ngrams) * 10000) / 10000 AS containment,
        |    CAST(len(a.ngrams) AS BIGINT) AS n_a,
        |    CAST(len(b.ngrams) AS BIGINT) AS n_b
        |  FROM shared s
        |  JOIN nz a ON s.id_a = a.doc_id
        |  JOIN nz b ON s.id_b = b.doc_id)
        |SELECT id_a, id_b, containment, n_a, n_b FROM scored
        |WHERE containment >= 0.9 ORDER BY id_a, id_b""".stripMargin,

    "dedup_lpa_delta" ->
      // portable-minhash LSH+verify pairs over the full corpus feed
      // the q_label_prop_delta LPA unroll: stored = 2 rounds over the
      // both-history pairs, then 2 frontier-restricted warm-start
      // rounds over all pairs (f1 = delta-pair endpoints, f2 =
      // neighbors of round-1 changers)
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |hp AS (
        |  SELECT doc_id, list_transform(ngrams, g -> {
        |    'h1': CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT),
        |    'h2': CAST(('0x' || substr(md5(g), 16, 10)) AS BIGINT)}) AS hs
        |  FROM ng),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    s -> list_min(list_transform(hs, h ->
        |      xor(((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30),
        |          (((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30)) >> 15)))) AS sg
        |  FROM hp),
        |bands AS (
        |  SELECT doc_id, b AS band_id,
        |    CAST(sg[b*2+1] AS VARCHAR) || '|' || CAST(sg[b*2+2] AS VARCHAR) AS band_hash
        |  FROM sig, range(0, 8) t(b)),
        |cands AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM bands l JOIN bands r
        |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        |    AND l.doc_id < r.doc_id),
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 AS jaccard
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id),
        |p AS (SELECT id_a AS s, id_b AS d FROM scored WHERE jaccard >= 0.15),
        |be AS (SELECT s, d FROM p WHERE s % 5 <> 0 AND d % 5 <> 0),
        |de AS (SELECT s, d FROM p WHERE s % 5 = 0 OR d % 5 = 0),
        |bund AS (SELECT s, d FROM be UNION ALL SELECT d AS s, s AS d FROM be),
        |fund AS (SELECT s, d FROM p UNION ALL SELECT d AS s, s AS d FROM p),
        |bnodes AS (SELECT DISTINCT s AS node FROM bund),
        |fnodes AS (SELECT DISTINCT s AS node FROM fund),
        |seeds AS (
        |  SELECT doc_id AS node, doc_id AS lbl FROM documents
        |  WHERE doc_id % 10 = 1),
        |l0 AS (
        |  SELECT n.node, seeds.lbl AS label FROM bnodes n
        |  LEFT JOIN seeds ON seeds.node = n.node),
        |v1 AS (
        |  SELECT bund.d, l0.label AS nl, COUNT(*) AS votes
        |  FROM bund JOIN l0 ON l0.node = bund.s
        |  WHERE l0.label IS NOT NULL GROUP BY bund.d, l0.label),
        |a1 AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v1)
        |  WHERE rn = 1),
        |l1 AS (
        |  SELECT l0.node, COALESCE(seeds.lbl, a1.nl, l0.label) AS label
        |  FROM l0
        |  LEFT JOIN seeds ON seeds.node = l0.node
        |  LEFT JOIN a1 ON a1.node = l0.node),
        |v2 AS (
        |  SELECT bund.d, l1.label AS nl, COUNT(*) AS votes
        |  FROM bund JOIN l1 ON l1.node = bund.s
        |  WHERE l1.label IS NOT NULL GROUP BY bund.d, l1.label),
        |a2 AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v2)
        |  WHERE rn = 1),
        |l2 AS (
        |  SELECT l1.node, COALESCE(seeds.lbl, a2.nl, l1.label) AS label
        |  FROM l1
        |  LEFT JOIN seeds ON seeds.node = l1.node
        |  LEFT JOIN a2 ON a2.node = l1.node),
        |w0 AS (
        |  SELECT n.node, COALESCE(seeds.lbl, l2.label) AS label
        |  FROM fnodes n
        |  LEFT JOIN seeds ON seeds.node = n.node
        |  LEFT JOIN l2 ON l2.node = n.node),
        |f1 AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT s AS node FROM de UNION ALL SELECT d FROM de)),
        |w1v AS (
        |  SELECT fund.d, w0.label AS nl, COUNT(*) AS votes
        |  FROM fund JOIN f1 ON f1.node = fund.d
        |  JOIN w0 ON w0.node = fund.s
        |  WHERE w0.label IS NOT NULL GROUP BY fund.d, w0.label),
        |w1a AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM w1v)
        |  WHERE rn = 1),
        |w1 AS (
        |  SELECT w0.node, COALESCE(seeds.lbl, w1a.nl, w0.label) AS label
        |  FROM w0
        |  LEFT JOIN seeds ON seeds.node = w0.node
        |  LEFT JOIN w1a ON w1a.node = w0.node),
        |ch1 AS (
        |  SELECT w1.node FROM w1 JOIN w0 ON w0.node = w1.node
        |  WHERE w1.label IS DISTINCT FROM w0.label),
        |f2 AS (
        |  SELECT DISTINCT fund.d AS node
        |  FROM fund JOIN ch1 ON ch1.node = fund.s),
        |w2v AS (
        |  SELECT fund.d, w1.label AS nl, COUNT(*) AS votes
        |  FROM fund JOIN f2 ON f2.node = fund.d
        |  JOIN w1 ON w1.node = fund.s
        |  WHERE w1.label IS NOT NULL GROUP BY fund.d, w1.label),
        |w2a AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM w2v)
        |  WHERE rn = 1),
        |w2 AS (
        |  SELECT w1.node, COALESCE(seeds.lbl, w2a.nl, w1.label) AS label
        |  FROM w1
        |  LEFT JOIN seeds ON seeds.node = w1.node
        |  LEFT JOIN w2a ON w2a.node = w1.node)
        |SELECT node, label FROM w2 ORDER BY node""".stripMargin,

    "dedup_incremental_lsh" ->
      // the full-corpus LSH+verify pipeline restricted to pairs
      // touching the delta batch (doc_id % 5 = 0) — the incremental
      // path must reproduce it exactly without re-hashing history
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |hp AS (
        |  SELECT doc_id, list_transform(ngrams, g -> {
        |    'h1': CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT),
        |    'h2': CAST(('0x' || substr(md5(g), 16, 10)) AS BIGINT)}) AS hs
        |  FROM ng),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    s -> list_min(list_transform(hs, h ->
        |      xor(((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30),
        |          (((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30)) >> 15)))) AS sg
        |  FROM hp),
        |bands AS (
        |  SELECT doc_id, b AS band_id,
        |    CAST(sg[b*2+1] AS VARCHAR) || '|' || CAST(sg[b*2+2] AS VARCHAR) AS band_hash
        |  FROM sig, range(0, 8) t(b)),
        |cands AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM bands l JOIN bands r
        |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        |    AND l.doc_id < r.doc_id),
        |scored AS (
        |  SELECT c.id_a, c.id_b,
        |    floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 AS jaccard
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id)
        |SELECT id_a, id_b, jaccard FROM scored
        |WHERE jaccard >= 0.15 AND (id_a % 5 = 0 OR id_b % 5 = 0)
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_script_routed" ->
      // planted CJK twins + routing + both portable minhash paths
      // replayed end to end: char 3-shingles for CJK-dominant docs,
      // word 3-grams for the rest
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 100 IN (96, 97) THEN
        |      array_to_string(list_transform(range(0, 30), i ->
        |        substr('日月山川水火木金土人心手口目耳車門馬魚鳥',
        |          CAST((doc_id // 2 * 7 + i * 13 +
        |            CASE WHEN doc_id % 2 = 1 AND i = 15 THEN 3 ELSE 0 END)
        |            % 20 AS INT) + 1, 1)), '')
        |    ELSE text END AS text
        |  FROM documents),
        |cnt AS (
        |  SELECT doc_id, text,
        |    length(text) - length(regexp_replace(text,
        |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]', '', 'g'))
        |      AS n_cjk
        |  FROM docs),
        |routed AS (
        |  SELECT doc_id, text,
        |    floor(CAST(n_cjk AS DOUBLE) / greatest(length(text), 1) * 10000)
        |      / 10000 >= 0.3 AS is_cjk
        |  FROM cnt),
        |toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM routed WHERE NOT is_cjk),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |hp AS (
        |  SELECT doc_id, list_transform(ngrams, g -> {
        |    'h1': CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT),
        |    'h2': CAST(('0x' || substr(md5(g), 16, 10)) AS BIGINT)}) AS hs
        |  FROM ng),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    s -> list_min(list_transform(hs, h ->
        |      xor(((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30),
        |          (((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30)) >> 15)))) AS sg
        |  FROM hp),
        |bands AS (
        |  SELECT doc_id, b AS band_id,
        |    CAST(sg[b*2+1] AS VARCHAR) || '|' || CAST(sg[b*2+2] AS VARCHAR) AS band_hash
        |  FROM sig, range(0, 8) t(b)),
        |cands AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM bands l JOIN bands r
        |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        |    AND l.doc_id < r.doc_id),
        |wscored AS (
        |  SELECT c.id_a, c.id_b, 'word' AS route,
        |    floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 AS jaccard
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id),
        |cnorm AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nm
        |  FROM routed WHERE is_cjk),
        |csh AS (
        |  SELECT doc_id, list_distinct(list_transform(
        |    range(1, greatest(length(nm) - 2, 1) + 1),
        |    i -> substr(nm, CAST(i AS INT), 3))) AS sh
        |  FROM cnorm),
        |chp AS (
        |  SELECT doc_id, list_transform(sh, g -> {
        |    'h1': CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT),
        |    'h2': CAST(('0x' || substr(md5(g), 16, 10)) AS BIGINT)}) AS hs
        |  FROM csh),
        |csig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    s -> list_min(list_transform(hs, h ->
        |      xor(((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30),
        |          (((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30)) >> 15)))) AS sg
        |  FROM chp),
        |cbands AS (
        |  SELECT doc_id, b AS band_id,
        |    CAST(sg[b*2+1] AS VARCHAR) || '|' || CAST(sg[b*2+2] AS VARCHAR) AS band_hash
        |  FROM csig, range(0, 8) t(b)),
        |ccands AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM cbands l JOIN cbands r
        |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        |    AND l.doc_id < r.doc_id),
        |cscored AS (
        |  SELECT c.id_a, c.id_b, 'cjk' AS route,
        |    floor(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      greatest(len(a.sh) + len(b.sh)
        |        - len(list_intersect(a.sh, b.sh)), 1) * 10000) / 10000 AS jaccard
        |  FROM ccands c JOIN csh a ON c.id_a = a.doc_id JOIN csh b ON c.id_b = b.doc_id)
        |SELECT id_a, id_b, route, jaccard FROM cscored WHERE jaccard >= 0.5
        |UNION ALL
        |SELECT id_a, id_b, route, jaccard FROM wscored WHERE jaccard >= 0.15
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_ngram_allpairs" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents WHERE doc_id < 200),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks)
        |SELECT l.doc_id AS id_a, r.doc_id AS id_b,
        |  floor(CAST(len(list_intersect(l.ngrams, r.ngrams)) AS DOUBLE) /
        |    greatest(len(l.ngrams) + len(r.ngrams)
        |      - len(list_intersect(l.ngrams, r.ngrams)), 1) * 10000) / 10000 AS jaccard
        |FROM ng l JOIN ng r ON l.doc_id < r.doc_id
        |WHERE floor(CAST(len(list_intersect(l.ngrams, r.ngrams)) AS DOUBLE) /
        |    greatest(len(l.ngrams) + len(r.ngrams)
        |      - len(list_intersect(l.ngrams, r.ngrams)), 1) * 10000) / 10000 >= 0.15
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_minhash_lsh" -> minhashLshOracle,
    // the streaming band index accumulates the same buckets, so the
    // cumulative pair set replays with the batch self-join oracle
    "stream_neardup_lsh" -> minhashLshOracle,
    "stream_neardup_ttl" -> minhashLshOracle,

    "dedup_simhash_hamming" ->
      """WITH th AS (
        |  SELECT doc_id,
        |    list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
        |  FROM documents),
        |sim AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
        |    CASE WHEN list_sum(list_transform(hs,
        |        h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) >= 0
        |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sig
        |  FROM th),
        |bands AS (
        |  SELECT doc_id, sig, b AS block_id,
        |    (sig >> (b * 15)) & 32767 AS block_value
        |  FROM sim, range(0, 4) t(b)),
        |cands AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
        |    CAST(bit_count(xor(l.sig, r.sig)) AS INT) AS hamming
        |  FROM bands l JOIN bands r
        |    ON l.block_id = r.block_id AND l.block_value = r.block_value
        |    AND l.doc_id < r.doc_id)
        |SELECT id_a, id_b, hamming FROM cands WHERE hamming <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_simhash" ->
      """WITH th AS (
        |  SELECT doc_id,
        |    list_transform(regexp_split_to_array(lower(trim(text)), '\s+'),
        |      t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
        |  FROM documents),
        |sim AS (
        |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 60), b ->
        |    CASE WHEN list_sum(list_transform(hs,
        |        h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) >= 0
        |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
        |  FROM th)
        |SELECT simhash, MIN(doc_id) AS keeper_id, COUNT(*) AS dup_count
        |FROM sim GROUP BY 1 ORDER BY 1""".stripMargin,

    "sim_ann_bruteforce" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
        |  WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qvec[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(q.qvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM embeddings e CROSS JOIN q
        |  WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id AS neighbor_id,
        |  floor(cos * 10000) / 10000 AS cos_sim
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "sim_random_projection" ->
      // same fold, same sign hash, same IEEE ops (left-to-right sum,
      // division by sqrt(k)) — bit-identical before quantization
      """WITH p AS (
        |  SELECT vec_id,
        |    list_transform(range(0, 8), j ->
        |      list_aggregate(list_transform(range(0, 64), i ->
        |        CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE) *
        |        (CASE WHEN CAST(('0x' || substr(md5('rp|' || j || '|' || i),
        |          1, 15)) AS BIGINT) % 2 = 0
        |          THEN 1.0 ELSE -1.0 END)), 'sum') / sqrt(8)) AS pr
        |  FROM embeddings)
        |SELECT vec_id,
        |  floor(pr[1] * 10000) / 10000 AS p0,
        |  floor(pr[2] * 10000) / 10000 AS p1,
        |  floor(pr[3] * 10000) / 10000 AS p2,
        |  floor(pr[4] * 10000) / 10000 AS p3,
        |  floor(pr[5] * 10000) / 10000 AS p4,
        |  floor(pr[6] * 10000) / 10000 AS p5,
        |  floor(pr[7] * 10000) / 10000 AS p6,
        |  floor(pr[8] * 10000) / 10000 AS p7
        |FROM p ORDER BY vec_id""".stripMargin,

    "sim_label_centroids" ->
      // decimal accumulation on both sides: the sum is exact and
      // order-independent, so the quantized mean replays bit-for-bit
      """WITH ex AS (
        |  SELECT label, CAST(i AS INT) AS dim,
        |    CAST(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)
        |      AS DECIMAL(27,10)) AS x
        |  FROM embeddings, unnest(range(0, len(embedding))) AS t(i)),
        |agg AS (
        |  SELECT label, dim, COUNT(*) AS n_vectors, SUM(x) AS s
        |  FROM ex GROUP BY 1, 2)
        |SELECT label, dim, n_vectors,
        |  floor(CAST(s AS DOUBLE) / n_vectors * 10000) / 10000 AS centroid
        |FROM agg ORDER BY label, dim""".stripMargin,

    "sim_perceptron_train" ->
      // 3 unrolled batch-perceptron epochs in exact integer
      // arithmetic: quantize features once, epoch 1 updates on every
      // row (w=0 ⇒ margin 0 ≤ 0), epochs 2–3 on rows with
      // y·(w·x) ≤ 0; every SUM cast to BIGINT (HUGEINT hash gotcha)
      """WITH e AS (
        |  SELECT vec_id,
        |    CASE WHEN label < 5 THEN 1 ELSE -1 END AS y,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS xq
        |  FROM embeddings),
        |dims AS (SELECT CAST(unnest(range(64)) AS INT) AS dim),
        |w1 AS (
        |  SELECT d.dim, CAST(SUM(e.y * e.xq[d.dim + 1]) AS BIGINT) AS w
        |  FROM e, dims d GROUP BY 1),
        |m2 AS (
        |  SELECT e.vec_id,
        |    e.y * CAST(SUM(w1.w * e.xq[w1.dim + 1]) AS BIGINT) AS m
        |  FROM e, w1 GROUP BY e.vec_id, e.y),
        |d2 AS (
        |  SELECT d.dim, CAST(SUM(e.y * e.xq[d.dim + 1]) AS BIGINT) AS dw
        |  FROM e, m2, dims d
        |  WHERE e.vec_id = m2.vec_id AND m2.m <= 0 GROUP BY 1),
        |w2 AS (
        |  SELECT w1.dim, w1.w + COALESCE(d2.dw, 0) AS w
        |  FROM w1 LEFT JOIN d2 ON w1.dim = d2.dim),
        |m3 AS (
        |  SELECT e.vec_id,
        |    e.y * CAST(SUM(w2.w * e.xq[w2.dim + 1]) AS BIGINT) AS m
        |  FROM e, w2 GROUP BY e.vec_id, e.y),
        |d3 AS (
        |  SELECT d.dim, CAST(SUM(e.y * e.xq[d.dim + 1]) AS BIGINT) AS dw
        |  FROM e, m3, dims d
        |  WHERE e.vec_id = m3.vec_id AND m3.m <= 0 GROUP BY 1),
        |w3 AS (
        |  SELECT w2.dim, w2.w + COALESCE(d3.dw, 0) AS w
        |  FROM w2 LEFT JOIN d3 ON w2.dim = d3.dim)
        |SELECT dim, CAST(w AS BIGINT) AS weight
        |FROM w3 ORDER BY dim""".stripMargin,

    "sim_perceptron_classify" ->
      // same 3 unrolled epochs, then one scoring pass: per true
      // label, rows with positive trained score (all exact integers)
      """WITH e AS (
        |  SELECT vec_id, label,
        |    CASE WHEN label < 5 THEN 1 ELSE -1 END AS y,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS xq
        |  FROM embeddings),
        |dims AS (SELECT CAST(unnest(range(64)) AS INT) AS dim),
        |w1 AS (
        |  SELECT d.dim, CAST(SUM(e.y * e.xq[d.dim + 1]) AS BIGINT) AS w
        |  FROM e, dims d GROUP BY 1),
        |m2 AS (
        |  SELECT e.vec_id,
        |    e.y * CAST(SUM(w1.w * e.xq[w1.dim + 1]) AS BIGINT) AS m
        |  FROM e, w1 GROUP BY e.vec_id, e.y),
        |d2 AS (
        |  SELECT d.dim, CAST(SUM(e.y * e.xq[d.dim + 1]) AS BIGINT) AS dw
        |  FROM e, m2, dims d
        |  WHERE e.vec_id = m2.vec_id AND m2.m <= 0 GROUP BY 1),
        |w2 AS (
        |  SELECT w1.dim, w1.w + COALESCE(d2.dw, 0) AS w
        |  FROM w1 LEFT JOIN d2 ON w1.dim = d2.dim),
        |m3 AS (
        |  SELECT e.vec_id,
        |    e.y * CAST(SUM(w2.w * e.xq[w2.dim + 1]) AS BIGINT) AS m
        |  FROM e, w2 GROUP BY e.vec_id, e.y),
        |d3 AS (
        |  SELECT d.dim, CAST(SUM(e.y * e.xq[d.dim + 1]) AS BIGINT) AS dw
        |  FROM e, m3, dims d
        |  WHERE e.vec_id = m3.vec_id AND m3.m <= 0 GROUP BY 1),
        |w3 AS (
        |  SELECT w2.dim, w2.w + COALESCE(d3.dw, 0) AS w
        |  FROM w2 LEFT JOIN d3 ON w2.dim = d3.dim),
        |scored AS (
        |  SELECT e.vec_id, e.label,
        |    CAST(SUM(w3.w * e.xq[w3.dim + 1]) AS BIGINT) AS score
        |  FROM e, w3 GROUP BY e.vec_id, e.label)
        |SELECT label, COUNT(*) AS n,
        |  CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_kept
        |FROM scored GROUP BY label ORDER BY label""".stripMargin,

    "sim_nearest_centroid" ->
      // cosine against the q4-quantized centroids (exact decimals →
      // doubles), argmax = (cos desc, label asc) — replays the
      // struct-max tie-break exactly
      """WITH ex AS (
        |  SELECT label, CAST(i AS INT) AS dim,
        |    CAST(CAST(embedding[CAST(i + 1 AS INT)] AS DOUBLE)
        |      AS DECIMAL(27,10)) AS x
        |  FROM embeddings, unnest(range(0, len(embedding))) AS t(i)),
        |agg AS (
        |  SELECT label, dim, COUNT(*) AS n, SUM(x) AS s
        |  FROM ex GROUP BY 1, 2),
        |cent AS (
        |  SELECT label, dim,
        |    floor(CAST(s AS DOUBLE) / n * 10000) / 10000 AS c
        |  FROM agg),
        |cvec AS (
        |  SELECT label AS cand_label, array_agg(c ORDER BY dim) AS cv
        |  FROM cent GROUP BY label),
        |scored AS (
        |  SELECT e.vec_id, v.cand_label,
        |    list_sum(list_transform(range(1, len(e.embedding) + 1),
        |      i -> CAST(e.embedding[i] AS DOUBLE) * v.cv[i])) AS num,
        |    sqrt(list_sum(list_transform(e.embedding,
        |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |    * sqrt(list_sum(list_transform(v.cv, x -> x * x))) AS den
        |  FROM embeddings e CROSS JOIN cvec v),
        |q AS (
        |  SELECT vec_id, cand_label,
        |    floor((CASE WHEN den = 0 THEN 0.0 ELSE num / den END) * 10000)
        |      / 10000 AS cos_q
        |  FROM scored),
        |pred AS (
        |  SELECT vec_id, cand_label, cos_q,
        |    row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cos_q DESC, cand_label ASC) AS rn
        |  FROM q)
        |SELECT vec_id, cand_label AS pred_label, cos_q AS cos_sim
        |FROM pred WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    "sim_ann_pq" ->
      // replays id-stride codebooks, per-subspace argmin encode (tie →
      // smallest code), the query LUT, and the integer ADC total
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |books AS (
        |  SELECT vec_id // 11 AS code, v FROM emb
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |sub AS (SELECT * FROM range(0, 8) t(j)),
        |penc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(e.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, sub s, books b),
        |codes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM penc) WHERE rn = 1),
        |qlut AS (
        |  SELECT vec_id AS query_id, j, code, d FROM penc
        |  WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT l.query_id, c.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS dist_nano
        |  FROM codes c JOIN qlut l ON c.j = l.j AND c.code = l.code
        |  WHERE l.query_id <> c.vec_id
        |  GROUP BY 1, 2),
        |r AS (SELECT query_id, vec_id, dist_nano, ROW_NUMBER() OVER (
        |  PARTITION BY query_id ORDER BY dist_nano, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank,
        |  vec_id AS neighbor_id, dist_nano
        |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "sim_pq_occupancy" ->
      // (j, code) counts from the sim_ann_pq codes replay, then dense
      // per-subspace health stats
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |fbooks AS (
        |  SELECT vec_id // 11 AS code, v FROM emb
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |fsub AS (SELECT * FROM range(0, 8) t(j)),
        |fenc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(e.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, fsub s, fbooks b),
        |fcodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM fenc) WHERE rn = 1),
        |occ AS (
        |  SELECT j, code, COUNT(*) AS n FROM fcodes GROUP BY j, code)
        |SELECT CAST(j AS INT) AS j, 16 AS n_codes,
        |  COUNT(*) AS codes_used, 16 - COUNT(*) AS dead_codes,
        |  MAX(n) AS max_occupancy,
        |  CAST(SUM(n) AS DOUBLE) / COUNT(*) AS mean_occupancy,
        |  CAST(MAX(n) AS DOUBLE) / (CAST(SUM(n) AS DOUBLE) / COUNT(*))
        |    AS imbalance
        |FROM occ GROUP BY j ORDER BY j""".stripMargin,

    "sim_ivf_pq" ->
      // full composed replay: hash-ordered centroid sample (ORDER BY
      // md5 LIMIT nlist — the oversample=1 quantizer), per-vector
      // argmin cells and per-query probe ranking via normSq − 2·dot
      // with (score, cell) ties, then the sim_ann_pq fine-code ADC
      // restricted to probed cells
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT CAST(rn - 1 AS INT) AS cell, v FROM (
        |    SELECT v, ROW_NUMBER() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |    FROM emb) WHERE rn <= 16),
        |cscore AS (
        |  SELECT e.vec_id, c.cell,
        |    list_sum(list_transform(c.v, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, 65), i ->
        |      e.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])) AS score
        |  FROM emb e, cents c),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY score, cell) AS rn
        |    FROM cscore) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY score, cell) AS rn
        |    FROM cscore WHERE vec_id % 50 = 0) WHERE rn <= 4),
        |fbooks AS (
        |  SELECT vec_id // 11 AS code, v FROM emb
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |fsub AS (SELECT * FROM range(0, 8) t(j)),
        |fenc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(e.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, fsub s, fbooks b),
        |fcodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM fenc) WHERE rn = 1),
        |qlut AS (
        |  SELECT vec_id AS query_id, j, code, d FROM fenc
        |  WHERE vec_id % 50 = 0),
        |cand AS (
        |  SELECT p.query_id, a.vec_id
        |  FROM probes p JOIN assign a ON a.cell = p.cell),
        |scored AS (
        |  SELECT cd.query_id, cd.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS dist_nano
        |  FROM cand cd
        |  JOIN fcodes c ON c.vec_id = cd.vec_id
        |  JOIN qlut l ON l.query_id = cd.query_id
        |    AND c.j = l.j AND c.code = l.code
        |  WHERE cd.query_id <> cd.vec_id
        |  GROUP BY 1, 2),
        |r2 AS (SELECT query_id, vec_id, dist_nano, ROW_NUMBER() OVER (
        |  PARTITION BY query_id ORDER BY dist_nano, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank,
        |  vec_id AS neighbor_id, dist_nano
        |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "sim_ivf_pq_residual" ->
      // sim_ivf_pq's replay with residual encoding end to end:
      // rv = v − cent(cell) per corpus vector, residual books from the
      // stride sample's residuals, corpus codes over rv, and the
      // per-(query, probed-cell) LUT against q − cent(cell)
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |cents AS (
        |  SELECT CAST(rn - 1 AS INT) AS cell, v FROM (
        |    SELECT v, ROW_NUMBER() OVER (
        |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
        |    FROM emb) WHERE rn <= 16),
        |cscore AS (
        |  SELECT e.vec_id, c.cell,
        |    list_sum(list_transform(c.v, x -> x * x)) -
        |    2 * list_sum(list_transform(range(1, 65), i ->
        |      e.v[CAST(i AS INT)] * c.v[CAST(i AS INT)])) AS score
        |  FROM emb e, cents c),
        |assign AS (
        |  SELECT vec_id, cell FROM (
        |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY score, cell) AS rn
        |    FROM cscore) WHERE rn = 1),
        |probes AS (
        |  SELECT vec_id AS query_id, cell FROM (
        |    SELECT vec_id, cell, ROW_NUMBER() OVER (PARTITION BY vec_id
        |      ORDER BY score, cell) AS rn
        |    FROM cscore WHERE vec_id % 50 = 0) WHERE rn <= 4),
        |rv AS (
        |  SELECT e.vec_id,
        |    list_transform(range(1, 65), i ->
        |      e.v[CAST(i AS INT)] - c.v[CAST(i AS INT)]) AS v
        |  FROM emb e
        |  JOIN assign a ON a.vec_id = e.vec_id
        |  JOIN cents c ON c.cell = a.cell),
        |rbooks AS (
        |  SELECT vec_id // 11 AS code, v FROM rv
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |fsub AS (SELECT * FROM range(0, 8) t(j)),
        |renc AS (
        |  SELECT r.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(r.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM rv r, fsub s, rbooks b),
        |rcodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM renc) WHERE rn = 1),
        |qrv AS (
        |  SELECT p.query_id, p.cell,
        |    list_transform(range(1, 65), i ->
        |      e.v[CAST(i AS INT)] - c.v[CAST(i AS INT)]) AS v
        |  FROM probes p
        |  JOIN emb e ON e.vec_id = p.query_id
        |  JOIN cents c ON c.cell = p.cell),
        |qlut AS (
        |  SELECT q.query_id, q.cell, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(q.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM qrv q, fsub s, rbooks b),
        |cand AS (
        |  SELECT p.query_id, p.cell, a.vec_id
        |  FROM probes p JOIN assign a ON a.cell = p.cell),
        |scored AS (
        |  SELECT cd.query_id, cd.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS dist_nano
        |  FROM cand cd
        |  JOIN rcodes c ON c.vec_id = cd.vec_id
        |  JOIN qlut l ON l.query_id = cd.query_id AND l.cell = cd.cell
        |    AND c.j = l.j AND c.code = l.code
        |  WHERE cd.query_id <> cd.vec_id
        |  GROUP BY 1, 2),
        |r2 AS (SELECT query_id, vec_id, dist_nano, ROW_NUMBER() OVER (
        |  PARTITION BY query_id ORDER BY dist_nano, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank,
        |  vec_id AS neighbor_id, dist_nano
        |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "sim_ann_imi" ->
      // replays both coarse half-codebooks (id-stride 13), the per-half
      // argmin cells, the d0+d1 pair-probe ranking, and the fine-code
      // ADC scoring of sim_ann_pq restricted to the probed cells
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |fbooks AS (
        |  SELECT vec_id // 11 AS code, v FROM emb
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |fsub AS (SELECT * FROM range(0, 8) t(j)),
        |fenc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(e.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, fsub s, fbooks b),
        |fcodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM fenc) WHERE rn = 1),
        |qlut AS (
        |  SELECT vec_id AS query_id, j, code, d FROM fenc
        |  WHERE vec_id % 50 = 0),
        |cbooks AS (
        |  SELECT vec_id // 13 AS code, v FROM emb
        |  WHERE vec_id % 13 = 0 AND vec_id < 8 * 13),
        |csub AS (SELECT * FROM range(0, 2) t(j)),
        |cenc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 33), i ->
        |      pow(e.v[CAST(s.j*32+i AS INT)] - b.v[CAST(s.j*32+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, csub s, cbooks b),
        |ccodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM cenc) WHERE rn = 1),
        |cells AS (
        |  SELECT vec_id,
        |    8 * MAX(CASE WHEN j = 0 THEN code END) +
        |    MAX(CASE WHEN j = 1 THEN code END) AS cell
        |  FROM ccodes GROUP BY vec_id),
        |qpairs AS (
        |  SELECT q0.vec_id AS query_id,
        |    q0.code * 8 + q1.code AS cell, q0.d + q1.d AS dist
        |  FROM (SELECT * FROM cenc WHERE j = 0 AND vec_id % 50 = 0) q0
        |  JOIN (SELECT * FROM cenc WHERE j = 1 AND vec_id % 50 = 0) q1
        |    ON q0.vec_id = q1.vec_id),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT query_id, cell,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY dist, cell) AS rn
        |    FROM qpairs) WHERE rn <= 8),
        |cand AS (
        |  SELECT p.query_id, c.vec_id
        |  FROM probes p JOIN cells c ON c.cell = p.cell),
        |scored AS (
        |  SELECT cd.query_id, cd.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS dist_nano
        |  FROM cand cd
        |  JOIN fcodes c ON c.vec_id = cd.vec_id
        |  JOIN qlut l ON l.query_id = cd.query_id
        |    AND c.j = l.j AND c.code = l.code
        |  WHERE cd.query_id <> cd.vec_id
        |  GROUP BY 1, 2),
        |r2 AS (SELECT query_id, vec_id, dist_nano, ROW_NUMBER() OVER (
        |  PARTITION BY query_id ORDER BY dist_nano, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank,
        |  vec_id AS neighbor_id, dist_nano
        |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "sim_ann_imi_lazy" ->
      // same replay as sim_ann_imi with K=128 half-codebooks
      // (id-stride 3) and nprobe=512 — DuckDB ranks ALL 16384 pair
      // sums per query; the Spark side's lazy multi-sequence walk
      // must produce the identical (dist, cell) prefix
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |fbooks AS (
        |  SELECT vec_id // 11 AS code, v FROM emb
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |fsub AS (SELECT * FROM range(0, 8) t(j)),
        |fenc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(e.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, fsub s, fbooks b),
        |fcodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM fenc) WHERE rn = 1),
        |qlut AS (
        |  SELECT vec_id AS query_id, j, code, d FROM fenc
        |  WHERE vec_id % 50 = 0),
        |cbooks AS (
        |  SELECT vec_id // 3 AS code, v FROM emb
        |  WHERE vec_id % 3 = 0 AND vec_id < 128 * 3),
        |csub AS (SELECT * FROM range(0, 2) t(j)),
        |cenc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 33), i ->
        |      pow(e.v[CAST(s.j*32+i AS INT)] - b.v[CAST(s.j*32+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, csub s, cbooks b),
        |ccodes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM cenc) WHERE rn = 1),
        |cells AS (
        |  SELECT vec_id,
        |    128 * MAX(CASE WHEN j = 0 THEN code END) +
        |    MAX(CASE WHEN j = 1 THEN code END) AS cell
        |  FROM ccodes GROUP BY vec_id),
        |qpairs AS (
        |  SELECT q0.vec_id AS query_id,
        |    q0.code * 128 + q1.code AS cell, q0.d + q1.d AS dist
        |  FROM (SELECT * FROM cenc WHERE j = 0 AND vec_id % 50 = 0) q0
        |  JOIN (SELECT * FROM cenc WHERE j = 1 AND vec_id % 50 = 0) q1
        |    ON q0.vec_id = q1.vec_id),
        |probes AS (
        |  SELECT query_id, cell FROM (
        |    SELECT query_id, cell,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY dist, cell) AS rn
        |    FROM qpairs) WHERE rn <= 512),
        |cand AS (
        |  SELECT p.query_id, c.vec_id
        |  FROM probes p JOIN cells c ON c.cell = p.cell),
        |scored AS (
        |  SELECT cd.query_id, cd.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS dist_nano
        |  FROM cand cd
        |  JOIN fcodes c ON c.vec_id = cd.vec_id
        |  JOIN qlut l ON l.query_id = cd.query_id
        |    AND c.j = l.j AND c.code = l.code
        |  WHERE cd.query_id <> cd.vec_id
        |  GROUP BY 1, 2),
        |r2 AS (SELECT query_id, vec_id, dist_nano, ROW_NUMBER() OVER (
        |  PARTITION BY query_id ORDER BY dist_nano, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, CAST(rank AS INT) AS rank,
        |  vec_id AS neighbor_id, dist_nano
        |FROM r2 WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "sim_ann_quantized" ->
      // int8 codes are exact integral doubles on both engines, so the
      // integer dot products (and thus the ranking) replay bit-for-bit
      """WITH base AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> 0.0)
        |         ELSE list_transform(embedding,
        |           x -> floor(CAST(x AS DOUBLE) * 127 / mx + 0.5)) END AS q
        |  FROM base),
        |n AS (
        |  SELECT vec_id, q,
        |    sqrt(list_sum(list_transform(q, x -> x * x))) AS qn
        |  FROM qz),
        |qs AS (
        |  SELECT vec_id AS query_id, q AS qq, qn AS qqn FROM n
        |  WHERE vec_id % 50 = 0),
        |scored AS (
        |  SELECT qs.query_id, n.vec_id,
        |    CASE WHEN n.qn * qs.qqn = 0 THEN 0.0
        |         ELSE list_sum(list_transform(range(1, len(n.q) + 1),
        |           i -> n.q[i] * qs.qq[i])) / (n.qn * qs.qqn) END AS cos
        |  FROM n CROSS JOIN qs WHERE n.vec_id <> qs.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, rank, vec_id AS neighbor_id,
        |  floor(cos * 10000) / 10000 AS approx_cos
        |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin,

    "c8_migration_copy" ->
      """SELECT * FROM (
        |  SELECT 'lineitem' AS table_name, COUNT(*) AS rows FROM lineitem
        |  UNION ALL
        |  SELECT 'orders' AS table_name, COUNT(*) AS rows FROM orders
        |) t ORDER BY table_name""".stripMargin,

    "citext_ci_join" ->
      """SELECT a.n_nationkey, b.n_nationkey AS nk2
        |FROM nation a JOIN (SELECT n_nationkey, upper(n_name) AS n_name
        |                    FROM nation) b
        |  ON lower(a.n_name) = lower(b.n_name)
        |ORDER BY a.n_nationkey, nk2""".stripMargin,

    "citext_lower_join" ->
      // same ground truth as citext_ci_join: the workaround must be
      // row-identical to the collation join
      """SELECT a.n_nationkey, b.n_nationkey AS nk2
        |FROM nation a JOIN (SELECT n_nationkey, upper(n_name) AS n_name
        |                    FROM nation) b
        |  ON lower(a.n_name) = lower(b.n_name)
        |ORDER BY a.n_nationkey, nk2""".stripMargin,

    "val_pk_duplicates" ->
      """SELECT l_orderkey, CAST(count(*) AS BIGINT) AS dup_count
        |FROM lineitem GROUP BY l_orderkey HAVING count(*) > 1
        |ORDER BY l_orderkey""".stripMargin,

    "val_null_counts" ->
      """SELECT CAST(count(*) AS BIGINT) AS total_rows,
        |  CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS nulls_pri,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F'
        |    THEN 1 ELSE 0 END) AS BIGINT) AS nulls_status
        |FROM orders""".stripMargin,

    "dedup_embedding_cos" ->
      """WITH aug AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cos
        |  FROM aug a JOIN aug b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, floor(cos * 10000) / 10000 AS cos_sim
        |FROM pairs WHERE cos >= 0.95 ORDER BY id_a, id_b""".stripMargin,

    "dedup_semantic" ->
      // brute-force ground truth over the planted-twin fixture: the
      // fixture guarantees every >=0.9 pair is a within-cell
      // (origin, twin) clique, so min-over-neighbors IS the CC label
      // and the oracle needs no iteration; winner per cluster by
      // (quality, -id) via a single max_by key
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding,
        |    x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |twins AS (
        |  SELECT vec_id + 50000 AS vec_id,
        |    list_concat([e[1] + 0.001], e[2:]) AS e
        |  FROM emb WHERE vec_id % 20 = 0),
        |aug AS (
        |  SELECT vec_id, e, CAST(vec_id % 7 AS INT) AS quality FROM emb
        |  UNION ALL
        |  SELECT vec_id, e, CAST(vec_id % 7 AS INT) AS quality FROM twins),
        |pairs AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
        |  WHERE list_sum(list_transform(range(1, len(a.e) + 1),
        |      i -> a.e[i] * b.e[i]))
        |    / (sqrt(list_sum(list_transform(a.e, x -> x * x)))
        |     * sqrt(list_sum(list_transform(b.e, x -> x * x)))) >= 0.9),
        |nbrs AS (
        |  SELECT id_a AS id, id_b AS nb FROM pairs
        |  UNION ALL SELECT id_b AS id, id_a AS nb FROM pairs),
        |lab AS (
        |  SELECT id, least(id, min(nb)) AS cluster_id
        |  FROM nbrs GROUP BY id),
        |labeled AS (
        |  SELECT a.vec_id, COALESCE(l.cluster_id, a.vec_id) AS cluster_id,
        |    a.quality
        |  FROM aug a LEFT JOIN lab l ON a.vec_id = l.id),
        |win AS (
        |  SELECT cluster_id,
        |    max_by(vec_id, quality * 100000000 - vec_id) AS keep_id
        |  FROM labeled GROUP BY cluster_id)
        |SELECT f.vec_id, f.cluster_id, f.quality,
        |  f.vec_id = w.keep_id AS kept
        |FROM labeled f JOIN win w ON f.cluster_id = w.cluster_id
        |ORDER BY f.vec_id""".stripMargin,

    "mm_byte_features" ->
      """SELECT doc_id, CAST(octet_length(CAST(text AS BLOB)) AS INT) AS media_size
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_frame_sample_avi" ->
      // structural replay of the MJPEG-AVI strided decode: frame
      // count 6 + id mod 5, sampled indices ≡ 0 (mod 3), every frame
      // decoding OK (pixel hashes are JPEG-codec-defined — spec-gated)
      """WITH d AS (
        |  SELECT doc_id, CAST(6 + doc_id % 5 AS INT) AS n_frames
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n_frames,
        |    CAST(unnest(range(n_frames)) AS INT) AS frame_idx
        |  FROM d)
        |SELECT doc_id, frame_idx, n_frames, TRUE AS frame_ok
        |FROM f WHERE frame_idx % 3 = 0
        |ORDER BY doc_id, frame_idx""".stripMargin,

    "mm_frame_sample" ->
      // replay of the container fixture + sampling + per-frame aHash:
      // n_frames = 6 + id mod 5, sampled indices ≡ 0 (mod 3), frame
      // seed id·100+idx feeding the same md5 pixel formula and integer
      // aHash bit rule (incl. two's-complement bit 63) as mm_phash
      """WITH d AS (
        |  SELECT doc_id, CAST(6 + doc_id % 5 AS INT) AS n_frames
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, n_frames,
        |    CAST(unnest(range(n_frames)) AS INT) AS frame_idx
        |  FROM d),
        |sf AS (SELECT * FROM f WHERE frame_idx % 3 = 0),
        |px AS (
        |  SELECT sf.doc_id, sf.frame_idx, t.i,
        |    CAST(('0x' || substr(md5('px|' || (sf.doc_id * 100 + sf.frame_idx)
        |        || '|' || (t.i % 8) || '|' || (t.i // 8)), 1, 15))
        |      AS BIGINT) % 256 AS g
        |  FROM sf, (SELECT unnest(range(64)) AS i) t),
        |s AS (SELECT doc_id, frame_idx, SUM(g) AS total
        |  FROM px GROUP BY 1, 2),
        |h AS (
        |  SELECT px.doc_id, px.frame_idx,
        |    SUM(CASE WHEN 64 * g >= total AND i < 63
        |          THEN CAST(1 AS BIGINT) << i ELSE 0 END)::BIGINT
        |    + CASE WHEN MAX(CASE WHEN i = 63 AND 64 * g >= total
        |                    THEN 1 ELSE 0 END) = 1
        |        THEN -9223372036854775807 - 1 ELSE 0 END AS ahash
        |  FROM px JOIN s ON px.doc_id = s.doc_id
        |    AND px.frame_idx = s.frame_idx
        |  GROUP BY px.doc_id, px.frame_idx)
        |SELECT sf.doc_id, sf.frame_idx, sf.n_frames, h.ahash
        |FROM sf JOIN h ON sf.doc_id = h.doc_id
        |  AND sf.frame_idx = h.frame_idx
        |ORDER BY sf.doc_id, sf.frame_idx""".stripMargin,

    "mm_phash_neardup" ->
      // replay of the full chain: pixel formula (twin groups of 4, one
      // +128 mod 256 pixel perturbation per twin) → aHash bit rule
      // (64·g ≥ Σg, all integer) → signed-64 hash assembly (bit 63 via
      // min-bigint addition, two's complement) → quadratic Hamming join
      """WITH px0 AS (
        |  SELECT d.doc_id, t.i,
        |    CAST(('0x' || substr(md5('px|' || (d.doc_id - d.doc_id % 4)
        |        || '|' || (t.i % 8) || '|' || (t.i // 8)), 1, 15))
        |      AS BIGINT) % 256 AS g0
        |  FROM documents d, (SELECT unnest(range(64)) AS i) t),
        |px AS (
        |  SELECT doc_id, i,
        |    CASE WHEN doc_id % 4 > 0 AND i // 8 = 0
        |              AND i % 8 = doc_id % 4 - 1
        |      THEN (g0 + 128) % 256 ELSE g0 END AS g
        |  FROM px0),
        |s AS (SELECT doc_id, SUM(g) AS total FROM px GROUP BY doc_id),
        |h AS (
        |  SELECT px.doc_id,
        |    SUM(CASE WHEN 64 * g >= total AND i < 63
        |          THEN CAST(1 AS BIGINT) << i ELSE 0 END)::BIGINT
        |    + CASE WHEN MAX(CASE WHEN i = 63 AND 64 * g >= total
        |                    THEN 1 ELSE 0 END) = 1
        |        THEN -9223372036854775807 - 1 ELSE 0 END AS ahash
        |  FROM px JOIN s ON px.doc_id = s.doc_id
        |  GROUP BY px.doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.ahash, b.ahash)) AS INT) AS hamming
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.ahash, b.ahash)) <= 6
        |ORDER BY id_a, id_b""".stripMargin,

    "mm_decode_png" ->
      // the decoded dims must equal the generator's arithmetic; the
      // every-97th truncated payload must flag, not fail
      """SELECT doc_id,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE 'png' END AS format,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(8 + doc_id % 16 AS INT) END AS width,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL
        |       ELSE CAST(8 + (doc_id * 7) % 16 AS INT) END AS height,
        |  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE CAST(1 AS INT) END
        |    AS n_frames,
        |  doc_id % 97 <> 0 AS decode_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "mm_audio_fingerprint" ->
      // sample replay: s(i) = (id·31 + i·7) mod 65536 − 32768 over
      // n = frames·channels interleaved samples; window of sample i is
      // ⌈64(i+1)/n⌉−1 (the ⌊w·n/64⌋ boundary layout inverted); bit w
      // set iff winSum·n ≥ total·winCnt; bit 63 via min-bigint addition
      """WITH params AS (
        |  SELECT doc_id,
        |    (50 + (doc_id * 13) % 200) * (1 + doc_id % 2) AS n
        |  FROM documents),
        |samp AS (
        |  SELECT p.doc_id, p.n, t.i,
        |    abs((p.doc_id * 31 + t.i * 7) % 65536 - 32768) AS a,
        |    (64 * (t.i + 1) + p.n - 1) // p.n - 1 AS w
        |  FROM params p JOIN (SELECT unnest(range(500)) AS i) t
        |    ON t.i < p.n),
        |tot AS (SELECT doc_id, MAX(n) AS n, SUM(a) AS total
        |        FROM samp GROUP BY doc_id),
        |win AS (SELECT doc_id, w, SUM(a) AS winsum, COUNT(*) AS wincnt
        |        FROM samp GROUP BY doc_id, w),
        |bits AS (
        |  SELECT win.doc_id, win.w
        |  FROM win JOIN tot ON win.doc_id = tot.doc_id
        |  WHERE win.winsum * tot.n >= tot.total * win.wincnt),
        |fp AS (
        |  SELECT doc_id,
        |    COALESCE(SUM(CASE WHEN w < 63
        |      THEN CAST(1 AS BIGINT) << w END), 0)::BIGINT
        |    + CASE WHEN MAX(CASE WHEN w = 63 THEN 1 ELSE 0 END) = 1
        |        THEN -9223372036854775807 - 1 ELSE 0 END AS afp
        |  FROM bits GROUP BY doc_id)
        |SELECT p.doc_id, CAST(p.n AS BIGINT) AS n_samples, fp.afp
        |FROM params p JOIN fp ON p.doc_id = fp.doc_id
        |ORDER BY p.doc_id""".stripMargin,

    "mm_decode_wav" ->
      // params must equal the generator's arithmetic; every 89th
      // payload is truncated mid-data and must flag, not fail
      """SELECT doc_id,
        |  CASE WHEN doc_id % 89 = 0 THEN NULL ELSE 'wave' END AS format,
        |  CASE WHEN doc_id % 89 = 0 THEN NULL
        |       ELSE CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
        |                 ELSE 44100 END AS INT) END AS sample_rate,
        |  CASE WHEN doc_id % 89 = 0 THEN NULL
        |       ELSE CAST(1 + doc_id % 2 AS INT) END AS channels,
        |  CASE WHEN doc_id % 89 = 0 THEN NULL ELSE CAST(16 AS INT) END AS bits,
        |  CASE WHEN doc_id % 89 = 0 THEN NULL
        |       ELSE CAST(50 + (doc_id * 13) % 200 AS BIGINT) END AS frames,
        |  doc_id % 89 <> 0 AS decode_ok
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_chunk_overlap" ->
      // the CDC hash replay over the twinned corpus, then distinct
      // (doc, chunk-md5), stop-chunk guard, hash equi-join pairs,
      // overlap vs the smaller side
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id,
        |    'EDITED PREFIX ' || text AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |cp AS (
        |  SELECT doc_id, text,
        |    generate_subscripts(regexp_split_to_array(text, ''), 1) AS pos,
        |    unnest(regexp_split_to_array(text, '')) AS ch
        |  FROM corpus),
        |vals AS (
        |  SELECT doc_id, text, pos, CAST(ord(ch) AS BIGINT) AS b FROM cp),
        |hs AS (
        |  SELECT doc_id, text, pos,
        |    (b * 1 + lag(b, 1) OVER w * 31 + lag(b, 2) OVER w * 961
        |     + lag(b, 3) OVER w * 29791 + lag(b, 4) OVER w * 923521
        |     + lag(b, 5) OVER w * 28629151
        |     + lag(b, 6) OVER w * 887503681
        |     + lag(b, 7) OVER w * 512613922
        |     + lag(b, 8) OVER w * 891031477
        |     + lag(b, 9) OVER w * 621975598
        |     + lag(b, 10) OVER w * 281243405
        |     + lag(b, 11) OVER w * 718545499
        |     + lag(b, 12) OVER w * 274910315
        |     + lag(b, 13) OVER w * 522219709
        |     + lag(b, 14) OVER w * 188810867
        |     + lag(b, 15) OVER w * 853136842) % 1000000007 AS h
        |  FROM vals WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |bounds AS (
        |  SELECT doc_id, text, pos FROM hs WHERE pos >= 16 AND h % 64 = 0
        |  UNION
        |  SELECT doc_id, text, length(text) AS pos FROM corpus
        |  WHERE length(text) >= 1),
        |spans AS (
        |  SELECT doc_id, text, pos AS e,
        |    COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0)
        |      AS sprev
        |  FROM bounds),
        |chunks AS (
        |  SELECT DISTINCT doc_id,
        |    md5(substr(text, sprev + 1, e - sprev)) AS chunk_hash
        |  FROM spans),
        |sizes AS (
        |  SELECT doc_id, COUNT(*) AS n_chunks FROM chunks GROUP BY doc_id),
        |keep AS (
        |  SELECT chunk_hash FROM chunks GROUP BY chunk_hash
        |  HAVING COUNT(*) <= 100),
        |pruned AS (
        |  SELECT c.doc_id, c.chunk_hash FROM chunks c
        |  JOIN keep USING (chunk_hash)),
        |shared AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    COUNT(*) AS shared_chunks
        |  FROM pruned a JOIN pruned b ON a.chunk_hash = b.chunk_hash
        |    AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id)
        |SELECT s.id_a, s.id_b, s.shared_chunks,
        |  sa.n_chunks AS n_chunks_a, sb.n_chunks AS n_chunks_b,
        |  CAST(s.shared_chunks AS DOUBLE)
        |    / least(sa.n_chunks, sb.n_chunks) AS overlap
        |FROM shared s
        |JOIN sizes sa ON sa.doc_id = s.id_a
        |JOIN sizes sb ON sb.doc_id = s.id_b
        |WHERE CAST(s.shared_chunks AS DOUBLE)
        |    / least(sa.n_chunks, sb.n_chunks) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "mm_chunk_cdc" ->
      // windowed-lag replay of the rolling hash: 16 lagged code-point
      // terms with precomputed 31^j mod 1e9+7 coefficients, exact
      // BIGINT arithmetic; mask boundaries (H % 64 = 0) UNION the
      // terminal boundary, chunks cut between consecutive boundaries
      """WITH cp AS (
        |  SELECT doc_id, text,
        |    generate_subscripts(regexp_split_to_array(text, ''), 1) AS pos,
        |    unnest(regexp_split_to_array(text, '')) AS ch
        |  FROM documents),
        |vals AS (
        |  SELECT doc_id, text, pos, CAST(ord(ch) AS BIGINT) AS b FROM cp),
        |hs AS (
        |  SELECT doc_id, text, pos,
        |    (b * 1 + lag(b, 1) OVER w * 31 + lag(b, 2) OVER w * 961
        |     + lag(b, 3) OVER w * 29791 + lag(b, 4) OVER w * 923521
        |     + lag(b, 5) OVER w * 28629151
        |     + lag(b, 6) OVER w * 887503681
        |     + lag(b, 7) OVER w * 512613922
        |     + lag(b, 8) OVER w * 891031477
        |     + lag(b, 9) OVER w * 621975598
        |     + lag(b, 10) OVER w * 281243405
        |     + lag(b, 11) OVER w * 718545499
        |     + lag(b, 12) OVER w * 274910315
        |     + lag(b, 13) OVER w * 522219709
        |     + lag(b, 14) OVER w * 188810867
        |     + lag(b, 15) OVER w * 853136842) % 1000000007 AS h
        |  FROM vals WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |bounds AS (
        |  SELECT doc_id, text, pos FROM hs WHERE pos >= 16 AND h % 64 = 0
        |  UNION
        |  SELECT doc_id, text, length(text) AS pos FROM documents
        |  WHERE length(text) >= 1),
        |chunks AS (
        |  SELECT doc_id, text, pos AS e,
        |    COALESCE(lag(pos) OVER (PARTITION BY doc_id ORDER BY pos), 0)
        |      AS sprev,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1
        |      AS chunk_idx
        |  FROM bounds)
        |SELECT doc_id, chunk_idx, sprev + 1 AS chunk_start,
        |  e - sprev AS chunk_len,
        |  md5(substr(text, sprev + 1, e - sprev)) AS chunk_hash
        |FROM chunks ORDER BY doc_id, chunk_idx""".stripMargin,

    "mm_chunk_fixed" ->
      """WITH ex AS (
        |  SELECT doc_id, text,
        |    unnest(range(0, greatest(CAST(ceil(length(text) / 256.0) AS BIGINT), 1))) AS i
        |  FROM documents)
        |SELECT doc_id, CAST(i AS INT) AS chunk_idx,
        |  CAST(length(substr(text, CAST(i * 256 + 1 AS INT), 256)) AS INT) AS chunk_len,
        |  md5(substr(text, CAST(i * 256 + 1 AS INT), 256)) AS chunk_hash
        |FROM ex ORDER BY doc_id, chunk_idx""".stripMargin,

    "skew_salted_agg" ->
      """SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,3))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS cnt
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "skew_salted_agg_zipf" ->
      """SELECT CAST(CASE WHEN o_orderkey % 10 < 7 THEN 0
        |       ELSE o_custkey % 100 + 1 END AS BIGINT) AS hot_key,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,3))) AS DOUBLE) AS sum_price,
        |  COUNT(*) AS cnt
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "skew_salted_join_zipf" ->
      """WITH big AS (
        |  SELECT CAST(CASE WHEN o_orderkey % 10 < 7 THEN 0
        |         ELSE o_custkey % 25 END AS BIGINT) AS hot_key,
        |    CAST(o_totalprice AS DECIMAL(18,3)) AS price
        |  FROM orders)
        |SELECT n.n_name, COUNT(*) AS n_rows,
        |  CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM big b JOIN nation n ON b.hot_key = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    "skew_unsalted_join_zipf" ->
      // identical semantics to the salted twin — the gate asserts the
      // unsalted plan still answers correctly; BENCH records its cost
      """WITH big AS (
        |  SELECT CAST(CASE WHEN o_orderkey % 10 < 7 THEN 0
        |         ELSE o_custkey % 25 END AS BIGINT) AS hot_key,
        |    CAST(o_totalprice AS DECIMAL(18,3)) AS price
        |  FROM orders)
        |SELECT n.n_name, COUNT(*) AS n_rows,
        |  CAST(SUM(price) AS DOUBLE) AS sum_price
        |FROM big b JOIN nation n ON b.hot_key = n.n_nationkey
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    "curate_documents" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |hp AS (
        |  SELECT doc_id, list_transform(ngrams, g -> {
        |    'h1': CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT),
        |    'h2': CAST(('0x' || substr(md5(g), 16, 10)) AS BIGINT)}) AS hs
        |  FROM ng),
        |sig AS (
        |  SELECT doc_id, list_transform(range(0, 16),
        |    s -> list_min(list_transform(hs, h ->
        |      xor(((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30),
        |          (((h.h1 + s * h.h2) & 1073741823) << 30 | ((h.h1 + s * h.h2) >> 30)) >> 15)))) AS sg
        |  FROM hp),
        |bands AS (
        |  SELECT doc_id, b AS band_id,
        |    CAST(sg[b*2+1] AS VARCHAR) || '|' || CAST(sg[b*2+2] AS VARCHAR) AS band_hash
        |  FROM sig, range(0, 8) t(b)),
        |cands AS (
        |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        |  FROM bands l JOIN bands r
        |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
        |    AND l.doc_id < r.doc_id),
        |losers AS (
        |  SELECT DISTINCT c.id_b AS doc_id
        |  FROM cands c JOIN ng a ON c.id_a = a.doc_id JOIN ng b ON c.id_b = b.doc_id
        |  WHERE floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE) /
        |      greatest(len(a.ngrams) + len(b.ngrams)
        |        - len(list_intersect(a.ngrams, b.ngrams)), 1) * 10000) / 10000 >= 0.15),
        |base AS (
        |  SELECT doc_id, lang, text,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    ' ' || lower(text) || ' ' AS padded
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang, n_tokens,
        |    floor(CAST(length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS DOUBLE)
        |      / greatest(length(text), 1) * 10000) / 10000 AS punct_ratio,
        |    floor(CAST(
        |        (length(padded) - length(replace(padded, ' the ', ''))) / 5
        |      + (length(padded) - length(replace(padded, ' a ', ''))) / 3
        |      + (length(padded) - length(replace(padded, ' and ', ''))) / 5
        |      + (length(padded) - length(replace(padded, ' of ', ''))) / 4
        |      + (length(padded) - length(replace(padded, ' to ', ''))) / 4
        |      + (length(padded) - length(replace(padded, ' in ', ''))) / 4
        |      AS DOUBLE) / greatest(n_tokens, 1) * 10000) / 10000 AS stopword_ratio,
        |    least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score
        |  FROM base),
        |scored AS (
        |  SELECT doc_id, lang, n_tokens,
        |    floor(greatest(least((len_score + least(stopword_ratio * 5, 1.0)
        |      - least(punct_ratio * 5, 1.0)) / 2, 1.0), 0.0) * 10000) / 10000 AS quality
        |  FROM m)
        |SELECT doc_id, lang, n_tokens, quality FROM scored
        |WHERE n_tokens >= 25 AND quality >= 0.35
        |  AND doc_id NOT IN (SELECT doc_id FROM losers)
        |ORDER BY doc_id""".stripMargin,

    "sim_ann_lsh" -> plantedAnnOracle,
    "sim_ann_ivf" -> plantedAnnOracle,
    "sim_ann_graph" -> plantedAnnOracle,
    "sim_ann_graph_indexed" -> plantedAnnOracle,
    "sim_ann_graph_append" -> plantedAnnOracle,
    "sim_ivf_hier" -> plantedAnnOracle,
    "sim_ivf_tree" -> plantedAnnOracle,
    "sim_ivf_append" -> plantedAnnOracle,
    "sim_ann_graph_remove" -> plantedAnnRemoveOracle,
    "stream_graph_ingest" -> plantedAnnOracle,
    "sim_ivf_compact" -> plantedAnnOracle,
    // probe-pruned store reads feeding the same searches — same oracle
    "sim_ivf_probe_read" -> plantedAnnOracle,
    "sim_ann_graph_probe" -> plantedAnnOracle,
    "sim_ivf_remove" -> plantedAnnRemoveOracle,
    // the CDC sync stream's net survivors == the remove oracle's
    "stream_vector_sync" -> plantedAnnRemoveOracle,
    "sim_store_snapshot" -> storeSnapshotOracle,
    // the change feed between the ingest and tombstone versions is
    // exactly the tombstoned rows as removes: survivors of the
    // partition rewrites cancel (multiset diff), untouched partitions
    // are never read
    "sim_store_changes" ->
      """SELECT 'remove' AS change_type, vec_id FROM embeddings
        |WHERE vec_id % 37 = 0 ORDER BY vec_id""".stripMargin,
    "sim_ivf_store_remove" -> plantedAnnRemoveOracle,
    "sim_ann_graph_refined" -> plantedAnnOracle,
    "sim_graph_lifecycle" -> plantedAnnRemoveOracle,

    "sim_margin_mine" ->
      """WITH emb AS (
        |  SELECT e.vec_id,
        |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    d.lang
        |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
        |src AS (SELECT vec_id AS src_id, v AS q FROM emb WHERE lang = 'de'),
        |tgt AS (SELECT vec_id, v FROM emb WHERE lang = 'en'),
        |scored AS (
        |  SELECT s.src_id, t.vec_id,
        |    list_sum(list_transform(range(1, 65), i -> t.v[i] * s.q[i]))
        |    / (sqrt(list_sum(list_transform(t.v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(s.q, x -> x * x)))) AS cos
        |  FROM src s CROSS JOIN tgt t),
        |ranked AS (
        |  SELECT src_id, vec_id, cos,
        |    ROW_NUMBER() OVER (PARTITION BY src_id
        |      ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM scored),
        |agg AS (
        |  SELECT src_id,
        |    max(CASE WHEN rank = 1 THEN vec_id END) AS tgt_id,
        |    max(CASE WHEN rank = 1 THEN cos END) AS c1,
        |    max(CASE WHEN rank = 2 THEN cos END) AS c2
        |  FROM ranked WHERE rank <= 2 GROUP BY src_id)
        |SELECT src_id, tgt_id,
        |  floor(c1 * 10000) / 10000 AS cos_top,
        |  floor(c1 / greatest(c2, 1e-9) * 10000) / 10000 AS margin,
        |  floor(c1 / greatest(c2, 1e-9) * 10000) / 10000 >= 1.05 AS mined
        |FROM agg ORDER BY src_id""".stripMargin,

    "sim_mean_pool" ->
      """WITH p AS (
        |  SELECT vec_id // 4 AS parent_id, embedding FROM embeddings),
        |x AS (
        |  SELECT parent_id, d - 1 AS dim,
        |    CAST(embedding[d] AS DOUBLE) AS v
        |  FROM p, range(1, 65) t(d))
        |SELECT parent_id,
        |  count(*) AS n_chunks, dim,
        |  floor(CAST(sum(CAST(v AS DECIMAL(27,10))) AS DOUBLE) / count(*)
        |    * 10000) / 10000 AS pooled
        |FROM x GROUP BY parent_id, dim ORDER BY parent_id, dim""".stripMargin,

    "sim_lsh_recall" ->
      // the truth side (exact cosine of every seed against its noised
      // twin) is fully portable; recall_ok is the assertion the Spark
      // side must satisfy for the hashes to match
      """WITH p AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)
        |      + CAST(0.04 AS DOUBLE)
        |        * (CAST((vec_id * 31 + (i - 1) * 17) % 19 - 9 AS DOUBLE)
        |           / CAST(9 AS DOUBLE))) AS w
        |  FROM embeddings),
        |cosv AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(range(1, 65), i -> v[i] * w[i]))
        |    / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(w, x -> x * x)))) AS cos
        |  FROM p)
        |SELECT COUNT(*) AS n_true,
        |  floor(MIN(cos) * 10000) / 10000 AS min_cos,
        |  floor(MAX(cos) * 10000) / 10000 AS max_cos,
        |  TRUE AS recall_ok
        |FROM cosv WHERE cos >= 0.9""".stripMargin,

    "sim_ivf_recall" ->
      // identical truth side to sim_lsh_recall (exact per-seed twin
      // cosine, fully portable); recall_ok is the assertion the IVF
      // probe path must satisfy for the hashes to match
      """WITH p AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)
        |      + CAST(0.04 AS DOUBLE)
        |        * (CAST((vec_id * 31 + (i - 1) * 17) % 19 - 9 AS DOUBLE)
        |           / CAST(9 AS DOUBLE))) AS w
        |  FROM embeddings),
        |cosv AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(range(1, 65), i -> v[i] * w[i]))
        |    / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(w, x -> x * x)))) AS cos
        |  FROM p)
        |SELECT COUNT(*) AS n_true,
        |  floor(MIN(cos) * 10000) / 10000 AS min_cos,
        |  floor(MAX(cos) * 10000) / 10000 AS max_cos,
        |  TRUE AS recall_ok
        |FROM cosv WHERE cos >= 0.9""".stripMargin,

    "sim_projection_recall" ->
      // truth side = sim_ivf_recall's restricted to the every-10th
      // query slice; recall_ok asserts the 16-dim projected search
      // still recovers ≥90% of those twins
      """WITH p AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
        |    list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)
        |      + CAST(0.04 AS DOUBLE)
        |        * (CAST((vec_id * 31 + (i - 1) * 17) % 19 - 9 AS DOUBLE)
        |           / CAST(9 AS DOUBLE))) AS w
        |  FROM embeddings WHERE vec_id % 10 = 0),
        |cosv AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(range(1, 65), i -> v[i] * w[i]))
        |    / (sqrt(list_sum(list_transform(v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(w, x -> x * x)))) AS cos
        |  FROM p)
        |SELECT COUNT(*) AS n_true,
        |  floor(MIN(cos) * 10000) / 10000 AS min_cos,
        |  floor(MAX(cos) * 10000) / 10000 AS max_cos,
        |  TRUE AS recall_ok
        |FROM cosv WHERE cos >= 0.9""".stripMargin,

    "curate_split_train_test" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,

    "curate_sample_stratified" ->
      """SELECT doc_id, lang FROM documents
        |WHERE CAST(('0x' || substr(md5('sample|' || CAST(doc_id AS VARCHAR)), 1, 15))
        |    AS BIGINT) % 10000
        |  < CASE WHEN lang = 'en' THEN 2000 ELSE 5000 END
        |ORDER BY doc_id""".stripMargin,

    "curate_weighted_sample" ->
      // identical A-ES rank: u = (md5_60 + 0.5)/2^60, key = u^(1/w);
      // the id tiebreak matches the Spark orderBy
      """SELECT doc_id, w FROM (
        |  SELECT doc_id, strlen(text) AS w,
        |    pow((CAST(('0x' || substr(md5('wsample|' ||
        |        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 0.5)
        |      / 1152921504606846976.0,
        |      1.0 / strlen(text)) AS k
        |  FROM documents
        |  ORDER BY k DESC, doc_id LIMIT 200) t
        |ORDER BY doc_id""".stripMargin,

    "curate_dsir_weights" ->
      // full replay: md5 buckets, add-one-smoothed counts, ln of the
      // exact rational quantized to 9 decimals, decimal per-doc sums
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |gr AS (
        |  SELECT doc_id, unnest(list_concat(tk,
        |    CASE WHEN len(tk) >= 2 THEN
        |      list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
        |    ELSE CAST([] AS VARCHAR[]) END)) AS g
        |  FROM toks),
        |gb AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('dsir|' || g), 1, 15)) AS BIGINT)
        |      % 8192 AS b
        |  FROM gr WHERE g <> ''),
        |tc AS (SELECT b, count(*) AS ct FROM gb WHERE doc_id % 7 = 0 GROUP BY b),
        |rc AS (SELECT b, count(*) AS cr FROM gb GROUP BY b),
        |tt AS (SELECT count(*) AS nt FROM gb WHERE doc_id % 7 = 0),
        |rt AS (SELECT count(*) AS nr FROM gb),
        |lam AS (
        |  SELECT rc.b,
        |    floor(ln(CAST((COALESCE(tc.ct, 0) + 1) * (rt.nr + 8192) AS DOUBLE)
        |           / CAST((rc.cr + 1) * (tt.nt + 8192) AS DOUBLE)) * 1e9)
        |      / 1e9 AS lam
        |  FROM rc LEFT JOIN tc ON rc.b = tc.b, tt, rt)
        |SELECT gb.doc_id, count(*) AS n_grams,
        |  floor(CAST(SUM(CAST(lam AS DECIMAL(28,9))) AS DOUBLE) * 1e4) / 1e4
        |    AS log_w
        |FROM gb JOIN lam ON gb.b = lam.b
        |GROUP BY gb.doc_id ORDER BY gb.doc_id""".stripMargin,

    "curate_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 4 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 2),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |bench AS (
        |  SELECT DISTINCT unnest(ngrams) AS g FROM ng WHERE doc_id % 37 = 0),
        |corpus AS (
        |  SELECT doc_id, unnest(ngrams) AS g FROM ng WHERE doc_id % 37 <> 0),
        |hits AS (
        |  SELECT c.doc_id, count(*) AS n_hits
        |  FROM corpus c JOIN bench b ON c.g = b.g GROUP BY c.doc_id),
        |tot AS (
        |  SELECT doc_id, len(ngrams) AS n_grams FROM ng WHERE doc_id % 37 <> 0)
        |SELECT t.doc_id, h.n_hits, t.n_grams,
        |  floor(CAST(h.n_hits AS DOUBLE) / greatest(t.n_grams, 1) * 10000) / 10000
        |    AS overlap
        |FROM tot t JOIN hits h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "curate_decontaminate_bloom" ->
      // the Bloom prefilter is plan-only (false positives die in the
      // exact verify join), so the oracle is the exact decontamination
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 4 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 2),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |bench AS (
        |  SELECT DISTINCT unnest(ngrams) AS g FROM ng WHERE doc_id % 37 = 0),
        |corpus AS (
        |  SELECT doc_id, unnest(ngrams) AS g FROM ng WHERE doc_id % 37 <> 0),
        |hits AS (
        |  SELECT c.doc_id, count(*) AS n_hits
        |  FROM corpus c JOIN bench b ON c.g = b.g GROUP BY c.doc_id),
        |tot AS (
        |  SELECT doc_id, len(ngrams) AS n_grams FROM ng WHERE doc_id % 37 <> 0)
        |SELECT t.doc_id, h.n_hits, t.n_grams,
        |  floor(CAST(h.n_hits AS DOUBLE) / greatest(t.n_grams, 1) * 10000) / 10000
        |    AS overlap
        |FROM tot t JOIN hits h ON t.doc_id = h.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "curate_pack_sequences" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('pack|' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 16 AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM d)
        |SELECT doc_id, shard, n_tokens,
        |  cum - n_tokens AS start_offset,
        |  (cum - n_tokens) // 512 AS pack_first,
        |  greatest(cum - 1, cum - n_tokens) // 512 AS pack_last
        |FROM c ORDER BY doc_id""".stripMargin,

    // wordpiece closed form (see txt_wordpiece) composed with the
    // pack_sequences window replay; wordless docs pack at length 0
    "curate_pack_wordpiece" ->
      s"""WITH wv(piece) AS (VALUES ${wordpieceWholeWords
            .map(w => s"('$w')").mkString(", ")}),
        |toks AS (
        |  SELECT doc_id,
        |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        |  FROM documents),
        |pref AS (
        |  SELECT doc_id, word,
        |    coalesce((SELECT max(length(v.piece)) FROM wv v
        |              WHERE starts_with(t.word, v.piece)), 1) AS p
        |  FROM toks t),
        |np AS (
        |  SELECT doc_id,
        |    1 + length(regexp_replace(substr(word, p + 1), 'ing', '#', 'g'))
        |      AS n
        |  FROM pref),
        |per AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS np
        |  FROM np GROUP BY doc_id),
        |d AS (
        |  SELECT dd.doc_id,
        |    CAST(('0x' || substr(md5('packwp|' || CAST(dd.doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 16 AS shard,
        |    COALESCE(per.np, 0) AS n_tokens
        |  FROM documents dd LEFT JOIN per ON dd.doc_id = per.doc_id),
        |c AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM d)
        |SELECT doc_id, shard, n_tokens,
        |  cum - n_tokens AS start_offset,
        |  (cum - n_tokens) // 256 AS pack_first,
        |  greatest(cum - 1, cum - n_tokens) // 256 AS pack_last
        |FROM c ORDER BY doc_id""".stripMargin,

    "curate_negative_sample" ->
      """WITH b AS (
        |  SELECT doc_id, md5('neg|perm|' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |perm AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % 16 AS shard, h
        |  FROM b),
        |pp AS (
        |  SELECT doc_id, shard,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |      AS BIGINT) AS pos
        |  FROM perm),
        |cnt AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_s
        |  FROM pp GROUP BY shard),
        |q AS (
        |  SELECT doc_id AS query_id,
        |    CAST(('0x' || substr(md5('neg|shard|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 16 AS shard,
        |    CAST(('0x' || substr(md5('neg|pos|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) AS h
        |  FROM documents),
        |probe AS (
        |  SELECT q.query_id, q.shard, CAST(t.i AS BIGINT) AS neg_rank,
        |    ((q.h + t.i) % c.n_s) + 1 AS pos
        |  FROM q JOIN cnt c ON q.shard = c.shard, range(0, 4) t(i))
        |SELECT p.query_id, p.neg_rank, pp.doc_id AS neg_id
        |FROM probe p
        |JOIN pp ON p.shard = pp.shard AND p.pos = pp.pos
        |WHERE pp.doc_id <> p.query_id
        |ORDER BY query_id, neg_rank""".stripMargin,

    "curate_split_containment_safe" ->
      // ground-truth containment pairs (all gram-sharing pairs ≥ 0.9)
      // → symmetric reachability → cluster-representative md5 bucket
      """WITH RECURSIVE toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id,
        |    CASE WHEN len(tk) >= 3 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 1),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |nz AS (SELECT doc_id, ngrams FROM ng WHERE len(ngrams) > 0),
        |gr AS (SELECT doc_id, unnest(ngrams) AS gram FROM nz),
        |shared AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM gr a JOIN gr b ON a.gram = b.gram AND a.doc_id <> b.doc_id),
        |sc AS (
        |  SELECT s.id_a, s.id_b
        |  FROM shared s
        |  JOIN nz a ON s.id_a = a.doc_id JOIN nz b ON s.id_b = b.doc_id
        |  WHERE floor(CAST(len(list_intersect(a.ngrams, b.ngrams)) AS DOUBLE)
        |    / len(a.ngrams) * 10000) / 10000 >= 0.9),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM sc
        |  UNION ALL SELECT id_b, id_a FROM sc),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |reach(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst),
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY id),
        |lab AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |bk AS (SELECT doc_id, cluster_id,
        |  CAST(('0x' || substr(md5('splitc|' || CAST(cluster_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM lab)
        |SELECT doc_id, cluster_id, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM bk ORDER BY doc_id""".stripMargin,

    "curate_split_leakage_safe" ->
      // cc reachability (shared prefix) + singleton fill-in, then the
      // splitAssign md5 bucket keyed on the cluster representative
      (ccReachSql + """,
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY id),
        |lab AS (SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |bk AS (SELECT doc_id, cluster_id,
        |  CAST(('0x' || substr(md5('split|' || CAST(cluster_id AS VARCHAR)),
        |    1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM lab)
        |SELECT doc_id, cluster_id, bucket,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'valid'
        |       ELSE 'test' END AS split
        |FROM bk ORDER BY doc_id""".stripMargin),

    "curate_length_buckets" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('lenbkt|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 4 AS shard,
        |    CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END
        |      AS BIGINT) AS n_tokens
        |  FROM documents),
        |bk AS (
        |  SELECT doc_id, shard, n_tokens,
        |    ((n_tokens + 31) // 32) * 32 AS bucket_bound
        |  FROM base),
        |batched AS (
        |  SELECT doc_id, shard, n_tokens, bucket_bound,
        |    CAST((ROW_NUMBER() OVER (PARTITION BY shard, bucket_bound
        |      ORDER BY doc_id) - 1) // 8 AS BIGINT) AS batch_in_bucket
        |  FROM bk)
        |SELECT doc_id, shard, n_tokens, bucket_bound, batch_in_bucket,
        |  bucket_bound - n_tokens AS pad_waste,
        |  MAX(n_tokens) OVER (PARTITION BY shard, bucket_bound,
        |    batch_in_bucket) AS batch_max_tokens,
        |  MAX(n_tokens) OVER (PARTITION BY shard, bucket_bound,
        |    batch_in_bucket) - n_tokens AS pad_waste_batch_max
        |FROM batched ORDER BY doc_id""".stripMargin,

    "curate_shuffle_shard" ->
      """WITH b AS (
        |  SELECT doc_id, md5('shuffle|' || CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(h, 1, 15)) AS BIGINT) % 16 AS shard, h
        |  FROM b)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |    AS BIGINT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin,

    "curate_strip_boilerplate" ->
      // replays planting, per-source line document-frequency, the
      // minDocs/minFrac cut, anti-join strip, and ORDER BY pos
      // reassembly
      """WITH docs AS (
        |  SELECT doc_id, source,
        |    text || chr(10) || 'visit ' || source || ' for more' ||
        |    CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'rare line'
        |         ELSE '' END AS text
        |  FROM documents),
        |ls AS (
        |  SELECT doc_id, source, string_split(text, chr(10)) AS parts
        |  FROM docs),
        |lines AS (
        |  SELECT doc_id, source,
        |    CAST(generate_subscripts(parts, 1) AS INT) AS pos,
        |    unnest(parts) AS line
        |  FROM ls),
        |linedf AS (
        |  SELECT source, line, COUNT(*) AS n_with FROM (
        |    SELECT DISTINCT source, line, doc_id FROM lines)
        |  GROUP BY 1, 2),
        |srcdocs AS (SELECT source, COUNT(*) AS n_docs FROM docs GROUP BY 1),
        |boiler AS (
        |  SELECT l.source, l.line
        |  FROM linedf l JOIN srcdocs s ON l.source = s.source
        |  WHERE s.n_docs >= 10 AND CAST(l.n_with AS DOUBLE) >= s.n_docs * 0.6),
        |kept AS (
        |  SELECT li.* FROM lines li
        |  ANTI JOIN boiler b ON li.source = b.source AND li.line = b.line),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
        |    COUNT(*) AS n_kept
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, d.source,
        |  COALESCE(r.text, '') AS text,
        |  CAST(COALESCE(r.n_kept, 0) AS INT) AS n_lines_kept,
        |  CAST(len(string_split(d.text, chr(10)))
        |    - COALESCE(r.n_kept, 0) AS INT) AS n_lines_dropped
        |FROM docs d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "curate_mixture_sample" ->
      // α-sampling replay: w_q = ⌊√n·10^6⌋ (IEEE sqrt — exact on both
      // engines), rate = min(10^6, ⌊budget·10^6·w_q / (Σw_q·n)⌋) via
      // exact HUGEINT integer division, kept = salted-md5 bucket
      // under the rate; every output cast back to BIGINT
      """WITH c AS (
        |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |w AS (
        |  SELECT source, n_docs,
        |    CAST(floor(sqrt(n_docs) * 1000000) AS BIGINT) AS w_q
        |  FROM c),
        |t AS (SELECT SUM(w_q) AS w_sum FROM w),
        |r AS (
        |  SELECT source, n_docs, w_q,
        |    CAST(least(CAST(1000000 AS HUGEINT),
        |      (CAST(300 AS HUGEINT) * 1000000 * w_q)
        |        // (CAST((SELECT w_sum FROM t) AS HUGEINT) * n_docs))
        |      AS BIGINT) AS rate_ppm
        |  FROM w),
        |k AS (
        |  SELECT d.source, COUNT(*) AS kept_docs
        |  FROM documents d JOIN r ON d.source = r.source
        |  WHERE CAST(('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 1000000 < r.rate_ppm
        |  GROUP BY 1)
        |SELECT r.source, r.n_docs, r.w_q, r.rate_ppm,
        |  COALESCE(k.kept_docs, 0) AS kept_docs
        |FROM r LEFT JOIN k ON r.source = k.source
        |ORDER BY r.source""".stripMargin,

    "curate_contamination_sketch" ->
      // exact per-source gram/overlap truths + always-true tolerance
      // booleans (theta bytes aren't oracle-replayable; a drifting
      // estimate flips a boolean and fails the hash compare)
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(tk) >= 4 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 2),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |bench AS (
        |  SELECT DISTINCT g FROM (
        |    SELECT unnest(ngrams) AS g FROM ng WHERE doc_id % 37 = 0)),
        |seg AS (
        |  SELECT DISTINCT source, g FROM (
        |    SELECT source, unnest(ngrams) AS g FROM ng
        |    WHERE doc_id % 37 <> 0)),
        |ngc AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
        |  FROM seg GROUP BY 1),
        |ov AS (
        |  SELECT s.source, CAST(COUNT(*) AS BIGINT) AS n_overlap
        |  FROM seg s JOIN bench b ON s.g = b.g GROUP BY 1)
        |SELECT n.source, n.n_grams,
        |  CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  TRUE AS grams_ok, TRUE AS overlap_ok
        |FROM ngc n LEFT JOIN ov o ON n.source = o.source
        |ORDER BY n.source""".stripMargin,

    "curate_contamination_matrix" ->
      // exact (source × benchmark) truths + always-true tolerance
      // booleans; full matrix via cross join of the marginals
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents),
        |ng AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(tk) >= 4 THEN
        |      list_distinct(list_transform(range(1, len(tk) - 2),
        |        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3]))
        |    WHEN len(tk) > 0 THEN [array_to_string(tk, ' ')]
        |    ELSE CAST([] AS VARCHAR[]) END AS ngrams
        |  FROM toks),
        |bench AS (
        |  SELECT DISTINCT doc_id % 3 AS bench_id, g FROM (
        |    SELECT doc_id, unnest(ngrams) AS g FROM ng WHERE doc_id % 37 = 0)),
        |seg AS (
        |  SELECT DISTINCT source, g FROM (
        |    SELECT source, unnest(ngrams) AS g FROM ng
        |    WHERE doc_id % 37 <> 0)),
        |ngc AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams
        |  FROM seg GROUP BY 1),
        |bid AS (SELECT DISTINCT bench_id FROM bench),
        |ov AS (
        |  SELECT s.source, b.bench_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
        |  FROM seg s JOIN bench b ON s.g = b.g GROUP BY 1, 2)
        |SELECT n.source, bid.bench_id, n.n_grams,
        |  CAST(COALESCE(o.n_overlap, 0) AS BIGINT) AS n_overlap,
        |  TRUE AS grams_ok, TRUE AS overlap_ok
        |FROM ngc n CROSS JOIN bid
        |LEFT JOIN ov o ON n.source = o.source AND bid.bench_id = o.bench_id
        |ORDER BY n.source, bid.bench_id""".stripMargin,

    "curate_url_canonical" ->
      // replays construction + every canonicalization rule with RE2
      // regexps and list ops (\1 backreference = Spark's $1)
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 2 = 0
        |      THEN 'HTTP://WWW.' || source || '.Example.COM:80//path//'
        |        || doc_id ||
        |        CASE WHEN doc_id % 3 = 0 THEN ''
        |          ELSE '/?utm_source=feed&b=2&a=1&gclid=x' END || '#frag'
        |      ELSE 'HTTPS://' || source || '.Example.ORG:443/p/'
        |        || doc_id || '/' ||
        |        CASE WHEN doc_id % 3 = 0 THEN '?z=9&utm_medium=email&a=1'
        |          ELSE '' END || '#x'
        |    END AS url
        |  FROM documents),
        |nf AS (SELECT doc_id, regexp_replace(trim(url), '#.*$', '') AS s
        |  FROM u),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://.*$', 1))
        |      AS scheme,
        |    lower(regexp_extract(s, '^[^:]+://([^/?#]+).*$', 1)) AS hostport,
        |    regexp_replace(regexp_extract(s,
        |      '^[^:]+://[^/?#]+([^?#]*).*$', 1), '/{2,}', '/', 'g') AS p0,
        |    regexp_extract(s, '\?([^#]*)', 1) AS q
        |  FROM nf),
        |norm AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |      WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |      ELSE hostport END AS host,
        |    CASE WHEN p0 = '' THEN '/'
        |      ELSE regexp_replace(p0, '(.)/$', '\1') END AS path,
        |    array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      p -> length(p) > 0 AND NOT regexp_matches(p,
        |        '^(utm_[a-z]+|fbclid|gclid|msclkid)='))), '&') AS query,
        |    regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''),
        |      '^www\.', '') AS domain
        |  FROM parts)
        |SELECT doc_id,
        |  scheme || '://' || host || path ||
        |    CASE WHEN length(query) > 0 THEN '?' || query ELSE '' END
        |    AS url_canon,
        |  domain
        |FROM norm ORDER BY doc_id""".stripMargin,

    "curate_k_anonymity" ->
      """SELECT c_nationkey, c_mktsegment, COUNT(*) AS group_size,
        |  COUNT(*) < 10 AS violates
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "curate_pii_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(
        |      text || ' Contact user' || CAST(doc_id AS VARCHAR)
        |        || '@mail.example.org or 555-'
        |        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '-9876.',
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\d{3}-\d{4}(-\d{4})?', '<PHONE>', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_bpe_pairs" ->
      """WITH words AS (
        |  SELECT w, CAST(COUNT(*) AS BIGINT) AS f FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w
        |    FROM documents) GROUP BY w),
        |v0 AS (
        |  SELECT w, f, list_transform(range(1, len(w) + 1),
        |    i -> w[CAST(i AS INT)]) AS s
        |  FROM words),
        |e0 AS (
        |  SELECT w, f, generate_subscripts(s, 1) AS pos, unnest(s) AS sym
        |  FROM v0),
        |x0 AS (
        |  SELECT w, f, pos, sym,
        |    lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt
        |  FROM e0),
        |p0 AS (
        |  SELECT sym || ' ' || nxt AS pr, CAST(SUM(f) AS BIGINT) AS n
        |  FROM x0 WHERE nxt IS NOT NULL GROUP BY 1)
        |SELECT string_split(pr, ' ')[1] AS sym_a,
        |  string_split(pr, ' ')[2] AS sym_b, n
        |FROM p0 ORDER BY n DESC, pr ASC LIMIT 20""".stripMargin,

    "txt_bpe_merges" -> bpeMergesOracle,
    "txt_bpe_local" -> bpeMergesOracle,
    "txt_bpe_segment" -> bpeSegmentOracle,
    "txt_unigram_train" -> unigramTrainOracle,
    "txt_unigram_soft" -> unigramSoftOracle,
    "txt_unigram_prune" -> unigramPruneOracle,
    "txt_unigram_segment" -> unigramSegmentOracle,
    "txt_wordpiece_train" -> wordpieceTrainOracle,

    "txt_top_tokens" ->
      """SELECT token, cnt FROM (
        |  SELECT token, COUNT(*) AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |    FROM documents) u
        |  WHERE token <> ''
        |  GROUP BY token)
        |ORDER BY cnt DESC, token LIMIT 20""".stripMargin,

    "txt_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS tk
        |  FROM documents)
        |SELECT doc_id, len(tk) AS n_tokens,
        |  len(list_distinct(tk)) AS n_distinct,
        |  floor(CAST(len(list_distinct(tk)) AS DOUBLE)
        |    / greatest(len(tk), 1) * 10000) / 10000 AS ttr,
        |  list_max(list_transform(list_distinct(tk),
        |    t -> len(list_filter(tk, x -> x = t)))) AS max_tok_freq
        |FROM toks ORDER BY doc_id""".stripMargin,

    "txt_script_profile" ->
      // same construction (repeat+chr), same RE2 \x{...} classes, 'g'
      // flag for replace-all, same tie-break CASE chain
      """WITH m AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 4 = 1
        |      THEN repeat('文', CAST(doc_id % 50 AS INT) * 10)
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 2
        |      THEN repeat('д', CAST(doc_id % 40 AS INT) * 12)
        |      ELSE '' END AS t
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(length(t) - length(regexp_replace(t,
        |      '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS BIGINT) AS n_latin,
        |    CAST(length(t) - length(regexp_replace(t,
        |      '[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}\x{AC00}-\x{D7AF}]',
        |      '', 'g')) AS BIGINT) AS n_cjk,
        |    CAST(length(t) - length(regexp_replace(t,
        |      '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrillic,
        |    CAST(length(t) - length(regexp_replace(t,
        |      '[\x{0600}-\x{06FF}]', '', 'g')) AS BIGINT) AS n_arabic
        |  FROM m)
        |SELECT doc_id, n_latin, n_cjk, n_cyrillic, n_arabic,
        |  floor(n_latin / greatest(n_latin + n_cjk + n_cyrillic
        |    + n_arabic, 1) * 10000) / 10000 AS frac_latin,
        |  floor(n_cjk / greatest(n_latin + n_cjk + n_cyrillic
        |    + n_arabic, 1) * 10000) / 10000 AS frac_cjk,
        |  CASE WHEN n_latin >= n_cjk AND n_latin >= n_cyrillic
        |      AND n_latin >= n_arabic THEN 'latin'
        |    WHEN n_cjk >= n_cyrillic AND n_cjk >= n_arabic THEN 'cjk'
        |    WHEN n_cyrillic >= n_arabic THEN 'cyrillic'
        |    ELSE 'arabic' END AS dominant
        |FROM c ORDER BY doc_id""".stripMargin,

    "txt_gopher_quality" ->
      // replays the doc construction, then every Gopher metric with
      // DuckDB list folds; thresholds apply to the QUANTIZED values,
      // matching the Spark side
      """WITH d AS (
        |  SELECT doc_id,
        |    text || CASE WHEN doc_id % 2 = 0 THEN chr(10) || text
        |      ELSE '' END
        |    || chr(10) || substr(text, 1, 20)
        |    || chr(10) || '- bullet item' || chr(10) || 'trailing dots...'
        |    AS doc
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, doc,
        |    list_filter(string_split(doc, chr(10)),
        |      l -> length(l) > 0) AS lines,
        |    list_filter(string_split_regex(doc, '\s+'),
        |      w -> length(w) > 0) AS words
        |  FROM d),
        |a AS (
        |  SELECT doc_id,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    greatest(CAST(len(words) AS DOUBLE), 1.0) AS wd,
        |    greatest(CAST(len(lines) AS DOUBLE), 1.0) AS ld,
        |    CAST(list_aggregate(list_transform(words,
        |      w -> CAST(length(w) AS BIGINT)), 'sum') AS DOUBLE) AS wchars,
        |    CAST(CAST(length(doc) - length(replace(doc, '#', ''))
        |      AS INT) + CAST((length(doc)
        |        - length(replace(doc, '...', ''))) / 3 AS INT)
        |      AS DOUBLE) AS symbols,
        |    CAST(len(list_filter(words,
        |      w -> regexp_matches(w, '[A-Za-z]'))) AS DOUBLE) AS alpha_w,
        |    CAST(len(list_filter(lines, l -> l LIKE '-%' OR l LIKE '*%'
        |      OR l LIKE '•%')) AS DOUBLE) AS bullet_l,
        |    CAST(len(list_filter(lines, l -> l LIKE '%...' OR l LIKE '%…'))
        |      AS DOUBLE) AS ell_l,
        |    CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE) AS dup_l,
        |    CAST(list_aggregate(list_transform(lines,
        |      l -> CAST(length(l) AS BIGINT)), 'sum') AS DOUBLE) AS chars_all,
        |    CAST(list_aggregate(list_transform(list_distinct(lines),
        |      l -> CAST(length(l) AS BIGINT)), 'sum') AS DOUBLE) AS chars_dist
        |  FROM m),
        |q AS (
        |  SELECT doc_id, n_words,
        |    floor(wchars / wd * 10000) / 10000 AS mean_word_len,
        |    floor(symbols / wd * 10000) / 10000 AS symbol_word_ratio,
        |    floor(alpha_w / wd * 10000) / 10000 AS frac_alpha_words,
        |    floor(bullet_l / ld * 10000) / 10000 AS frac_bullet_lines,
        |    floor(ell_l / ld * 10000) / 10000 AS frac_ellipsis_lines,
        |    floor(dup_l / ld * 10000) / 10000 AS dup_line_frac,
        |    floor((chars_all - chars_dist) / greatest(chars_all, 1.0)
        |      * 10000) / 10000 AS dup_line_char_frac
        |  FROM a)
        |SELECT *,
        |  (n_words >= 50 AND n_words <= 100000
        |    AND mean_word_len >= 3 AND mean_word_len <= 10
        |    AND symbol_word_ratio < 0.1 AND frac_alpha_words > 0.8
        |    AND frac_bullet_lines < 0.9 AND frac_ellipsis_lines < 0.3
        |    AND dup_line_frac < 0.3) AS passes
        |FROM q ORDER BY doc_id""".stripMargin,

    "txt_lm_score" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id,
        |    tk[CAST(i AS INT)] || ' ' || tk[CAST(i + 1 AS INT)] AS b,
        |    tk[CAST(i AS INT)] AS w1
        |  FROM toks, unnest(range(1, len(tk))) AS t(i)),
        |c12 AS (SELECT b, COUNT(*) AS c12 FROM bg GROUP BY 1),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY 1),
        |lp AS (
        |  SELECT bg.doc_id,
        |    CAST(floor(ln(CAST(c12.c12 AS DOUBLE) / c1.c1) * 1e9) / 1e9
        |      AS DECIMAL(28,9)) AS lp
        |  FROM bg JOIN c12 ON bg.b = c12.b JOIN c1 ON bg.w1 = c1.w1),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lp) AS s
        |  FROM lp GROUP BY 1)
        |SELECT t.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
        |  floor(coalesce(CAST(a.s AS DOUBLE) / a.n_bigrams, 0.0) * 10000)
        |    / 10000 AS lm_score
        |FROM toks t LEFT JOIN agg a ON t.doc_id = a.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "txt_char_entropy" ->
      // explode+groupBy replay of the native per-row kernel: same
      // operation order ((p*ln p)/ln 2)*1e9, floored per char, BIGINT
      // sum — so agreement is exact, not approximate
      """WITH chars AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS ch
        |  FROM documents),
        |cc AS (
        |  SELECT doc_id, ch, COUNT(*) AS cnt FROM chars WHERE ch <> ''
        |  GROUP BY doc_id, ch),
        |tot AS (
        |  SELECT doc_id, SUM(cnt) AS n, COUNT(*) AS k FROM cc
        |  GROUP BY doc_id),
        |terms AS (
        |  SELECT c.doc_id,
        |    CAST(floor((c.cnt / t.n) * ln(c.cnt / t.n) / ln(2) * 1e9)
        |      AS BIGINT) AS term
        |  FROM cc c JOIN tot t USING (doc_id)),
        |sums AS (
        |  SELECT doc_id, SUM(term) AS s FROM terms GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(COALESCE(t.n, 0) AS BIGINT) AS n_chars_used,
        |  CAST(COALESCE(t.k, 0) AS BIGINT) AS n_distinct_chars,
        |  CAST(-COALESCE(s.s, 0) AS DOUBLE) / 1e9 AS entropy_bits
        |FROM documents d
        |LEFT JOIN tot t ON t.doc_id = d.doc_id
        |LEFT JOIN sums s ON s.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "txt_nb_train" ->
      // dense Laplace-smoothed multinomial NB model replayed from the
      // same wordcount: every (term, label) cell, observed or not
      """WITH toks AS (
        |  SELECT lang AS label,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM documents WHERE doc_id % 2 = 0),
        |counts AS (
        |  SELECT label, term, COUNT(*) AS cnt FROM toks WHERE term <> ''
        |  GROUP BY label, term),
        |lt AS (SELECT label, SUM(cnt) AS lt FROM counts GROUP BY label),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM counts)
        |SELECT l.label, tm.term, COALESCE(c.cnt, 0) AS cnt,
        |  floor(ln((COALESCE(c.cnt, 0) + 1.0) / (l.lt + v.v)) * 1e9)
        |    / 1e9 AS logp
        |FROM (SELECT DISTINCT term FROM counts) tm
        |CROSS JOIN lt l CROSS JOIN v
        |LEFT JOIN counts c ON c.label = l.label AND c.term = tm.term
        |ORDER BY l.label, tm.term""".stripMargin,

    "txt_nb_classify" ->
      // full replay: model + priors + OOV defaults from the train
      // half, quantized-DECIMAL score sum, argmax with label tie-break
      """WITH train AS (
        |  SELECT * FROM documents WHERE doc_id % 2 = 0),
        |toks AS (
        |  SELECT lang AS label,
        |    unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |  FROM train),
        |counts AS (
        |  SELECT label, term, COUNT(*) AS cnt FROM toks WHERE term <> ''
        |  GROUP BY label, term),
        |lt AS (SELECT label, SUM(cnt) AS lt FROM counts GROUP BY label),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM counts),
        |model AS (
        |  SELECT l.label, tm.term,
        |    floor(ln((COALESCE(c.cnt, 0) + 1.0) / (l.lt + v.v)) * 1e9)
        |      / 1e9 AS logp
        |  FROM (SELECT DISTINCT term FROM counts) tm
        |  CROSS JOIN lt l CROSS JOIN v
        |  LEFT JOIN counts c ON c.label = l.label AND c.term = tm.term),
        |nd AS (SELECT lang AS label, COUNT(*) AS nd FROM train
        |  GROUP BY lang),
        |n AS (SELECT COUNT(*) AS n FROM train),
        |priors AS (
        |  SELECT l.label,
        |    CAST(floor(ln(CAST(nd.nd AS DOUBLE) / n.n) * 1e9) AS BIGINT)
        |      AS prior_nanos,
        |    floor(ln(1.0 / (l.lt + v.v)) * 1e9) / 1e9 AS oov_logp
        |  FROM lt l JOIN nd ON nd.label = l.label
        |  CROSS JOIN v CROSS JOIN n),
        |test AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS term
        |    FROM test) u
        |  WHERE term <> '' GROUP BY doc_id, term),
        |contrib AS (
        |  SELECT tf.doc_id, p.label,
        |    SUM(CAST(floor(tf.tf * COALESCE(m.logp, p.oov_logp) * 1e9)
        |      AS BIGINT)) AS s
        |  FROM tf CROSS JOIN priors p
        |  LEFT JOIN model m ON m.term = tf.term AND m.label = p.label
        |  GROUP BY tf.doc_id, p.label),
        |scored AS (
        |  SELECT d.doc_id, p.label,
        |    p.prior_nanos + COALESCE(c.s, 0) AS nanos
        |  FROM test d CROSS JOIN priors p
        |  LEFT JOIN contrib c ON c.doc_id = d.doc_id AND c.label = p.label)
        |SELECT doc_id, label AS pred_label,
        |  CAST(nanos AS DOUBLE) / 1e9 AS score
        |FROM (
        |  SELECT doc_id, label, nanos,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY nanos DESC, label ASC) AS rnk
        |  FROM scored) WHERE rnk = 1
        |ORDER BY doc_id""".stripMargin,

    "txt_nb_char" ->
      // the txt_nb_classify replay with the char-3-gram stream:
      // grams = substr(norm, i, 3) for i in 1..len-2 over
      // norm = regexp_replace(lower(trim(text)), '\s+', ' ', 'g') —
      // the CharNgramsAll normalization, code-point offsets
      """WITH train AS (
        |  SELECT * FROM documents WHERE doc_id % 2 = 0),
        |normd AS (
        |  SELECT lang AS label,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nm
        |  FROM train),
        |toks AS (
        |  SELECT label, substr(nm, CAST(i AS INT), 3) AS term
        |  FROM (SELECT label, nm,
        |          unnest(range(1, greatest(len(nm) - 1, 1))) AS i
        |        FROM normd) u),
        |counts AS (
        |  SELECT label, term, COUNT(*) AS cnt FROM toks WHERE term <> ''
        |  GROUP BY label, term),
        |lt AS (SELECT label, SUM(cnt) AS lt FROM counts GROUP BY label),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM counts),
        |model AS (
        |  SELECT l.label, tm.term,
        |    floor(ln((COALESCE(c.cnt, 0) + 1.0) / (l.lt + v.v)) * 1e9)
        |      / 1e9 AS logp
        |  FROM (SELECT DISTINCT term FROM counts) tm
        |  CROSS JOIN lt l CROSS JOIN v
        |  LEFT JOIN counts c ON c.label = l.label AND c.term = tm.term),
        |nd AS (SELECT lang AS label, COUNT(*) AS nd FROM train
        |  GROUP BY lang),
        |n AS (SELECT COUNT(*) AS n FROM train),
        |priors AS (
        |  SELECT l.label,
        |    CAST(floor(ln(CAST(nd.nd AS DOUBLE) / n.n) * 1e9) AS BIGINT)
        |      AS prior_nanos,
        |    floor(ln(1.0 / (l.lt + v.v)) * 1e9) / 1e9 AS oov_logp
        |  FROM lt l JOIN nd ON nd.label = l.label
        |  CROSS JOIN v CROSS JOIN n),
        |test AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
        |qnorm AS (
        |  SELECT doc_id,
        |    regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS nm
        |  FROM test),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, substr(nm, CAST(i AS INT), 3) AS term
        |    FROM (SELECT doc_id, nm,
        |            unnest(range(1, greatest(len(nm) - 1, 1))) AS i
        |          FROM qnorm) u) q
        |  WHERE term <> '' GROUP BY doc_id, term),
        |contrib AS (
        |  SELECT tf.doc_id, p.label,
        |    SUM(CAST(floor(tf.tf * COALESCE(m.logp, p.oov_logp) * 1e9)
        |      AS BIGINT)) AS s
        |  FROM tf CROSS JOIN priors p
        |  LEFT JOIN model m ON m.term = tf.term AND m.label = p.label
        |  GROUP BY tf.doc_id, p.label),
        |scored AS (
        |  SELECT d.doc_id, p.label,
        |    p.prior_nanos + COALESCE(c.s, 0) AS nanos
        |  FROM test d CROSS JOIN priors p
        |  LEFT JOIN contrib c ON c.doc_id = d.doc_id AND c.label = p.label)
        |SELECT doc_id, label AS pred_label,
        |  CAST(nanos AS DOUBLE) / 1e9 AS score
        |FROM (
        |  SELECT doc_id, label, nanos,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY nanos DESC, label ASC) AS rnk
        |  FROM scored) WHERE rnk = 1
        |ORDER BY doc_id""".stripMargin,

    "txt_nb_ngram" ->
      // full replay of the unigram+bigram NB on the planted
      // reversed-token corpus: the bigram stream is arr[i]||' '||arr[i+1]
      // over generate_subscripts (the lateral-free DuckDB fan-out);
      // reversed text via string_agg(tok ORDER BY i DESC) — no
      // list_reverse dependency
      """WITH base AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0),
        |rev AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i DESC) AS text
        |  FROM (
        |    SELECT doc_id, generate_subscripts(arr, 1) AS i,
        |      unnest(arr) AS tok
        |    FROM (SELECT doc_id,
        |            regexp_split_to_array(trim(text), '\s+') AS arr
        |          FROM base)) u
        |  GROUP BY doc_id),
        |train AS (
        |  SELECT doc_id, 'f' AS label, text FROM base
        |  UNION ALL
        |  SELECT doc_id, 'r' AS label, text FROM rev),
        |tarr AS (
        |  SELECT label,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS arr
        |  FROM train),
        |feats AS (
        |  SELECT label, term FROM (
        |    SELECT label, unnest(arr) AS term FROM tarr) u
        |  WHERE term <> ''
        |  UNION ALL
        |  SELECT label, arr[i] || ' ' || arr[i + 1] AS term FROM (
        |    SELECT label, arr, generate_subscripts(arr, 1) AS i
        |    FROM tarr) b
        |  WHERE i < len(arr)),
        |counts AS (
        |  SELECT label, term, COUNT(*) AS cnt FROM feats
        |  GROUP BY label, term),
        |lt AS (SELECT label, SUM(cnt) AS lt FROM counts GROUP BY label),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM counts),
        |model AS (
        |  SELECT l.label, tm.term,
        |    floor(ln((COALESCE(c.cnt, 0) + 1.0) / (l.lt + v.v)) * 1e9)
        |      / 1e9 AS logp
        |  FROM (SELECT DISTINCT term FROM counts) tm
        |  CROSS JOIN lt l CROSS JOIN v
        |  LEFT JOIN counts c ON c.label = l.label AND c.term = tm.term),
        |nd AS (SELECT label, COUNT(*) AS nd FROM train GROUP BY label),
        |n AS (SELECT COUNT(*) AS n FROM train),
        |priors AS (
        |  SELECT l.label,
        |    CAST(floor(ln(CAST(nd.nd AS DOUBLE) / n.n) * 1e9) AS BIGINT)
        |      AS prior_nanos,
        |    floor(ln(1.0 / (l.lt + v.v)) * 1e9) / 1e9 AS oov_logp
        |  FROM lt l JOIN nd ON nd.label = l.label
        |  CROSS JOIN v CROSS JOIN n),
        |tbase AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 1),
        |trev AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY i DESC) AS text
        |  FROM (
        |    SELECT doc_id, generate_subscripts(arr, 1) AS i,
        |      unnest(arr) AS tok
        |    FROM (SELECT doc_id,
        |            regexp_split_to_array(trim(text), '\s+') AS arr
        |          FROM tbase)) u
        |  GROUP BY doc_id),
        |test AS (
        |  SELECT doc_id * 2 AS test_id, text FROM tbase
        |  UNION ALL
        |  SELECT doc_id * 2 + 1 AS test_id, text FROM trev),
        |qarr AS (
        |  SELECT test_id,
        |    regexp_split_to_array(lower(trim(text)), '\s+') AS arr
        |  FROM test),
        |qfeats AS (
        |  SELECT test_id, term FROM (
        |    SELECT test_id, unnest(arr) AS term FROM qarr) u
        |  WHERE term <> ''
        |  UNION ALL
        |  SELECT test_id, arr[i] || ' ' || arr[i + 1] AS term FROM (
        |    SELECT test_id, arr, generate_subscripts(arr, 1) AS i
        |    FROM qarr) b
        |  WHERE i < len(arr)),
        |tf AS (
        |  SELECT test_id, term, COUNT(*) AS tf FROM qfeats
        |  GROUP BY test_id, term),
        |contrib AS (
        |  SELECT tf.test_id, p.label,
        |    SUM(CAST(floor(tf.tf * COALESCE(m.logp, p.oov_logp) * 1e9)
        |      AS BIGINT)) AS s
        |  FROM tf CROSS JOIN priors p
        |  LEFT JOIN model m ON m.term = tf.term AND m.label = p.label
        |  GROUP BY tf.test_id, p.label),
        |scored AS (
        |  SELECT d.test_id, p.label,
        |    p.prior_nanos + COALESCE(c.s, 0) AS nanos
        |  FROM test d CROSS JOIN priors p
        |  LEFT JOIN contrib c ON c.test_id = d.test_id
        |    AND c.label = p.label)
        |SELECT test_id, label AS pred_label,
        |  CAST(nanos AS DOUBLE) / 1e9 AS score
        |FROM (
        |  SELECT test_id, label, nanos,
        |    ROW_NUMBER() OVER (PARTITION BY test_id
        |      ORDER BY nanos DESC, label ASC) AS rnk
        |  FROM scored) WHERE rnk = 1
        |ORDER BY test_id""".stripMargin,

    "txt_tfidf_top" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf,
        |    COUNT(*) OVER (PARTITION BY term) AS df
        |  FROM tf),
        |fin AS (
        |  SELECT s.doc_id, s.term, s.tf, s.df,
        |    floor(s.tf * ln((n.n + 1.0) / (s.df + 1.0)) * 1000000) / 1000000
        |      AS tfidf
        |  FROM scored s, n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, term) AS rank FROM fin)
        |SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "txt_bm25_rank" ->
      // double-literal discipline: every inexact constant (1.2, its
      // +1.0) is CAST to DOUBLE BEFORE arithmetic so DuckDB computes
      // in IEEE doubles like Spark, not in exact DECIMALs (decimal
      // 1.2+1.0 = 2.2 converts to a DIFFERENT double than double
      // 1.2+1.0); 0.25/0.75/0.5 are binary-exact either way
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |tfc AS (
        |  SELECT doc_id, dl, term, COUNT(*) AS tf FROM (
        |    SELECT doc_id, len(tk) AS dl, unnest(tk) AS term FROM toks)
        |  GROUP BY 1, 2, 3),
        |dft AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
        |stats AS (SELECT COUNT(*) AS n, SUM(len(tk)) AS sumdl FROM toks),
        |q AS (SELECT DISTINCT query_id, term FROM (
        |  SELECT query_id,
        |    unnest(regexp_split_to_array(trim(qtext), '\s+')) AS term
        |  FROM (VALUES (1, 'spark window agg'), (2, 'fast hash join'),
        |    (3, 'customer query table')) AS v(query_id, qtext))),
        |sc AS (
        |  SELECT q.query_id, tfc.doc_id,
        |    CAST(floor(
        |      ln(1.0 + (CAST(n AS DOUBLE) - df + 0.5) / (df + 0.5)) *
        |      (CAST(tf AS DOUBLE) * (CAST(1.2 AS DOUBLE) + 1.0)) /
        |      (tf + CAST(1.2 AS DOUBLE) *
        |        (0.25 + CAST(0.75 AS DOUBLE) * dl * n
        |          / CAST(sumdl AS DOUBLE)))
        |      * 1e9) / 1e9 AS DECIMAL(28,9)) AS s
        |  FROM tfc JOIN q USING (term) JOIN dft USING (term)
        |  CROSS JOIN stats),
        |agg AS (SELECT query_id, doc_id, SUM(s) AS t FROM sc GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, t, row_number() OVER (
        |  PARTITION BY query_id ORDER BY t DESC, doc_id) AS rank FROM agg)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
        |  floor(CAST(t AS DOUBLE) * 10000) / 10000 AS score,
        |  CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    "txt_hybrid_rrf" ->
      // lexical leg = the txt_bm25_rank chain at k=20; dense leg = the
      // sim_ann_bruteforce cosine rank with anchor-embedding queries;
      // fusion = floor-quantized 1/(60+rank) summed as DECIMAL(28,9)
      (hybridListsSqlPrefix + """,
        |u AS (SELECT * FROM llist UNION ALL SELECT * FROM dlist),
        |f AS (
        |  SELECT query_id, doc_id,
        |    SUM(CAST(floor(1.0 / CAST(60 + rank AS DOUBLE) * 1e9) / 1e9
        |      AS DECIMAL(28,9))) AS s,
        |    COUNT(*) AS n_lists
        |  FROM u GROUP BY 1, 2),
        |r AS (SELECT query_id, doc_id, s, n_lists, ROW_NUMBER() OVER (
        |  PARTITION BY query_id ORDER BY s DESC, doc_id) AS rank FROM f)
        |SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
        |  floor(CAST(s AS DOUBLE) * 1e9) / 1e9 AS rrf_score,
        |  n_lists, CAST(rank AS INT) AS rank
        |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin),

    // exact vs int8-quantized dense rankings compared by RBO: weight
    // literals come from TextAnalysis.rboWeights — the SAME frozen
    // 12-decimal strings the Spark side sums (IEEE pow is not
    // cross-engine reproducible; frozen constants are)
    "txt_rbo_lists" ->
      s"""WITH base AS (
        |  SELECT vec_id, embedding,
        |    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |qz AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> 0.0)
        |         ELSE list_transform(embedding,
        |           x -> floor(CAST(x AS DOUBLE) * 127 / mx + 0.5)) END AS q
        |  FROM base),
        |nq AS (
        |  SELECT vec_id, q,
        |    sqrt(list_sum(list_transform(q, x -> x * x))) AS qn
        |  FROM qz),
        |qqueries AS (
        |  SELECT vec_id AS query_id, q AS qq, qn AS qqn FROM nq
        |  WHERE vec_id % 50 = 0),
        |qscored AS (
        |  SELECT qs.query_id, nq.vec_id,
        |    CASE WHEN nq.qn * qs.qqn = 0 THEN 0.0
        |         ELSE list_sum(list_transform(range(1, len(nq.q) + 1),
        |           i -> nq.q[i] * qs.qq[i])) / (nq.qn * qs.qqn) END AS cos
        |  FROM nq CROSS JOIN qqueries qs WHERE nq.vec_id <> qs.query_id),
        |qlist AS (SELECT query_id, vec_id, rank FROM (
        |  SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM qscored) WHERE rank <= 20),
        |dbase AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |eqs AS (SELECT vec_id AS query_id, v AS qv FROM dbase
        |  WHERE vec_id % 50 = 0),
        |escored AS (
        |  SELECT e.query_id, d.vec_id,
        |    list_sum(list_transform(range(1, len(d.v) + 1),
        |      i -> d.v[i] * e.qv[i]))
        |    / (sqrt(list_sum(list_transform(d.v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(e.qv, x -> x * x)))) AS cos
        |  FROM dbase d CROSS JOIN eqs e WHERE d.vec_id <> e.query_id),
        |elist AS (SELECT query_id, vec_id, rank FROM (
        |  SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM escored) WHERE rank <= 20),
        |w(m, wt) AS (VALUES ${graft.functions.TextAnalysis
          .rboWeights(0.9, 20).zipWithIndex
          .map { case (s0, i) => s"(${i + 1}, '$s0')" }.mkString(", ")}),
        |joint AS (
        |  SELECT e.query_id, e.vec_id,
        |    greatest(e.rank, q.rank) AS m
        |  FROM elist e JOIN qlist q USING (query_id, vec_id)),
        |per AS (
        |  SELECT query_id, COUNT(*) AS n_joint,
        |    SUM(CAST(w.wt AS DECIMAL(16,12))) AS s
        |  FROM joint JOIN w ON joint.m = w.m GROUP BY query_id)
        |SELECT query_id, n_joint,
        |  floor(CAST(s AS DOUBLE) * ${1.0 - 0.9} * 10000) / 10000 AS rbo
        |FROM per ORDER BY query_id""".stripMargin,

    "sim_rbo_pq" ->
      // exact brute-force top-20 (as txt_rbo_lists) vs the PQ ADC
      // top-20 (as sim_ann_pq), joined through the same frozen
      // 12-decimal RBO weight table
      s"""WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |eqs AS (SELECT vec_id AS query_id, v AS qv FROM emb
        |  WHERE vec_id % 50 = 0),
        |escored AS (
        |  SELECT e.query_id, d.vec_id,
        |    list_sum(list_transform(range(1, len(d.v) + 1),
        |      i -> d.v[i] * e.qv[i]))
        |    / (sqrt(list_sum(list_transform(d.v, x -> x * x)))
        |     * sqrt(list_sum(list_transform(e.qv, x -> x * x)))) AS cos
        |  FROM emb d CROSS JOIN eqs e WHERE d.vec_id <> e.query_id),
        |elist AS (SELECT query_id, vec_id, rank FROM (
        |  SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id ASC) AS rank
        |  FROM escored) WHERE rank <= 20),
        |books AS (
        |  SELECT vec_id // 11 AS code, v FROM emb
        |  WHERE vec_id % 11 = 0 AND vec_id < 16 * 11),
        |sub AS (SELECT * FROM range(0, 8) t(j)),
        |penc AS (
        |  SELECT e.vec_id, s.j, b.code,
        |    CAST(floor(list_sum(list_transform(range(1, 9), i ->
        |      pow(e.v[CAST(s.j*8+i AS INT)] - b.v[CAST(s.j*8+i AS INT)], 2)))
        |      * 1e9) AS BIGINT) AS d
        |  FROM emb e, sub s, books b),
        |codes AS (
        |  SELECT vec_id, j, code FROM (
        |    SELECT vec_id, j, code,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
        |    FROM penc) WHERE rn = 1),
        |qlut AS (
        |  SELECT vec_id AS query_id, j, code, d FROM penc
        |  WHERE vec_id % 50 = 0),
        |pscored AS (
        |  SELECT l.query_id, c.vec_id,
        |    CAST(SUM(l.d) AS BIGINT) AS dist_nano
        |  FROM codes c JOIN qlut l ON c.j = l.j AND c.code = l.code
        |  WHERE l.query_id <> c.vec_id
        |  GROUP BY 1, 2),
        |plist AS (SELECT query_id, vec_id, rank FROM (
        |  SELECT query_id, vec_id, ROW_NUMBER() OVER (
        |    PARTITION BY query_id ORDER BY dist_nano, vec_id) AS rank
        |  FROM pscored) WHERE rank <= 20),
        |w(m, wt) AS (VALUES ${graft.functions.TextAnalysis
          .rboWeights(0.9, 20).zipWithIndex
          .map { case (s0, i) => s"(${i + 1}, '$s0')" }.mkString(", ")}),
        |joint AS (
        |  SELECT e.query_id, e.vec_id,
        |    greatest(e.rank, q.rank) AS m
        |  FROM elist e JOIN plist q USING (query_id, vec_id)),
        |per AS (
        |  SELECT query_id, COUNT(*) AS n_joint,
        |    SUM(CAST(w.wt AS DECIMAL(16,12))) AS s
        |  FROM joint JOIN w ON joint.m = w.m GROUP BY query_id)
        |SELECT query_id, n_joint,
        |  floor(CAST(s AS DOUBLE) * ${1.0 - 0.9} * 10000) / 10000 AS rbo
        |FROM per ORDER BY query_id""".stripMargin,

    "dedup_passage" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
        |  FROM documents),
        |chunks AS (
        |  SELECT doc_id, CAST(i AS INT) AS idx,
        |    array_to_string(tk[(CAST(i AS INT) * 8 + 1):(CAST(i AS INT) * 8 + 8)], ' ')
        |      AS passage
        |  FROM toks,
        |    unnest(range(0, greatest(CAST(ceil(len(tk) / 8.0) AS BIGINT), 1)))
        |      AS t(i)),
        |kept AS (
        |  SELECT * FROM (
        |    SELECT doc_id, idx, passage,
        |      row_number() OVER (PARTITION BY passage ORDER BY doc_id, idx) AS rn
        |    FROM chunks) WHERE rn = 1),
        |rebuilt AS (
        |  SELECT doc_id, string_agg(passage, ' ' ORDER BY idx) AS clean_text,
        |    COUNT(*) AS n_kept
        |  FROM kept GROUP BY doc_id),
        |totals AS (
        |  SELECT doc_id,
        |    greatest(CAST(ceil(len(tk) / 8.0) AS BIGINT), 1) AS n_passages
        |  FROM toks)
        |SELECT t.doc_id, coalesce(r.clean_text, '') AS clean_text,
        |  t.n_passages, coalesce(r.n_kept, 0) AS n_kept
        |FROM totals t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin,

    "q_fuzzy_pairs" ->
      // quadratic ground truth on the capped slice — the Spark side
      // must find exactly these pairs via the deletion-neighborhood
      // index (FastSS guarantees candidate completeness at d ≤ maxDist)
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE a.c_custkey <= 500 AND b.c_custkey <= 500
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    "q_fuzzy_join_2t" ->
      // quadratic ground truth across the disjoint parity slices —
      // FastSS double-deletion neighborhoods are candidate-complete
      // at d ≤ 2, so the indexed join must find exactly these pairs
      """SELECT a.c_custkey AS left_id, b.c_custkey AS right_id,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON levenshtein(a.c_name, b.c_name) <= 2
        |WHERE a.c_custkey <= 600 AND b.c_custkey <= 600
        |  AND a.c_custkey % 2 = 0 AND b.c_custkey % 2 = 1
        |ORDER BY left_id, right_id""".stripMargin,

    "q_label_prop" ->
      // two unrolled synchronous rounds: integer multiplicity votes,
      // argmax with smaller-label ties, seeds clamped via COALESCE
      """WITH e AS (
        |  SELECT o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |und AS (
        |  SELECT s, d FROM e UNION ALL SELECT d AS s, s AS d FROM e),
        |nodes AS (SELECT DISTINCT s AS node FROM und),
        |seeds AS (
        |  SELECT s_suppkey * 2 + 1 AS node,
        |    CAST(s_nationkey AS BIGINT) AS lbl
        |  FROM supplier),
        |l0 AS (
        |  SELECT n.node, seeds.lbl AS label FROM nodes n
        |  LEFT JOIN seeds ON seeds.node = n.node),
        |v1 AS (
        |  SELECT und.d, l0.label AS nl, COUNT(*) AS votes
        |  FROM und JOIN l0 ON l0.node = und.s
        |  WHERE l0.label IS NOT NULL GROUP BY und.d, l0.label),
        |a1 AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v1)
        |  WHERE rn = 1),
        |l1 AS (
        |  SELECT l0.node, COALESCE(seeds.lbl, a1.nl, l0.label) AS label
        |  FROM l0
        |  LEFT JOIN seeds ON seeds.node = l0.node
        |  LEFT JOIN a1 ON a1.node = l0.node),
        |v2 AS (
        |  SELECT und.d, l1.label AS nl, COUNT(*) AS votes
        |  FROM und JOIN l1 ON l1.node = und.s
        |  WHERE l1.label IS NOT NULL GROUP BY und.d, l1.label),
        |a2 AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v2)
        |  WHERE rn = 1),
        |l2 AS (
        |  SELECT l1.node, COALESCE(seeds.lbl, a2.nl, l1.label) AS label
        |  FROM l1
        |  LEFT JOIN seeds ON seeds.node = l1.node
        |  LEFT JOIN a2 ON a2.node = l1.node)
        |SELECT node, label FROM l2 ORDER BY node""".stripMargin,

    "q_label_prop_delta" ->
      // stored = 2 unrolled base-graph rounds (the q_label_prop
      // replay), then 2 FRONTIER-RESTRICTED warm-start rounds over the
      // full graph: votes only for f1 = delta-edge endpoints, then
      // f2 = neighbors of round-1 changers (IS DISTINCT FROM = the
      // null-safe change test)
      """WITH e_all AS (
        |  SELECT o_orderkey, o_custkey * 2 AS s, l_suppkey * 2 + 1 AS d
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
        |  WHERE o_orderkey <= 6000),
        |be AS (SELECT s, d FROM e_all WHERE o_orderkey % 5 <> 0),
        |de AS (SELECT s, d FROM e_all WHERE o_orderkey % 5 = 0),
        |bund AS (SELECT s, d FROM be UNION ALL SELECT d AS s, s AS d FROM be),
        |fund AS (
        |  SELECT s, d FROM e_all
        |  UNION ALL SELECT d AS s, s AS d FROM e_all),
        |bnodes AS (SELECT DISTINCT s AS node FROM bund),
        |fnodes AS (SELECT DISTINCT s AS node FROM fund),
        |seeds AS (
        |  SELECT s_suppkey * 2 + 1 AS node,
        |    CAST(s_nationkey AS BIGINT) AS lbl
        |  FROM supplier),
        |l0 AS (
        |  SELECT n.node, seeds.lbl AS label FROM bnodes n
        |  LEFT JOIN seeds ON seeds.node = n.node),
        |v1 AS (
        |  SELECT bund.d, l0.label AS nl, COUNT(*) AS votes
        |  FROM bund JOIN l0 ON l0.node = bund.s
        |  WHERE l0.label IS NOT NULL GROUP BY bund.d, l0.label),
        |a1 AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v1)
        |  WHERE rn = 1),
        |l1 AS (
        |  SELECT l0.node, COALESCE(seeds.lbl, a1.nl, l0.label) AS label
        |  FROM l0
        |  LEFT JOIN seeds ON seeds.node = l0.node
        |  LEFT JOIN a1 ON a1.node = l0.node),
        |v2 AS (
        |  SELECT bund.d, l1.label AS nl, COUNT(*) AS votes
        |  FROM bund JOIN l1 ON l1.node = bund.s
        |  WHERE l1.label IS NOT NULL GROUP BY bund.d, l1.label),
        |a2 AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM v2)
        |  WHERE rn = 1),
        |l2 AS (
        |  SELECT l1.node, COALESCE(seeds.lbl, a2.nl, l1.label) AS label
        |  FROM l1
        |  LEFT JOIN seeds ON seeds.node = l1.node
        |  LEFT JOIN a2 ON a2.node = l1.node),
        |w0 AS (
        |  SELECT n.node, COALESCE(seeds.lbl, l2.label) AS label
        |  FROM fnodes n
        |  LEFT JOIN seeds ON seeds.node = n.node
        |  LEFT JOIN l2 ON l2.node = n.node),
        |f1 AS (
        |  SELECT DISTINCT node FROM (
        |    SELECT s AS node FROM de UNION ALL SELECT d FROM de)),
        |w1v AS (
        |  SELECT fund.d, w0.label AS nl, COUNT(*) AS votes
        |  FROM fund JOIN f1 ON f1.node = fund.d
        |  JOIN w0 ON w0.node = fund.s
        |  WHERE w0.label IS NOT NULL GROUP BY fund.d, w0.label),
        |w1a AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM w1v)
        |  WHERE rn = 1),
        |w1 AS (
        |  SELECT w0.node, COALESCE(seeds.lbl, w1a.nl, w0.label) AS label
        |  FROM w0
        |  LEFT JOIN seeds ON seeds.node = w0.node
        |  LEFT JOIN w1a ON w1a.node = w0.node),
        |ch1 AS (
        |  SELECT w1.node FROM w1 JOIN w0 ON w0.node = w1.node
        |  WHERE w1.label IS DISTINCT FROM w0.label),
        |f2 AS (
        |  SELECT DISTINCT fund.d AS node
        |  FROM fund JOIN ch1 ON ch1.node = fund.s),
        |w2v AS (
        |  SELECT fund.d, w1.label AS nl, COUNT(*) AS votes
        |  FROM fund JOIN f2 ON f2.node = fund.d
        |  JOIN w1 ON w1.node = fund.s
        |  WHERE w1.label IS NOT NULL GROUP BY fund.d, w1.label),
        |w2a AS (
        |  SELECT d AS node, nl FROM (
        |    SELECT d, nl, ROW_NUMBER() OVER (PARTITION BY d
        |      ORDER BY votes DESC, nl ASC) AS rn FROM w2v)
        |  WHERE rn = 1),
        |w2 AS (
        |  SELECT w1.node, COALESCE(seeds.lbl, w2a.nl, w1.label) AS label
        |  FROM w1
        |  LEFT JOIN seeds ON seeds.node = w1.node
        |  LEFT JOIN w2a ON w2a.node = w1.node)
        |SELECT node, label FROM w2 ORDER BY node""".stripMargin,

    "q_triangles" ->
      // id-orientation replay: per-node triangle counts are
      // orientation-independent, so the simple a<b<c enumeration must
      // equal the degree-oriented distributed plan exactly
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem
        |  WHERE l_orderkey <= 3000),
        |small AS (SELECT g FROM items GROUP BY g HAVING COUNT(*) <= 8),
        |kept AS (SELECT items.g, items.i FROM items JOIN small USING (g)),
        |edges AS (
        |  SELECT DISTINCT a.i AS u, b.i AS v
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.i < b.i),
        |tri AS (
        |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
        |  FROM edges e1
        |  JOIN edges e2 ON e2.u = e1.u AND e1.v < e2.v
        |  JOIN edges e3 ON e3.u = e1.v AND e3.v = e2.v),
        |nodes AS (
        |  SELECT a AS node FROM tri
        |  UNION ALL SELECT b AS node FROM tri
        |  UNION ALL SELECT c AS node FROM tri)
        |SELECT node, COUNT(*) AS n_triangles FROM nodes
        |GROUP BY node ORDER BY node""".stripMargin,

    "q_pagerank" ->
      // three unrolled iterations; `//` is DuckDB's truncating integer
      // division = Spark's `div` on the all-positive operands
      """WITH edges AS (
        |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        |nodes AS (SELECT src AS node FROM edges
        |  UNION SELECT dst FROM edges),
        |nn AS (SELECT COUNT(*) AS n FROM nodes),
        |deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY 1),
        |pr0 AS (SELECT node, (SELECT 1000000000000 // n FROM nn) AS pr
        |  FROM nodes),
        |it1 AS (SELECT e.dst, SUM(p.pr // d.outdeg) AS m
        |  FROM edges e JOIN pr0 p ON e.src = p.node
        |  JOIN deg d ON e.src = d.src GROUP BY 1),
        |pr1 AS (SELECT n.node,
        |    (15 * (SELECT 1000000000000 // n FROM nn)) // 100
        |      + (85 * COALESCE(i.m, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN it1 i ON n.node = i.dst),
        |it2 AS (SELECT e.dst, SUM(p.pr // d.outdeg) AS m
        |  FROM edges e JOIN pr1 p ON e.src = p.node
        |  JOIN deg d ON e.src = d.src GROUP BY 1),
        |pr2 AS (SELECT n.node,
        |    (15 * (SELECT 1000000000000 // n FROM nn)) // 100
        |      + (85 * COALESCE(i.m, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN it2 i ON n.node = i.dst),
        |it3 AS (SELECT e.dst, SUM(p.pr // d.outdeg) AS m
        |  FROM edges e JOIN pr2 p ON e.src = p.node
        |  JOIN deg d ON e.src = d.src GROUP BY 1),
        |pr3 AS (SELECT n.node,
        |    (15 * (SELECT 1000000000000 // n FROM nn)) // 100
        |      + (85 * COALESCE(i.m, 0)) // 100 AS pr
        |  FROM nodes n LEFT JOIN it3 i ON n.node = i.dst)
        |SELECT node, CAST(pr AS BIGINT) AS pr FROM pr3 ORDER BY node""".stripMargin,

    "q_jaro_winkler" ->
      // quadratic ground truth on the capped slice; values must match
      // the byte-level kernel exactly
      """SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
        |  jaro_winkler_similarity(a.p_name, b.p_name) AS sim
        |FROM part a JOIN part b ON a.p_partkey < b.p_partkey
        |WHERE a.p_partkey <= 400 AND b.p_partkey <= 400
        |  AND jaro_winkler_similarity(a.p_name, b.p_name) >= 0.88
        |ORDER BY id_a, id_b""".stripMargin,

    "q_trgm_similarity" ->
      // pairwise oracle replays the padded-word trigram Jaccard; the
      // Spark side must find the same pairs via the inverted index
      """WITH base AS (
        |  SELECT c_custkey AS id,
        |    list_distinct(flatten(list_transform(
        |      list_filter(string_split_regex(
        |        regexp_replace(lower(c_name), '[^a-z0-9]+', ' ', 'g'), ' '),
        |        w -> length(w) > 0),
        |      w -> list_transform(range(1, length(w) + 2),
        |        i -> substr('  ' || w || ' ', CAST(i AS INT), 3))))) AS tg
        |  FROM customer WHERE c_custkey <= 500),
        |pairs AS (
        |  SELECT a.id AS id_a, b.id AS id_b,
        |    len(list_intersect(a.tg, b.tg)) AS inter,
        |    len(a.tg) + len(b.tg) - len(list_intersect(a.tg, b.tg)) AS un
        |  FROM base a JOIN base b ON a.id < b.id)
        |SELECT id_a, id_b,
        |  floor((CASE WHEN un = 0 THEN 0.0
        |    ELSE CAST(inter AS DOUBLE) / un END) * 10000) / 10000 AS sim
        |FROM pairs
        |WHERE floor((CASE WHEN un = 0 THEN 0.0
        |    ELSE CAST(inter AS DOUBLE) / un END) * 10000) / 10000 >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "q_bloom_semijoin" ->
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,

    "q_bloom_antijoin" ->
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
        |ORDER BY o_orderkey""".stripMargin,

    "layout_zorder" ->
      """SELECT o_orderkey,
        |  CAST(list_sum(list_transform(range(0, 10), j ->
        |    (((o_custkey % 1024) >> j) & 1) * (CAST(1 AS BIGINT) << (2 * j))
        |    + (((o_orderkey % 1024) >> j) & 1) * (CAST(1 AS BIGINT) << (2 * j + 1))
        |  )) AS BIGINT) AS zval
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "layout_minmax_prune" ->
      // zone-map stats + the standard envelope-miss skip test
      """WITH s AS (
        |  SELECT CAST(floor(l_orderkey / 1000.0) AS BIGINT) AS file_id,
        |    count(*) AS n_rows,
        |    min(l_orderkey) AS min_l_orderkey,
        |    max(l_orderkey) AS max_l_orderkey,
        |    min(l_extendedprice) AS mnp, max(l_extendedprice) AS mxp
        |  FROM lineitem GROUP BY 1)
        |SELECT file_id, n_rows, min_l_orderkey, max_l_orderkey,
        |  (max_l_orderkey < 10000 OR min_l_orderkey > 20000)
        |    AS pruned_clustered,
        |  (mxp < 10000.0 OR mnp > 20000.0) AS pruned_unclustered
        |FROM s ORDER BY file_id""".stripMargin,

    "layout_compaction_plan" ->
      // start-offset binning replayed as an exclusive prefix sum
      """WITH f AS (
        |  SELECT o_orderpriority AS part,
        |    CAST(floor(o_orderkey / 200.0) AS BIGINT) AS file_id,
        |    CAST(sum(CAST(floor(o_totalprice) AS BIGINT)) AS BIGINT)
        |      AS size_bytes
        |  FROM orders GROUP BY 1, 2)
        |SELECT part, file_id, size_bytes,
        |  CAST(floor((sum(size_bytes) OVER (PARTITION BY part
        |    ORDER BY file_id) - size_bytes) / 6000000.0) AS BIGINT)
        |    AS bin
        |FROM f ORDER BY part, file_id""".stripMargin,

    "q_approx_distinct" ->
      // the oracle's counts are exact; ok = TRUE asserts the Spark
      // side's HLL landed inside its error contract
      """SELECT event_type, count(DISTINCT user_id) AS n_exact,
        |  TRUE AS ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_approx_topk" ->
      // exact strict-heavy-hitter set; TRUE pins the Spark sketch's
      // membership + estimate audit
      """WITH e AS (
        |  SELECT user_id AS item, COUNT(*) AS n_exact
        |  FROM events GROUP BY 1),
        |kth AS (
        |  SELECT n_exact AS kc FROM e
        |  ORDER BY n_exact DESC LIMIT 1 OFFSET 9)
        |SELECT item, n_exact, TRUE AS in_sketch, TRUE AS est_ok
        |FROM e, kth WHERE n_exact > kc
        |ORDER BY item""".stripMargin,

    "q_approx_quantiles" ->
      // rank-error contract holds by construction → every p is ok
      """SELECT CAST(p AS DOUBLE) AS p, TRUE AS ok
        |FROM unnest([0.25, 0.5, 0.75, 0.95]) t(p)
        |ORDER BY p""".stripMargin,

    "dedup_span_coverage" ->
      // same gram slide, ≥2-doc filter, and running-max-end interval
      // union, in DuckDB window form
      """WITH g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    substr(text, CAST(i AS INT), 30) AS gram
        |  FROM documents, unnest(range(1, length(text) - 30 + 2)) t(i)),
        |d AS (
        |  SELECT gram FROM g GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |h AS (SELECT g.* FROM g SEMI JOIN d USING (gram)),
        |c AS (
        |  SELECT doc_id, pos,
        |    greatest(0, pos + 30 - greatest(pos, coalesce(
        |      max(pos + 30) OVER (PARTITION BY doc_id ORDER BY pos
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      0))) AS cov
        |  FROM h),
        |p AS (
        |  SELECT doc_id, count(*) AS n_dup_grams, sum(cov) AS dup_chars
        |  FROM c GROUP BY doc_id)
        |SELECT d0.doc_id,
        |  COALESCE(p.n_dup_grams, 0) AS n_dup_grams,
        |  CAST(COALESCE(p.dup_chars, 0) AS BIGINT) AS dup_chars,
        |  floor(CAST(COALESCE(p.dup_chars, 0) AS DOUBLE)
        |    / greatest(length(d0.text), 1) * 10000) / 10000 AS dup_frac
        |FROM documents d0 LEFT JOIN p ON d0.doc_id = p.doc_id
        |ORDER BY d0.doc_id""".stripMargin,

    "dedup_span_extents" ->
      // same gram slide + ≥2-doc filter; then new-span flag (pos >
      // running max end), running-sum span index, per-span extents.
      // SUM window CAST to BIGINT (DuckDB SUM returns HUGEINT)
      """WITH g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    substr(text, CAST(i AS INT), 30) AS gram
        |  FROM documents, unnest(range(1, length(text) - 30 + 2)) t(i)),
        |d AS (
        |  SELECT gram FROM g GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |h AS (SELECT g.* FROM g SEMI JOIN d USING (gram)),
        |c AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 30) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM h),
        |s AS (
        |  SELECT doc_id, pos, CAST(SUM(is_new) OVER (
        |    PARTITION BY doc_id ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_idx
        |  FROM c)
        |SELECT doc_id, span_idx,
        |  MIN(pos) AS span_start,
        |  MAX(pos + 30) - 1 AS span_end,
        |  MAX(pos + 30) - MIN(pos) AS span_len,
        |  COUNT(*) AS n_grams
        |FROM s GROUP BY doc_id, span_idx
        |ORDER BY doc_id, span_idx""".stripMargin,

    "curate_scrub_spans" ->
      // the span-extents chain, then the splice: kept segments =
      // [prev_span_end+1, span_start-1] per span + the tail after the
      // last span, concatenated in position order; docs with spans
      // but no surviving characters become '', docs without spans
      // pass through
      """WITH g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    substr(text, CAST(i AS INT), 30) AS gram
        |  FROM documents, unnest(range(1, length(text) - 30 + 2)) t(i)),
        |d AS (
        |  SELECT gram FROM g GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |h AS (SELECT g.* FROM g SEMI JOIN d USING (gram)),
        |c AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos > coalesce(max(pos + 30) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM h),
        |s AS (
        |  SELECT doc_id, pos, CAST(SUM(is_new) OVER (
        |    PARTITION BY doc_id ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_idx
        |  FROM c),
        |sp AS MATERIALIZED (
        |  SELECT doc_id, span_idx, MIN(pos) AS a, MAX(pos + 30) - 1 AS b
        |  FROM s GROUP BY doc_id, span_idx),
        |x AS (
        |  SELECT doc_id, a, b,
        |    COALESCE(MAX(b) OVER (PARTITION BY doc_id ORDER BY a
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS prev_b
        |  FROM sp),
        |segs AS (
        |  SELECT doc_id, prev_b + 1 AS ka, a - 1 AS kb FROM x
        |  UNION ALL
        |  SELECT doc_id, MAX(b) + 1 AS ka, NULL AS kb
        |  FROM sp GROUP BY doc_id),
        |cut AS (
        |  SELECT sg.doc_id, string_agg(
        |      CASE WHEN sg.kb IS NULL THEN substr(dd.text, CAST(sg.ka AS INT))
        |        ELSE substr(dd.text, CAST(sg.ka AS INT),
        |          CAST(GREATEST(sg.kb - sg.ka + 1, 0) AS INT)) END,
        |      '' ORDER BY sg.ka) AS text
        |  FROM segs sg JOIN documents dd USING (doc_id)
        |  GROUP BY sg.doc_id)
        |SELECT dd.doc_id,
        |  CASE WHEN cut.doc_id IS NOT NULL THEN COALESCE(cut.text, '')
        |    ELSE dd.text END AS text
        |FROM documents dd LEFT JOIN cut USING (doc_id)
        |ORDER BY dd.doc_id""".stripMargin,

    "dedup_span_partners" ->
      // the span-extents chain carrying the gram through, joined back
      // to the distinct (partner, gram) projection of the same
      // dup-gram table; per (doc, span, partner): shared gram count +
      // the partner-specific extent
      """WITH g AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |    substr(text, CAST(i AS INT), 30) AS gram
        |  FROM documents, unnest(range(1, length(text) - 30 + 2)) t(i)),
        |d AS (
        |  SELECT gram FROM g GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 2),
        |h AS (SELECT g.* FROM g SEMI JOIN d USING (gram)),
        |c AS (
        |  SELECT doc_id, pos, gram,
        |    CASE WHEN pos > coalesce(max(pos + 30) OVER (
        |      PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    THEN 1 ELSE 0 END AS is_new
        |  FROM h),
        |s AS (
        |  SELECT doc_id, pos, gram, CAST(SUM(is_new) OVER (
        |    PARTITION BY doc_id ORDER BY pos
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS span_idx
        |  FROM c),
        |hp AS (SELECT DISTINCT doc_id AS partner_id, gram FROM h)
        |SELECT s.doc_id, s.span_idx, hp.partner_id,
        |  COUNT(*) AS shared_grams,
        |  MIN(s.pos) AS shared_start,
        |  MAX(s.pos + 30) - 1 AS shared_end
        |FROM s JOIN hp ON s.gram = hp.gram AND s.doc_id <> hp.partner_id
        |GROUP BY s.doc_id, s.span_idx, hp.partner_id
        |ORDER BY doc_id, span_idx, partner_id""".stripMargin,

    "dedup_cluster_cc" ->
      // the pair pipeline is dedup_ngram_jaccard's; the cluster label is
      // min reachable id, computed as a recursive reachability CTE
      (ccReachSql + """
        |SELECT id AS doc_id, min(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    "dedup_cluster_cc_star_ckpt" ->
      // identical labeling contract: star contraction reaches the same
      // unique fixpoint (min id per component) as min-label propagation
      (ccReachSql + """
        |SELECT id AS doc_id, min(r) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),

    "dedup_cluster_keep_best" ->
      // cc reachability + singleton fill-in, winner = (max n_chars,
      // min doc_id) per cluster via row_number
      (ccReachSql + """,
        |cl AS (SELECT id AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY id),
        |lab AS (
        |  SELECT d.doc_id, COALESCE(cl.cluster_id, d.doc_id) AS cluster_id,
        |    d.n_chars
        |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
        |win AS (
        |  SELECT cluster_id, doc_id AS keep_id FROM (
        |    SELECT cluster_id, doc_id, row_number() OVER (
        |      PARTITION BY cluster_id
        |      ORDER BY n_chars DESC, doc_id ASC) AS rn FROM lab) t
        |  WHERE rn = 1)
        |SELECT l.doc_id, l.cluster_id, l.n_chars,
        |  (l.doc_id = w.keep_id) AS kept
        |FROM lab l JOIN win w ON l.cluster_id = w.cluster_id
        |ORDER BY l.doc_id""".stripMargin),

    "q_rollup_pricing" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin,

    "q_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS p50_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  quantile_cont(l_extendedprice, 0.9) AS p90_price,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_pivot_revenue" ->
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE c_mktsegment = 'AUTOMOBILE') AS DOUBLE) AS "AUTOMOBILE",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE c_mktsegment = 'BUILDING') AS DOUBLE) AS "BUILDING",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE c_mktsegment = 'FURNITURE') AS DOUBLE) AS "FURNITURE",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE c_mktsegment = 'HOUSEHOLD') AS DOUBLE) AS "HOUSEHOLD",
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    FILTER (WHERE c_mktsegment = 'MACHINERY') AS DOUBLE) AS "MACHINERY"
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_topk_per_group" ->
      """SELECT c_mktsegment, rk, o_orderkey, o_totalprice FROM (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
        |  FROM orders JOIN customer ON o_custkey = c_custkey) t
        |WHERE rk <= 3 ORDER BY c_mktsegment, rk""".stripMargin,

    "q_grouping_sets" ->
      // DuckDB numbers grouping_id bits identically to Spark here:
      // bit per grouping column, MSB first, 1 = aggregated-away
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st,
        |  COALESCE(o_orderpriority, 'ALL') AS pri,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |  (o_orderstatus), (o_orderpriority))
        |ORDER BY gid, st, pri""".stripMargin,

    "q_cube" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS st,
        |  COALESCE(o_orderpriority, 'ALL') AS pri,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY gid, st, pri""".stripMargin,

    "q_unpivot" ->
      // UNION ALL spelling (engine-neutral melt; DuckDB's UNPIVOT
      // would work too but this pins the semantics explicitly)
      """WITH u AS (
        |  SELECT 'l_quantity' AS measure, l_quantity AS val FROM lineitem
        |  UNION ALL
        |  SELECT 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT 'l_tax', l_tax FROM lineitem)
        |SELECT measure, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(val AS DECIMAL(18,4))) AS DOUBLE) AS sum_val
        |FROM u GROUP BY measure ORDER BY measure""".stripMargin,

    "q_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  PERCENT_RANK() OVER w AS pct_rank,
        |  CUME_DIST() OVER w AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |  ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "events_resample" ->
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(ts) // 3600000000 * 3600000000 AS bucket_us,
        |    CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events),
        |a AS (
        |  SELECT event_type, bucket_us, COUNT(*) AS n_events,
        |    CAST(SUM(v) AS DOUBLE) AS sum_value
        |  FROM e GROUP BY event_type, bucket_us),
        |bounds AS (SELECT event_type, MIN(bucket_us) AS lo,
        |    MAX(bucket_us) AS hi FROM a GROUP BY event_type),
        |spine AS (
        |  SELECT event_type, unnest(range(lo, hi + 1, 3600000000))
        |    AS bucket_us FROM bounds),
        |filled AS (
        |  SELECT s.event_type, s.bucket_us,
        |    COALESCE(a.n_events, 0) AS n_events,
        |    COALESCE(a.sum_value, 0.0) AS sum_value
        |  FROM spine s LEFT JOIN a
        |    ON s.event_type = a.event_type AND s.bucket_us = a.bucket_us)
        |SELECT event_type, bucket_us, n_events, sum_value,
        |  last_value(CASE WHEN n_events > 0 THEN sum_value END IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY bucket_us
        |          ROWS UNBOUNDED PRECEDING) AS last_sum_value
        |FROM filled ORDER BY event_type, bucket_us""".stripMargin,

    "events_interpolate" ->
      // resample spine + both-direction observed-value windows; the
      // slope expression groups parens exactly like the Spark side
      """WITH e AS (
        |  SELECT event_type,
        |    epoch_us(ts) // 3600000000 * 3600000000 AS bucket_us,
        |    CAST(value AS DECIMAL(18,4)) AS v
        |  FROM events),
        |a AS (
        |  SELECT event_type, bucket_us, COUNT(*) AS n_events,
        |    CAST(SUM(v) AS DOUBLE) AS sum_value
        |  FROM e GROUP BY event_type, bucket_us),
        |bounds AS (SELECT event_type, MIN(bucket_us) AS lo,
        |    MAX(bucket_us) AS hi FROM a GROUP BY event_type),
        |spine AS (
        |  SELECT event_type, unnest(range(lo, hi + 1, 3600000000))
        |    AS bucket_us FROM bounds),
        |filled AS (
        |  SELECT s.event_type, s.bucket_us,
        |    COALESCE(a.n_events, 0) AS n_events,
        |    COALESCE(a.sum_value, 0.0) AS sum_value
        |  FROM spine s LEFT JOIN a
        |    ON s.event_type = a.event_type AND s.bucket_us = a.bucket_us),
        |win AS (
        |  SELECT event_type, bucket_us, n_events, sum_value,
        |    last_value(CASE WHEN n_events > 0 THEN sum_value END
        |      IGNORE NULLS) OVER wb AS last_sum_value,
        |    last_value(CASE WHEN n_events > 0 THEN bucket_us END
        |      IGNORE NULLS) OVER wb AS prev_b,
        |    first_value(CASE WHEN n_events > 0 THEN sum_value END
        |      IGNORE NULLS) OVER wf AS next_v,
        |    first_value(CASE WHEN n_events > 0 THEN bucket_us END
        |      IGNORE NULLS) OVER wf AS next_b
        |  FROM filled
        |  WINDOW wb AS (PARTITION BY event_type ORDER BY bucket_us
        |      ROWS UNBOUNDED PRECEDING),
        |    wf AS (PARTITION BY event_type ORDER BY bucket_us
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, bucket_us, n_events, sum_value, last_sum_value,
        |  floor((CASE WHEN n_events > 0 THEN sum_value
        |    WHEN last_sum_value IS NULL THEN next_v
        |    WHEN next_v IS NULL THEN last_sum_value
        |    ELSE last_sum_value + (next_v - last_sum_value) *
        |      ((bucket_us - prev_b) / (next_b - prev_b)) END) * 10000)
        |    / 10000 AS interp_value
        |FROM win ORDER BY event_type, bucket_us""".stripMargin,

    "events_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS BIGINT) AS sum_k,
        |  MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
        |  COUNT(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT))
        |    AS n_distinct_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "events_funnel" -> funnelOracle,
    "events_cohort_retention" -> cohortOracle,

    "events_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events),
        |b AS (
        |  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
        |      OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us,
        |    event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM b)
        |SELECT user_id, session_idx, COUNT(*) AS n_events,
        |  MIN(ts_us) AS start_us, MAX(ts_us) AS end_us,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,

    "events_session_window" ->
      // gap-session replay with session_window's exact semantics:
      // >= gap starts a NEW session (Spark merges half-open
      // [t, t+gap) intervals — equality does not overlap), end =
      // last event + gap
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
        |  FROM events),
        |b AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |      OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0
        |    END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY
        |    ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        |  FROM b)
        |SELECT user_id, MIN(ts_us) AS start_us,
        |  MAX(ts_us) + 1800000000 AS end_us, COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,

    "events_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |c AS (SELECT user_id, event_id AS click_id, ts_us AS click_us
        |      FROM e WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS purchase_id, ts_us AS purchase_us
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.user_id, c.click_id, p.purchase_id
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.purchase_us >= c.click_us
        |  AND p.purchase_us <= c.click_us + 1800000000
        |ORDER BY c.click_id, p.purchase_id""".stripMargin,

    "events_asof_join" ->
      // DuckDB's native ASOF JOIN is the oracle for the union+window
      // implementation (inclusive backward semantics on ts_us)
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events),
        |c AS (SELECT event_id, user_id, ts_us FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_us, event_id AS purchase_id,
        |        value AS purchase_value
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts_us, p.ts_us AS asof_ts_us,
        |  p.purchase_id AS asof_purchase_id,
        |  p.purchase_value AS asof_purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts_us >= p.ts_us
        |ORDER BY c.event_id""".stripMargin,

    "events_asof_fwd" ->
      // DuckDB's native forward ASOF (probe.ts <= build.ts); fixture
      // has zero equal-(user, ts) purchases, so ties can't bite
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events),
        |c AS (SELECT event_id, user_id, ts_us FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_us, event_id AS purchase_id,
        |        value AS purchase_value
        |      FROM e WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts_us, p.ts_us AS asof_ts_us,
        |  p.purchase_id AS asof_purchase_id,
        |  p.purchase_value AS asof_purchase_value
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts_us <= p.ts_us
        |ORDER BY c.event_id""".stripMargin,

    "events_asof_nearest" ->
      // explicit argmin over the θ-join: rank every candidate by
      // (|Δts|, backward-first, then greatest id backward / smallest
      // id forward) — the exact tie ladder the operator implements
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type, value
        |  FROM events),
        |c AS (SELECT event_id, user_id, ts_us FROM e
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts_us, event_id AS purchase_id,
        |        value AS purchase_value
        |      FROM e WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.event_id, c.user_id, c.ts_us, p.ts_us AS asof_ts_us,
        |    p.purchase_id AS asof_purchase_id,
        |    p.purchase_value AS asof_purchase_value,
        |    ROW_NUMBER() OVER (PARTITION BY c.event_id ORDER BY
        |      abs(p.ts_us - c.ts_us),
        |      CASE WHEN p.ts_us <= c.ts_us THEN 0 ELSE 1 END,
        |      CASE WHEN p.ts_us <= c.ts_us THEN -p.purchase_id
        |           ELSE p.purchase_id END) AS rn
        |  FROM c LEFT JOIN p ON c.user_id = p.user_id)
        |SELECT event_id, user_id, ts_us, asof_ts_us, asof_purchase_id,
        |  asof_purchase_value
        |FROM j WHERE rn = 1 ORDER BY event_id""".stripMargin,

    "events_range_join" ->
      // plain BETWEEN join is the oracle for the binned range join
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
        |  FROM events),
        |b AS (
        |  SELECT *, CASE WHEN ts_us - lag(ts_us) OVER w > 1800000000
        |      OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |s AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us,
        |    event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM b),
        |sess AS (
        |  SELECT user_id, session_idx, MIN(ts_us) AS start_us,
        |    MAX(ts_us) AS end_us
        |  FROM s GROUP BY user_id, session_idx),
        |err AS (
        |  SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'error')
        |SELECT err.event_id, err.user_id, err.ts_us, sess.session_idx,
        |  sess.start_us, sess.end_us
        |FROM err JOIN sess ON err.user_id = sess.user_id
        |  AND err.ts_us BETWEEN sess.start_us AND sess.end_us
        |ORDER BY err.event_id""".stripMargin,

    "profile_mad_outliers" ->
      // DuckDB median on DOUBLE is quantile_cont(0.5) with the same
      // a + (b−a)·f interpolation Spark's exact median uses; the
      // modified z replays identically, floored at 4 decimals
      """WITH base AS (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_totalprice IS NOT NULL),
        |med AS (
        |  SELECT c_mktsegment, median(o_totalprice) AS med
        |  FROM base GROUP BY c_mktsegment),
        |dev AS (
        |  SELECT b.*, m.med FROM base b
        |  JOIN med m USING (c_mktsegment)),
        |mad AS (
        |  SELECT c_mktsegment, median(abs(o_totalprice - med)) AS mad
        |  FROM dev GROUP BY c_mktsegment),
        |z AS (
        |  SELECT d.c_mktsegment, d.o_orderkey,
        |    floor((CASE WHEN a.mad > 0
        |      THEN 0.6745 * (d.o_totalprice - d.med) / a.mad
        |      ELSE 0.0 END) * 10000) / 10000 AS mad_z
        |  FROM dev d JOIN mad a USING (c_mktsegment))
        |SELECT c_mktsegment, o_orderkey, mad_z,
        |  abs(mad_z) > 3.5 AS is_outlier
        |FROM z ORDER BY o_orderkey""".stripMargin,

    "profile_zscore" ->
      // exact decimal (n, Σx, Σx²) per group; identical double
      // arithmetic for mean/var/z on both sides
      """WITH base AS (
        |  SELECT c_mktsegment, o_orderkey, o_totalprice
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  WHERE o_totalprice IS NOT NULL),
        |st AS (
        |  SELECT c_mktsegment, COUNT(*) AS n,
    |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS s,
        |    -- DuckDB multiply needs w1+w2 <= 38: 19+19 fits exactly,
        |    -- values identical to Spark's (18,4)x(18,4)
        |    SUM(CAST(o_totalprice AS DECIMAL(19,4))
        |      * CAST(o_totalprice AS DECIMAL(19,4))) AS s2
        |  FROM base GROUP BY c_mktsegment),
        |z AS (
        |  SELECT b.c_mktsegment, b.o_orderkey,
        |    CASE WHEN n > 1 AND (CAST(s2 AS DOUBLE)
        |        - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1) > 0
        |      THEN (CAST(o_totalprice AS DOUBLE) - CAST(s AS DOUBLE) / n)
        |        / sqrt((CAST(s2 AS DOUBLE)
        |          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1))
        |      ELSE 0.0 END AS zr
        |  FROM base b JOIN st USING (c_mktsegment))
        |SELECT c_mktsegment, o_orderkey,
        |  floor(zr * 10000) / 10000 AS zscore,
        |  abs(floor(zr * 10000) / 10000) > 2.5 AS is_outlier
        |FROM z ORDER BY o_orderkey""".stripMargin,

    "profile_histogram" ->
      """WITH mm AS (
        |  SELECT min(CAST(o_totalprice AS DOUBLE)) AS mn,
        |         max(CAST(o_totalprice AS DOUBLE)) AS mx
        |  FROM orders WHERE o_totalprice IS NOT NULL)
        |SELECT CAST(CASE WHEN mm.mx = mm.mn THEN 0
        |  ELSE least(floor((CAST(o_totalprice AS DOUBLE) - mm.mn)
        |    / ((mm.mx - mm.mn) / 10)), 9) END AS INT) AS bucket,
        |  COUNT(*) AS n_rows
        |FROM orders, mm WHERE o_totalprice IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "profile_orders" ->
      """WITH p AS (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(o_orderkey) AS n_nonnull,
        |    COUNT(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_s FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
        |    COUNT(DISTINCT o_custkey),
        |    CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(*), COUNT(o_orderstatus),
        |    COUNT(DISTINCT o_orderstatus),
        |    CAST(MIN(o_orderstatus) AS VARCHAR),
        |    CAST(MAX(o_orderstatus) AS VARCHAR) FROM orders
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
        |    COUNT(DISTINCT o_totalprice),
        |    CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR),
        |    CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', COUNT(*), COUNT(o_orderdate),
        |    COUNT(DISTINCT o_orderdate),
        |    strftime(MIN(o_orderdate), '%Y-%m-%d %H:%M:%S'),
        |    strftime(MAX(o_orderdate), '%Y-%m-%d %H:%M:%S') FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority', COUNT(*), COUNT(o_orderpriority),
        |    COUNT(DISTINCT o_orderpriority),
        |    CAST(MIN(o_orderpriority) AS VARCHAR),
        |    CAST(MAX(o_orderpriority) AS VARCHAR) FROM orders)
        |SELECT * FROM p ORDER BY col_name""".stripMargin,

    "profile_migration_audit" ->
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 4),
        |tgt AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |ps AS (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(o_orderkey) AS n_nonnull,
        |    COUNT(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_s FROM src
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
        |    COUNT(DISTINCT o_custkey), CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM src
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
        |    COUNT(DISTINCT o_totalprice),
        |    CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR),
        |    CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR)
        |  FROM src),
        |pt AS (
        |  SELECT 'o_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(o_orderkey) AS n_nonnull,
        |    COUNT(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_s,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_s FROM tgt
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*), COUNT(o_custkey),
        |    COUNT(DISTINCT o_custkey), CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR) FROM tgt
        |  UNION ALL
        |  SELECT 'o_totalprice', COUNT(*), COUNT(o_totalprice),
        |    COUNT(DISTINCT o_totalprice),
        |    CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR),
        |    CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,4)) AS VARCHAR)
        |  FROM tgt)
        |SELECT COALESCE(ps.col_name, pt.col_name) AS col_name,
        |  ps.n_rows AS src_n_rows, pt.n_rows AS tgt_n_rows,
        |  ps.n_nonnull AS src_n_nonnull, pt.n_nonnull AS tgt_n_nonnull,
        |  ps.n_distinct AS src_n_distinct, pt.n_distinct AS tgt_n_distinct,
        |  ps.min_s AS src_min_s, pt.min_s AS tgt_min_s,
        |  ps.max_s AS src_max_s, pt.max_s AS tgt_max_s,
        |  (ps.n_rows IS NOT DISTINCT FROM pt.n_rows
        |    AND ps.n_nonnull IS NOT DISTINCT FROM pt.n_nonnull
        |    AND ps.n_distinct IS NOT DISTINCT FROM pt.n_distinct
        |    AND ps.min_s IS NOT DISTINCT FROM pt.min_s
        |    AND ps.max_s IS NOT DISTINCT FROM pt.max_s) AS cols_match
        |FROM ps FULL OUTER JOIN pt ON ps.col_name = pt.col_name
        |ORDER BY col_name""".stripMargin,

    "c19_digest_diff" ->
      // direct diff classification minus identical rows — the digest
      // pruning must be output-invisible
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 4),
        |tgt AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |d AS (
        |  SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |    CASE WHEN t.o_orderkey IS NULL THEN 'new'
        |         WHEN s.o_orderkey IS NULL THEN 'deleted'
        |         WHEN s.o_custkey IS DISTINCT FROM t.o_custkey
        |           OR s.o_totalprice IS DISTINCT FROM t.o_totalprice
        |           THEN 'changed'
        |         ELSE 'identical' END AS row_state
        |  FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey)
        |SELECT o_orderkey, row_state FROM d
        |WHERE row_state <> 'identical' ORDER BY o_orderkey""".stripMargin,

    "q_theta_segments" ->
      // exact segment cardinalities + always-true tolerance booleans;
      // the sketch estimates themselves live Spark-side only (theta
      // bytes aren't oracle-replayable) — a drifting estimate flips
      // a boolean and fails the hash compare
      """WITH seg AS (
        |  SELECT CASE WHEN o_orderpriority <= '2-HIGH' THEN 'hot'
        |              ELSE 'cold' END AS seg, o_custkey
        |  FROM orders),
        |h AS (SELECT DISTINCT o_custkey FROM seg WHERE seg = 'hot'),
        |c AS (SELECT DISTINCT o_custkey FROM seg WHERE seg = 'cold')
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM h) AS n_hot,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM c) AS n_cold,
        |  (SELECT CAST(COUNT(*) AS BIGINT)
        |     FROM h JOIN c USING (o_custkey)) AS n_inter,
        |  TRUE AS hot_ok, TRUE AS cold_ok,
        |  TRUE AS inter_ok, TRUE AS diff_ok""".stripMargin,

    "c28_incremental_distinct" ->
      // the split-invariance and within-6% assertions run Spark-side
      // (sketch bytes aren't oracle-replayable); the oracle pins the
      // exact counts and expects both booleans to hold everywhere
      """SELECT o_orderpriority,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_exact,
        |  TRUE AS split_invariant, TRUE AS est_ok
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "c27_incremental_agg_cdc" ->
      // full re-aggregation of the CDC-applied fact table — the
      // key-scoped rebuild must reproduce it exactly, min/max included
      """WITH a1 AS (
        |  SELECT CASE WHEN o_orderkey % 20 = 3 THEN o_custkey + 1
        |              ELSE o_custkey END AS o_custkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS v
        |  FROM orders WHERE o_orderkey % 10 <> 4)
        |SELECT o_custkey, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(v AS DECIMAL(18,4))) AS DOUBLE) AS sum_price,
        |  MIN(v) AS min_price,
        |  MAX(v) AS max_price
        |FROM a1 GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "c22_incremental_agg" ->
      // the oracle aggregates EVERYTHING in one pass; matching it
      // proves combine(state, delta) == full rescan
      """SELECT o_custkey, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
        |    AS sum_price,
        |  MIN(o_totalprice) AS min_price,
        |  MAX(o_totalprice) AS max_price
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "c25_scd2_lookup" ->
      // same two-version dimension; the interval predicate picks
      // exactly one version per fact
      """WITH dim AS (
        |  SELECT c_custkey, c_acctbal AS val, 100 AS valid_from,
        |    CASE WHEN c_custkey % 3 = 0 THEN 200 ELSE NULL END
        |      AS valid_to
        |  FROM customer
        |  UNION ALL
        |  SELECT c_custkey, c_acctbal + 10.0, 200, NULL
        |  FROM customer WHERE c_custkey % 3 = 0),
        |f AS (
        |  SELECT o_orderkey, o_custkey AS c_custkey,
        |    150 + o_orderkey % 100 AS ts
        |  FROM orders)
        |SELECT f.o_orderkey, f.c_custkey, f.ts, d.val, d.valid_from,
        |  d.valid_to
        |FROM f JOIN dim d ON f.c_custkey = d.c_custkey
        |  AND f.ts >= d.valid_from
        |  AND (d.valid_to IS NULL OR f.ts < d.valid_to)
        |ORDER BY o_orderkey""".stripMargin,

    "c26_incremental_join_cdc" ->
      // full rejoin of the CDC-applied sides: upserts patch the
      // payload, deletes drop the key — the incremental maintenance
      // must reproduce this exactly
      """WITH a1 AS (
        |  SELECT o_custkey AS custkey, o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 3 THEN o_totalprice + 1
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 4),
        |b1 AS (
        |  SELECT c_custkey AS custkey,
        |    CASE WHEN c_custkey % 7 = 2 THEN c_name || '*' ELSE c_name END
        |      AS c_name,
        |    c_acctbal
        |  FROM customer WHERE c_custkey % 7 <> 3)
        |SELECT a1.custkey, o_orderkey, o_totalprice, c_name, c_acctbal
        |FROM a1 JOIN b1 ON a1.custkey = b1.custkey
        |ORDER BY o_orderkey""".stripMargin,

    "c24_incremental_join" ->
      // delta = every joined row where at least one side is delta
      """SELECT o_orderkey, o_custkey, l_linenumber, l_quantity
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE NOT (o_orderkey % 10 < 8 AND l_linenumber % 7 < 6)
        |ORDER BY o_orderkey, l_linenumber""".stripMargin,

    "c23_latest_by_key" ->
      """SELECT user_id, ts_us, event_id, event_type, value FROM (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type,
        |    value, ROW_NUMBER() OVER (PARTITION BY user_id
        |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) t
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "c21_sampled_diff" ->
      // same md5-mod slice on both sides, then the c15 classification
      """WITH src AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 4
        |    AND CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 8 = 0),
        |tgt AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 <> 3
        |    AND CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 8 = 0),
        |d AS (
        |  SELECT COALESCE(s.o_orderkey, t.o_orderkey) AS o_orderkey,
        |    CASE WHEN t.o_orderkey IS NULL THEN 'new'
        |         WHEN s.o_orderkey IS NULL THEN 'deleted'
        |         WHEN s.o_custkey IS DISTINCT FROM t.o_custkey
        |           OR s.o_totalprice IS DISTINCT FROM t.o_totalprice
        |           THEN 'changed'
        |         ELSE 'identical' END AS row_state
        |  FROM src s FULL OUTER JOIN tgt t ON s.o_orderkey = t.o_orderkey)
        |SELECT row_state, COUNT(*) AS n FROM d
        |GROUP BY row_state ORDER BY row_state""".stripMargin,

    "c20_scd2_apply" -> scd2ApplyOracle,

    // collapse-then-apply of the noisy multi-change feed must equal
    // the snapshot apply — c20's oracle, verbatim
    "scd2_cdc_collapse" -> scd2ApplyOracle,

    // the streaming CDC fold must converge to the batch apply —
    // c20's oracle, verbatim
    "stream_scd2_apply" -> scd2ApplyOracle
  )

  /** Shared by c20_scd2_apply and its streaming CDC twin
    * stream_scd2_apply (each key changes at most once across the
    * micro-batches, so the folded applyCdc result equals one apply2
    * of the full snapshot).
    */
  private val scd2ApplyOracle: String =
      // full-outer diff on the business key; IS NOT DISTINCT FROM =
      // Spark's <=> null-safe compare
      """WITH dim AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
        |      ELSE o_totalprice END AS o_totalprice,
        |    '2025-01-01' AS valid_from,
        |    CAST(NULL AS VARCHAR) AS valid_to,
        |    TRUE AS is_current
        |  FROM orders WHERE o_orderkey % 10 <> 3),
        |snap AS (
        |  SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 4),
        |j AS (
        |  SELECT d.o_orderkey AS dk, d.o_totalprice AS dv,
        |    d.valid_from AS vf, s.o_orderkey AS sk, s.o_totalprice AS sv
        |  FROM dim d FULL OUTER JOIN snap s
        |    ON d.o_orderkey = s.o_orderkey)
        |SELECT dk AS o_orderkey, dv AS o_totalprice, vf AS valid_from,
        |  CAST(NULL AS VARCHAR) AS valid_to, TRUE AS is_current
        |FROM j WHERE dk IS NOT NULL AND sk IS NOT NULL
        |  AND dv IS NOT DISTINCT FROM sv
        |UNION ALL
        |SELECT dk, dv, vf, '2026-01-01', FALSE
        |FROM j WHERE dk IS NOT NULL
        |  AND (sk IS NULL OR dv IS DISTINCT FROM sv)
        |UNION ALL
        |SELECT sk, sv, '2026-01-01', CAST(NULL AS VARCHAR), TRUE
        |FROM j WHERE sk IS NOT NULL
        |  AND (dk IS NULL OR dv IS DISTINCT FROM sv)
        |ORDER BY o_orderkey, valid_from, is_current""".stripMargin
}
