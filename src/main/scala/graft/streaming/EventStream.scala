package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}
import org.apache.spark.sql.Row

/** Structured Streaming surface.
  *
  * The reference's incremental sync is batch micro-sync: full rescan +
  * diff + apply, re-runnable (FAQ.md:46–48) — no true streaming. This
  * module provides (a) the same batch semantics, and (b) the
  * continuous upgrade: `readStream` → watermarked windowed aggregation
  * → `foreachBatch` idempotent upsert, which is the CDC-shaped
  * evolution of C-inc at scale (no full rescans).
  */
object EventStream {

  /** Windowed event aggregation — identical semantics batch/stream:
    * tumbling window per event_type with count and value sum. Batch
    * callers pass any DataFrame; streaming callers pass `readStream`
    * output and get incremental state maintenance for free.
    */
  def windowedAgg(events: DataFrame, windowDur: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // decimal accumulation: exact, order-independent, cross-engine
        // reproducible (a double sum would drift by partition order)
        sum(col("value").cast("decimal(18,3)")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming variant with late-data handling: watermark bounds state
    * so a 1000-executor job's state store doesn't grow unboundedly.
    */
  def streamingWindowedAgg(spark: SparkSession, sourceDir: String,
      schema: org.apache.spark.sql.types.StructType,
      windowDur: String = "1 hour", watermark: String = "2 hours"): DataFrame =
    windowedAgg(
      spark.readStream.schema(schema).parquet(sourceDir)
        .withWatermark("ts", watermark),
      windowDur)

  /** Gap-based session aggregation via `session_window` — the
    * streaming twin of `operators.Sessionize.rollup` (which carries a
    * session_idx the merging window API cannot, so batch keeps its own
    * implementation). Identical grouping semantics: sessions close
    * after `gap` of per-user silence. Note `session_window.end` is
    * last-event-ts + gap, not last-event-ts.
    *
    * Streaming state is bounded by the watermark: sessions idle past
    * it are finalized and evicted, so a 1000-executor job holds only
    * open sessions in the state store.
    */
  def sessionWindowAgg(events: DataFrame,
      gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Streaming variant: watermarked file-source session aggregation. */
  def streamingSessionAgg(spark: SparkSession, sourceDir: String,
      schema: org.apache.spark.sql.types.StructType,
      gap: String = "30 minutes", watermark: String = "2 hours"): DataFrame =
    sessionWindowAgg(
      spark.readStream.schema(schema).parquet(sourceDir)
        .withWatermark("ts", watermark),
      gap)

  /** Stream-stream interval join (attribution shape): left rows joined
    * to same-key right rows whose event time falls in
    * [leftTs, leftTs + window]. One definition serves both engines:
    * batch callers get a key equi-join with a residual range predicate
    * (shuffle on the key only — see operators.RangeJoin for the
    * keyless/skewed variant); streaming callers pass two WATERMARKED
    * streams and the time-bound condition lets Spark evict both sides'
    * state past the watermark — the canonical bounded-state
    * stream-stream join. `window` is `lit(µs)` for integer event
    * times or `expr("INTERVAL …")` for timestamps.
    */
  def intervalJoin(left: DataFrame, right: DataFrame, keyCol: String,
      leftTs: String, rightTs: String, window: Column): DataFrame = {
    // rename the right key instead of relying on df(col) self-join
    // disambiguation: both sides often derive from the SAME source
    // (e.g. one events table filtered twice), where left(k) ===
    // right(k) resolves to a trivially-true predicate warning and
    // dataset-id repair — an explicit distinct name sidesteps all of it
    require(!left.columns.contains("__rkey") &&
      !right.columns.contains("__rkey"),
      "input column '__rkey' collides with the intervalJoin working column")
    val r = right.withColumnRenamed(keyCol, "__rkey")
    left.join(r, col(keyCol) === col("__rkey") &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + window)
      .drop("__rkey")
  }

  /** Stream-static enrichment join: every micro-batch joins the
    * static dimension map-side via broadcast — stateless (no
    * watermark, no state store), the streaming twin of the batch
    * dimension join. The dimension is re-resolvable per batch, so a
    * slowly-changing dim backed by a table picks up updates at each
    * trigger; at 100 TB-stream scale the only constraint is the dim
    * fitting the broadcast threshold, which is exactly the batch
    * rule.
    */
  def enrich(stream: DataFrame, dim: DataFrame, keyCol: String,
      joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), Seq(keyCol), joinType)

  /** Streaming exact dedup with CUSTOM keyed state
    * (flatMapGroupsWithState): the first document per content
    * fingerprint passes, every later duplicate — within a batch or
    * across batches — is dropped. Unlike dropDuplicates, the state
    * here is explicit and extensible (counters, first-seen timestamps,
    * replacement policies); state size is one boolean per distinct
    * fingerprint, partitioned by the fingerprint hash across
    * executors — growing forever on an unbounded stream, which is
    * what [[streamingExactDedupTtl]] bounds.
    */
  def streamingExactDedup(stream: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    import org.apache.spark.sql.{Encoders, Row}
    val spark = stream.sparkSession
    import spark.implicits._
    val keyed = stream
      .select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text"),
        graft.functions.TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .as[(Long, String, String)]
      .groupByKey(_._3)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.NoTimeout())(
      (fp: String, rows: Iterator[(Long, String, String)],
          state: org.apache.spark.sql.streaming.GroupState[Boolean]) =>
        if (state.exists) Iterator.empty
        else {
          state.update(true)
          // keep the smallest id in this batch for determinism
          val keeper = rows.minBy(_._1)
          Iterator.single((keeper._1, keeper._2, fp))
        })
      .toDF("doc_id", "text", "fp")
  }

  /** Streaming exact dedup with EVENT-TIME TTL state eviction — the
    * unbounded-stream variant of [[streamingExactDedup]], whose state
    * grows forever (one entry per distinct fingerprint ever seen; at
    * 100 TB/day of ingest that is not a deployable contract). Here a
    * fingerprint's state expires `ttlMs` after the LAST sighting's
    * event time (sliding TTL — duplicates keep the entry alive), so
    * state size is bounded by the distinct fingerprints inside one
    * TTL horizon, and a re-arrival after expiry intentionally passes
    * again: dedup is exact WITHIN the horizon, the standard bounded-
    * state trade-off.
    *
    * Mechanics: the operator applies the watermark itself
    * (`watermarkDelay` on `tsCol` — EventTimeTimeout requires one);
    * eviction fires via GroupState.setTimeoutTimestamp when the
    * watermark passes last-seen + TTL in a batch where that
    * fingerprint receives no new rows (Spark invokes timed-out groups
    * with hasTimedOut=true; a group with fresh data is never marked
    * timed out, which is exactly the sliding-TTL refresh).
    */
  def streamingExactDedupTtl(stream: DataFrame, idCol: String,
      textCol: String, tsCol: String, ttlMs: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val keyed = stream
      .select(col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text"),
        col(tsCol).cast("timestamp").as("__ts"),
        graft.functions.TextAnalysis.fingerprint(col(textCol)).as("fp"))
      // watermark AFTER the projection: a cast/alias strips the
      // event-time tag, so tagging tsCol upstream would leave the
      // grouped plan without a watermarked column
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, String, java.sql.Timestamp, String)]
      .groupByKey(_._4)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.EventTimeTimeout())(
      (fp: String, rows: Iterator[(Long, String, java.sql.Timestamp, String)],
          state: org.apache.spark.sql.streaming.GroupState[Long]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          // single O(1)-memory pass: min-id keeper + max event time
          // (round 16 — a hot fingerprint receiving 10⁶ duplicates in
          // one micro-batch must not buffer them in task memory)
          var maxTs = Long.MinValue
          var keepId = Long.MaxValue
          var keepText: String = null
          rows.foreach { r =>
            maxTs = math.max(maxTs, r._3.getTime)
            if (r._1 < keepId) { keepId = r._1; keepText = r._2 }
          }
          val out =
            if (state.exists) Iterator.empty
            else Iterator.single((keepId, keepText, fp))
          state.update(math.max(state.getOption.getOrElse(Long.MinValue), maxTs))
          // timeout must sit strictly above the current watermark
          state.setTimeoutTimestamp(math.max(state.get + ttlMs,
            state.getCurrentWatermarkMs() + 1))
          out
        })
      .toDF("doc_id", "text", "fp")
  }

  /** Streaming twin of `Sessionize.transitionMatrix`'s pair stage:
    * per-user keyed state holds the LAST event (type + event time),
    * and each arrival emits one (from_type, to_type) transition —
    * the same pairs the batch lag-1 window produces over the stream's
    * prefix (parity-spec'd AND driver-gated: `stream_transitions`
    * replays the batch oracle verbatim), delivered incrementally. Downstream, a
    * streaming or batch count over the emitted pairs maintains the
    * live transition matrix. State is one (type, ts) per user —
    * bounded per key; under perpetual key churn use
    * [[streamingTransitionsTtl]] to bound TOTAL state.
    *
    * Within a micro-batch, a user's events process in (ts, id) order,
    * so cross-batch and intra-batch transitions chain identically to
    * the batch window. Out-of-order ARRIVAL across batches (an event
    * older than the user's stored last) would mis-chain — feed this
    * from a source in per-user order or after watermark-sorted
    * ingestion, the same contract as any lag-based CDC stage.
    */
  def streamingTransitions(stream: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    val spark = stream.sparkSession
    import spark.implicits._
    // intra-batch order is FULL-MICROSECOND (ts_us, eid) — the same
    // key the batch twin's lead() window uses. Sorting on
    // java.sql.Timestamp.getTime truncated to milliseconds and could
    // invert same-millisecond events against the batch order
    // (sub-ms lives in Timestamp.getNanos, not getTime).
    val keyed = stream
      .select(col(userCol).cast("long").as("user_id"),
        col(typeCol).as("etype"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
        col(idCol).cast("long").as("eid"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
    val chunk = BatchSorter.chunkRows(spark)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, rows: Iterator[(Long, String, Long, Long)],
          state: org.apache.spark.sql.streaming.GroupState[(String, Long, Long)]) => {
        // final state = the batch's (ts_us, eid)-max event, known at
        // INGESTION — so state settles eagerly and the sorted pass
        // below emits pairs LAZILY (round 17: no O(batch) output
        // buffer; Spark stores the updated state only after it drains
        // the returned iterator)
        var maxRow: Row4 = null
        val ordered = sortedRows4(rows, chunk, r =>
          if (maxRow == null || ord4.gt(r, maxRow)) maxRow = r)
        if (maxRow == null) Iterator.empty
        else {
          var prev = state.getOption.map(_._1)
          state.update((maxRow._2, maxRow._3, maxRow._4))
          ordered.flatMap { r =>
            val out = prev.map(p => (user, p, r._2))
            prev = Some(r._2)
            out
          }
        }
      })
      .toDF("user_id", "from_type", "to_type")
  }

  /** EVENT-TIME-TTL variant of [[streamingTransitions]]: a user idle
    * past `ttlMs` (sliding on last sighting) leaves the state store.
    * Nothing re-emits on eviction — the transition stream is already
    * complete at all times (every pair was emitted when its second
    * event arrived); eviction only forgets the dangling last event,
    * so a re-arrival after the horizon starts a fresh chain (the
    * would-be cross-horizon transition is intentionally not counted).
    * With a TTL past the stream span, bit-identical to the NoTimeout
    * twin (driver gate `stream_transitions_ttl`).
    */
  def streamingTransitionsTtl(stream: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, ttlMs: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val keyed = stream
      .select(col(userCol).cast("long").as("user_id"),
        col(typeCol).as("etype"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
        col(idCol).cast("long").as("eid"),
        col(tsCol).cast("timestamp").as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
    val chunk = BatchSorter.chunkRows(spark)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.EventTimeTimeout())(
      (user: Long, rows: Iterator[(Long, String, Long, Long, java.sql.Timestamp)],
          state: org.apache.spark.sql.streaming.GroupState[(String, Long, Long)]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          // state + TTL anchor both fold at ingestion (see the
          // NoTimeout twin); emission is lazy over the sorted runs
          var maxRow: Row5 = null
          var maxTsMs = Long.MinValue
          val ordered = sortedRows5(rows, chunk, { r =>
            if (maxRow == null || ord5.gt(r, maxRow)) maxRow = r
            if (r._5.getTime > maxTsMs) maxTsMs = r._5.getTime
          })
          if (maxRow == null) Iterator.empty
          else {
            var prev = state.getOption.map(_._1)
            state.update((maxRow._2, maxRow._3, maxRow._4))
            state.setTimeoutTimestamp(math.max(maxTsMs + ttlMs,
              state.getCurrentWatermarkMs() + 1))
            ordered.flatMap { r =>
              val out = prev.map(p => (user, p, r._2))
              prev = Some(r._2)
              out
            }
          }
        })
      .toDF("user_id", "from_type", "to_type")
  }

  /** Streaming funnel twin of [[graft.operators.Sessionize.funnel]]:
    * per-user keyed state holds ONLY the earliest reached timestamp
    * per step (steps.length longs — bounded regardless of event
    * volume). Each micro-batch folds the user's new events through
    * the same per-step min computation as batch (step k admits an
    * event only at-or-after step k−1's time), in step order, so a
    * single pass is exact. Emits the user's updated
    * (step times, max_step) whenever it changes — consumers upsert.
    * Per-user state is steps.length longs; under key churn
    * [[streamingFunnelTtl]] bounds TOTAL state.
    *
    * Contract: event-time-ordered arrival across batches (the same
    * assumption as [[streamingTransitions]]'s last-event state). With
    * in-order arrival a later batch can only ever SET a later step
    * from later events; it can never need an event that an earlier
    * batch discarded, so the stream result equals the batch funnel
    * over the stream's prefix (parity-spec'd AND driver-gated:
    * `stream_funnel` under the batch oracle — the time-contiguous
    * fixture makes boundary ties impossible, closing the exception
    * for that regime).
    */
  def streamingFunnel(stream: DataFrame, userCol: String, typeCol: String,
      tsUsCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    val spark = stream.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val keyed = stream
      .select(col(userCol).cast("long").as("user_id"),
        col(typeCol).as("etype"), col(tsUsCol).cast("long").as("ts_us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, rows: Iterator[(Long, String, Long)],
          state: org.apache.spark.sql.streaming.GroupState[Array[Long]]) => {
        val s = state.getOption.getOrElse(
          Array.fill(steps.length)(FunnelUnset))
        val before = s.clone()
        funnelAdvance(s, funnelEvents(rows.map(r => (r._2, r._3)), stepIdx))
        if (java.util.Arrays.equals(before, s)) Iterator.empty
        else {
          state.update(s)
          Iterator.single(funnelRow(user, s))
        }
      })
      .toDF("user_id", "steps_us", "max_step")
  }

  private val FunnelUnset = Long.MaxValue

  /** (ts_us, event_id) order + spill codecs of the ORDER-REQUIRING
    * keyed ops (transitions, path-ngrams, sequence patterns): their
    * emissions must follow the batch twin's window order, and
    * within-group arrival order is arbitrary after the shuffle, so an
    * order-correct fold without a sort is impossible. Since round 17
    * the sort runs through [[BatchSorter]] — batches up to
    * `graft.stream.sortChunkRows` (default 2²¹) take the same
    * in-memory array sort as before; a pathological hot key spills
    * sorted runs to executor-local disk and merges, capping task
    * memory at O(chunkRows) instead of the round-16 O(key's batch)
    * stated contract. (ts_us, eid) keys are unique (eid is unique),
    * so run order is bit-identical to the in-memory sort.
    */
  private type Row4 = (Long, String, Long, Long)
  private type Row5 = (Long, String, Long, Long, java.sql.Timestamp)
  private val ord4: Ordering[Row4] = Ordering.by(r => (r._3, r._4))
  private val ord5: Ordering[Row5] = Ordering.by(r => (r._3, r._4))

  private val utf8 = java.nio.charset.StandardCharsets.UTF_8
  private def writeStr(o: java.io.DataOutputStream, s: String): Unit = {
    val b = s.getBytes(utf8)
    o.writeInt(b.length); o.write(b)
  }
  private def readStr(i: java.io.DataInputStream): String = {
    val b = new Array[Byte](i.readInt())
    i.readFully(b); new String(b, utf8)
  }
  private def writeRow4(o: java.io.DataOutputStream, r: Row4): Unit = {
    o.writeLong(r._1); writeStr(o, r._2); o.writeLong(r._3)
    o.writeLong(r._4)
  }
  private def readRow4(i: java.io.DataInputStream): Row4 =
    (i.readLong(), readStr(i), i.readLong(), i.readLong())
  private def writeRow5(o: java.io.DataOutputStream, r: Row5): Unit = {
    o.writeLong(r._1); writeStr(o, r._2); o.writeLong(r._3)
    o.writeLong(r._4)
    // (epoch ms, nanos) round-trips java.sql.Timestamp exactly
    o.writeLong(r._5.getTime); o.writeInt(r._5.getNanos)
  }
  private def readRow5(i: java.io.DataInputStream): Row5 = {
    val r = (i.readLong(), readStr(i), i.readLong(), i.readLong())
    val ms = i.readLong(); val nanos = i.readInt()
    val ts = new java.sql.Timestamp(Math.floorDiv(ms, 1000L) * 1000L)
    ts.setNanos(nanos)
    (r._1, r._2, r._3, r._4, ts)
  }

  private def sortedRows4(rows: Iterator[Row4], chunk: Int,
      onRow: Row4 => Unit = _ => ()): Iterator[Row4] =
    BatchSorter.sorted(rows, chunk, onRow, writeRow4, readRow4)(
      ord4, implicitly)
  private def sortedRows5(rows: Iterator[Row5], chunk: Int,
      onRow: Row5 => Unit = _ => ()): Iterator[Row5] =
    BatchSorter.sorted(rows, chunk, onRow, writeRow5, readRow5)(
      ord5, implicitly)

  /** Char-chunked Pike feed: consumes the sorted iterator in bounded
    * string chunks so the pattern ops never materialize a hot key's
    * whole batch as one decode string (round 17 — the last O(batch)
    * buffer those ops had).
    */
  /** Mutable ONLY so the multi-flush equivalence spec can force many
    * flushes on a small fixture (the ShardTargetEntries precedent);
    * production code never writes it.
    */
  private[streaming] var FeedChunkChars = 64 * 1024
  private def feedChunked(it: Iterator[String],
      progs: Seq[PikeRegex.Program],
      init: Array[PikeState]): Array[PikeState] = {
    var sts = init
    val sb = new java.lang.StringBuilder
    def flush(): Unit = if (sb.length > 0) {
      val chunk = sb.toString
      sts = Array.tabulate(progs.length)(i =>
        PikeEngine.feed(progs(i), sts(i), chunk))
      sb.setLength(0)
    }
    it.foreach { c =>
      sb.append(c)
      if (sb.length >= FeedChunkChars) flush()
    }
    flush()
    sts
  }

  /** Shared per-batch funnel fold of [[streamingFunnel]] and its TTL
    * twin: per-step mins in step order — step k's gate (s(k−1)) is
    * final before step k evaluates, the same fixpoint as the batch
    * operator's sequential step joins. Mutates `s` in place. Takes
    * pre-resolved (step, ts) pairs — see [[funnelEvents]].
    */
  private def funnelAdvance(s: Array[Long],
      evs: Array[(Int, Long)]): Unit = {
    var k = 0
    while (k < s.length) {
      var i = 0
      while (i < evs.length) {
        val (step, ts) = evs(i)
        if (step == k &&
            (k == 0 || (s(k - 1) != FunnelUnset && ts >= s(k - 1))) &&
            ts < s(k)) s(k) = ts
        i += 1
      }
      k += 1
    }
  }

  /** Buffer ONLY the events whose type is a funnel step, resolved to
    * (step index, ts) — the multi-pass step fold needs them batched,
    * but non-step events (typically the vast majority of a hot key's
    * micro-batch) never enter task memory (round 16). The remaining
    * bound — O(step events of one key in one micro-batch) — is a
    * stated contract: exact funnel times need every step event's
    * timestamp available until its step's gate is final, so size the
    * trigger (maxFilesPerTrigger / maxOffsetsPerTrigger) to what a
    * task can hold; the batch twin has no such cliff.
    */
  private def funnelEvents(it: Iterator[(String, Long)],
      stepIdx: Map[String, Int]): Array[(Int, Long)] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
    it.foreach { case (t, ts) =>
      val s = stepIdx.getOrElse(t, -1)
      if (s >= 0) buf += ((s, ts))
    }
    buf.toArray
  }

  private def funnelRow(user: Long, s: Array[Long])
      : (Long, Seq[Option[Long]], Long) = {
    val maxStep = s.lastIndexWhere(_ != FunnelUnset) + 1
    (user, s.toSeq.map(v => if (v == FunnelUnset) None else Some(v)),
      maxStep.toLong)
  }

  /** EVENT-TIME-TTL variant of [[streamingFunnel]] (takes a TIMESTAMP
    * `tsCol` and derives the step microseconds itself — the watermark
    * needs the event-time column). A user idle past `ttlMs` re-emits
    * their final (steps, max_step) row once more and leaves the state
    * store — argmax(max_step) consumers stay exact for aged-out keys;
    * a re-arrival starts a fresh funnel (the within-horizon contract).
    * With a TTL past the stream span, bit-identical to the NoTimeout
    * twin (driver gate `stream_funnel_ttl`).
    */
  def streamingFunnelTtl(stream: DataFrame, userCol: String,
      typeCol: String, tsCol: String, steps: Seq[String], ttlMs: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val keyed = stream
      .select(col(userCol).cast("long").as("user_id"),
        col(typeCol).as("etype"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
        col(tsCol).cast("timestamp").as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.EventTimeTimeout())(
      (user: Long, rows: Iterator[(Long, String, Long, java.sql.Timestamp)],
          state: org.apache.spark.sql.streaming.GroupState[Array[Long]]) =>
        if (state.hasTimedOut) {
          val s = state.get
          state.remove()
          Iterator.single(funnelRow(user, s))
        } else {
          // maxTs rides the same pass that filters to step events —
          // ANY event (step or not) refreshes the sliding TTL
          var maxTs = Long.MinValue
          val evs = funnelEvents(rows.map { r =>
            maxTs = math.max(maxTs, r._4.getTime); (r._2, r._3)
          }, stepIdx)
          if (maxTs == Long.MinValue) Iterator.empty
          else {
            val s = state.getOption.getOrElse(
              Array.fill(steps.length)(FunnelUnset))
            val before = s.clone()
            funnelAdvance(s, evs)
            state.update(s) // always: the timeout needs live state
            state.setTimeoutTimestamp(math.max(maxTs + ttlMs,
              state.getCurrentWatermarkMs() + 1))
            if (java.util.Arrays.equals(before, s)) Iterator.empty
            else Iterator.single(funnelRow(user, s))
          }
        })
      .toDF("user_id", "steps_us", "max_step")
  }

  /** Streaming path-ngram twin of
    * [[graft.operators.Sessionize.topPaths]]'s per-user path stream:
    * state = the user's last n−1 event types (bounded — n strings per
    * user; under key churn [[streamingPathNgramsTtl]] bounds TOTAL
    * state); each arrival completes one length-n path, emitted as the
    * same " > "-joined string the batch operator counts. A downstream
    * additive counter + top-k reproduces topPaths over the stream's
    * prefix (parity-spec'd AND driver-gated: `stream_path_ngrams`).
    * Same in-order-arrival contract as
    * [[streamingTransitions]] (whose n = 2 this generalizes).
    */
  def streamingPathNgrams(stream: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 2, "need n >= 2")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    val spark = stream.sparkSession
    import spark.implicits._
    // full-microsecond (ts_us, eid) intra-batch order — see the
    // streamingTransitions note (Timestamp.getTime is ms-truncated)
    val keyed = stream
      .select(col(userCol).cast("long").as("user_id"),
        col(typeCol).as("etype"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
        col(idCol).cast("long").as("eid"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
    val chunk = BatchSorter.chunkRows(spark)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, rows: Iterator[(Long, String, Long, Long)],
          state: org.apache.spark.sql.streaming.GroupState[List[String]]) => {
        // final window = last min(n, batch) types in order — an
        // n-element heap at INGESTION settles state eagerly; path
        // emission is then lazy over the sorted runs (round 17)
        val topN = new scala.collection.mutable.PriorityQueue[Row4]()(
          ord4.reverse)
        val ordered = sortedRows4(rows, chunk, { r =>
          if (topN.size < n) topN.enqueue(r)
          else if (ord4.gt(r, topN.head)) {
            topN.dequeue(); topN.enqueue(r); ()
          }
        })
        if (topN.isEmpty) Iterator.empty
        else {
          val carried = state.getOption.getOrElse(Nil)
          // reversed min-heap dequeues ascending (ts_us, eid)
          val lastTypes = topN.dequeueAll.iterator
            .map((r: Row4) => r._2).toList
          state.update((carried ++ lastTypes).takeRight(n))
          var w = carried
          ordered.flatMap { r =>
            w = (w :+ r._2).takeRight(n)
            if (w.length == n) Some((user, w.mkString(" > "))) else None
          }
        }
      })
      .toDF("user_id", "path")
  }

  /** EVENT-TIME-TTL variant of [[streamingPathNgrams]]: a user idle
    * past `ttlMs` drops their n−1-type window from the state store;
    * nothing re-emits on eviction (every completed path was emitted
    * when its last event arrived — a re-emission would DOUBLE the
    * additive downstream counter). A re-arrival starts a fresh
    * window, so paths spanning the horizon are intentionally not
    * formed. With a TTL past the stream span, bit-identical to the
    * NoTimeout twin (driver gate `stream_path_ngrams_ttl`).
    */
  def streamingPathNgramsTtl(stream: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String, ttlMs: Long,
      n: Int = 3, watermarkDelay: String = "10 minutes"): DataFrame = {
    require(n >= 2, "need n >= 2")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val keyed = stream
      .select(col(userCol).cast("long").as("user_id"),
        col(typeCol).as("etype"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
        col(idCol).cast("long").as("eid"),
        col(tsCol).cast("timestamp").as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
    val chunk = BatchSorter.chunkRows(spark)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.EventTimeTimeout())(
      (user: Long, rows: Iterator[(Long, String, Long, Long, java.sql.Timestamp)],
          state: org.apache.spark.sql.streaming.GroupState[List[String]]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          // heap-folded window + TTL anchor at ingestion, lazy path
          // emission — see the NoTimeout twin
          val topN = new scala.collection.mutable.PriorityQueue[Row5]()(
            ord5.reverse)
          var maxTsMs = Long.MinValue
          val ordered = sortedRows5(rows, chunk, { r =>
            if (r._5.getTime > maxTsMs) maxTsMs = r._5.getTime
            if (topN.size < n) topN.enqueue(r)
            else if (ord5.gt(r, topN.head)) {
              topN.dequeue(); topN.enqueue(r); ()
            }
          })
          if (topN.isEmpty) Iterator.empty
          else {
            val carried = state.getOption.getOrElse(Nil)
            val lastTypes = topN.dequeueAll.iterator
              .map((r: Row5) => r._2).toList
            state.update((carried ++ lastTypes).takeRight(n))
            state.setTimeoutTimestamp(math.max(maxTsMs + ttlMs,
              state.getCurrentWatermarkMs() + 1))
            var w = carried
            ordered.flatMap { r =>
              w = (w :+ r._2).takeRight(n)
              if (w.length == n) Some((user, w.mkString(" > ")))
              else None
            }
          }
        })
      .toDF("user_id", "path")
  }

  /** Streaming twin of
    * [[graft.operators.Sessionize.sequencePattern]] with BOUNDED keyed
    * state: per-user state is the [[PikeState]] of an incremental
    * leftmost-first Pike VM ([[PikeRegex]]) — O(automaton states) per
    * user, INDEPENDENT of journey length — not the journey string.
    * Each micro-batch feeds its events' chars in (ts_us, eid) order
    * through the automaton exactly once (no per-batch re-scan of
    * history) and emits the user's updated (n_events, n_matches); a
    * pattern run SPANNING a batch boundary is counted exactly once
    * because the automaton threads carry across the boundary.
    * Match-count semantics are java `Matcher.find()` non-overlapping
    * leftmost-first on the portable regex subset — identical to the
    * batch twin's regexp_extract_all and the DuckDB oracle (parity
    * property-specced in PikeRegexSpec). Consumers keep the latest row
    * per user (n_events strictly increases). Same order contract as
    * the other keyed-state twins: event-time-ordered arrival across
    * batches; the driver gate `stream_pattern_match` runs it on the
    * time-contiguous tertile fixture under the batch oracle. Under
    * key churn [[streamingSequencePatternTtl]] bounds TOTAL state.
    */
  def streamingSequencePattern(stream: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String,
      charOf: String => String, pattern: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    val spark = stream.sparkSession
    import spark.implicits._
    val prog = PikeRegex.compile(pattern) // driver-side, ships in closure
    implicit val stEnc: org.apache.spark.sql.Encoder[PikeState] =
      org.apache.spark.sql.Encoders.product[PikeState]
    val keyed = stream
      .select(col(userCol).cast("long").as("user_id"),
        col(typeCol).as("etype"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
        col(idCol).cast("long").as("eid"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
    val chunk = BatchSorter.chunkRows(spark)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, rows: Iterator[(Long, String, Long, Long)],
          state: org.apache.spark.sql.streaming.GroupState[PikeState]) => {
        val ordered = sortedRows4(rows, chunk)
        if (!ordered.hasNext) Iterator.empty
        else {
          // char-chunked feed over the sorted runs: the incremental
          // Pike VM carries state between chunks exactly as it does
          // between micro-batches, so no O(batch) decode string is
          // ever materialized (round 17)
          val init = state.getOption.map(s => KeyedState.checked(s,
            s.ver, "streamingSequencePattern"))
            .getOrElse(PikeEngine.initial)
          val st = feedChunked(ordered.map(r => charOf(r._2)),
            Seq(prog), Array(init))(0)
          state.update(st)
          Iterator.single(
            (user, st.pos.toInt, PikeEngine.matchCount(st).toInt))
        }
      })
      .toDF("user_id", "n_events", "n_matches")
  }

  /** EVENT-TIME-TTL variant of [[streamingSequencePattern]] — closes
    * the op's LAST unbounded axis. Per-key state was already O(NFA)
    * (the round-14 Pike VM); this bounds TOTAL state under key churn:
    * on a years-long stream keyed by churning/anonymous user ids, the
    * NoTimeout twin accumulates one dormant PikeState per user id
    * ever seen. Here a user's state expires `ttlMs` after the LAST
    * sighting's event time (sliding TTL, [[streamingExactDedupTtl]]'s
    * mechanics: the operator applies the watermark itself, eviction
    * fires via GroupState.setTimeoutTimestamp when the watermark
    * passes last-seen + TTL), so total state is bounded by the
    * distinct users active inside one TTL horizon.
    *
    * Eviction emits the user's FINAL (n_events, n_matches) row once
    * more and removes the state — the latest row per user is its
    * final aggregate whether the user aged out or the stream ended,
    * so argmax(n_events) consumers stay exact for evicted keys. A
    * re-arrival after expiry starts a FRESH journey (counts reset):
    * matching is exact WITHIN the horizon, the standard bounded-state
    * trade-off. With a TTL longer than the stream's span this is
    * bit-identical to the NoTimeout twin (the driver gate
    * `stream_pattern_ttl` pins that under the batch oracle).
    */
  def streamingSequencePatternTtl(stream: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String,
      charOf: String => String, pattern: String, ttlMs: Long,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val prog = PikeRegex.compile(pattern)
    implicit val stEnc: org.apache.spark.sql.Encoder[PikeState] =
      org.apache.spark.sql.Encoders.product[PikeState]
    val keyed = stream
      .select(col(userCol).cast("long").as("user_id"),
        col(typeCol).as("etype"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
        col(idCol).cast("long").as("eid"),
        col(tsCol).cast("timestamp").as("__ts"))
      // watermark AFTER the projection (cast/alias strips the
      // event-time tag — see streamingExactDedupTtl)
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
    val chunk = BatchSorter.chunkRows(spark)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.EventTimeTimeout())(
      (user: Long, rows: Iterator[(Long, String, Long, Long, java.sql.Timestamp)],
          state: org.apache.spark.sql.streaming.GroupState[PikeState]) =>
        if (state.hasTimedOut) {
          val st = state.get
          state.remove()
          Iterator.single(
            (user, st.pos.toInt, PikeEngine.matchCount(st).toInt))
        } else {
          var maxTsMs = Long.MinValue
          val ordered = sortedRows5(rows, chunk,
            r => if (r._5.getTime > maxTsMs) maxTsMs = r._5.getTime)
          if (!ordered.hasNext) Iterator.empty
          else {
            val init = state.getOption.map(s => KeyedState.checked(s,
              s.ver, "streamingSequencePatternTtl"))
              .getOrElse(PikeEngine.initial)
            val st = feedChunked(ordered.map(r => charOf(r._2)),
              Seq(prog), Array(init))(0)
            state.update(st)
            // sliding TTL anchored on this batch's max event time
            // (in-order arrival contract — same as the base op);
            // timeout must sit strictly above the current watermark
            state.setTimeoutTimestamp(math.max(maxTsMs + ttlMs,
              state.getCurrentWatermarkMs() + 1))
            Iterator.single(
              (user, st.pos.toInt, PikeEngine.matchCount(st).toInt))
          }
        })
      .toDF("user_id", "n_events", "n_matches")
  }

  /** Streaming twin of [[graft.functions.Curation.quotaSample]]:
    * per-stratum keyed state holds the cap smallest (salted-md5, id)
    * pairs — O(cap) per stratum, independent of stream length — and
    * each batch emits the stratum's CURRENT pick set with its running
    * `seen` count. Hash order makes the sample deterministic and
    * convergent: the final emission per stratum equals the batch
    * quotaSample over the whole prefix (a later smaller hash evicts an
    * earlier pick exactly as the batch rank filter would — the quota
    * curation loop as a continuous job instead of periodic full
    * rescans). Consumers keep each stratum's latest emission
    * (max seen); the driver gate reduces exactly so. Under stratum
    * churn [[streamingQuotaSampleTtl]] bounds TOTAL state.
    */
  /** Shared cap-smallest-by-hash merge of [[streamingQuotaSample]] and
    * its TTL twin — one definition so the twins cannot drift.
    *
    * BOUNDED-MEMORY fold (round 16, the hot-key fix): the batch
    * iterator folds through a size-`cap` max-heap instead of being
    * materialized and sorted — O(cap) task memory however many rows
    * one stratum receives in one micro-batch (the previous
    * `(held ++ batch).sortBy.take(cap)` buffered the whole batch; a
    * hot stratum with 10⁶ rows in one trigger was a task-memory
    * cliff the batch twin doesn't have). Result is bit-identical:
    * the heap's content IS sorted((held ++ batch)).take(cap) under
    * the same (hash, id) order, duplicates included.
    */
  private def quotaMerge(st: QuotaState, batch: Iterator[(String, Long)],
      cap: Int): QuotaState = {
    val ord = Ordering.Tuple2[String, Long]
    val heap = new scala.collection.mutable.PriorityQueue[(String, Long)]()(ord)
    var i = 0
    while (i < st.hashes.length) {
      heap.enqueue((st.hashes(i), st.ids(i))); i += 1
    }
    // a restored checkpoint may hold MORE than cap (a restart with a
    // smaller cap): trim held state down like the old sort-take did,
    // or the emit would exceed the new cap forever
    while (heap.size > cap) { heap.dequeue(); () }
    var n = 0L
    batch.foreach { e =>
      n += 1
      if (heap.size < cap) heap.enqueue(e)
      else if (ord.lt(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
    }
    val merged = heap.dequeueAll.reverseIterator.toArray // ascending
    QuotaState(merged.map(_._1), merged.map(_._2), st.seen + n)
  }

  /** One stratum's current pick set as emission rows. */
  private def quotaEmit(stratum: String, st: QuotaState)
      : Iterator[(String, Long, Long, Long)] =
    st.ids.iterator.zipWithIndex.map { case (id, i) =>
      (stratum, id, (i + 1).toLong, st.seen)
    }

  def streamingQuotaSample(stream: DataFrame, idCol: String,
      strataCol: String, cap: Int, salt: String = "quota|"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(cap > 0, "cap must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    implicit val stEnc: org.apache.spark.sql.Encoder[QuotaState] =
      org.apache.spark.sql.Encoders.product[QuotaState]
    val keyed = stream
      .select(col(strataCol).cast("string").as("stratum"),
        col(idCol).cast("long").as("id"),
        // the SAME codegen'd md5 ranking key as the batch operator
        md5(concat(lit(salt), col(idCol).cast("string"))).as("h"))
      .as[(String, Long, String)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.NoTimeout())(
      (stratum: String, rows: Iterator[(String, Long, String)],
          state: org.apache.spark.sql.streaming.GroupState[QuotaState]) => {
        val st = state.getOption.map(s => KeyedState.checked(s, s.ver,
          "streamingQuotaSample")).getOrElse(
          QuotaState(Array.empty, Array.empty, 0L))
        val next = quotaMerge(st, rows.map(r => (r._3, r._2)), cap)
        if (next.seen == st.seen) Iterator.empty
        else {
          state.update(next)
          quotaEmit(stratum, next)
        }
      })
      .toDF("stratum", "id", "pick_rank", "seen")
  }

  /** EVENT-TIME-TTL variant of [[streamingQuotaSample]]: a stratum
    * idle past `ttlMs` (event time, sliding on last sighting) emits
    * its final pick set once more and leaves the state store — TOTAL
    * state stays bounded by the strata active inside one TTL horizon
    * even when strata churn forever (per-domain quotas over a
    * crawl's long-tail source column is exactly that shape). A
    * stratum re-arriving after expiry starts a fresh quota. With a
    * TTL past the stream's span this is bit-identical to the
    * NoTimeout twin (driver gate `stream_quota_ttl`). Consumers keep
    * the latest emission per stratum (max seen) as before; an
    * evicted stratum's re-emission duplicates its final rows
    * verbatim, so latest-per-key reducers dedupe trivially.
    */
  def streamingQuotaSampleTtl(stream: DataFrame, idCol: String,
      strataCol: String, tsCol: String, cap: Int, ttlMs: Long,
      watermarkDelay: String = "10 minutes",
      salt: String = "quota|"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(cap > 0, "cap must be positive")
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    implicit val stEnc: org.apache.spark.sql.Encoder[QuotaState] =
      org.apache.spark.sql.Encoders.product[QuotaState]
    val keyed = stream
      .select(col(strataCol).cast("string").as("stratum"),
        col(idCol).cast("long").as("id"),
        md5(concat(lit(salt), col(idCol).cast("string"))).as("h"),
        col(tsCol).cast("timestamp").as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      .as[(String, Long, String, java.sql.Timestamp)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.EventTimeTimeout())(
      (stratum: String, rows: Iterator[(String, Long, String, java.sql.Timestamp)],
          state: org.apache.spark.sql.streaming.GroupState[QuotaState]) =>
        if (state.hasTimedOut) {
          val st = state.get
          state.remove()
          quotaEmit(stratum, st)
        } else {
          val st = state.getOption.map(s => KeyedState.checked(s, s.ver,
            "streamingQuotaSampleTtl")).getOrElse(
            QuotaState(Array.empty, Array.empty, 0L))
          // event-time max rides the same single pass as the merge
          var maxTs = Long.MinValue
          val next = quotaMerge(st, rows.map { r =>
            maxTs = math.max(maxTs, r._4.getTime); (r._3, r._2)
          }, cap)
          if (next.seen == st.seen) Iterator.empty
          else {
            state.update(next)
            state.setTimeoutTimestamp(math.max(maxTs + ttlMs,
              state.getCurrentWatermarkMs() + 1))
            quotaEmit(stratum, next)
          }
        })
      .toDF("stratum", "id", "pick_rank", "seen")
  }

  /** Streaming twin of [[graft.functions.Curation.weightedSample]]
    * (Efraimidis–Spirakis A-ES, without replacement): rows spray over
    * `shards` deterministic shards and each shard's keyed state keeps
    * its top-k rows by the SAME codegen'd rank key as the batch
    * operator (u^(1/w), u from the salted 60-bit md5) — state is
    * O(shards·k), independent of stream length, and no single task
    * funnels the whole stream. Each shard's latest emission is its
    * exact top-k over the prefix, and the union of per-shard top-k
    * necessarily contains the global top-k, so the consumer's final
    * reduce (latest per shard → global top-k by (key DESC, id)) equals
    * the batch sample verbatim — continuous weighted reservoir
    * curation without periodic full rescans. The shard key space is
    * bounded, so state is bounded too; [[streamingWeightedSampleTtl]]
    * adds a sample-horizon reset for long quiet periods.
    *
    * Same positive-weight CONTRACT as the batch twin: rows with
    * w ≤ 0 are filtered out before ranking (A-ES is undefined there;
    * w < 0 would invert the rank and always win).
    */
  def streamingWeightedSample(stream: DataFrame, idCol: String,
      weightCol: String, k: Int, shards: Int = 8,
      salt: String = "wsample|"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(k > 0 && shards > 0, "need k > 0 and shards > 0")
    val spark = stream.sparkSession
    import spark.implicits._
    implicit val stEnc: org.apache.spark.sql.Encoder[WSampleState] =
      org.apache.spark.sql.Encoders.product[WSampleState]
    val u = (graft.functions.Curation.saltedHash60(salt, col(idCol))
      .cast("double") + lit(0.5)) / lit(math.pow(2, 60))
    val keyed = stream
      .filter(col(weightCol).cast("double") > 0)
      .select(pmod(xxhash64(col(idCol)), lit(shards.toLong)).as("shard"),
        col(idCol).cast("long").as("id"),
        col(weightCol).cast("long").as("w"),
        pow(u, lit(1.0) / col(weightCol).cast("double")).as("wkey"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.NoTimeout())(
      (shard: Long, rows: Iterator[(Long, Long, Long, Double)],
          state: org.apache.spark.sql.streaming.GroupState[WSampleState]) => {
        val st = state.getOption.map(s => KeyedState.checked(s, s.ver,
          "streamingWeightedSample")).getOrElse(
          WSampleState(Array.empty, Array.empty, Array.empty, 0L))
        val next = wsampleMerge(st, rows.map(r => (r._4, r._2, r._3)), k)
        if (next.seen == st.seen) Iterator.empty
        else {
          state.update(next)
          wsampleEmit(shard, next)
        }
      })
      .toDF("shard", "id", "w", "wkey", "seen")
  }

  /** Shared top-k-by-rank-key merge of [[streamingWeightedSample]] and
    * its TTL twin — top-k by (key DESC, id ASC), the batch operator's
    * order. Same bounded-memory fold as [[quotaMerge]] (round 16):
    * O(k) task memory per shard per batch via a size-k heap instead
    * of materializing and sorting the shard's whole micro-batch.
    */
  private def wsampleMerge(st: WSampleState,
      batch: Iterator[(Double, Long, Long)], k: Int): WSampleState = {
    val ord = Ordering.by[(Double, Long, Long), (Double, Long)] {
      case (key, id, _) => (-key, id)
    }
    val heap =
      new scala.collection.mutable.PriorityQueue[(Double, Long, Long)]()(ord)
    var i = 0
    while (i < st.ids.length) {
      heap.enqueue((st.keys(i), st.ids(i), st.ws(i))); i += 1
    }
    // restored state may exceed k after a restart with a smaller k —
    // trim like the old sort-take did (see quotaMerge)
    while (heap.size > k) { heap.dequeue(); () }
    var n = 0L
    batch.foreach { e =>
      n += 1
      if (heap.size < k) heap.enqueue(e)
      else if (ord.lt(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
    }
    val merged = heap.dequeueAll.reverseIterator.toArray // (-key, id) asc
    WSampleState(merged.map(_._1), merged.map(_._2), merged.map(_._3),
      st.seen + n)
  }

  /** One shard's current top-k as emission rows. */
  private def wsampleEmit(shard: Long, st: WSampleState)
      : Iterator[(Long, Long, Long, Double, Long)] =
    st.ids.indices.iterator.map(i =>
      (shard, st.ids(i), st.ws(i), st.keys(i), st.seen))

  /** EVENT-TIME-TTL variant of [[streamingWeightedSample]]. The shard
    * key space is bounded by construction (`shards` values), so unlike
    * the pattern/quota twins this op never had a key-churn axis — the
    * TTL here is a SAMPLE-HORIZON contract instead: a shard idle past
    * `ttlMs` emits its final top-k once more and resets, so after a
    * long quiet period the sample restarts from the live stream
    * rather than being dominated forever by ancient rows. With a TTL
    * past the stream's span it is bit-identical to the NoTimeout twin
    * (driver gate `stream_weighted_ttl`); same positive-weight
    * contract and consumer reduce as the base op.
    */
  def streamingWeightedSampleTtl(stream: DataFrame, idCol: String,
      weightCol: String, tsCol: String, k: Int, ttlMs: Long,
      shards: Int = 8, watermarkDelay: String = "10 minutes",
      salt: String = "wsample|"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(k > 0 && shards > 0, "need k > 0 and shards > 0")
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    implicit val stEnc: org.apache.spark.sql.Encoder[WSampleState] =
      org.apache.spark.sql.Encoders.product[WSampleState]
    val u = (graft.functions.Curation.saltedHash60(salt, col(idCol))
      .cast("double") + lit(0.5)) / lit(math.pow(2, 60))
    val keyed = stream
      .filter(col(weightCol).cast("double") > 0)
      .select(pmod(xxhash64(col(idCol)), lit(shards.toLong)).as("shard"),
        col(idCol).cast("long").as("id"),
        col(weightCol).cast("long").as("w"),
        pow(u, lit(1.0) / col(weightCol).cast("double")).as("wkey"),
        col(tsCol).cast("timestamp").as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, Long, Long, Double, java.sql.Timestamp)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.EventTimeTimeout())(
      (shard: Long, rows: Iterator[(Long, Long, Long, Double, java.sql.Timestamp)],
          state: org.apache.spark.sql.streaming.GroupState[WSampleState]) =>
        if (state.hasTimedOut) {
          val st = state.get
          state.remove()
          wsampleEmit(shard, st)
        } else {
          val st = state.getOption.map(s => KeyedState.checked(s, s.ver,
            "streamingWeightedSampleTtl")).getOrElse(
            WSampleState(Array.empty, Array.empty, Array.empty, 0L))
          var maxTs = Long.MinValue
          val next = wsampleMerge(st, rows.map { r =>
            maxTs = math.max(maxTs, r._5.getTime); (r._4, r._2, r._3)
          }, k)
          if (next.seen == st.seen) Iterator.empty
          else {
            state.update(next)
            state.setTimeoutTimestamp(math.max(maxTs + ttlMs,
              state.getCurrentWatermarkMs() + 1))
            wsampleEmit(shard, next)
          }
        })
      .toDF("shard", "id", "w", "wkey", "seen")
  }

  /** MULTI-pattern twin of [[streamingSequencePattern]]: k patterns
    * matched in ONE pass over the stream — the chars decode once per
    * event and feed k independent Pike engines whose states ride
    * together in the keyed state (state is O(Σ automaton sizes) per
    * user, still independent of journey length). This is the shape a
    * funnel library actually runs — several journey patterns per
    * user — without k separate streaming queries re-reading the
    * source. Emits one row per (user, pattern) per batch; consumers
    * keep the latest by n_events, exactly the single-pattern
    * contract. Under key churn [[streamingSequencePatternMultiTtl]]
    * bounds TOTAL state.
    */
  def streamingSequencePatternMulti(stream: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String,
      charOf: String => String,
      patterns: Seq[(String, String)]): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(patterns.nonEmpty, "need at least one pattern")
    val spark = stream.sparkSession
    import spark.implicits._
    val names = patterns.map(_._1)
    val progs = patterns.map(p => PikeRegex.compile(p._2))
    implicit val stEnc: org.apache.spark.sql.Encoder[MultiPikeState] =
      org.apache.spark.sql.Encoders.product[MultiPikeState]
    val keyed = stream
      .select(col(userCol).cast("long").as("user_id"),
        col(typeCol).as("etype"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
        col(idCol).cast("long").as("eid"))
      .as[(Long, String, Long, Long)]
      .groupByKey(_._1)
    val chunk = BatchSorter.chunkRows(spark)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, rows: Iterator[(Long, String, Long, Long)],
          state: org.apache.spark.sql.streaming.GroupState[MultiPikeState]) => {
        val ordered = sortedRows4(rows, chunk)
        if (!ordered.hasNext) Iterator.empty
        else {
          val prev = state.getOption
            .map(s => KeyedState.checked(s, s.ver,
              "streamingSequencePatternMulti").states)
            .getOrElse(Array.fill(progs.length)(PikeEngine.initial))
          val next = feedChunked(ordered.map(r => charOf(r._2)),
            progs, prev)
          state.update(MultiPikeState(next))
          names.indices.iterator.map(i =>
            (user, names(i), next(i).pos.toInt,
              PikeEngine.matchCount(next(i)).toInt))
        }
      })
      .toDF("user_id", "pattern", "n_events", "n_matches")
  }

  /** EVENT-TIME-TTL variant of [[streamingSequencePatternMulti]] —
    * the same sliding last-sighting TTL as
    * [[streamingSequencePatternTtl]] over the k-engine shared-decode
    * state: an evicted user emits one final row PER PATTERN and
    * leaves the state store; total state is bounded by the users
    * active inside one TTL horizon times Σ automaton sizes. With a
    * TTL past the stream's span, bit-identical to the NoTimeout twin
    * (driver gate `stream_pattern_multi_ttl`).
    */
  def streamingSequencePatternMultiTtl(stream: DataFrame, userCol: String,
      typeCol: String, tsCol: String, idCol: String,
      charOf: String => String, patterns: Seq[(String, String)],
      ttlMs: Long, watermarkDelay: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(patterns.nonEmpty, "need at least one pattern")
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val names = patterns.map(_._1)
    val progs = patterns.map(p => PikeRegex.compile(p._2))
    implicit val stEnc: org.apache.spark.sql.Encoder[MultiPikeState] =
      org.apache.spark.sql.Encoders.product[MultiPikeState]
    def emit(user: Long, sts: Array[PikeState]) =
      names.indices.iterator.map(i =>
        (user, names(i), sts(i).pos.toInt,
          PikeEngine.matchCount(sts(i)).toInt))
    val keyed = stream
      .select(col(userCol).cast("long").as("user_id"),
        col(typeCol).as("etype"),
        unix_micros(col(tsCol).cast("timestamp")).as("ts_us"),
        col(idCol).cast("long").as("eid"),
        col(tsCol).cast("timestamp").as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, String, Long, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
    val chunk = BatchSorter.chunkRows(spark)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.EventTimeTimeout())(
      (user: Long, rows: Iterator[(Long, String, Long, Long, java.sql.Timestamp)],
          state: org.apache.spark.sql.streaming.GroupState[MultiPikeState]) =>
        if (state.hasTimedOut) {
          val sts = state.get.states
          state.remove()
          emit(user, sts)
        } else {
          var maxTsMs = Long.MinValue
          val ordered = sortedRows5(rows, chunk,
            r => if (r._5.getTime > maxTsMs) maxTsMs = r._5.getTime)
          if (!ordered.hasNext) Iterator.empty
          else {
            val prev = state.getOption
              .map(s => KeyedState.checked(s, s.ver,
                "streamingSequencePatternMultiTtl").states)
              .getOrElse(Array.fill(progs.length)(PikeEngine.initial))
            val next = feedChunked(ordered.map(r => charOf(r._2)),
              progs, prev)
            state.update(MultiPikeState(next))
            state.setTimeoutTimestamp(math.max(maxTsMs + ttlMs,
              state.getCurrentWatermarkMs() + 1))
            emit(user, next)
          }
        })
      .toDF("user_id", "pattern", "n_events", "n_matches")
  }

  /** Streaming cohort-activity twin of
    * [[graft.operators.Sessionize.cohortRetention]]: per-user state =
    * (cohort period, offsets already emitted) — bounded by the number
    * of periods in the horizon, never by event volume (per key;
    * [[streamingCohortActivityTtl]] bounds TOTAL state under user
    * churn). Each first
    * sighting of a (user, period-offset) emits one delta row
    * (cohort_period, period_offset, user_id); a downstream counter
    * maintains the retention matrix additively (n_active per cell =
    * count of deltas), so the aggregate equals the batch operator on
    * the stream's prefix (parity-spec'd AND driver-gated:
    * `stream_cohort_retention`). In-order arrival fixes the
    * cohort at the user's true first event, as in batch.
    */
  def streamingCohortActivity(stream: DataFrame, userCol: String,
      tsCol: String, periodDays: Int = 7): DataFrame = {
    require(periodDays > 0, "periodDays must be > 0")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    val spark = stream.sparkSession
    import spark.implicits._
    val per = floor(
      datediff(to_date(col(tsCol).cast("timestamp")),
        lit("1970-01-01").cast("date")) / periodDays).cast("int")
    val keyed = stream
      .select(col(userCol).cast("long").as("user_id"), per.as("__per"))
      .as[(Long, Int)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.NoTimeout())(
      (user: Long, rows: Iterator[(Long, Int)],
          state: org.apache.spark.sql.streaming.GroupState[(Int, Set[Int])]) => {
        // fold to the DISTINCT periods only — O(periods in batch)
        // task memory, not O(events): a hot user with 10⁶ events in
        // one micro-batch touches at most a handful of periods
        val perSet = scala.collection.mutable.SortedSet.empty[Int]
        rows.foreach(r => perSet += r._2)
        if (perSet.isEmpty) Iterator.empty
        else {
          val (cohort, seen) = state.getOption
            .getOrElse((perSet.head, Set.empty[Int]))
          val fresh = perSet.iterator.map(_ - cohort)
            .filter(o => !seen.contains(o)).toArray.sorted
          state.update((cohort, seen ++ fresh))
          fresh.iterator.map(o => (cohort, o, user))
        }
      })
      .toDF("cohort_period", "period_offset", "user_id")
  }

  /** EVENT-TIME-TTL variant of [[streamingCohortActivity]]: a user
    * idle past `ttlMs` drops their (cohort, emitted-offsets) state;
    * NOTHING re-emits on eviction — the emission stream is a DELTA
    * log and a re-emission would double-count cells in the additive
    * retention counter. The horizon contract is explicit here: a user
    * re-arriving after expiry is treated as a NEW cohort member
    * (their original first-seen period is forgotten) — the standard
    * bounded-state retention trade-off, sized by setting the TTL to
    * the longest offset the matrix reports. With a TTL past the
    * stream span, bit-identical to the NoTimeout twin (driver gate
    * `stream_cohort_ttl`).
    */
  def streamingCohortActivityTtl(stream: DataFrame, userCol: String,
      tsCol: String, ttlMs: Long, periodDays: Int = 7,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    require(periodDays > 0, "periodDays must be > 0")
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    val per = floor(
      datediff(to_date(col(tsCol).cast("timestamp")),
        lit("1970-01-01").cast("date")) / periodDays).cast("int")
    val keyed = stream
      .select(col(userCol).cast("long").as("user_id"), per.as("__per"),
        col(tsCol).cast("timestamp").as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      .as[(Long, Int, java.sql.Timestamp)]
      .groupByKey(_._1)
    keyed.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.EventTimeTimeout())(
      (user: Long, rows: Iterator[(Long, Int, java.sql.Timestamp)],
          state: org.apache.spark.sql.streaming.GroupState[(Int, Set[Int])]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          // same distinct-periods fold as the NoTimeout twin, with
          // the event-time max riding the single pass
          val perSet = scala.collection.mutable.SortedSet.empty[Int]
          var maxTs = Long.MinValue
          rows.foreach { r =>
            perSet += r._2; maxTs = math.max(maxTs, r._3.getTime)
          }
          if (perSet.isEmpty) Iterator.empty
          else {
            val (cohort, seen) = state.getOption
              .getOrElse((perSet.head, Set.empty[Int]))
            val fresh = perSet.iterator.map(_ - cohort)
              .filter(o => !seen.contains(o)).toArray.sorted
            state.update((cohort, seen ++ fresh))
            state.setTimeoutTimestamp(math.max(maxTs + ttlMs,
              state.getCurrentWatermarkMs() + 1))
            fresh.iterator.map(o => (cohort, o, user))
          }
        })
      .toDF("cohort_period", "period_offset", "user_id")
  }

  /** Map a CDC operation column onto the DiffSync flag vocabulary:
    * delete markers → "deleted" (tombstone rows need only their PK
    * columns populated), everything else → "changed" (upsert).
    */
  private[streaming] def cdcFlag(op: Column): Column =
    when(lower(op.cast("string"))
      .isin("delete", "deleted", "d", "-"), lit("deleted"))
      .otherwise(lit("changed"))

  /** Continuous sync sink: each micro-batch applies idempotent
    * upserts AND deletes through `DiffSync.applyToJdbc` — `foreachBatch`
    * + upsert is the exactly-once-effective pattern (batch-id dedup
    * left to the target table's PK). Every upsert row is flagged
    * `changed`: a batched UPDATE, then an INSERT where it matched no row
    * (the PostgreSQL upsert in that dialect).
    *
    * `opCol` names the stream's CDC operation column (Debezium-style
    * op codes or plain "delete"/"upsert" strings); rows flagged as
    * deletes are removed from the target instead of upserted. Without
    * an opCol the stream is treated as insert/update-only — the
    * reference's batch re-sync semantics (FAQ.md:46–48), which can
    * never observe a disappearance inside a micro-batch.
    *
    * A CDC micro-batch can carry the same key more than once, so each
    * batch is repartitioned by PK before the apply: all rows of a key
    * land in one partition, so no two connections write the same key.
    * Within a writer batch, upserts run before deletes. The apply's
    * [[graft.operators.DiffSync.SyncReport]] is not kept.
    */
  /** `trigger` defaults to the production 10-second cadence; tests
    * and gates pass `Trigger.AvailableNow()` to drain a bounded
    * fixture in one blocking run.
    */
  def continuousSyncWriter(stream: DataFrame, pkCols: Seq[String],
      target: graft.operators.DiffSync.SyncTarget,
      checkpoint: String, opCol: Option[String] = None,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds")): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(OutputMode.Update)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val flagged = opCol match {
          case Some(c) =>
            batch.withColumn(graft.operators.DiffSync.FlagCol,
              cdcFlag(col(c))).drop(c)
          case None =>
            batch.withColumn(graft.operators.DiffSync.FlagCol, lit("changed"))
        }
        graft.operators.DiffSync.applyToJdbc(
          flagged.repartition(pkCols.map(col): _*), pkCols, target)
        ()
      }

  /** Streaming near-dup CANDIDATE pairs — the streaming twin of
    * `Dedup.nearDupDelta`'s candidate stage. Arriving docs explode
    * into LSH bands map-side (the same lshBands kernel as batch);
    * state is keyed by band bucket and holds the ids seen there, so
    * each arrival emits one pair per prior bucket member — exactly
    * the pairs the batch band self-join produces over the stream's
    * prefix (parity-spec'd). Total state grows with distinct band
    * buckets ever seen — on a content-churning corpus use
    * [[streamingNearDupCandidatesTtl]]. Verification stays downstream (exact
    * Jaccard needs both texts; a foreachBatch join against the
    * corpus, as in the batch pipeline).
    *
    * A pair that collides in several bands is emitted once per band
    * (the batch path dedups with distinct(); streaming consumers
    * dedup on apply — idempotent upserts make repeats harmless).
    * `maxBucket` bounds state per bucket: a pathological boilerplate
    * bucket (thousands of near-identical docs) would otherwise grow
    * state AND emit quadratically; members past the cap stop
    * accumulating — the standard degenerate-bucket guard, mirroring
    * what a batch pipeline achieves by stop-word-ing such clusters.
    */
  def streamingNearDupCandidates(stream: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 16, bands: Int = 8,
      ngramN: Int = 3, maxBucket: Int = 64,
      portable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    val spark = stream.sparkSession
    import spark.implicits._
    val banded = graft.functions.Dedup.lshBands(
        stream.select(col(idCol).cast("long").as("__id"),
          col(textCol).as("__text")),
        "__id", "__text", numHashes, bands, ngramN, portable)
      .select(concat_ws("|", col("band_id"), col("band_hash")).as("bucket"),
        col("__id").as("id"))
      .as[(String, Long)]
      .groupByKey(_._1)
    banded.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.NoTimeout())(
      (bucket: String, rows: Iterator[(String, Long)],
          state: org.apache.spark.sql.streaming.GroupState[Seq[Long]]) => {
        var seen = state.getOption.getOrElse(Seq.empty)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        // deterministic within-batch order: DISTINCT ids ascending —
        // folded through a sorted set, O(distinct ids) task memory
        // (duplicate arrivals of one doc don't buffer; round 16)
        val fresh = scala.collection.mutable.SortedSet.empty[Long]
        rows.foreach(r => fresh += r._2)
        fresh.foreach { id =>
          if (!seen.contains(id)) {
            seen.foreach(s =>
              out += ((math.min(s, id), math.max(s, id))))
            if (seen.size < maxBucket) seen = seen :+ id
          }
        }
        state.update(seen)
        out.iterator
      })
      .toDF("id_a", "id_b")
  }

  /** EVENT-TIME-TTL variant of [[streamingNearDupCandidates]]: a band
    * BUCKET with no arrivals for `ttlMs` (event time, sliding on the
    * bucket's last sighting) drops its member list from the state
    * store — the base op's total state grows with every distinct band
    * bucket ever seen, which on a content-churning corpus is forever.
    * Nothing re-emits on eviction (every candidate pair was emitted on
    * arrival); a doc arriving after its bucket expired pairs only with
    * in-horizon bucket members — near-dup detection WITHIN the
    * horizon, exactly the bounded-state contract of the TTL dedup.
    * With a TTL past the stream span, bit-identical to the NoTimeout
    * twin (driver gate `stream_neardup_ttl`).
    */
  def streamingNearDupCandidatesTtl(stream: DataFrame, idCol: String,
      textCol: String, tsCol: String, ttlMs: Long, numHashes: Int = 16,
      bands: Int = 8, ngramN: Int = 3, maxBucket: Int = 64,
      portable: Boolean = false,
      watermarkDelay: String = "10 minutes"): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    require(ttlMs > 0, "ttlMs must be positive")
    val spark = stream.sparkSession
    import spark.implicits._
    // lshBands carries only its id column through — ride the event
    // time inside a struct id, then unpack past the banding kernel
    val banded = graft.functions.Dedup.lshBands(
        stream.select(struct(col(idCol).cast("long").as("id"),
            col(tsCol).cast("timestamp").as("ts")).as("__idts"),
          col(textCol).as("__text")),
        "__idts", "__text", numHashes, bands, ngramN, portable)
      .select(concat_ws("|", col("band_id"), col("band_hash")).as("bucket"),
        col("__idts.id").as("id"), col("__idts.ts").as("__ts"))
      .withWatermark("__ts", watermarkDelay)
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
    banded.flatMapGroupsWithState(
      OM.Append(), GroupStateTimeout.EventTimeTimeout())(
      (bucket: String, rows: Iterator[(String, Long, java.sql.Timestamp)],
          state: org.apache.spark.sql.streaming.GroupState[Seq[Long]]) =>
        if (state.hasTimedOut) {
          state.remove()
          Iterator.empty
        } else {
          // same distinct-ids fold as the NoTimeout twin, event-time
          // max riding the single pass
          val fresh = scala.collection.mutable.SortedSet.empty[Long]
          var maxTs = Long.MinValue
          rows.foreach { r =>
            fresh += r._2; maxTs = math.max(maxTs, r._3.getTime)
          }
          if (fresh.isEmpty) Iterator.empty
          else {
            var seen = state.getOption.getOrElse(Seq.empty)
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
            fresh.foreach { id =>
              if (!seen.contains(id)) {
                seen.foreach(s =>
                  out += ((math.min(s, id), math.max(s, id))))
                if (seen.size < maxBucket) seen = seen :+ id
              }
            }
            state.update(seen)
            state.setTimeoutTimestamp(math.max(maxTs + ttlMs,
              state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
        })
      .toDF("id_a", "id_b")
  }

  /** Streaming twin of the batch wordcount behind
    * `Profile.tokenDriftMovers` — the live half of a corpus drift
    * monitor: cumulative token counts as keyed state, one UPDATE row
    * (token, cnt) per token per micro-batch that touched it. A
    * downstream consumer joins the LATEST count per token (counts are
    * monotone, so max == latest) against a stored reference count
    * table through `Profile.scoreDriftCounts` and gets exactly the
    * batch operator's movers over the stream prefix — the parity
    * contract the spec pins.
    *
    * State is one long per distinct token (vocabulary-bounded — the
    * same asymptote as the batch wordcount's shuffle); no timeout:
    * drift monitoring WANTS the full running distribution. For
    * unbounded vocabularies (URLs, ids) feed a normalized/hashed
    * token stream instead.
    */
  def streamingTokenCounts(stream: DataFrame, textCol: String)
      : DataFrame = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode => OM}
    val spark = stream.sparkSession
    import spark.implicits._
    stream
      .select(explode(graft.functions.TextAnalysis.tokens(
        lower(col(textCol)))).as("token"))
      .filter(col("token") =!= "")
      .as[String]
      .groupByKey(identity)
      .flatMapGroupsWithState(
        OM.Update(), GroupStateTimeout.NoTimeout())(
        (token: String, rows: Iterator[String],
            state: org.apache.spark.sql.streaming.GroupState[Long]) => {
          val cum = state.getOption.getOrElse(0L) + rows.size
          state.update(cum)
          Iterator.single((token, cum))
        })
      .toDF("token", "cnt")
  }
}
