package migbench

import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark entry point.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`
  *
  * Boots one Spark `local[k]` session (k = available cores; none for
  * schema_convert, which runs no Spark), prepares the
  * workload once, warms up for a fixed number of rounds and then until
  * round latencies level off, and runs closed-loop rounds for the given
  * seconds. `setup_s` is the wall time all of that set-up took. The last line of standard output is one JSON object.
  * With `--trace 1`, rounds alternate untraced and traced; the traced ones
  * feed the per-layer metrics and the untraced ones the tracing overhead.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val k = Runtime.getRuntime.availableProcessors()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = if (workload == "schema_convert") None else Some(session(k))
    spark.foreach(_ => Derby.install())
    val listener = new EngineListener
    spark.foreach(_.sparkContext.addSparkListener(listener))
    val bootS = (System.currentTimeMillis() - jvmStart) / 1000.0

    val tr = new Tracer
    val failures = ArrayBuffer.empty[String]
    val ctx = Ctx(spark, k, seed, tr, failures)
    val w = Workload(workload, ctx)

    // set-up: one prepare, traced when tracing so the set-up-only layers
    // (front half for the Spark workloads) report
    tr.on = trace
    val (_, prepS) = Workload.timed(w.prepare())
    tr.on = false

    val (warmOps, warmS) = Workload.timed(warmUp(w))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    System.err.println(f"setup: $setupS%.2f s (boot $bootS%.2f s, prepare $prepS%.2f s, " +
      f"warm-up $warmS%.2f s over $warmOps ops)")
    failures.clear()

    val measured = ArrayBuffer.empty[(Round, Boolean)]
    var gcTraced = (0L, 0L)
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < 2) {
      val traced = trace && i % 2 == 1
      tr.on = traced; listener.recording = traced
      val gc0 = gcNow()
      val r = w.round(traced)
      val gc1 = gcNow()
      tr.on = false; listener.recording = false
      if (traced) {
        gcTraced = (gcTraced._1 + gc1._1 - gc0._1, gcTraced._2 + gc1._2 - gc0._2)
        tr.on = true; w.probe(); tr.on = false
      }
      measured += ((r, traced))
      i += 1
    }
    listener.drain()

    val timedRounds = measured.toSeq.filter(r => !trace || !r._2).map(_._1)
    val tracedRounds = measured.toSeq.filter(_._2).map(_._1)
    val ops = measured.toSeq.flatMap(_._1.ops)
    val attempted = ops.size
    val failed = ops.count(_.failed)
    failures.foreach(f => System.err.println(s"FAILED: $f"))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val lats = timedRounds.flatMap(_.ops).map(_.latencyS).sorted
        // throughput per round, reported as the median over rounds
        def perRound(f: OpRec => Double) = median(timedRounds.map(r => r.ops.map(f).sum / r.timedS))
        Seq(
          ("setup_s", setupS, "s"),
          ("throughput", perRound(_.items.toDouble), "items/s"),
          ("row_throughput", perRound(_.rows.toDouble), "rows/s"),
          ("latency_p50_s", quantile(lats, 0.5), "s"),
          ("latency_p90_s", quantile(lats, 0.9), "s"),
          ("peak_rss_mb", peakRssMb(), "MB"))
      } else {
        val plainMean = mean(timedRounds.flatMap(_.ops).map(_.latencyS))
        val tracedOps = tracedRounds.flatMap(_.ops)
        val tracedMean = mean(tracedOps.map(_.latencyS))
        layerMetrics(w, tr, listener, tracedOps.size, gcTraced, failed.toDouble / attempted,
          if (plainMean == 0) 0.0 else tracedMean / plainMean - 1.0, warmOps)
      }
    val tEnd = System.nanoTime()
    w.close()
    spark.foreach(_.stop())
    System.err.println(f"teardown ${(System.nanoTime() - tEnd) / 1e9}%.2f s, measured ${(tEnd - t0) / 1e9}%.2f s")
    println(json(failed == 0 && attempted > 0, attempted, failed, metrics))
    System.out.flush()
    // exit explicitly: lingering non-daemon library threads must not hold
    // the process after the result is out
    sys.exit(0)
  }

  /** Spark `local[k]` with `k / 2` shuffle partitions (see [[Sync]]). */
  def session(k: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("migbench")
      .config("spark.sql.shuffle.partitions", math.max(1, k / 2).toString)
      .config("spark.default.parallelism", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Warm-up runs the workload's floor of rounds, then more until two
    * consecutive rounds' median op latencies are each within 10% of the
    * previous round's, up to 4 rounds past the floor. Counted in rounds,
    * not seconds, so its time follows the program's speed. Returns the
    * number of warm-up ops. */
  private def warmUp(w: Workload): Int = {
    val floor = w.warmUpRounds
    var prev = Double.NaN
    var agreed = 0
    var rounds = 0
    var ops = 0
    while (rounds < floor || (agreed < 2 && rounds < floor + 4)) {
      val r = w.round(traced = false)
      val m = median(r.ops.map(_.latencyS))
      ops += r.ops.size
      rounds += 1
      if (rounds >= 3 && math.abs(m / prev - 1) <= 0.10) agreed += 1 else agreed = 0
      prev = m
    }
    System.err.println(f"warm-up: $rounds rounds, $ops ops, last median op ${prev * 1000}%.2f ms")
    ops
  }

  private val layerUnits: Seq[(String, String)] = Seq(
    "parser.decode_ms" -> "ms", "parser.parse_ms" -> "ms",
    "parser.lines_per_s" -> "lines/s", "parser.warnings" -> "count",
    "convert.type_map_ns_per_col" -> "ns", "convert.expr_rewrite_ns_per_expr" -> "ns",
    "convert.share_of_parse" -> "ratio",
    "emit.pg_ms" -> "ms", "emit.kettle_ms" -> "ms", "emit.bytes_out" -> "bytes",
    "sources.resolve_ms" -> "ms", "sources.scan_ms" -> "ms",
    "sources.rows_read" -> "rows", "sources.read_partitions" -> "count",
    "copy.plan_ms" -> "ms", "copy.sink_ms" -> "ms", "copy.noop_sink_ms" -> "ms",
    "copy.target_share" -> "ratio",
    "copy.jobs_per_table" -> "count",
    "copy.tasks_per_table" -> "count", "copy.inflight_mean" -> "count",
    "sync.diff_ms" -> "ms", "sync.apply_ms" -> "ms",
    "sync.apply_shuffle_bytes" -> "bytes", "sync.apply_shuffle_rows" -> "rows",
    "sync.applied_rows" -> "rows", "sync.useful_ratio" -> "ratio",
    "sync.flag_new" -> "rows", "sync.flag_changed" -> "rows",
    "sync.flag_deleted" -> "rows", "sync.flag_identical" -> "rows",
    "engine.jobs" -> "count", "engine.stages" -> "count", "engine.tasks" -> "count",
    "engine.executor_run_ms" -> "ms", "engine.executor_cpu_ms" -> "ms",
    "engine.shuffle_write_bytes" -> "bytes", "engine.spill_bytes" -> "bytes",
    "engine.peak_tasks" -> "count", "engine.peak_db_connections" -> "count",
    "cachepool.cached_entries_after_op" -> "count",
    "jvm.gc_ms" -> "ms/op", "jvm.gc_count" -> "count/op",
    "failed_frac" -> "ratio", "trace.overhead" -> "ratio", "trace.ops" -> "count",
    "setup.warmup_ops" -> "count")

  /** Per-layer values from the traced rounds. Engine values are per op. */
  private def layerMetrics(w: Workload, tr: Tracer, l: EngineListener, tracedOps: Int,
      gc: (Long, Long), failedFrac: Double, overhead: Double, warmOps: Int): Seq[(String, Double, String)] = {
    val n = math.max(1, tracedOps).toDouble
    val parseS = (tr.total("parser.decode") + tr.total("parser.parse")) / 1000
    val convertNs = tr.total("convert.type_map_ns") + tr.total("convert.expr_ns")
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val common = Map(
      "parser.decode_ms" -> tr.mean("parser.decode"),
      "parser.parse_ms" -> tr.mean("parser.parse"),
      "parser.lines_per_s" -> ratio(tr.total("parser.lines"), parseS),
      "parser.warnings" -> tr.mean("parser.warnings"),
      "convert.type_map_ns_per_col" ->
        ratio(tr.total("convert.type_map_ns"), tr.total("convert.type_map_cols")),
      "convert.expr_rewrite_ns_per_expr" -> ratio(tr.total("convert.expr_ns"), tr.total("convert.exprs")),
      "convert.share_of_parse" -> ratio(convertNs / 1e6, tr.total("parser.parse")),
      "emit.pg_ms" -> tr.mean("emit.pg"),
      "emit.kettle_ms" -> tr.mean("emit.kettle"),
      "emit.bytes_out" -> tr.mean("emit.bytes_out"),
      "sources.resolve_ms" -> tr.mean("sources.resolve"),
      "sources.scan_ms" -> tr.mean("sources.scan"),
      "sources.read_partitions" -> tr.mean("sources.read_partitions"),
      "copy.plan_ms" -> tr.mean("copy.plan"),
      "copy.sink_ms" -> tr.mean("copy.sink"),
      "copy.noop_sink_ms" -> tr.mean("copy.noop_sink"),
      "copy.inflight_mean" -> tr.mean("copy.inflight"),
      "sync.flag_new" -> tr.mean("sync.flag_new"),
      "sync.flag_changed" -> tr.mean("sync.flag_changed"),
      "sync.flag_deleted" -> tr.mean("sync.flag_deleted"),
      "sync.flag_identical" -> tr.mean("sync.flag_identical"),
      "engine.jobs" -> l.sum(_.jobs) / n,
      "engine.stages" -> l.sum(_.stages) / n,
      "engine.tasks" -> l.sum(_.tasks) / n,
      "engine.executor_run_ms" -> l.sum(_.runMs) / n,
      "engine.executor_cpu_ms" -> l.sum(_.cpuNs) / 1e6 / n,
      "engine.shuffle_write_bytes" -> l.sum(_.shuffleWriteBytes) / n,
      "engine.spill_bytes" -> l.sum(_.spillBytes) / n,
      "engine.peak_tasks" -> l.peakTasks.get.toDouble,
      "engine.peak_db_connections" -> CountingDriver.peakPerDatabase.toDouble,
      "cachepool.cached_entries_after_op" -> tr.total("cachepool.entries"),
      "jvm.gc_ms" -> gc._1 / n,
      "jvm.gc_count" -> gc._2 / n,
      "failed_frac" -> failedFrac,
      "trace.overhead" -> overhead,
      "trace.ops" -> tracedOps.toDouble,
      "setup.warmup_ops" -> warmOps.toDouble)
    val all = common ++ w.layers(l)
    layerUnits.map { case (name, unit) => (name, all.getOrElse(name, 0.0), unit) }
  }

  private def gcNow(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).filter(_ >= 0).sum,
      beans.map(_.getCollectionCount).filter(_ >= 0).sum)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  def median(xs: Seq[Double]): Double = quantile(xs.sorted, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Linear-interpolation quantile of sorted values. */
  def quantile(sorted: Seq[Double], q: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val pos = q * (sorted.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, sorted.size - 1)
      sorted(lo) + (sorted(hi) - sorted(lo)) * (pos - lo)
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def json(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"
}
