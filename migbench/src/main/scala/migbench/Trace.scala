package migbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder, LongAdder}
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** In-memory spans and counters. Recording is off unless `on` is set, in
  * which case [[span]] times its body; nothing is written until the run
  * reports. */
final class Tracer {
  @volatile var on = false

  private final class Acc { val n = new LongAdder; val sum = new DoubleAdder }
  private val accs = new ConcurrentHashMap[String, Acc]()
  private def acc(k: String): Acc = accs.computeIfAbsent(k, _ => new Acc)

  /** Time `f` under `name` (milliseconds) when recording. */
  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f finally add(name, (System.nanoTime() - t0) / 1e6)
    }

  /** Record one sample of `v` under `name` when recording. */
  def add(name: String, v: Double): Unit =
    if (on) { val a = acc(name); a.n.increment(); a.sum.add(v) }

  def count(name: String): Long = Option(accs.get(name)).map(_.n.sum()).getOrElse(0L)
  def total(name: String): Double = Option(accs.get(name)).map(_.sum.sum()).getOrElse(0.0)
  def mean(name: String): Double = { val n = count(name); if (n == 0) 0.0 else total(name) / n }
}

/** Bench-owned Spark listener. It attributes jobs, stages and tasks to the
  * job group they ran under (`migbench-op-…` for timed operations) while
  * `recording` is set, so probes and checks never count. */
final class EngineListener extends SparkListener {
  @volatile var recording = false

  final class StageRec(val group: String) {
    @volatile var isResult = false
    @volatile var submitted = 0L
    @volatile var completed = 0L
    val shuffleReadRows = new LongAdder
    val shuffleReadBytes = new LongAdder
  }
  final class GroupRec {
    val jobs = new LongAdder; val stages = new LongAdder; val tasks = new LongAdder
    val runMs = new LongAdder; val cpuNs = new LongAdder
    val shuffleWriteBytes = new LongAdder; val spillBytes = new LongAdder
    val recordsRead = new LongAdder
    val stageRecs = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  }

  private val groups = new ConcurrentHashMap[String, GroupRec]()
  private val stageGroup = new ConcurrentHashMap[Int, StageRec]()
  private val started = new AtomicLong
  private val ended = new AtomicLong
  /** Highest number of tasks running at once, over the whole run. */
  val peakTasks = new AtomicLong
  private val runningTasks = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    started.incrementAndGet()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(x => recording && x.startsWith("migbench-op")).foreach { grp =>
      val rec = groups.computeIfAbsent(grp, _ => new GroupRec)
      rec.jobs.increment()
      e.stageInfos.foreach { si =>
        stageGroup.computeIfAbsent(si.stageId, _ => {
          val s = new StageRec(grp); rec.stageRecs.add(s); s
        })
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.incrementAndGet()

  override def onTaskStart(e: SparkListenerTaskStart): Unit = {
    val now = runningTasks.incrementAndGet()
    peakTasks.accumulateAndGet(now, math.max)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(e.stageInfo.stageId)).foreach { sr =>
      sr.submitted = e.stageInfo.submissionTime.getOrElse(0L)
      sr.completed = e.stageInfo.completionTime.getOrElse(0L)
      groups.get(sr.group).stages.increment()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    runningTasks.decrementAndGet()
    Option(stageGroup.get(e.stageId)).foreach { sr =>
      val g = groups.get(sr.group)
      g.tasks.increment()
      if (e.taskType == "ResultTask") sr.isResult = true
      val m = e.taskMetrics
      if (m != null) {
        g.runMs.add(m.executorRunTime)
        g.cpuNs.add(m.executorCpuTime)
        g.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
        g.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
        g.recordsRead.add(m.inputMetrics.recordsRead)
        sr.shuffleReadRows.add(m.shuffleReadMetrics.recordsRead)
        sr.shuffleReadBytes.add(m.shuffleReadMetrics.totalBytesRead)
      }
    }
  }

  /** Wait until every job seen so far has ended and the bus is quiet. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var quiet = 0
    while (quiet < 5 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      if (started.get == ended.get) quiet += 1 else quiet = 0
    }
  }

  def all: Seq[GroupRec] = groups.values().asScala.toSeq
  def sum(f: GroupRec => LongAdder): Long = all.map(g => f(g).sum()).sum
}
