package graft.tools

import graft.{CachePool, Sessions, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One runner for per-gate dev loops over `SparkEntry.queries`.
  *
  * Usage: runMain graft.tools.Gates <time|explain|lint|jobs> <sfDir> [gate…]
  *
  * No gate names means every gate, sorted. All modes share one session
  * (cores from `$SPARK_GRAFT_CPUS`), bypass the stream-gate result memos
  * (outer and inner) so plans and timings are real, and release
  * `CachePool` after each gate.
  * - `time`: each gate runs twice, timed by `count()`; the second run
  *   absorbs no JIT/codegen warmup. `$SPARK_GRAFT_WARM_DIR` optionally
  *   pre-runs each gate on another (smaller) SF first, like Bench.
  * - `explain`: formatted physical plan after executing the gate, so
  *   AQE's runtime rewrites (ReusedExchange, skew splits, BHJ demotion)
  *   show in the finalized plan.
  * - `lint`: flags Generate nodes fed by higher-order functions (see
  *   [[hits]]); exits 1 on an unapproved hit or an error.
  * - `jobs`: per-job wall ms, stage and task counts and executor time,
  *   cold and warm — is a gate executor compute, or the scheduling
  *   floor of many small actions?
  */
object Gates {

  type Gate = (SparkSession, String) => DataFrame

  private val modes: Map[String, (SparkSession, String, Seq[(String, Gate)]) => Int] =
    Map("time" -> time _, "explain" -> explain _, "lint" -> lint _, "jobs" -> jobs _)

  def main(args: Array[String]): Unit = {
    if (args.length < 2 || !modes.contains(args(0))) {
      System.err.println("usage: Gates <time|explain|lint|jobs> <sfDir> [gate…]")
      sys.exit(2)
    }
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown gate(s): ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val gates =
      if (names.isEmpty) SparkEntry.queries.toSeq.sortBy(_._1)
      else names.map(n => n -> SparkEntry.queries(n))
    SparkEntry.memoStreamGatesEnabled = false
    SparkEntry.memoStreamInnerEnabled = false
    val spark = Sessions.local(Sessions.envCores, Sessions.envCores)
    spark.sparkContext.setLogLevel(if (args(0) == "time") "WARN" else "ERROR")
    val code = modes(args(0))(spark, args(1), gates)
    spark.stop()
    sys.exit(code)
  }

  /** Runs `body`, then drops the gate's tracked persisted intermediates
    * (Bench convention: the release is inside any timed region). */
  private def released[A](body: => A): A =
    try body finally { CachePool.releaseAll(); () }

  private def time(spark: SparkSession, dir: String, gates: Seq[(String, Gate)]): Int = {
    sys.env.get("SPARK_GRAFT_WARM_DIR").foreach { wd =>
      gates.foreach { case (name, fn) =>
        // NonFatal only: a broken warm dir must be visible, and fatal
        // errors must propagate, not silently produce cold timings
        try released(fn(spark, wd).count())
        catch {
          case NonFatal(e) =>
            System.err.println(s"[time] warmup $name failed: ${e.getMessage}")
        }
      }
    }
    gates.foreach { case (name, fn) =>
      (1 to 2).foreach { run =>
        val t0 = System.nanoTime()
        val n = released(fn(spark, dir).count())
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"[time] $name%-26s run$run $secs%8.2f s  ($n rows)")
      }
    }
    0
  }

  private def explain(spark: SparkSession, dir: String, gates: Seq[(String, Gate)]): Int = {
    gates.foreach { case (name, fn) =>
      println(s"\n########## $name ##########")
      try released {
        val df = fn(spark, dir)
        // execute THIS dataset's queryExecution so AQE finalizes; a
        // count() would execute a different plan
        df.collect()
        df.explain("formatted")
      }
      catch { case e: Exception => println(s"explain failed: $e") }
    }
    0
  }

  /** Gates whose Generate-fed higher-order lambdas are by design. */
  val approved: Set[String] = Set(
    "dedup_ngram_jaccard",   // char-shingle path: per-char by design
    "dedup_ngram_allpairs",  // brute-force oracle twin, documented
    "dedup_script_routed",   // CJK side uses char shingles by design
    "dedup_span_coverage",   // per-gram span emission by design
    "q_fuzzy_pairs",         // FastSS deletion variants: the lambda
                             // substr-deletes a PLAIN attribute — the
                             // per-element work IS the operator, no
                             // collapsed computation re-evaluates
    "q_fuzzy_join_2t")       // same FastSS lambda, d=2 two-table form
                             // (double-deletion neighborhood; 0.95 s
                             // at sf0.1 on the capped slices — the
                             // per-element work IS the operator)

  /** Interpreted-path lint — the trap that cost 12 s at sf0.1 twice
    * (SURVEY §15): a higher-order `transform` inside a Generate
    * (explode) evaluates on the INTERPRETED path with no common-
    * subexpression elimination, so any collapsed-in tokenization re-runs
    * once per element access. CollapseProject inlines staged columns
    * back into the lambda, so "stage it in a select first" does NOT
    * protect you — the fix is a native single-pass kernel
    * (expressions.WordNgrams) or restructuring. Returns one line per
    * GenerateExec whose generator holds a HigherOrderFunction.
    */
  def hits(plan: SparkPlan): Seq[String] = {
    val out = ArrayBuffer[String]()
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case g: GenerateExec =>
          val hofs = g.generator.collect { case h: HigherOrderFunction => h.prettyName }
          if (hofs.nonEmpty)
            out += s"Generate over higher-order [${hofs.mkString(", ")}]"
        case _ =>
      }
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
    }
    walk(plan)
    out.toSeq
  }

  private def lint(spark: SparkSession, dir: String, gates: Seq[(String, Gate)]): Int = {
    var unapproved = 0
    var approvedHits = 0
    var errors = 0
    gates.foreach { case (name, fn) =>
      try {
        val found = released(hits(fn(spark, dir).queryExecution.executedPlan))
          .map(h => s"$name: $h")
        if (approved.contains(name)) {
          approvedHits += found.size
          found.foreach(h => println(s"APPROVED   $h"))
        } else {
          unapproved += found.size
          found.foreach(h => println(s"UNAPPROVED $h"))
        }
      } catch {
        case e: Exception =>
          errors += 1
          println(s"ERROR      $name: ${e.getMessage}")
      }
    }
    println(s"\n== plan lint: $unapproved unapproved, " +
      s"$approvedHits approved (whitelisted), $errors errors")
    if (unapproved > 0 || errors > 0) 1 else 0
  }

  private final case class Job(id: Int, t0: Long, var t1: Long = -1L,
      var stages: Int = 0, var tasks: Int = 0, var taskMs: Long = 0L,
      stageDesc: ArrayBuffer[String] = ArrayBuffer.empty)

  private def jobs(spark: SparkSession, dir: String, gates: Seq[(String, Gate)]): Int = {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.put(e.jobId, Job(e.jobId, e.time)); order.add(e.jobId); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val m = info.taskMetrics
        // attribute the stage to the most recent unfinished job — good
        // enough for the sequential actions a gate runs
        jobs.values().toArray(Array.empty[Job])
          .filter(x => x.t1 < 0 || x.t1 >= info.completionTime.getOrElse(0L))
          .sortBy(-_.t0).headOption.foreach { x =>
            x.stages += 1
            x.tasks += info.numTasks
            x.taskMs += m.executorRunTime
            x.stageDesc += f"      stage ${info.stageId}%3d tasks=${info.numTasks}%4d " +
              f"run=${m.executorRunTime}%6d ms " +
              f"in=${m.inputMetrics.recordsRead}%8d rows " +
              f"shRead=${m.shuffleReadMetrics.recordsRead}%8d " +
              f"shWrite=${m.shuffleWriteMetrics.recordsWritten}%8d  " +
              info.name.take(90)
          }
      }
    })
    gates.foreach { case (name, fn) =>
      (1 to 2).foreach { run =>
        jobs.clear(); order.clear()
        val t0 = System.nanoTime()
        released(fn(spark, dir).count())
        val wall = (System.nanoTime() - t0) / 1e9
        // listener bus is async; give it a beat to drain
        Thread.sleep(300)
        val js = order.toArray(Array.empty[Integer]).map(i => jobs.get(i.intValue))
        println(f"\n===== $name run$run wall=$wall%.2f s jobs=${js.length} " +
          f"jobWallSum=${js.map(j => (j.t1 - j.t0).max(0L)).sum / 1000.0}%.2f s =====")
        js.foreach { j =>
          println(f"  job ${j.id}%3d wall=${(j.t1 - j.t0).max(0L)}%6d ms " +
            f"stages=${j.stages}%2d tasks=${j.tasks}%4d taskTime=${j.taskMs}%6d ms")
          if (run == 2) j.stageDesc.foreach(println)
        }
      }
    }
    0
  }
}
