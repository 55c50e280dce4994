package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.sources.Tables
import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._

/** End-to-end JDBC integration against embedded Derby (ships with
  * Spark): real INSERT/UPDATE/DELETE round-trips for the copy sink and
  * the diff/sync apply writer — the paths a parquet-only test can't
  * exercise.
  */
class JdbcIntegrationSpec extends AnyFunSuite with SparkTestBase {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** Creates `table (id, v)` holding `rows`. */
  private def seed(table: String, rows: Seq[(Long, Double)]): Unit =
    withConn { c =>
      c.createStatement().executeUpdate(
        s"CREATE TABLE $table (id BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
      val ps = c.prepareStatement(s"INSERT INTO $table VALUES (?, ?)")
      rows.foreach { case (id, v) =>
        ps.setLong(1, id); ps.setDouble(2, v); ps.addBatch()
      }
      ps.executeBatch(); ps.close()
    }

  private def readSide(table: String): DataFrame =
    Tables.jdbc(spark, Tables.JdbcSpec(url, table, "", ""))
      .select(col("ID").as("id"), col("V").as("v"))

  private def rowsOf(table: String): Seq[(Long, Double)] = withConn { c =>
    val rs = c.createStatement()
      .executeQuery(s"SELECT id, v FROM $table ORDER BY id")
    val buf = scala.collection.mutable.Buffer[(Long, Double)]()
    while (rs.next()) buf += ((rs.getLong(1), rs.getDouble(2)))
    buf.toSeq
  }

  /** Source 1..200 (v = id) against a target 11..210 whose ids divisible
    * by 20 hold a stale value: 10 new, 10 changed, 10 deleted rows. */
  private def seedSyncPair(src: String, tgt: String): Unit = {
    seed(src, (1L to 200L).map(i => (i, i.toDouble)))
    seed(tgt, (11L to 210L).map(i => (i, if (i % 20 == 0) i + 0.5 else i.toDouble)))
  }

  /** What a body ran under its job group: SQL executions, jobs, stages
    * and result tasks (the writer's tasks). */
  private case class Ran(executions: Int, jobs: Int, stages: Int, resultTasks: Int)

  /** `body`'s result and what it ran under job group `group`. */
  private def ranUnder[A](group: String)(body: => A): (A, Ran) = {
    val (executions, jobs, stages, resultTasks) = (new AtomicInteger, new AtomicInteger,
      new AtomicInteger, new AtomicInteger)
    val groupStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val fenceGroup = s"$group-fence"
    val fence = Promise[Unit]()
    def groupOf(p: java.util.Properties) =
      Option(p).map(_.getProperty("spark.jobGroup.id"))
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          executions.incrementAndGet()
        case _ =>
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (groupOf(e.properties).contains(group)) {
          stages.incrementAndGet(); groupStages.add(e.stageInfo.stageId)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (groupStages.contains(e.stageId) && e.taskType == "ResultTask")
          resultTasks.incrementAndGet()
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (groupOf(e.properties).contains(group)) jobs.incrementAndGet()
        else if (groupOf(e.properties).contains(fenceGroup)) fence.trySuccess(())
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val result = body
      // the listener bus delivers events in order: once a later job's
      // start arrives, every event of `body` has been seen
      sc.setJobGroup(fenceGroup, fenceGroup)
      sc.parallelize(Seq(1), 1).count()
      Await.result(fence.future, 30.seconds)
      (result, Ran(executions.get, jobs.get, stages.get, resultTasks.get))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** A PK-less `table (id, v)`. */
  private def loadTarget(table: String): Unit =
    withConn(_.createStatement().executeUpdate(s"CREATE TABLE $table (id BIGINT, v DOUBLE)"))

  private def plainSpec(table: String, numPartitions: Int) =
    JdbcSink.Spec(url, table, "", "", numPartitions = numPartitions, truncate = false,
      relaxDurability = false, rewriteBatchedInserts = false)

  test("JdbcSink.write appends batched rows into a real JDBC table") {
    // the same lower-case DataFrame columns land in a target created
    // with unquoted (Derby upper-cases them) and with quoted lower-case
    // identifiers; NULLs bind with the target column's type
    withConn { c =>
      c.createStatement().executeUpdate("CREATE TABLE copy_t (id BIGINT " +
        "NOT NULL PRIMARY KEY, v DOUBLE, b VARCHAR(8) FOR BIT DATA, " +
        "d DECIMAL(12, 2), ts TIMESTAMP)")
      c.createStatement().executeUpdate("CREATE TABLE \"copy_q\" (\"id\" " +
        "BIGINT NOT NULL, \"v\" DOUBLE, \"b\" VARCHAR(8) FOR BIT DATA, " +
        "\"d\" DECIMAL(12, 2), \"ts\" TIMESTAMP)")
    }
    import spark.implicits._
    val df = (1L to 100L).map { i =>
      (i, i * 1.5, if (i % 3 == 0) null else Array[Byte](i.toByte, 7),
        BigDecimal(i) / 4, if (i % 5 == 0) null
        else java.sql.Timestamp.valueOf(f"2024-01-01 00:00:${i % 60}%02d"))
    }.toDF("id", "v", "b", "d", "ts")
    for ((table, q) <- Seq("copy_t" -> "", "\"copy_q\"" -> "\"")) {
      val report = JdbcSink.write(df, JdbcSink.Spec(url, table, "", "",
        numPartitions = 2, truncate = false, relaxDurability = false,
        rewriteBatchedInserts = false))
      assert((report.rows, report.rejected) === (100L, 0L))
      val back = withConn { c =>
        val rs = c.createStatement().executeQuery(s"SELECT COUNT(*), " +
          s"SUM(${q}v$q), COUNT(${q}b$q), SUM(${q}d$q), COUNT(${q}ts$q), " +
          s"MAX(${q}ts$q), SUM(LENGTH(${q}b$q)) FROM $table")
        rs.next()
        (rs.getLong(1), rs.getDouble(2), rs.getLong(3), rs.getBigDecimal(4),
          rs.getLong(5), rs.getTimestamp(6).toString, rs.getLong(7))
      }
      assert(back === ((100L, (1 to 100).map(_ * 1.5).sum, 67L,
        new java.math.BigDecimal("1262.50"), 80L, "2024-01-01 00:00:59.0",
        134L)))
    }
  }

  test("C16: applyToJdbc syncs a real target to the source state") {
    withConn { c =>
      c.createStatement().executeUpdate(
        "CREATE TABLE sync_t (id BIGINT NOT NULL PRIMARY KEY, v DOUBLE)")
      val ps = c.prepareStatement("INSERT INTO sync_t VALUES (?, ?)")
      // target starts with: 2 (stale value), 3 (identical), 4 (to delete)
      Seq((2L, 99.0), (3L, 3.0), (4L, 4.0)).foreach { case (id, v) =>
        ps.setLong(1, id); ps.setDouble(2, v); ps.executeUpdate()
      }
      ps.close()
    }
    import spark.implicits._
    // source state: 1 (new), 2 (changed), 3 (identical)
    val src = Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("id", "v")
    val tgt = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "sync_t").load()
      .select(col("ID").as("id"), col("V").as("v"))
    val diffed = DiffSync.diff(src, tgt, Seq("id"))
    val report = DiffSync.applyToJdbc(diffed, Seq("id"),
      DiffSync.SyncTarget(url, "sync_t", "", "", dialect = "generic"))
    assert(rowsOf("sync_t") === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
    assert(report === DiffSync.SyncReport(inserted = 1, updated = 1, deleted = 1))
  }

  test("C16: applyToJdbc writes from the diff join's stages, adding none") {
    seedSyncPair("shape_src", "shape_tgt")
    val diffed = DiffSync.diff(readSide("shape_src"), readSide("shape_tgt"),
      Seq("id"))
    val (_, noop) = ranUnder("shape-noop") {
      diffed.write.format("noop").mode("overwrite").save()
    }
    val (_, apply) = ranUnder("shape-apply") {
      DiffSync.applyToJdbc(diffed, Seq("id"),
        DiffSync.SyncTarget(url, "shape_tgt", "", "", dialect = "generic"))
    }
    // two scans feeding the join's exchanges, then the join's result stage
    assert(noop.stages === 3)
    // an exchange above the join (a repartition before the writer)
    // would add a stage; a second execution would re-plan the diff
    assert((apply.executions, apply.stages) === ((1, noop.stages)))
    assert(rowsOf("shape_tgt") === rowsOf("shape_src"))
  }

  test("JdbcSink.write is one SQL execution running one job") {
    seed("once_src", (1L to 50L).map(i => (i, i * 2.0)))
    loadTarget("once_tgt")
    // a fresh Dataset each: `Dataset.rdd` is computed once per Dataset
    assert(readSide("once_src").rdd.getNumPartitions === 1)
    val (tally, ran) = ranUnder("write-once") {
      JdbcSink.write(readSide("once_src"), plainSpec("once_tgt", 1).copy(truncate = true))
    }
    // learning the partition count or going through Dataset.rdd would
    // add an execution
    assert((ran.executions, ran.jobs) === ((1, 1)))
    assert(tally.rows === 50L)
    assert(rowsOf("once_tgt") === rowsOf("once_src"))
  }

  test("-po shapes the written partitions: coalesce down, repartition up") {
    for ((table, rows, in, out) <- Seq(("po_down", 100L, 4, 2), ("po_up", 60L, 1, 3))) {
      loadTarget(table)
      def input = spark.range(1, rows + 1, 1, in).select(col("id"), (col("id") * 1.5).as("v"))
      assert(input.rdd.getNumPartitions === in)
      val (tally, ran) = ranUnder(s"write-$table")(JdbcSink.write(input, plainSpec(table, out)))
      assert((ran.executions, ran.jobs, ran.resultTasks) === ((1, 1, out)), table)
      assert(tally.rows === rows)
      assert(rowsOf(table) === (1L to rows).map(i => (i, i * 1.5)))
    }
  }

  test("C16: replaying a diff leaves the target where one apply did") {
    seedSyncPair("replay_src", "replay_tgt")
    // keep the join's 4 shuffle partitions apart so the applied rows
    // spread over several tasks
    val coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(coalesce)
    spark.conf.set(coalesce, "false")
    try {
      // materialized: a replay applies the same rows, not a fresh diff
      // of the already-synced target
      val diffed = DiffSync.diff(readSide("replay_src"),
        readSide("replay_tgt"), Seq("id")).localCheckpoint()
      val applied = diffed.filter(col(DiffSync.FlagCol) =!= "identical")
      assert(applied.select(spark_partition_id()).distinct().count() >= 2)
      val flags = diffed.groupBy(DiffSync.FlagCol).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(flags === Map("new" -> 10L, "changed" -> 10L,
        "deleted" -> 10L, "identical" -> 180L))
      val target = DiffSync.SyncTarget(url, "replay_tgt", "", "",
        batchSize = 7, dialect = "generic")
      val report = DiffSync.applyToJdbc(diffed, Seq("id"), target)
      assert(report === DiffSync.SyncReport(
        flags("new"), flags("changed"), flags("deleted")))
      val once = rowsOf("replay_tgt")
      assert(once === rowsOf("replay_src"))
      // a retried partition re-applies its rows: upserts and deletes
      // are idempotent, and the report still counts each row once
      assert(DiffSync.applyToJdbc(diffed, Seq("id"), target) === report)
      assert(rowsOf("replay_tgt") === once)
    } finally prev match {
      case Some(v) => spark.conf.set(coalesce, v)
      case None => spark.conf.unset(coalesce)
    }
  }

  test("a partition re-run after a mid-write failure applies each row once") {
    // local mode does not retry tasks, so the partition writer runs
    // twice by hand: the first attempt's rows throw after two batches
    def failingAfter(rows: Seq[Row], n: Int): Iterator[Row] =
      rows.iterator.zipWithIndex.map { case (r, i) =>
        if (i == n) throw new IllegalStateException("injected") else r
      }
    import spark.implicits._
    // copy into a PK-less load target: commits once per partition, so
    // the failed attempt leaves nothing to duplicate
    withConn(_.createStatement().executeUpdate(
      "CREATE TABLE retry_copy (id BIGINT, v DOUBLE)"))
    val src = (1L to 25L).map(i => (i, i.toDouble)).toDF("id", "v")
    val conn = JdbcSink.Conn(url, "", "")
    val copy = JdbcSink.Plan(conn, batchSize = 5, ignoreErrors = false,
      flag = -1, insert = JdbcSink.target(conn, "retry_copy", src,
        src.columns.toSeq, truncate = false).insert(src.columns.toSeq))
    val rows = src.collect().toSeq
    intercept[IllegalStateException](
      JdbcSink.writePartition(copy, failingAfter(rows, 10)))
    assert(JdbcSink.writePartition(copy, rows.iterator).inserted === 25L)
    assert(rowsOf("retry_copy") === (1L to 25L).map(i => (i, i.toDouble)))
    // sync: commits per batch; the re-run replays the committed rows
    // (a `new` row as UPDATE-then-INSERT) and ends where one apply does
    seedSyncPair("retry_src", "retry_tgt")
    val diffed = DiffSync.diff(readSide("retry_src"), readSide("retry_tgt"),
      Seq("id"))
    // every batch mixes new, changed and deleted rows
    val applied = diffed.filter(col(DiffSync.FlagCol) =!= "identical")
      .collect().toSeq.sortBy(r => (r.getLong(0) % 3, r.getLong(0)))
    val sync = DiffSync.syncPlan(diffed, Seq("id"), DiffSync.SyncTarget(
      url, "retry_tgt", "", "", batchSize = 7, dialect = "generic"))
    intercept[IllegalStateException](
      JdbcSink.writePartition(sync, failingAfter(applied, 14)))
    assert(rowsOf("retry_tgt") !== rowsOf("retry_src"))
    val tally = JdbcSink.writePartition(sync, applied.iterator)
    assert((tally.inserted, tally.updated, tally.deleted, tally.rejected) ===
      ((10L, 10L, 10L, 0L)))
    assert(rowsOf("retry_tgt") === rowsOf("retry_src"))
  }

  test("plannedRead: LOB+int-PK table reads range-partitioned with -pi slices") {
    withConn { c =>
      c.createStatement().executeUpdate(
        "CREATE TABLE lob_t (id BIGINT NOT NULL PRIMARY KEY, payload VARCHAR(100))")
      val ps = c.prepareStatement("INSERT INTO lob_t VALUES (?, ?)")
      (1L to 200L).foreach { i =>
        ps.setLong(1, i); ps.setString(2, s"blob$i"); ps.executeUpdate()
      }
      ps.close()
    }
    import graft.catalog._
    import org.apache.spark.sql.types._
    val lobTable = TableDef("lob_t", "app",
      cols = Vector(
        ColumnDef("id", 1, SqlType("bigint"), "bigint", LongType, notNull = true),
        ColumnDef("payload", 2, SqlType("varbinary", isMax = true), "bytea",
          BinaryType)),
      constraints = Vector(PrimaryKey(Some("pk_lob"), Seq("id"))),
      hasLobs = true)
    val job = graft.convert.ConfFile.toJob(Map("pi" -> "4", "sd" -> "x"))
    val boundsOf = (_: TableDef, pk: String) => withConn { c =>
      val rs = c.createStatement()
        .executeQuery(s"SELECT MIN($pk), MAX($pk) FROM lob_t")
      rs.next(); Some((rs.getLong(1), rs.getLong(2)))
    }
    val spec = Tables.JdbcSpec(url, "lob_t", "", "")
    val df = MigrationRunner.plannedRead(spark, job, lobTable, boundsOf,
      specOverride = Some(spec))
    assert(df.rdd.getNumPartitions === 4, "expected -pi range partitions")
    assert(df.count() === 200L)
    // a PK-less table reads as one stream regardless of -pi
    val noPk = lobTable.copy(constraints = Vector.empty)
    val one = MigrationRunner.plannedRead(spark, job, noPk, boundsOf,
      specOverride = Some(spec))
    assert(one.rdd.getNumPartitions === 1)
  }

  test("P12: JdbcSink.write with ignoreErrors rejects only the bad row") {
    withConn(_.createStatement().executeUpdate(
      "CREATE TABLE err_t (id BIGINT NOT NULL PRIMARY KEY, v DOUBLE)"))
    withConn { c =>
      c.createStatement().executeUpdate(
        "INSERT INTO err_t VALUES (5, 5.0)") // pre-existing → dup key later
    }
    import spark.implicits._
    val df = Seq((1L, 1.0), (5L, 99.0), (6L, 6.0)).toDF("id", "v")
      .coalesce(1)
    val spec = JdbcSink.Spec(url, "err_t", "", "", numPartitions = 1,
      truncate = false, relaxDurability = false,
      rewriteBatchedInserts = false, batchSize = 10)
    val report = JdbcSink.write(df, spec.copy(ignoreErrors = true))
    assert(report.rejected === 1L) // only the duplicate key row
    assert(report.rows === 2L)
    val n = withConn { c =>
      val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM err_t")
      rs.next(); rs.getLong(1)
    }
    assert(n === 3L) // 1, 5(original), 6
  }
}
