package graft.operators

import java.sql.{Connection, DriverManager, PreparedStatement}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.StructType

/** C1/C6 + P3/P5/P12 + C16: the one JDBC partition writer. The copy
  * (TableOutput, sqlserver2pgsql.pl:3680–3727), its -ignore_errors mode
  * and the sync apply (SynchronizeAfterMerge, pl:4628–4660) all end in
  * batched per-row statements with a commit interval: [[write]] and
  * [[DiffSync.applyToJdbc]] plan them once on the driver, and
  * [[writePartition]] runs them on every partition.
  */
object JdbcSink {

  /** Sink options mirroring the reference's TableOutput tuning
    * (pl:3680–3715): write parallelism (-po), batched inserts, relaxed
    * durability (synchronous_commit=off), truncate-before-load (C1) and
    * -ignore_errors (P12: a row that fails alone is rejected, not fatal).
    */
  final case class Spec(url: String, table: String, user: String, password: String,
      numPartitions: Int = 8,      // -po (pl:166)
      batchSize: Int = 1000,
      truncate: Boolean = true,    // C1 truncate-then-load
      relaxDurability: Boolean = true, // P5 synchronous_commit=off
      rewriteBatchedInserts: Boolean = true,
      ignoreErrors: Boolean = false)

  /** Sink spec from the conf/CLI surface: target endpoint, -po write
    * parallelism, -ignore_errors (pl:3680–3727).
    */
  def specFromJob(job: graft.convert.ConfFile.Job, table: String): Spec =
    Spec(job.postgresUrl.getOrElse(sys.error(
        "postgresql connection not configured (-pd/-ph/...)")),
      table, job.postgres.getOrElse("pu", ""), job.postgres.getOrElse("pw", ""),
      numPartitions = job.config.parallelismOut,
      ignoreErrors = job.config.ignoreErrors)

  /** URL, credentials, the session's first statement; the writer commits. */
  final case class Conn(url: String, user: String, password: String,
      init: Option[String] = None) {
    def open(): Connection = {
      val c = DriverManager.getConnection(url, user, password)
      init.foreach { sql => val st = c.createStatement(); try st.execute(sql) finally st.close() }
      c.setAutoCommit(false); c
    }
  }

  /** PostgreSQL gets `reWriteBatchedInserts=true` and, under
    * `relaxDurability`, `SET synchronous_commit TO off`; other URLs as given. */
  def connOf(spec: Spec): Conn = {
    val pg = spec.url.startsWith("jdbc:postgresql")
    val url =
      if (!pg || !spec.rewriteBatchedInserts) spec.url
      else spec.url + (if (spec.url.contains("?")) "&" else "?") + "reWriteBatchedInserts=true"
    Conn(url, spec.user, spec.password,
      Some("SET synchronous_commit TO off").filter(_ => pg && spec.relaxDurability))
  }

  /** SQL and, per `?`, the row field it binds and the target column's
    * JDBC type (for a typed NULL). */
  final case class Stmt(sql: String, fields: Array[Int], types: Array[Int])

  /** A write, planned on the driver. `insert` takes copy rows and sync
    * `new` rows (the PostgreSQL dialect's upsert also takes `changed`);
    * `update` is the generic dialect's `changed`; `delete` binds the PK;
    * `flag` is the sync flag's field, -1 for a copy.
    *
    * Commits follow from the operation. Sync statements are idempotent
    * on replay: sync commits per batch (pl:3693). A copy INSERT is not:
    * a copy commits once at partition end, so a retried task cannot
    * duplicate rows in a PK-less target; under `ignoreErrors` it commits
    * per batch, so a failed batch rolls back alone. */
  final case class Plan(conn: Conn, batchSize: Int, ignoreErrors: Boolean,
      flag: Int, insert: Stmt, update: Option[Stmt] = None,
      delete: Option[Stmt] = None) {
    def perBatch: Boolean = flag >= 0 || ignoreErrors
    /** 0 inserted (a copy row or `new`), 1 updated, 2 deleted. */
    def kind(r: Row): Int =
      if (flag < 0) 0
      else r.getString(flag) match { case "new" => 0; case "deleted" => 2; case _ => 1 }
  }

  /** What a write did; `rows` is a copy's row count. */
  final case class Tally(inserted: Long = 0, updated: Long = 0,
      deleted: Long = 0, rejected: Long = 0, batches: Long = 0, ms: Long = 0) {
    def rows: Long = inserted + updated + deleted
    def +(o: Tally): Tally = Tally(inserted + o.inserted, updated + o.updated,
      deleted + o.deleted, rejected + o.rejected, batches + o.batches, ms + o.ms)
  }

  /** A target table as one write sees it: each DataFrame column's
    * dialect-quoted target name and JDBC type. */
  final class Target(table: String, schema: StructType, cols: Map[String, (String, Int)]) {
    def q(cs: Seq[String]): Seq[String] = cs.map(cols(_)._1)
    def stmt(sql: String, binds: Seq[String]): Stmt = Stmt(sql,
      binds.map(schema.fieldIndex).toArray, binds.map(cols(_)._2).toArray)
    def insert(cs: Seq[String]): Stmt = stmt(s"INSERT INTO $table " +
      s"(${q(cs).mkString(", ")}) VALUES (${cs.map(_ => "?").mkString(", ")})", cs)
  }

  /** Resolves `cols` of `df` against the target's columns with one
    * metadata query, case-insensitively as Spark's writer does (an exact
    * match wins), after the dialect's TRUNCATE when `truncate`. */
  private[operators] def target(conn: Conn, table: String, df: DataFrame, cols: Seq[String],
      truncate: Boolean): Target = {
    val dialect = JdbcDialects.get(conn.url)
    val c = conn.open()
    val found = try {
      val st = c.createStatement()
      if (truncate) st.executeUpdate(dialect.getTruncateQuery(table))
      val md = st.executeQuery(dialect.getSchemaQuery(table)).getMetaData
      c.commit()
      (1 to md.getColumnCount).map(i => md.getColumnName(i) -> md.getColumnType(i))
    } finally c.close()
    new Target(table, df.schema, cols.map { n =>
      val (name, tpe) = found.find(_._1 == n).orElse(found.find(_._1.equalsIgnoreCase(n)))
        .getOrElse(throw new IllegalArgumentException(
          s"column $n not in $table (${found.map(_._1).mkString(", ")})"))
      n -> (dialect.quoteIdentifier(name), tpe)
    }.toMap)
  }

  /** Runs [[writePartition]] on every partition of `df`, shaped to
    * `numPartitions` when given (coalesce down without a shuffle,
    * repartition up), else in `df`'s own stages, and sums the
    * partitions' tallies. The whole write is one SQL execution holding
    * one job on `df`'s executed plan: no second execution to learn the
    * partition count, and an `Observation` on `df` completes with it.
    * Spark keeps one result per partition, so a retried task counts
    * once. */
  private[operators] def run(df: DataFrame, plan: Plan,
      numPartitions: Option[Int] = None): Tally = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("jdbc.write")) {
      val toRow = CatalystTypeConverters.createToScalaConverter(df.schema)
      val rows = qe.toRdd.mapPartitions(_.map(toRow(_).asInstanceOf[Row]))
      val shaped = numPartitions.fold(rows) { n =>
        val have = rows.getNumPartitions
        if (have > n) rows.coalesce(n) else if (have < n) rows.repartition(n) else rows
      }
      // the TaskContext overload: the Iterator-only one wraps the writer
      // in a closure of SparkContext's, whose class ClosureCleaner reads
      df.sparkSession.sparkContext.runJob(shaped,
        (_: TaskContext, it: Iterator[Row]) => writePartition(plan, it))
        .foldLeft(Tally())(_ + _)
    }
  }

  /** The copy (C1) into an existing table: the dialect's TRUNCATE on the
    * driver when `truncate`, then the partition writer on `-po`
    * partitions. */
  def write(df: DataFrame, spec: Spec): Tally = {
    val conn = connOf(spec)
    val tgt = target(conn, spec.table, df, df.columns.toSeq, spec.truncate)
    run(df, Plan(conn, spec.batchSize, spec.ignoreErrors, flag = -1,
      insert = tgt.insert(df.columns.toSeq)), Some(spec.numPartitions))
  }

  /** The batch-then-row core (P12). A failed batch (rolled back by
    * `executeBatch`) replays row by row when `replay`, else fails the
    * write; a row that still fails is rejected under `ignoreErrors`, else
    * fails the write. The reference drops batching under -ignore_errors
    * (pl:1031–1035); here only a failed batch degrades to rows. */
  def writeIgnoringErrors[T](rows: Iterator[T], batchSize: Int,
      replay: Boolean = true, ignoreErrors: Boolean = true)(
      executeBatch: Seq[T] => Unit)(executeOne: T => Unit): Long = {
    var rejected = 0L
    rows.grouped(batchSize).foreach { batch =>
      try executeBatch(batch)
      catch { case _: Exception if replay => batch.foreach { row =>
        try executeOne(row) catch { case _: Exception if ignoreErrors => rejected += 1 }
      } }
    }
    rejected
  }

  /** A prepared [[Stmt]]; a NULL binds with the target column's type. */
  private final class Prepared(val ps: PreparedStatement, s: Stmt) {
    def bind(r: Row): Unit = {
      var i = 0
      while (i < s.fields.length) {
        r.get(s.fields(i)) match {
          case null => ps.setNull(i + 1, s.types(i))
          case v: java.time.Instant => ps.setTimestamp(i + 1, java.sql.Timestamp.from(v))
          case v: java.time.LocalDateTime => ps.setTimestamp(i + 1, java.sql.Timestamp.valueOf(v))
          case v: java.time.LocalDate => ps.setDate(i + 1, java.sql.Date.valueOf(v))
          case v => ps.setObject(i + 1, v)
        }
        i += 1
      }
    }
    def batch(rs: Seq[Row]): Array[Int] =
      if (rs.isEmpty) Array.empty
      else { rs.foreach { r => bind(r); ps.addBatch() }; ps.executeBatch() }
    def one(r: Row): Int = { bind(r); ps.executeUpdate() }
  }

  /** Writes one partition, connecting on its first row. Per batch:
    * UPDATE the `changed` rows, INSERT the `new` ones plus each update
    * that matched no row (SUCCESS_NO_INFO counts as matched), DELETE the
    * `deleted` ones. A replayed sync row runs UPDATE-then-INSERT, so rows
    * an earlier attempt committed apply again harmlessly. */
  def writePartition(plan: Plan, rows: Iterator[Row]): Tally = {
    if (!rows.hasNext) return Tally()
    val t0 = System.nanoTime()
    val c = plan.conn.open()
    try { // closing the connection closes its statements
      def prep(s: Stmt) = new Prepared(c.prepareStatement(s.sql), s)
      val (ins, upd, del) = (prep(plan.insert), plan.update.map(prep), plan.delete.map(prep))
      val n = new Array[Long](3)
      var batches = 0L
      val rejected = writeIgnoringErrors(rows, plan.batchSize,
          replay = plan.perBatch, ignoreErrors = plan.ignoreErrors) { rs =>
        try {
          val of = rs.groupBy(plan.kind).withDefaultValue(Nil)
          val missing = upd.fold(of(1))(u => of(1).zip(u.batch(of(1))).collect { case (r, 0) => r })
          ins.batch(of(0) ++ missing)
          del.foreach(_.batch(of(2)))
          if (plan.perBatch) c.commit()
          of.foreach { case (k, g) => n(k) += g.size }
          batches += 1
        } catch { case e: Throwable =>
          // a failed batch may have partially applied: clear the queued
          // statements and roll back, else the replay doubles rows
          (Seq(ins) ++ upd ++ del).foreach(_.ps.clearBatch())
          c.rollback(); throw e
        }
      } { r =>
        try {
          val k = plan.kind(r)
          if (k == 2) del.foreach(_.one(r))
          else if (upd.forall(_.one(r) == 0)) ins.one(r)
          c.commit()
          n(k) += 1
        } catch { case e: Throwable => c.rollback(); throw e }
      }
      c.commit()
      Tally(n(0), n(1), n(2), rejected, batches, (System.nanoTime() - t0) / 1000000)
    } finally {
      // an uncommitted partition (a failed copy) leaves nothing behind
      try c.rollback() catch { case _: java.sql.SQLException => }
      c.close()
    }
  }
}
