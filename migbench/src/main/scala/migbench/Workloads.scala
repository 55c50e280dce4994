package migbench

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import graft.catalog._
import graft.convert.{ConfFile, Config, ExprRewriter, TypeMapper}
import graft.emit.{KettleEmitter, PgDdlEmitter}
import graft.operators.{DiffSync, JdbcSink, MigrationRunner}
import graft.parser.{LineCleaner, TsqlParser}
import graft.sources.Tables
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One timed operation: its latency, the items and rows it completed, and
  * whether its call threw or its output check failed. */
final case class OpRec(latencyS: Double, items: Int, rows: Long, failed: Boolean)

/** One closed-loop round over a workload's inputs. `timedS` is the wall
  * time the operations took, excluding untimed checks and set-up. */
final case class Round(ops: Seq[OpRec], timedS: Double)

/** Shared run context. `k` is the core count every cap is derived from.
  * `session` is empty for schema_convert, which runs no Spark. */
final case class Ctx(session: Option[SparkSession], k: Int, seed: Long,
    tr: Tracer, failures: ArrayBuffer[String]) {
  def spark: SparkSession = session.getOrElse(sys.error("workload needs Spark"))
}

trait Workload {
  /** Warm-up floor in rounds (see `Main.warmUp`). */
  def warmUpRounds: Int
  /** Generate inputs and load the stand-ins; may be called repeatedly,
    * each call replacing the previous state. */
  def prepare(): Unit
  def round(traced: Boolean): Round
  /** Traced probes that run after a traced round, outside op timings. */
  def probe(): Unit = ()
  def close(): Unit = ()
  /** Workload-specific per-layer values computed at the end of a trace. */
  def layers(l: EngineListener): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "schema_convert" => new SchemaConvert(ctx)
    case "bulk_copy" => new BulkCopy(ctx)
    case "sync_low_churn" => new Sync(ctx, "low", tables = 8, rows = 1500,
      newFrac = 0.003, changedFrac = 0.004, deletedFrac = 0.003)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def fail(ctx: Ctx, msg: String): Boolean = {
    ctx.failures.synchronized { if (ctx.failures.size < 20) ctx.failures += msg }
    true
  }

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** The front half: decode, parse, emit PostgreSQL DDL and Kettle files. */
object FrontHalf {
  val conf: Config = Config()

  final case class Out(cat: Catalog, ddl: PgDdlEmitter.Output,
      kettle: Map[String, String], lines: Int)

  def convert(bytes: Array[Byte], tr: Tracer): Out = {
    val lines = tr.span("parser.decode") {
      LineCleaner.decode(bytes).split("\n", -1).toVector
    }
    val cat = tr.span("parser.parse")(new TsqlParser(conf).parse(lines))
    val ddl = tr.span("emit.pg")(new PgDdlEmitter(conf).emit(cat))
    val kettle = tr.span("emit.kettle")(new KettleEmitter(conf).emit(cat, "kettle"))
    tr.add("parser.lines", lines.size.toDouble)
    tr.add("parser.warnings", cat.warnings.size.toDouble)
    tr.add("emit.bytes_out", (ddl.before.length + ddl.after.length +
      ddl.unsure.length + ddl.colMap.length + kettle.valuesIterator.map(_.length).sum).toDouble)
    Out(cat, ddl, kettle, lines.size)
  }

  /** Time the conversion layer on its own: `TypeMapper.convert` over every
    * parsed column and `ExprRewriter` over the dump's raw T-SQL
    * expressions (the parser calls both internally). */
  def traceConvert(d: Gen.Dump, cat: Catalog, tr: Tracer): Unit = {
    val domains = cat.schemas.values.flatMap(_.domains).map {
      case (n, t) => n.toLowerCase -> t }.toMap
    val types = cat.allTables.flatMap(_._2.cols.map(_.sqlType)).toArray
    val t0 = System.nanoTime()
    var i = 0
    while (i < types.length) { TypeMapper.convert(types(i), conf, domains); i += 1 }
    val typeNs = (System.nanoTime() - t0).toDouble
    val exprs = d.tables.flatMap(t => t.checks.map(_._2) ++
      t.cols.flatMap(_.computed) ++ t.indexes.flatMap(_.where))
    val t1 = System.nanoTime()
    exprs.foreach(e => ExprRewriter.rewrite(e, ExprRewriter.Pg, identity))
    d.views.foreach(v => ExprRewriter.rewriteViewBody(v.body, ExprRewriter.Pg,
      identity, "public"))
    val exprNs = (System.nanoTime() - t1).toDouble
    tr.add("convert.type_map_ns", typeNs); tr.add("convert.type_map_cols", types.length)
    tr.add("convert.expr_ns", exprNs); tr.add("convert.exprs", (exprs.size + d.views.size).toDouble)
  }

  /** Compare a converted dump with its manifest. Returns the first
    * mismatch, or None. */
  def check(d: Gen.Dump, o: Out): Option[String] =
    try { verify(d, o); None } catch { case Mismatch(m) => Some(m) }

  private final case class Mismatch(msg: String) extends Exception(msg)

  private def verify(d: Gen.Dump, o: Out): Unit = {
    val cat = o.cat
    def fail(m: String): Nothing = throw Mismatch(m)
    if (cat.allTables.size != d.tables.size)
      fail(s"tables ${cat.allTables.size} != ${d.tables.size}")
    d.tables.foreach { t =>
      val ct = cat.table(t.pgSchema, t.name).getOrElse(fail(s"missing table ${t.name}"))
      val names = ct.cols.sortBy(_.pos).map(_.name)
      if (names != t.cols.map(_.name)) fail(s"${t.name} columns $names")
      if (ct.pk.map(_.cols) != t.pk.map(_._2)) fail(s"${t.name} pk ${ct.pk}")
      val fks = ct.constraints.collect { case f: ForeignKey => f }
      if (fks.map(f => (f.remoteSchema, f.remoteTable)) !=
          t.fks.map(f => (if (f.refSchema == "dbo") "public" else f.refSchema, f.refTable)))
        fail(s"${t.name} fks $fks")
      if (ct.constraints.count(_.isInstanceOf[Check]) != t.checks.size)
        fail(s"${t.name} checks")
      if (ct.constraints.count(_.isInstanceOf[Unique]) != t.uq.size)
        fail(s"${t.name} uniques")
      if (ct.indexes.keySet != t.indexes.map(_.name).toSet) fail(s"${t.name} indexes")
      if (ct.indexes.values.count(_.where.isDefined) != t.indexes.count(_.where.isDefined))
        fail(s"${t.name} filtered indexes")
      if (ct.comment.isDefined != t.comment.isDefined) fail(s"${t.name} comment")
      val qn = s"${t.pgSchema}.${t.name}"
      if (!o.ddl.before.contains(s"CREATE TABLE $qn (")) fail(s"no CREATE for $qn")
      t.pk.foreach { case (n, _) =>
        if (!o.ddl.after.contains(s"ALTER TABLE $qn ADD CONSTRAINT $n PRIMARY KEY"))
          fail(s"no PK $n in after") }
      t.fks.foreach { f =>
        if (!o.ddl.after.contains(s"ALTER TABLE $qn ADD CONSTRAINT ${f.name} FOREIGN KEY"))
          fail(s"no FK ${f.name} in after") }
      t.checks.foreach { case (n, _) =>
        if (!o.ddl.unsure.contains(s"ALTER TABLE $qn ADD CONSTRAINT $n CHECK"))
          fail(s"no CHECK $n in unsure") }
      if (!o.kettle.contains(s"${t.pgSchema}-${t.name}.ktr")) fail(s"no ktr for $qn")
      if (t.pk.isDefined != o.kettle.contains(s"incremental-${t.pgSchema}-${t.name}.ktr"))
        fail(s"incremental ktr for $qn")
    }
    d.views.foreach { v =>
      if (!cat.schema(v.pgSchema).views.contains(v.name)) fail(s"missing view ${v.name}")
      if (!o.ddl.unsure.contains(s"CREATE VIEW ${v.pgSchema}.${v.name}"))
        fail(s"no view ${v.name} in unsure")
    }
    d.expectedSequences.foreach { case (s, n) =>
      if (!cat.schema(s).sequences.contains(n)) fail(s"missing sequence $n") }
    d.domains.foreach { n =>
      if (!cat.schema("public").domains.contains(n)) fail(s"missing domain $n") }
    if (cat.warnings.size != d.expectedWarnings)
      fail(s"warnings ${cat.warnings.size} != ${d.expectedWarnings}")
    if (!o.kettle.contains("migration.kjb") || !o.kettle.contains("incremental.kjb"))
      fail("missing kettle jobs")
    if (o.kettle.size != d.tables.size + d.tables.count(_.pk.isDefined) + 2)
      fail(s"kettle files ${o.kettle.size}")
  }
}

/** schema_convert: one op converts one generated dump end to end. */
final class SchemaConvert(ctx: Ctx) extends Workload {
  /** Three cycles of the table-count schedule. */
  val poolSize: Int = 3 * Gen.dumpTableCounts.size
  private var dumps: Vector[Gen.Dump] = Vector.empty
  /** Closed-loop runner threads, one conversion in flight on each. */
  val runners: Int = ctx.k
  /** 16 rounds: about 380 dumps. */
  val warmUpRounds = 16

  /** The pool, largest dumps first, so the round's tail is short. */
  def prepare(): Unit = dumps = Vector.tabulate(poolSize)(Gen.richDump(ctx.seed, _))
    .sortBy(-_.lines)

  /** Convert every dump on `runners` threads (timed), then check every
    * output against its manifest (untimed). */
  def round(traced: Boolean): Round = {
    val queue = new java.util.concurrent.ConcurrentLinkedQueue(dumps.indices.map(Integer.valueOf).asJava)
    val outs = new Array[Either[String, FrontHalf.Out]](dumps.size)
    val lat = new Array[Double](dumps.size)
    val (_, wall) = Workload.timed {
      val threads = (1 to runners).map { _ =>
        val th = new Thread(() => {
          var i = queue.poll()
          while (i != null) {
            val t0 = System.nanoTime()
            outs(i) = try Right(FrontHalf.convert(dumps(i).bytes, ctx.tr))
              catch { case e: Exception => Left(e.toString) }
            lat(i) = (System.nanoTime() - t0) / 1e9
            i = queue.poll()
          }
        }, "migbench-convert")
        th.setDaemon(true); th.start(); th
      }
      threads.foreach(_.join())
    }
    val ops = dumps.indices.map { i =>
      val d = dumps(i)
      val failed = outs(i) match {
        case Left(err) => Workload.fail(ctx, s"schema_convert: $err")
        case Right(o) => FrontHalf.check(d, o).exists(m => Workload.fail(ctx, s"schema_convert: $m"))
      }
      if (traced) outs(i).foreach(o => FrontHalf.traceConvert(d, o.cat, ctx.tr))
      OpRec(lat(i), if (failed) 0 else d.tables.size, if (failed) 0L else d.lines.toLong, failed)
    }
    Round(ops, wall)
  }
}

/** Shared Derby set-up for the Spark workloads. */
abstract class DerbyWorkload(ctx: Ctx, prefix: String) extends Workload {
  val srcDb = s"${prefix}_src"
  val tgtDb = s"${prefix}_tgt"
  def srcUrl: String = Derby.url(srcDb)
  def tgtUrl: String = Derby.url(tgtDb)
  var cat: Catalog = Catalog()
  protected var opNo = 0

  /** Recreate both databases and parse the tables' dump, as a migration
    * would before copying. */
  protected def resetDatabases(dump: Gen.Dump): Unit = {
    Seq(srcDb, tgtDb).foreach { db => Derby.drop(db); Derby.create(db) }
    cat = FrontHalf.convert(dump.bytes, ctx.tr).cat
    if (ctx.tr.on) FrontHalf.traceConvert(dump, cat, ctx.tr)
  }

  protected def withGroup[A](group: String)(f: => A): A = {
    val sc = ctx.spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try f finally sc.clearJobGroup()
  }

  /** Frames the session's cache manager still holds after an op. */
  protected def cachedEntries(): Int = {
    val cm = ctx.spark.sharedState.cacheManager
    try {
      val f = cm.getClass.getDeclaredField("cachedData")
      f.setAccessible(true)
      f.get(cm).asInstanceOf[scala.collection.Seq[_]].size
    } catch { case _: ReflectiveOperationException => if (cm.isEmpty) 0 else 1 }
  }

  protected def noopWrite(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  override def close(): Unit = Seq(srcDb, tgtDb).foreach(Derby.drop)
}

/** bulk_copy: one op copies one table through `MigrationRunner.runAll`. */
final class BulkCopy(ctx: Ctx) extends DerbyWorkload(ctx, "copy") {
  val nTables = 40
  /** 7 rounds: 280 table copies. */
  val warmUpRounds = 7
  /** Tables in flight in `runAll`. With one sink connection per table
    * plus the writer's driver-side connection, 2 tables keep each
    * database at or below `k` open connections. */
  val parallelism: Int = math.max(1, math.min(2, ctx.k / 2))
  private val job = ConfFile.toJob(Map("pi" -> math.min(2, ctx.k).toString, "po" -> "1"))
  private[migbench] var tables: Vector[Gen.DataTable] = Vector.empty
  private var expected: Map[String, (Long, Long)] = Map.empty
  private val dtoFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSXXX").withZone(java.time.ZoneOffset.UTC)
  private val dt2Fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  def prepare(): Unit = {
    tables = Gen.copyTables(ctx.seed, nTables)
    resetDatabases(Gen.dataDump(tables, 100))
    expected = tables.zipWithIndex.map { case (t, ti) =>
      val cols = t.cols.map(c => Derby.q(c.name))
      Derby.withConn(srcDb) { c =>
        Derby.exec(c, s"CREATE TABLE ${Derby.q(t.name)} (" + t.cols.map(col =>
          s"${Derby.q(col.name)} ${col.kind.derbySrc}" +
            (if (col.name == "id") " NOT NULL PRIMARY KEY" else "")).mkString(", ") + ")")
      }
      Derby.withConn(tgtDb) { c =>
        Derby.exec(c, s"CREATE TABLE ${Derby.q(t.name)} (" + t.cols.map(col =>
          s"${Derby.q(col.name)} ${col.kind.derbyCopyTgt}").mkString(", ") + ")")
      }
      val r = Gen.rng(ctx.seed, 10000L + ti)
      var sum = 0L
      val rows = Iterator.tabulate(t.rows) { i =>
        val row = t.cols.map(c =>
          if (c.name == "id") Integer.valueOf(i + 1) else Gen.value(r, c.kind, i + 1)).toArray
        sum += Derby.rowHash(t.cols.indices.map(j => expectedText(t.cols(j).kind, row(j))).toArray)
        row
      }
      Derby.withConn(srcDb)(c => Derby.insertRows(c, Derby.q(t.name), cols, rows))
      t.name -> (t.rows.toLong, sum)
    }.toMap
  }

  /** What the target must hold for a source value: the copy plan's
    * read-side rewrites (uuid lower-cased, timestamps as text) and the NUL
    * scrub, as JDBC reads it back. */
  private def expectedText(k: Gen.Kind, v: AnyRef): String = (k, v) match {
    case (_, null) => null
    case (Gen.KUuid, s: String) => s.toLowerCase
    case (Gen.KDto, ts: java.sql.Timestamp) => dtoFmt.format(ts.toInstant)
    case (Gen.KDt2, ts: java.sql.Timestamp) => dt2Fmt.format(ts.toInstant)
    case (_, s: String) => s.replace("\u0000", "")
    case (_, d: java.math.BigDecimal) => d.toPlainString
    case (_, o) => o.toString
  }

  private def boundsOf(t: TableDef, pk: String): Option[(Long, Long)] =
    Derby.withConn(srcDb) { c =>
      val st = c.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT MIN(${Derby.q(pk)}), MAX(${Derby.q(pk)}) FROM ${Derby.q(t.name)}")
        rs.next()
        if (rs.getObject(1) == null) None else Some(rs.getLong(1) -> rs.getLong(2))
      } finally st.close()
    }

  private def read(t: TableDef): DataFrame =
    MigrationRunner.plannedRead(ctx.spark, job, t, boundsOf,
      Some(Tables.JdbcSpec(srcUrl, Derby.q(t.name), "", "")))

  private def sinkSpec(t: TableDef) = JdbcSink.Spec(tgtUrl, Derby.q(t.name), "", "",
    numPartitions = 1, truncate = true, relaxDurability = false,
    rewriteBatchedInserts = false)

  def round(traced: Boolean): Round = {
    opNo += 1
    val start = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val readEnd = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val end = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val readFn = (_: String, t: TableDef) => {
      start.put(t.name, System.nanoTime())
      val df = ctx.tr.span("sources.resolve")(read(t))
      readEnd.put(t.name, System.nanoTime())
      Some(df)
    }
    val sinkFn = (_: String, t: TableDef, df: DataFrame) => {
      val s0 = System.nanoTime()
      ctx.tr.add("copy.plan", (s0 - readEnd.get(t.name)) / 1e6)
      ctx.tr.span("copy.sink")(JdbcSink.write(df, sinkSpec(t)))
      end.put(t.name, System.nanoTime())
      expected(t.name)._1
    }
    val (results, wall) = withGroup(s"migbench-op-c$opNo") {
      Workload.timed(MigrationRunner.runAll(ctx.spark, cat, readFn, sinkFn, parallelism))
    }
    val ops = results.map { r =>
      val lat = Option(end.get(r.table)).map(e => (e - start.get(r.table)) / 1e9).getOrElse(r.seconds)
      val failed = r.error match {
        case Some(e) => Workload.fail(ctx, s"bulk_copy ${r.table}: $e")
        case None => checkTarget(r.table).exists(m => Workload.fail(ctx, s"bulk_copy ${r.table}: $m"))
      }
      OpRec(lat, if (failed) 0 else 1, if (failed) 0L else expected(r.table)._1, failed)
    }
    if (traced) {
      ctx.tr.add("copy.inflight", ops.map(_.latencyS).sum / wall)
      ctx.tr.add("cachepool.entries", cachedEntries().toDouble)
    }
    Round(ops, wall)
  }

  private def checkTarget(table: String): Option[String] = {
    val t = tables.find(_.name == table).get
    val got = Derby.withConn(tgtDb)(c => Derby.digest(c, Derby.q(table), t.cols.map(x => Derby.q(x.name))))
    if (got != expected(table)) Some(s"target (rows, digest) $got != ${expected(table)}") else None
  }

  /** The same copy plans written to a `noop` sink through `runAll` at the
    * same parallelism, so the target's share of the sink time shows; then
    * each table's scan alone. */
  override def probe(): Unit = withGroup("migbench-probe") {
    MigrationRunner.runAll(ctx.spark, cat, (_, t) => Some(read(t)),
      (_, _, df) => { ctx.tr.span("copy.noop_sink")(noopWrite(df)); 0L }, parallelism)
    cat.allTables.foreach { case (_, t) =>
      val raw = read(t)
      ctx.tr.add("sources.read_partitions", raw.rdd.getNumPartitions.toDouble)
      ctx.tr.span("sources.scan")(noopWrite(raw))
    }
  }

  override def layers(l: EngineListener): Map[String, Double] = {
    val tablesCopied = ctx.tr.count("copy.sink").toDouble
    val per = (x: Long) => if (tablesCopied == 0) 0.0 else x / tablesCopied
    val sink = ctx.tr.mean("copy.sink")
    Map(
      "sources.rows_read" -> per(l.sum(_.recordsRead)),
      "copy.jobs_per_table" -> per(l.sum(_.jobs)),
      "copy.tasks_per_table" -> per(l.sum(_.tasks)),
      "copy.target_share" -> (if (sink == 0) 0.0 else 1.0 - ctx.tr.mean("copy.noop_sink") / sink))
  }
}

/** Sync workloads: one op is one sync pass over one table. The change set
  * is planted into the source before the op, outside its timing. */
final class Sync(ctx: Ctx, label: String, tables: Int, rows: Int,
    newFrac: Double, changedFrac: Double, deletedFrac: Double)
    extends DerbyWorkload(ctx, s"sync_$label") {
  private final class State(val t: Gen.DataTable) {
    val ids = ArrayBuffer.tabulate(rows)(_ + 1)
    var nextId: Int = rows + 1
    val rng = Gen.rng(ctx.seed, 20000L + t.name.hashCode)
  }
  private var states: Vector[State] = Vector.empty
  private val cols = Seq("ID", "NAME", "QTY", "PRICE", "UPDATED", "NOTE")
  val nNew: Int = math.max(1, math.round(rows * newFrac).toInt)
  val nChanged: Int = math.max(1, math.round(rows * changedFrac).toInt)
  val nDeleted: Int = math.max(1, math.round(rows * deletedFrac).toInt)
  /** Closed-loop runner threads, one sync pass in flight on each. */
  val runners: Int = math.max(1, math.min(2, ctx.k / 2))
  /** One read partition per side: with the session's `k / 2` shuffle
    * partitions, `runners` passes keep each database at or below `k`
    * open connections. */
  val readPartitions: Int = 1
  /** 22 rounds: 176 sync passes. */
  val warmUpRounds = 22

  def prepare(): Unit = {
    val ts = Gen.syncTables(ctx.seed, tables, rows)
    resetDatabases(Gen.dataDump(ts, 200))
    states = ts.map(new State(_))
    states.foreach { s =>
      val ddl = s"CREATE TABLE ${s.t.name} (ID INT NOT NULL PRIMARY KEY, " +
        "NAME VARCHAR(40), QTY INT, PRICE DECIMAL(12,2), UPDATED TIMESTAMP, " +
        "NOTE VARCHAR(200))"
      val data = (1 to rows).map(id => row(s.rng, id, None)).toVector
      Seq(srcDb, tgtDb).foreach(db => Derby.withConn(db) { c =>
        Derby.exec(c, ddl)
        Derby.insertRows(c, s.t.name, cols, data.iterator)
      })
    }
  }

  private def row(r: java.util.SplittableRandom, id: Int, tag: Option[String]): Array[AnyRef] =
    Array(Integer.valueOf(id), tag.getOrElse("") + Gen.value(r, Gen.KCode, id),
      Gen.value(r, Gen.KInt, id), Gen.value(r, Gen.KDec, id),
      Gen.value(r, Gen.KDt2, id), Gen.value(r, Gen.KNote, id))

  /** Plant an exact change set into the source: `nNew` inserts with fresh
    * keys, `nChanged` updates whose name is tagged with the op number (so
    * the row always differs), `nDeleted` deletes. Returns the flag counts
    * `DiffSync.diff` must report. */
  private def plant(s: State): Map[String, Long] = {
    val before = s.ids.size
    val picks = pick(s.rng, before, nChanged + nDeleted)
    val changed = picks.take(nChanged).map(s.ids)
    val deleted = picks.drop(nChanged).map(s.ids)
    val fresh = Vector.fill(nNew) { val id = s.nextId; s.nextId += 1; id }
    Derby.withConn(srcDb) { c =>
      c.setAutoCommit(false)
      val del = c.prepareStatement(s"DELETE FROM ${s.t.name} WHERE ID = ?")
      deleted.foreach { id => del.setInt(1, id); del.addBatch() }
      del.executeBatch(); del.close()
      val upd = c.prepareStatement(s"UPDATE ${s.t.name} SET NAME = ?, PRICE = ?, NOTE = ? WHERE ID = ?")
      changed.foreach { id =>
        val r = row(s.rng, id, Some(s"u$opNo-"))
        upd.setObject(1, r(1)); upd.setObject(2, r(3)); upd.setObject(3, r(5)); upd.setInt(4, id)
        upd.addBatch()
      }
      upd.executeBatch(); upd.close()
      c.commit()
      Derby.insertRows(c, s.t.name, cols, fresh.iterator.map(id => row(s.rng, id, None)))
    }
    val deletedSet = deleted.toSet
    s.ids.filterInPlace(id => !deletedSet.contains(id))
    s.ids ++= fresh
    Map("new" -> nNew.toLong, "changed" -> nChanged.toLong,
      "deleted" -> nDeleted.toLong, "identical" -> (before - nChanged - nDeleted).toLong)
  }

  /** `n` distinct positions below `size`. */
  private def pick(r: java.util.SplittableRandom, size: Int, n: Int): Vector[Int] = {
    val seen = scala.collection.mutable.LinkedHashSet[Int]()
    while (seen.size < n) seen += r.nextInt(size)
    seen.toVector
  }

  private def readSide(url: String, s: State): DataFrame =
    Tables.jdbc(ctx.spark, Tables.JdbcSpec(url, s.t.name, "", "",
      partitionColumn = Some("ID"), numPartitions = readPartitions,
      lowerBound = Some(1L), upperBound = Some(s.nextId.toLong)))

  private val flags = Seq("new", "changed", "deleted", "identical")

  /** Plant every table's change set (untimed), run the sync passes on
    * `runners` closed-loop threads (timed), then check every pass. */
  def round(traced: Boolean): Round = {
    val planned = states.map { s => opNo += 1; (s, opNo, plant(s), Observation(s"flags_$opNo")) }
    val queue = new java.util.concurrent.ConcurrentLinkedQueue(planned.asJava)
    val lat = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Double]()
    val errs = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val (_, wall) = Workload.timed {
      val threads = (1 to runners).map { _ =>
        val th = new Thread(() => {
          var p = queue.poll()
          while (p != null) {
            val (s, n, _, obs) = p
            val t0 = System.nanoTime()
            try syncPass(s, n, obs)
            catch { case e: Exception => errs.put(n, e.toString) }
            lat.put(n, (System.nanoTime() - t0) / 1e9)
            p = queue.poll()
          }
        }, "migbench-sync")
        th.setDaemon(true); th.start(); th
      }
      threads.foreach(_.join())
    }
    val ops = planned.map { case (s, n, planted, obs) =>
      // a pass that threw may never have run the diff, and then its
      // observation would never complete
      val observed = if (errs.containsKey(n)) None else Some(flagCounts(obs))
      if (traced) observed.foreach(_.foreach { case (f, v) => ctx.tr.add(s"sync.flag_$f", v.toDouble) })
      val failed = Option(errs.get(n)).orElse(check(s, observed.get, planted)) match {
        case Some(m) =>
          Workload.fail(ctx, s"$label ${s.t.name}: $m")
          resync(s)
          true
        case None => false
      }
      if (traced) ctx.tr.add("cachepool.entries", cachedEntries().toDouble)
      OpRec(lat.get(n), if (failed) 0 else 1,
        if (failed) 0L else planted.values.sum - planted("deleted"), failed)
    }
    Round(ops, wall)
  }

  /** The timed op: read both sides, diff, apply. The observation counts
    * the diff's flags on the same execution the apply runs. */
  private def syncPass(s: State, n: Int, obs: Observation): Unit =
    withGroup(s"migbench-op-s$n") {
      val src = ctx.tr.span("sources.resolve")(readSide(srcUrl, s))
      val tgt = ctx.tr.span("sources.resolve")(readSide(tgtUrl, s))
      val counts = flags.map(f =>
        sum(when(col(DiffSync.FlagCol) === f, 1L).otherwise(0L)).as(f))
      val diffed = DiffSync.diff(src, tgt, Seq("ID"))
        .observe(obs, counts.head, counts.tail: _*)
      DiffSync.applyToJdbc(diffed, Seq("ID"),
        DiffSync.SyncTarget(tgtUrl, s.t.name, "", "", dialect = "generic"))
    }

  /** The flag counts `DiffSync.diff` reported on the pass's execution. */
  private def flagCounts(obs: Observation): Map[String, Long] = {
    val got = obs.get
    flags.map(f => f -> Option(got.getOrElse(f, null)).map(_.toString.toLong).getOrElse(0L)).toMap
  }

  private def check(s: State, counts: Map[String, Long], planted: Map[String, Long]): Option[String] = {
    if (counts != planted) return Some(s"flags $counts != planted $planted")
    val q = cols
    val src = Derby.withConn(srcDb)(c => Derby.digest(c, s.t.name, q))
    val tgt = Derby.withConn(tgtDb)(c => Derby.digest(c, s.t.name, q))
    if (src != tgt) Some(s"target (rows, digest) $tgt != source $src") else None
  }

  /** After a failed op, copy the source over the target so the next
    * op's planted counts hold again. */
  private def resync(s: State): Unit = {
    val rowsNow = Derby.withConn(srcDb) { c =>
      val st = c.createStatement()
      val rs = st.executeQuery(s"SELECT ${cols.mkString(", ")} FROM ${s.t.name}")
      val b = Vector.newBuilder[Array[AnyRef]]
      while (rs.next()) b += Array.tabulate[AnyRef](cols.size)(i => rs.getObject(i + 1))
      st.close(); b.result()
    }
    Derby.withConn(tgtDb) { c =>
      Derby.exec(c, s"DELETE FROM ${s.t.name}")
      Derby.insertRows(c, s.t.name, cols, rowsNow.iterator)
    }
  }

  override def probe(): Unit = withGroup("migbench-probe") {
    states.foreach { s =>
      Seq(srcUrl, tgtUrl).foreach { u =>
        val df = readSide(u, s)
        ctx.tr.add("sources.read_partitions", df.rdd.getNumPartitions.toDouble)
        ctx.tr.span("sources.scan")(noopWrite(df))
      }
    }
  }

  override def layers(l: EngineListener): Map[String, Double] = {
    val recs = l.all
    val per = recs.map { g =>
      val stages = g.stageRecs.asScala.toSeq.filter(_.completed > 0)
      val apply = stages.filter(_.isResult)
      val maps = stages.filterNot(_.isResult)
      val diffMs = if (maps.isEmpty) 0.0
        else (maps.map(_.completed).max - stages.map(_.submitted).min).toDouble
      val applyMs = apply.map(a => (a.completed - a.submitted).toDouble).sum
      (diffMs, applyMs, apply.map(_.shuffleReadRows.sum()).sum, apply.map(_.shuffleReadBytes.sum()).sum)
    }
    val n = math.max(1, per.size).toDouble
    val applied = Seq("new", "changed", "deleted").map(f => ctx.tr.mean(s"sync.flag_$f")).sum
    val shuffleRows = per.map(_._3).sum / n
    Map(
      "sources.rows_read" -> l.sum(_.recordsRead) / n,
      "sync.diff_ms" -> per.map(_._1).sum / n,
      "sync.apply_ms" -> per.map(_._2).sum / n,
      "sync.apply_shuffle_rows" -> shuffleRows,
      "sync.apply_shuffle_bytes" -> per.map(_._4).sum / n,
      "sync.applied_rows" -> applied,
      "sync.useful_ratio" -> (if (shuffleRows == 0) 0.0 else applied / shuffleRows))
  }
}
