package migbench

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer

/** The benchmark's own guarantees: seeded inputs are reproducible, the
  * per-op checks catch wrong output, and the run stays within its
  * thread and connection caps. */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val k = Runtime.getRuntime.availableProcessors()
  private lazy val spark: SparkSession = Main.session(k)
  private lazy val listener = {
    val l = new EngineListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  override def beforeAll(): Unit = { Derby.install(); listener; () }
  override def afterAll(): Unit = spark.stop()

  private def ctx(seed: Long) =
    Ctx(Some(spark), k, seed, new Tracer, ArrayBuffer.empty[String])

  private def sourceDigests(w: DerbyWorkload, tables: Seq[Gen.DataTable],
      quote: String => String): Seq[(Long, Long)] =
    tables.map(t => Derby.withConn(w.srcDb)(c =>
      Derby.digest(c, quote(t.name), t.cols.map(col => quote(col.name)))))

  test("the same seed gives byte-identical dumps; another seed does not") {
    (0 until Gen.dumpTableCounts.size).foreach { i =>
      assert(Gen.richDump(7, i).bytes.sameElements(Gen.richDump(7, i).bytes))
    }
    assert(!Gen.richDump(7, 0).bytes.sameElements(Gen.richDump(8, 0).bytes))
    assert(Gen.richDump(7, 3).utf16 && !Gen.richDump(7, 2).utf16)
  }

  test("the same seed gives identical data digests") {
    val copy = new BulkCopy(ctx(5))
    copy.prepare()
    val first = sourceDigests(copy, copy.tables, Derby.q)
    copy.prepare()
    assert(sourceDigests(copy, copy.tables, Derby.q) === first)
    val sync = new Sync(ctx(5), "spec", tables = 2, rows = 100,
      newFrac = 0.05, changedFrac = 0.05, deletedFrac = 0.05)
    sync.prepare()
    val ts = Gen.syncTables(5, 2, 100)
    val quoteNone = (s: String) => s.toUpperCase
    val a = sourceDigests(sync, ts, quoteNone)
    sync.prepare()
    assert(sourceDigests(sync, ts, quoteNone) === a)
    copy.close(); sync.close()
  }

  test("schema_convert: a dump missing a table fails its check") {
    val d = Gen.richDump(3, 1)
    assert(FrontHalf.check(d, FrontHalf.convert(d.bytes, new Tracer)).isEmpty)
    val text = Gen.render(d.tables.tail, d.views.filterNot(_.name.contains(d.tables.head.name)),
      d.sequences, d.domains, d.procs, 1)
    val broken = FrontHalf.convert(text.getBytes("UTF-8"), new Tracer)
    assert(FrontHalf.check(d, broken).isDefined)
  }

  test("bulk_copy: a corrupt source row or a missing table fails exactly its op") {
    val c = ctx(9)
    val w = new BulkCopy(c)
    w.prepare()
    assert(w.round(traced = false).ops.forall(!_.failed), c.failures)
    val Seq(corrupt, missing) = w.tables.take(2).map(_.name)
    Derby.withConn(w.srcDb) { conn =>
      Derby.exec(conn, s"UPDATE ${Derby.q(corrupt)} SET ${Derby.q("qty")} = 424242 WHERE ${Derby.q("id")} = 1")
      Derby.exec(conn, s"DROP TABLE ${Derby.q(missing)}")
    }
    val r = w.round(traced = false)
    assert(r.ops.count(_.failed) === 2)
    assert(c.failures.exists(_.contains(corrupt)) && c.failures.exists(_.contains(missing)))
    w.close()
  }

  test("sync: a stray target row fails the op, and the next pass recovers") {
    val c = ctx(4)
    val w = new Sync(c, "spec", tables = 2, rows = 200,
      newFrac = 0.02, changedFrac = 0.03, deletedFrac = 0.02)
    w.prepare()
    assert(w.round(traced = false).ops.forall(!_.failed), c.failures)
    val t = Gen.syncTables(4, 2, 200).head.name
    Derby.withConn(w.tgtDb)(conn =>
      Derby.exec(conn, s"INSERT INTO $t (ID, NAME) VALUES (99999999, 'stray')"))
    val bad = w.round(traced = false)
    assert(bad.ops.count(_.failed) === 1, c.failures)
    assert(w.round(traced = false).ops.forall(!_.failed))
    w.close()
  }

  test("concurrent tasks and open connections per database stay within nproc") {
    val copy = new BulkCopy(ctx(2))
    copy.prepare()
    copy.round(traced = false)
    val sync = new Sync(ctx(2), "caps", tables = 4, rows = 300,
      newFrac = 0.1, changedFrac = 0.1, deletedFrac = 0.1)
    sync.prepare()
    sync.round(traced = false)
    listener.drain()
    assert(listener.peakTasks.get <= k)
    assert(CountingDriver.peakPerDatabase <= k)
    assert(CountingDriver.peakPerDatabase >= 1)
    copy.close(); sync.close()
  }
}
