package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

class JdbcSinkSpec extends AnyFunSuite {

  test("partitionHint: single integral PK + lobs/conf opt-in") {
    val ddl =
      """CREATE TABLE [dbo].[Big](
        |	[id] [bigint] NOT NULL,
        |	[payload] [varbinary](max) NULL,
        | CONSTRAINT [PK_Big] PRIMARY KEY CLUSTERED ([id] ASC)
        |) ON [PRIMARY]
        |GO
        |CREATE TABLE [dbo].[IntLob](
        |	[id] [int] NOT NULL,
        |	[payload] [varbinary](max) NULL,
        | CONSTRAINT [PK_IntLob] PRIMARY KEY CLUSTERED ([id] ASC)
        |) ON [PRIMARY]
        |GO
        |CREATE TABLE [dbo].[NoPk](
        |	[v] [int] NOT NULL
        |) ON [PRIMARY]
        |GO
        |CREATE TABLE [dbo].[StrPk](
        |	[code] [varchar](10) NOT NULL,
        | CONSTRAINT [PK_Str] PRIMARY KEY CLUSTERED ([code] ASC)
        |) ON [PRIMARY]
        |GO""".stripMargin
    val conf = graft.convert.Config()
    val cat = new graft.parser.TsqlParser(conf).parse(ddl.split("\n").toSeq)
    def t(n: String) = cat.table("public", n).get
    import graft.sources.Tables.partitionHint
    // LOB table partitions by its integral PK without any conf opt-in
    assert(partitionHint(t("Big"), conf) === Some("id"))
    // SQL Server `int` maps to pgType `int`: the same table the Kettle
    // LOB modulo slice applies to
    assert(t("IntLob").colByName("id").map(_.pgType) === Some("int"))
    assert(partitionHint(t("IntLob"), conf) === Some("id"))
    // no PK / string PK → never
    assert(partitionHint(t("NoPk"), conf.copy(usePkIfPossible = "*")) === None)
    assert(partitionHint(t("StrPk"), conf.copy(usePkIfPossible = "*")) === None)
    // non-LOB table needs the conf opt-in (by name or "*")
    val slim = t("Big").copy(hasLobs = false)
    assert(partitionHint(slim, conf) === None)
    assert(partitionHint(slim, conf.copy(usePkIfPossible = "*")) === Some("id"))
    assert(partitionHint(slim, conf.copy(usePkIfPossible = "big, other")) === Some("id"))
  }

  test("jdbc options carry the tuning surface") {
    val spec = JdbcSink.Spec(url = "jdbc:postgresql://h/db", table = "t",
      user = "u", password = "p")
    assert(spec.numPartitions === 8)   // -po default (pl:166)
    assert(spec.truncate && !spec.ignoreErrors)
    val conn = JdbcSink.connOf(spec)
    assert(conn.url === "jdbc:postgresql://h/db?reWriteBatchedInserts=true")
    assert(JdbcSink.connOf(spec.copy(url = "jdbc:postgresql://h/db?ssl=true"))
      .url === "jdbc:postgresql://h/db?ssl=true&reWriteBatchedInserts=true")
    assert(conn.init === Some("SET synchronous_commit TO off"))
    assert((conn.user, conn.password) === ("u", "p"))
  }

  test("non-postgres url is not rewritten; durability opt-out") {
    val sqlServer = JdbcSink.connOf(JdbcSink.Spec(
      url = "jdbc:sqlserver://h", table = "t", user = "u", password = "p"))
    // synchronous_commit is PostgreSQL's: other targets never get it
    assert(sqlServer.url === "jdbc:sqlserver://h" && sqlServer.init === None)
    val pg = JdbcSink.Spec(url = "jdbc:postgresql://h/db", table = "t",
      user = "u", password = "p", relaxDurability = false,
      rewriteBatchedInserts = false)
    assert(JdbcSink.connOf(pg) === JdbcSink.Conn("jdbc:postgresql://h/db", "u", "p"))
  }

  test("P12: batch failure degrades to per-row replay, counts rejects") {
    val written = mutable.Buffer[Int]()
    val rejected = JdbcSink.writeIgnoringErrors(
      Iterator(1, 2, 3, 4, 5, 6), batchSize = 3) { batch =>
      if (batch.contains(5)) throw new RuntimeException("batch poison")
      written ++= batch
    } { row =>
      if (row == 5) throw new RuntimeException("row poison")
      written += row
    }
    // first batch (1,2,3) succeeds wholesale; second batch fails →
    // replayed row-at-a-time, only 5 rejected
    assert(written.toSeq === Seq(1, 2, 3, 4, 6))
    assert(rejected === 1L)
  }

  test("P12: a row failure is fatal without ignoreErrors, a batch failure without replay") {
    val poison = (batch: Seq[Int]) =>
      if (batch.contains(5)) throw new RuntimeException("batch poison")
    val replayed = mutable.Buffer[Int]()
    intercept[RuntimeException] {
      JdbcSink.writeIgnoringErrors(Iterator(1, 2, 3, 4, 5, 6), batchSize = 3,
        ignoreErrors = false)(poison) { row =>
        if (row == 5) throw new RuntimeException("row poison")
        replayed += row
      }
    }
    assert(replayed.toSeq === Seq(4)) // the replay stops at the bad row
    intercept[RuntimeException] {
      JdbcSink.writeIgnoringErrors(Iterator(1, 2, 3, 4, 5, 6), batchSize = 3,
        replay = false)(poison)(row => fail(s"row $row replayed"))
    }
  }

  test("P12: all-good input never touches the row path") {
    var rowCalls = 0
    val rejected = JdbcSink.writeIgnoringErrors(
      Iterator(1, 2, 3), batchSize = 2)(_ => ())(_ => rowCalls += 1)
    assert(rejected === 0L && rowCalls === 0)
  }
}
