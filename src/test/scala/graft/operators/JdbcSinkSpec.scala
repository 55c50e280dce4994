package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

class JdbcSinkSpec extends AnyFunSuite {

  test("createTableColumnTypes carries converted PG types to the sink") {
    val ddl =
      """CREATE TABLE [dbo].[T](
        |	[id] [bigint] NOT NULL,
        |	[guid] [uniqueidentifier] NOT NULL,
        |	[name] [nvarchar](50) NULL,
        |	[price] [numeric](9, 0) NULL
        |) ON [PRIMARY]
        |GO""".stripMargin
    val conf = graft.convert.Config(convertNumericToInt = true)
    val cat = new graft.parser.TsqlParser(conf).parse(ddl.split("\n").toSeq)
    val types = JdbcSink.createTableColumnTypes(cat.table("public", "T").get)
    assert(types === "id bigint, guid uuid, name varchar(50), price integer")
  }

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
    val opts = JdbcSink.jdbcOptions(JdbcSink.Spec(
      url = "jdbc:postgresql://h/db", table = "t", user = "u",
      password = "p"))
    assert(opts("url").contains("reWriteBatchedInserts=true"))
    assert(opts("numPartitions") === "8")   // -po default (pl:166)
    assert(opts("truncate") === "true")
    assert(opts("sessionInitStatement").contains("synchronous_commit"))
  }

  test("non-postgres url is not rewritten; durability opt-out") {
    val opts = JdbcSink.jdbcOptions(JdbcSink.Spec(
      url = "jdbc:sqlserver://h", table = "t", user = "u", password = "p",
      relaxDurability = false))
    assert(!opts("url").contains("reWriteBatchedInserts"))
    assert(!opts.contains("sessionInitStatement"))
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

  test("P12: all-good input never touches the row path") {
    var rowCalls = 0
    val rejected = JdbcSink.writeIgnoringErrors(
      Iterator(1, 2, 3), batchSize = 2)(_ => ())(_ => rowCalls += 1)
    assert(rejected === 0L && rowCalls === 0)
  }
}
