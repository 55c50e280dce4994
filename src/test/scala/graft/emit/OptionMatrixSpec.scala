package graft.emit

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Catalog
import graft.parser.TsqlParser
import graft.convert._
import graft.tools.Main
import java.nio.file.{Files, Paths}

/** Option-matrix conversion smoke — parity with the reference's
  * t/test_convert.t:19–61 (runs the converter over every regression
  * dump under combinations of -i, -num, -keep_identifier_case,
  * -camel_to_snake, -validate_constraints=after, -drop_rowversion,
  * -use_identity_column and asserts it doesn't die). Each option string
  * goes through `Main.buildJob`, the parser users run.
  */
class OptionMatrixSpec extends AnyFunSuite {

  private val corpus = Seq("reg_tests.sql", "issue_59.sql", "issues.sql",
    "issue_112.sql", "basic_test/views.sql")

  private val configs: Seq[(String, Config)] = Seq(
    "default" -> Config(),
    "-i" -> Config(caseInsensitive = true),
    "-num" -> Config(convertNumericToInt = true),
    "-keep_identifier_case" -> Config(identifierCase = IdentifierCase.Keep),
    "-camel_to_snake" -> Config(identifierCase = IdentifierCase.CamelToSnake),
    "-validate_constraints=after" -> Config(validateConstraints = "after"),
    "-drop_rowversion" -> Config(dropRowversion = true),
    "-use_identity_column=0" -> Config(useIdentityColumn = false),
    "-i -num -camel_to_snake" -> Config(caseInsensitive = true,
      convertNumericToInt = true,
      identifierCase = IdentifierCase.CamelToSnake),
    "-nr" -> Config(relabelDbo = false)
  )

  /** The option string as the CLI parses it ("default" = no options). */
  private def parsed(opts: String): Config =
    Main.buildJob(if (opts == "default") Seq.empty else opts.split(" ").toSeq).config

  test("every matrix option string parses to its listed Config") {
    for ((opts, conf) <- configs) assert(parsed(opts) === conf, opts)
  }

  for ((optName, _) <- configs; file <- corpus) {
    test(s"convert $file with $optName") {
      val p = Paths.get("/root/reference/regression").resolve(file)
      assume(Files.exists(p))
      val conf = parsed(optName)
      val cat = new TsqlParser(conf).parseFile(p)
      val out = new PgDdlEmitter(conf).emit(cat)
      assert(out.before.contains("CREATE TABLE"), s"$file/$optName: no tables")
      assert(out.before.trim.endsWith("COMMIT;"))
      assert(out.after.trim.endsWith("COMMIT;"))
      assert(out.unsure.trim.endsWith("COMMIT;"))
      // basic structural invariants under every option set
      if (conf.caseInsensitive)
        assert(out.before.contains("citext"))
      if (conf.relabelDbo)
        assert(!out.before.contains("CREATE SCHEMA dbo"))
      if (!conf.useIdentityColumn && file == "issue_112.sql")
        assert(out.after.contains("CREATE SEQUENCE"))
      if (conf.dropRowversion && file == "issue_112.sql")
        assert(!out.before.toLowerCase.contains(" rowversion bytea"))
    }
  }

  /** CamelCase and snake_case names in dbo and non-dbo schemas: dbo
    * relabeling and each identifier case policy have names to change. */
  private val multiTableDump =
    """CREATE TABLE [dbo].[CustomerOrders](
      |	[OrderId] [int] IDENTITY(1,1) NOT NULL,
      |	[CustomerName] [nvarchar](100) NULL,
      | CONSTRAINT [PK_CustomerOrders] PRIMARY KEY CLUSTERED ([OrderId] ASC)
      |) ON [PRIMARY]
      |GO
      |CREATE TABLE [dbo].[order_lines](
      |	[line_id] [int] NOT NULL,
      |	[OrderId] [int] NOT NULL,
      |	[unit_price] [numeric](10, 0) NULL
      |) ON [PRIMARY]
      |GO
      |CREATE TABLE [Sales].[RegionTargets](
      |	[RegionCode] [char](3) NOT NULL,
      |	[target_amount] [money] NULL
      |) ON [PRIMARY]
      |GO
      |CREATE TABLE [archive].[order_history](
      |	[HistoryId] [bigint] NOT NULL,
      |	[archived_at] [datetime] NULL
      |) ON [PRIMARY]
      |GO""".stripMargin

  test("colmap lineage covers every table under every policy") {
    val issue59 = Paths.get("/root/reference/regression/issue_59.sql")
    val dumps: Seq[(String, TsqlParser => Catalog)] =
      Seq("inline" -> ((p: TsqlParser) => p.parse(multiTableDump.split("\n").toSeq))) ++
        (if (Files.exists(issue59)) Seq("issue_59.sql" -> ((p: TsqlParser) => p.parseFile(issue59)))
         else Seq.empty)
    for ((dump, parse) <- dumps; (opts, _) <- configs.take(5)) {
      val conf = parsed(opts)
      val cat = parse(new TsqlParser(conf))
      val out = new PgDdlEmitter(conf).emit(cat)
      if (dump == "inline") assert(cat.allTables.size === 4, opts)
      cat.allTables.foreach { case (_, t) =>
        assert(out.colMap.contains(s".${t.name}\t"),
          s"$dump/$opts: colmap missing ${t.name}")
        t.cols.foreach(c => assert(out.colMap.contains(s".${t.name}.${c.name}\t"),
          s"$dump/$opts: colmap missing ${t.name}.${c.name}"))
      }
    }
  }
}
