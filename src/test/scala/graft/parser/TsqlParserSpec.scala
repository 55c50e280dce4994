package graft.parser

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog._
import graft.convert._
import java.nio.file.{Files, Paths}

class TsqlParserSpec extends AnyFunSuite {

  def parse(sql: String, conf: Config = Config()): Catalog =
    new TsqlParser(conf).parse(sql.split("\n").toSeq)

  test("F1: basic table, NONCLUSTERED PK, long identifier warning") {
    val cat = parse(
      """CREATE TABLE [dbo].[TestTable](
        |	[NUM_FOLIO] [int] NOT NULL,
        |	[FOLIO_ID] [int] NOT NULL,
        |	[DESCRIPTION] [char](50) NULL,
        |	[EN_COURS] [char](1) NULL,
        |	[VERY_LONG_COLUMN_NAME_THAT_POSTGRESQL_WILL_UNFORTUNATELY_TRUNCATE_INTERNALLY] [char](1) NULL,
        | CONSTRAINT [PK_TEST_TABLE] PRIMARY KEY NONCLUSTERED
        |(
        |	[NUM_FOLIO] ASC
        |)WITH (PAD_INDEX  = OFF, FILLFACTOR = 90) ON [PRIMARY]
        |) ON [PRIMARY]
        |GO""".stripMargin)
    val t = cat.table("public", "TestTable").get
    assert(t.cols.map(_.name) === Seq("NUM_FOLIO", "FOLIO_ID", "DESCRIPTION",
      "EN_COURS",
      "VERY_LONG_COLUMN_NAME_THAT_POSTGRESQL_WILL_UNFORTUNATELY_TRUNCATE_INTERNALLY"))
    assert(t.cols.head.notNull)
    assert(t.cols(2).pgType === "char(50)")
    assert(t.pk.get.cols === Seq("NUM_FOLIO"))
    assert(t.pk.get.name === Some("PK_TEST_TABLE"))
  }

  test("F3: defaults incl. bit booleanization and bigint max; HASH PK") {
    val cat = parse(
      """CREATE TABLE [dbo].[DefaultValue](
        |	[ValueId] [int] NOT NULL PRIMARY KEY NONCLUSTERED HASH WITH (BUCKET_COUNT=10000000),
        |	[BooleanZeroValue] [bit] NOT NULL  DEFAULT ((0)),
        |	[BooleanOneValue] [bit] NOT NULL  DEFAULT ((1)),
        |	[LargeIntegerMaxValue] [bigint] NOT NULL  DEFAULT ((9223372036854775807)),
        |	[FloatZeroValue] [float] NOT NULL  DEFAULT ((0))
        |) ON [PRIMARY]
        |GO""".stripMargin)
    val t = cat.table("public", "DefaultValue").get
    assert(t.pk.get.cols === Seq("ValueId"))
    def d(n: String) = t.colByName(n).get.default.get.value
    assert(d("BooleanZeroValue") === "false")
    assert(d("BooleanOneValue") === "true")
    assert(d("LargeIntegerMaxValue") === "9223372036854775807")
    assert(t.colByName("BooleanZeroValue").get.pgType === "boolean")
  }

  test("F4: function defaults are unsure-tier and rewritten") {
    val cat = parse(
      """CREATE TABLE [dbo].[D](
        |	[ModifiedBy] [varchar](50) NOT NULL CONSTRAINT [DF_A] DEFAULT (user_name()),
        |	[ModifiedDate] [datetime] NOT NULL CONSTRAINT [DF_B] DEFAULT (getdate())
        |) ON [PRIMARY]
        |GO""".stripMargin)
    val t = cat.table("public", "D").get
    val d1 = t.colByName("ModifiedBy").get.default.get
    assert(d1.unsure); assert(d1.value === "CURRENT_USER")
    val d2 = t.colByName("ModifiedDate").get.default.get
    assert(d2.unsure); assert(d2.value === "CURRENT_TIMESTAMP")
  }

  test("F5: IDENTITY(-1,-1), uuid, rowversion, varbinary(max), lobs") {
    val cat = parse(
      """CREATE TABLE [dbo].[AFCaseAdjustment](
        |	[rid] [bigint] IDENTITY(-1,-1) NOT NULL,
        |	[id] [uniqueidentifier] NOT NULL,
        |	[rowversion] [timestamp] NOT NULL,
        |	[adjustedvalue] [varbinary](max) NULL,
        |	[comment] [nvarchar](1000) NULL,
        |	[creationdate] [datetime2](7) NULL,
        | CONSTRAINT [PK_AFCaseAdjustment] PRIMARY KEY NONCLUSTERED ([rid] ASC) ON [ANALYSIS]
        |) ON [ANALYSIS] TEXTIMAGE_ON [ANALYSIS]
        |GO""".stripMargin)
    val t = cat.table("public", "AFCaseAdjustment").get
    assert(t.colByName("rid").get.identity === Some(IdentityDef(-1, -1)))
    assert(t.colByName("id").get.pgType === "uuid")
    assert(t.colByName("rowversion").get.pgType === "bytea")
    assert(t.colByName("adjustedvalue").get.pgType === "bytea")
    assert(t.hasLobs)
    val seq = cat.schemas("public").sequences("AFCaseAdjustment_rid_seq")
    assert(seq.start === Some(-1) && seq.step === Some(-1))
  }

  test("drop_rowversion removes rowversion columns") {
    val cat = parse(
      """CREATE TABLE [dbo].[T]([a] [int] NOT NULL, [v] [rowversion] NOT NULL) ON [PRIMARY]
        |GO""".stripMargin.replace("CREATE TABLE [dbo].[T](",
        "CREATE TABLE [dbo].[T](\n"),
      Config(dropRowversion = true))
    val t = cat.table("public", "T").get
    assert(t.cols.map(_.name) === Seq("a"))
  }

  test("F2/A22/A23: ALTER TABLE CHECK, FK with long name dropped, filtered index") {
    val cat = parse(
      """CREATE TABLE [dbo].[TestTable](
        |	[NUM_FOLIO] [int] NOT NULL,
        |	[FOLIO_ID] [int] NOT NULL
        |) ON [PRIMARY]
        |GO
        |ALTER TABLE [dbo].[TestTable] WITH CHECK ADD CONSTRAINT [NUM_FOLIO] CHECK ((([NUM_FOLIO]>=(0) AND [NUM_FOLIO]<=(999999)) OR ([NUM_FOLIO]>=(2000000) AND [NUM_FOLIO]<=(3000000))))
        |GO
        |ALTER TABLE [dbo].[TestTable]  WITH CHECK ADD  CONSTRAINT [VERY_LONG_CONSTRAINT_NAME_THAT_WE_LET_POSTGRESQL_REBUILD_BY_ITSELF_XYZ] FOREIGN KEY([FOLIO_ID])
        |REFERENCES [dbo].[adjudicaciones] ([id_comunicado])
        |GO
        |CREATE NONCLUSTERED INDEX [idx_FOLIO_ID] ON [dbo].[TestTable]
        |(
        |	[FOLIO_ID] ASC
        |)
        |WHERE ((ISNULL([FOLIO_ID], 0) > 1))
        |GO""".stripMargin)
    val t = cat.table("public", "TestTable").get
    val chk = t.constraints.collectFirst { case c: Check => c }.get
    assert(chk.predicate.contains("num_folio>=(0)"))
    val fk = t.constraints.collectFirst { case c: ForeignKey => c }.get
    assert(fk.name.isEmpty) // >63 chars → dropped (B11)
    assert(fk.remoteTable === "adjudicaciones")
    val idx = t.indexes("idx_FOLIO_ID")
    assert(idx.where.get.contains("COALESCE"))
  }

  test("F6: INCLUDE and filtered+INCLUDE indexes; numeric narrowing") {
    val cat = parse(
      """CREATE TABLE [dbo].[IDX_TESTS](
        |	[I] [int] NULL,
        |	[J] [int] NULL,
        |	[K] [int] NULL,
        |	[L] [numeric](10, 0) NULL
        |) ON [PRIMARY]
        |GO
        |CREATE NONCLUSTERED INDEX [IDX_A] ON [dbo].[IDX_TESTS]
        |(
        |	[I] ASC
        |)
        |INCLUDE ( 	[K])
        |WHERE ([L]>(10))
        |WITH (PAD_INDEX = OFF) ON [PRIMARY]
        |GO""".stripMargin, Config(convertNumericToInt = true))
    val t = cat.table("public", "IDX_TESTS").get
    assert(t.colByName("L").get.pgType === "bigint")
    val idx = t.indexes("IDX_A")
    assert(idx.cols === Seq(("I", true)))
    assert(idx.include === Seq("K"))
    assert(idx.where.isDefined)
  }

  test("F8: computed columns become varchar with kept formula") {
    val cat = parse(
      """CREATE TABLE [dbo].[GeneratedColumns] (
        |	[val1] [varchar](10) NOT NULL,
        |	[val2] [varchar](10) NOT NULL,
        |	[Sum1]  AS ([val1]+[val2]),
        |	[Sum3]  AS ([val1]+[val2]) PERSISTED
        |) ON [PRIMARY]
        |GO""".stripMargin)
    val t = cat.table("public", "GeneratedColumns").get
    val c = t.colByName("Sum1").get
    assert(c.computedExpr.isDefined)
    assert(!c.computedPersisted)
    assert(t.colByName("Sum3").get.computedPersisted)
  }

  test("F9: views translate concat, CONVERT, ISNULL, DATEADD in order") {
    val cat = parse(
      """CREATE VIEW [dbo].[V2] (C1, C2)  AS SELECT B1.C1 +  '|'  + B2.C1, CONVERT(NVARCHAR(15),B1.C2) FROM dbo.T1 B1 INNER JOIN dbo.T2 B2 ON B1.C1 = B2.C1
        |GO
        |CREATE VIEW [dbo].[V6] (C1)  AS SELECT DATEADD(day, 2, GETDATE()) AS C1
        |GO""".stripMargin)
    val sd = cat.schemas("public")
    assert(sd.viewOrder === Vector("V2", "V6"))
    val v2 = sd.views("V2").sql
    assert(v2.contains("||"))
    // identifiers follow the (default lowercase) policy and the cast
    // target maps to a PG type — the real-PG replay gate needs both
    assert(v2.contains("CAST(b1.c2 AS varchar(15))"))
    assert(!v2.toLowerCase.contains("dbo."))
    val v6 = sd.views("V6").sql
    assert(v6.contains("INTERVAL '1 day'"))
    assert(v6.contains("CURRENT_TIMESTAMP"))
  }

  test("A13/A14: domains and table types") {
    val cat = parse(
      """CREATE TYPE [dbo].[ShortString] FROM [varchar](32)
        |GO
        |CREATE TYPE [dbo].[MyTableType] AS TABLE(
        |	[id] [int] NOT NULL,
        |	[name] [varchar](50) NULL,
        |	PRIMARY KEY CLUSTERED ([id] ASC)
        |)
        |GO""".stripMargin)
    val sd = cat.schemas("public")
    assert(sd.domains("ShortString") === "varchar(32)")
    assert(sd.tableTypes("MyTableType") ===
      Seq(("id", "int"), ("name", "varchar(50)")))
    assert(cat.warnings.exists(_.contains("PK inside table type")))
  }

  test("A24: extended properties become comments") {
    val cat = parse(
      """CREATE TABLE [dbo].[ACCOUNT](
        |	[ID] [char](36) NOT NULL
        |) ON [PRIMARY]
        |GO
        |EXEC sys.sp_addextendedproperty @name=N'MS_SSMA_SOURCE', @value=N'ONEBANK.ACCOUNT.ID' , @level0type=N'SCHEMA',@level0name=N'dbo', @level1type=N'TABLE',@level1name=N'ACCOUNT', @level2type=N'COLUMN',@level2name=N'ID'
        |GO""".stripMargin)
    val t = cat.table("public", "ACCOUNT").get
    assert(t.colByName("ID").get.comment === Some("ONEBANK.ACCOUNT.ID"))
  }

  test("A24: Dictionary extended property becomes a table comment (pl:2387)") {
    val cat = parse(
      """CREATE TABLE [dbo].[Ledger](
        |	[id] [int] NOT NULL
        |) ON [PRIMARY]
        |GO
        |EXEC sys.sp_addextendedproperty @name=N'Dictionary', @value=N'General ledger
        |entries, one row per posting' , @level0type=N'SCHEMA',@level0name=N'dbo', @level1type=N'TABLE',@level1name=N'Ledger'
        |GO""".stripMargin)
    val t = cat.table("public", "Ledger").get
    assert(t.comment.exists(_.startsWith("General ledger")))
  }

  test("A1: iso-8859-15 fallback when bytes are not valid UTF-8 (pl:1526)") {
    // 0xE9 = 'é' in iso-8859-15; a bare 0xE9 is malformed UTF-8
    val latin = "CREATE TABLE [dbo].[Café]([id] [int] NOT NULL) ON [PRIMARY]"
      .getBytes("ISO-8859-15")
    val decoded = LineCleaner.decode(latin)
    assert(decoded.contains("Café"))
    // plain ASCII and valid UTF-8 still decode as UTF-8
    assert(LineCleaner.decode("Café".getBytes("UTF-8")) === "Café")
  }

  test("A26/A27: ignore list passes, unknown line dies") {
    parse("USE [master]\nGO\nSET ANSI_NULLS ON\nGO\nGRANT SELECT ON [dbo].[T] TO [U]\nGO")
    intercept[ParseException] {
      parse("THIS IS NOT TSQL AT ALL ???")
    }
  }

  test("A26: -- line comments are skipped (pl:2430)") {
    val cat = parse(
      """-- SSMS-generated header comment
        |CREATE TABLE [dbo].[C](
        |	[id] [int] NOT NULL
        |) ON [PRIMARY]
        |GO
        |  -- indented trailer comment""".stripMargin)
    assert(cat.table("public", "C").isDefined)
  }

  test("A25: :setvar capture") {
    val cat = parse(""":setvar path "C:\temp"""")
    assert(cat.variables("path") === "C:\\temp")
  }

  test("full reference regression corpus parses without error") {
    val dir = Paths.get("/root/reference/regression")
    assume(Files.isDirectory(dir))
    for (f <- Seq("reg_tests.sql", "issue_59.sql", "issues.sql",
        "issue_112.sql", "basic_test/views.sql")) {
      val p = dir.resolve(f)
      val cat = new TsqlParser(Config()).parseFile(p)
      assert(cat.schemas.nonEmpty, s"no schemas parsed from $f")
    }
  }

  test("UTF-16LE encoding sniff (A1)") {
    val dir = Paths.get("/root/reference/regression/reg_tests.sql")
    assume(Files.exists(dir))
    val lines = LineCleaner.readFile(dir)
    assert(lines.head.contains("CREATE TABLE"))
  }

  test("identity column in corpus: IDENTITY(1000,1)") {
    val cat = parse(
      """CREATE TABLE [dbo].[sd](
        |	[rid] [int] IDENTITY(1000,1) NOT NULL,
        |	[sd] [nvarchar](max) NOT NULL
        |) ON [ASSETS] TEXTIMAGE_ON [ASSETS]
        |GO""".stripMargin)
    val t = cat.table("public", "sd").get
    assert(t.colByName("rid").get.identity === Some(IdentityDef(1000, 1)))
    assert(t.hasLobs) // nvarchar(max)
  }

  private def notUnderstood(sql: String): ParseException = {
    val e = intercept[ParseException](parse(sql))
    assert(e.getMessage.startsWith("Line <") &&
      e.getMessage.contains("not understood"), e.getMessage)
    e
  }

  test("a type length past Int fails as a line not understood") {
    notUnderstood(
      """CREATE TABLE [dbo].[T](
        |	[a] [nvarchar](99999999999) NULL
        |) ON [PRIMARY]""".stripMargin)
    notUnderstood(
      """CREATE TABLE [dbo].[T](
        |	[a] [decimal](12, 99999999999) NULL
        |) ON [PRIMARY]""".stripMargin)
    notUnderstood("CREATE TYPE [dbo].[D] FROM [nvarchar](99999999999) NULL")
    notUnderstood(
      """CREATE TYPE [dbo].[TT] AS TABLE(
        |	[a] [varchar](99999999999) NULL
        |)""".stripMargin)
  }

  test("an IDENTITY seed past Long fails as a line not understood") {
    notUnderstood(
      """CREATE TABLE [dbo].[T](
        |	[id] [bigint] IDENTITY(99999999999999999999, 1) NOT NULL
        |) ON [PRIMARY]""".stripMargin)
  }

  test("a sequence START WITH past Long fails as a line not understood") {
    notUnderstood(
      """CREATE SEQUENCE [dbo].[S]
        | AS [bigint]
        | START WITH 99999999999999999999
        | INCREMENT BY 1
        |GO""".stripMargin)
  }

  test("a (MAX) qualifier in capitals means max, like (max)") {
    val cat = parse(
      """CREATE TABLE [dbo].[T](
        |	[a] [nvarchar](MAX) NULL,
        |	[b] [varbinary](Max) NULL
        |) ON [PRIMARY]
        |GO
        |CREATE TYPE [dbo].[D] FROM [varchar](MAX) NULL
        |GO""".stripMargin)
    val t = cat.table("public", "T").get
    assert(t.cols.map(_.sqlType.isMax) === Seq(true, true))
    assert(t.cols.map(_.pgType) === Seq("varchar", "bytea"))
    assert(cat.schemas("public").domains("D") === "varchar")
  }

  test("property: a mutated golden-dump line parses or fails with ParseException") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val lines = graft.emit.FrontEndGoldenSpec.dumpText.split("\r\n").toVector
    val junk = Gen.oneOf("(", ")", "[", "]", "'", ",", " ", "\t", "-", "*",
      "/", ";", "=", "N'", "GO", "AS", "99999999999999999999", "MAX", "x")
    val mutation: Gen[Vector[String]] = for {
      i <- Gen.choose(0, lines.size - 1)
      line = lines(i)
      a <- Gen.choose(0, line.length)
      b <- Gen.choose(a, line.length)
      ins <- junk
      kind <- Gen.choose(0, 4)
    } yield {
      val mutated = kind match {
        case 0 => line.substring(0, a) + ins + line.substring(a)  // insert
        case 1 => line.substring(0, a) + line.substring(b)        // delete
        case 2 => line.substring(0, a)                            // truncate
        case 3 => line.substring(0, a) + ins + line.substring(b)  // replace
        case _ => "\\d+".r.replaceAllIn(line, "99999999999999999999")
      }
      lines.updated(i, mutated)
    }
    val samples = (1 to 400).flatMap(n =>
      mutation.apply(Gen.Parameters.default, Seed(n.toLong)))
    assert(samples.size == 400)
    samples.foreach { dump =>
      try new TsqlParser(Config()).parse(dump)
      catch {
        case _: ParseException =>
        case e: Throwable =>
          fail(s"${e.getClass.getName}: ${e.getMessage} on\n" +
            dump.zip(lines).filter(p => p._1 != p._2).map(_._1).mkString, e)
      }
    }
  }
}
