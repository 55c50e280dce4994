package graft.emit

import org.scalatest.funsuite.AnyFunSuite
import graft.convert.ConfFile
import graft.parser.{LineCleaner, TsqlParser}
import graft.tools.Main
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Byte-level golden test of the whole front half on one inline dump:
  * UTF-16LE decode → TsqlParser → PgDdlEmitter + KettleEmitter, under
  * the default options (full files under
  * `src/test/resources/golden/frontend/`) and five other option sets
  * (one SHA-256 per file in `frontend.sha256`). It needs nothing
  * outside the repository.
  *
  * The golden bytes were captured from the emitters before their
  * regexes and Kettle templates were precompiled, so this test pins
  * that those changes moved no output byte. To re-capture after an
  * intended output change, run it with `GRAFT_GOLDEN_UPDATE=1` and
  * review the diff.
  */
class FrontEndGoldenSpec extends AnyFunSuite {
  import FrontEndGoldenSpec._

  private val goldenDir = Paths.get("src/test/resources/golden/frontend")
  private val shaFile = Paths.get("src/test/resources/golden/frontend.sha256")
  private val update = sys.env.get("GRAFT_GOLDEN_UPDATE").contains("1")

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map(b => f"$b%02x").mkString

  private def filesUnder(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
    finally s.close()
  }

  test("the golden dump is UTF-16LE and covers every construct") {
    assert(dumpBytes.take(2).toSeq === Seq(-1.toByte, -2.toByte))
    val cat = new TsqlParser(Main.buildJob(connOpts).config)
      .parse(LineCleaner.decode(dumpBytes).split("\n", -1).toVector)
    val tables = cat.allTables.map { case (s, t) => s"$s.${t.name}" }.toSet
    assert(tables === Set("public.Customer", "public.Document",
      "public.AuditLog", "Sales.OrderHeader", "Sales.OrderLine"))
    def t(s: String, n: String) = cat.table(s, n).get
    assert(t("public", "Customer").cols.exists(_.identity.isDefined))
    assert(t("public", "Customer").cols.exists(_.computedExpr.isDefined))
    assert(t("public", "Customer").cols.exists(_.default.isDefined))
    assert(t("public", "Document").hasLobs)
    assert(t("public", "Document").pk.get.cols === Seq("DocID"))
    assert(t("Sales", "OrderHeader").pk.get.cols === Seq("OrderCode"))
    assert(t("public", "AuditLog").pk.isEmpty)
    assert(t("Sales", "OrderLine").pk.get.cols === Seq("OrderCode", "LineNo"))
    val oh = t("Sales", "OrderHeader")
    assert(oh.indexes.values.exists(i => i.include.nonEmpty && i.where.isDefined))
    val sd = cat.schemas("public")
    assert(sd.sequences.contains("InvoiceSeq"))
    assert(sd.views.contains("ActiveCustomers"))
    assert(sd.domains.contains("PhoneNumber"))
    assert(sd.tableTypes.contains("OrderLines"))
    assert(t("public", "Customer").comment.isDefined)
    assert(cat.warnings.exists(_.startsWith("statement skipped")))
  }

  test("default options: every emitted file equals its golden bytes") {
    val out = render("default")
    if (update) {
      if (Files.isDirectory(goldenDir)) filesUnder(goldenDir).foreach(Files.delete)
      out.foreach { case (name, body) =>
        val p = goldenDir.resolve(name)
        Files.createDirectories(p.getParent)
        Files.writeString(p, body, StandardCharsets.UTF_8)
      }
    }
    val golden = filesUnder(goldenDir).map(p =>
      goldenDir.relativize(p).toString ->
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).toMap
    assert(out.keySet === golden.keySet)
    out.foreach { case (name, body) =>
      assert(body == golden(name), s"$name drifted from its golden bytes")
    }
  }

  test("other option sets: every emitted file equals its golden SHA-256") {
    val rows = for {
      opts <- optionSets.filterNot(_ == "default")
      (name, body) <- render(opts).toSeq.sortBy(_._1)
    } yield s"$opts\t$name\t${sha256(body)}"
    if (update) Files.writeString(shaFile, rows.mkString("", "\n", "\n"))
    val golden = Files.readAllLines(shaFile).asScala.toSeq
    assert(rows.map(_.split("\t").take(2).mkString("\t")) ===
      golden.map(_.split("\t").take(2).mkString("\t")))
    rows.zip(golden).foreach { case (r, g) => assert(r === g) }
  }

  test("an interpolated value reaches the Kettle file verbatim") {
    // a value line that starts with blanks and then `|` must not be
    // taken for a template margin
    val conf = Main.buildJob(Seq.empty).config
    val cat = new TsqlParser(conf)
      .parse(LineCleaner.decode(dumpBytes).split("\n", -1).toVector)
    val pw = "p\n  |q"
    val files = new KettleEmitter(conf, Map("sd" -> "1"),
      Map("pd" -> "1", "pw" -> pw)).emit(cat, "/kettle")
    files.foreach { case (name, xml) =>
      assert(xml.contains(s"<password>$pw</password>"), name)
    }
  }
}

object FrontEndGoldenSpec {

  /** Connection endpoints every option set is emitted with. */
  val connOpts: Seq[String] = Seq("-sd", "src_db", "-sh", "mssql.example",
    "-si", "INST1", "-sp", "1433", "-su", "sa", "-sw", "s3cret&<x>",
    "-pd", "dst_db", "-ph", "pg.example", "-pp", "5432", "-pu", "postgres",
    "-pw", "pg\"pw")

  val optionSets: Seq[String] = Seq("default", "-ignore_errors",
    "-use_pk_if_possible=1", "-camel_to_snake", "-keep_identifier_case",
    "-pforce_ssl -stringtype_unspecified")

  /** SSMS-style dump: bracketed names, CRLF line ends, GO batches. */
  val dumpText: String = Seq(
    "USE [golden]",
    "GO",
    "SET ANSI_NULLS ON",
    "GO",
    "SET QUOTED_IDENTIFIER ON",
    "GO",
    "SET ARITHABORT OFF",
    "GO",
    "CREATE SCHEMA [Sales]",
    "GO",
    "CREATE TYPE [dbo].[PhoneNumber] FROM [nvarchar](20) NULL",
    "GO",
    "CREATE TYPE [dbo].[OrderLines] AS TABLE(",
    "\t[LineNo] [int] NOT NULL,",
    "\t[Sku] [nvarchar](32) NULL,",
    "\t[Price] [decimal](10, 2) NULL,",
    "\tPRIMARY KEY CLUSTERED ([LineNo] ASC)",
    ")",
    "GO",
    "CREATE SEQUENCE [dbo].[InvoiceSeq] ",
    " AS [bigint]",
    " START WITH 1000",
    " INCREMENT BY 1",
    " MINVALUE 1",
    " MAXVALUE 9223372036854775807",
    " CACHE  50",
    "GO",
    "/****** Object:  Table [dbo].[Customer] ******/",
    "CREATE TABLE [dbo].[Customer](",
    "\t[CustomerID] [int] IDENTITY(1,1) NOT NULL,",
    "\t[FirstName] [nvarchar](50) COLLATE SQL_Latin1_General_CP1_CI_AS NOT NULL,",
    "\t[LastName] [nvarchar](50) COLLATE French_CI_AS NULL,",
    "\t[Phone] [dbo].[PhoneNumber] NULL,",
    "\t[Email] [varchar](120) NULL,",
    "\t[CreatedAt] [datetime2](7) NOT NULL CONSTRAINT [DF_Customer_CreatedAt] DEFAULT (getdate()),",
    "\t[IsActive] [bit] NOT NULL CONSTRAINT [DF_Customer_IsActive] DEFAULT ((1)),",
    "\t[Balance] [money] NULL DEFAULT ((0.00)),",
    "\t[Nickname] [nvarchar](30) NULL DEFAULT (N'none'),",
    "\t[RowGuid] [uniqueidentifier] ROWGUIDCOL NOT NULL CONSTRAINT [DF_Customer_RowGuid] DEFAULT (newid()),",
    "\t[FullName] AS ([FirstName]+' '+[LastName]) PERSISTED,",
    "\t[NameLen] AS (len([FirstName])),",
    " CONSTRAINT [PK_Customer] PRIMARY KEY CLUSTERED ",
    "(",
    "\t[CustomerID] ASC",
    ")WITH (PAD_INDEX = OFF, STATISTICS_NORECOMPUTE = OFF) ON [PRIMARY],",
    " CONSTRAINT [UQ_Customer_Email] UNIQUE NONCLUSTERED ([Email] ASC)",
    ") ON [PRIMARY]",
    "GO",
    "EXEC sys.sp_addextendedproperty @name=N'MS_Description', @value=N'People who " +
      "buy; it''s the core table' , @level0type=N'SCHEMA',@level0name=N'dbo', " +
      "@level1type=N'TABLE',@level1name=N'Customer'",
    "GO",
    "EXEC sys.sp_addextendedproperty @name=N'MS_Description', @value=N'Primary " +
      "e-mail' , @level0type=N'SCHEMA',@level0name=N'dbo', " +
      "@level1type=N'TABLE',@level1name=N'Customer', @level2type=N'COLUMN'," +
      "@level2name=N'Email'",
    "GO",
    "EXEC sys.sp_addextendedproperty @name=N'MS_DiagramPane1', @value=N'layout' , " +
      "@level0type=N'SCHEMA',@level0name=N'dbo'",
    "GO",
    "/****** Object:  Table [dbo].[Document] ******/",
    "CREATE TABLE [dbo].[Document](",
    "\t[DocID] [int] NOT NULL,",
    "\t[Title] [nvarchar](200) NOT NULL,",
    "\t[Body] [nvarchar](max) NULL,",
    "\t[Blob] [varbinary](max) NULL,",
    "\t[Thumb] [varbinary](256) NULL,",
    "\t[Meta] [xml] NULL,",
    "\t[Published] [date] NULL,",
    "\t[Stamp] [datetimeoffset](7) NULL,",
    "\t[OwnerGuid] [uniqueidentifier] NULL,",
    " CONSTRAINT [PK_Document] PRIMARY KEY CLUSTERED ",
    "(",
    "\t[DocID] ASC",
    ")WITH (PAD_INDEX = OFF) ON [PRIMARY]",
    ") ON [PRIMARY] TEXTIMAGE_ON [PRIMARY]",
    "GO",
    "/****** Object:  Table [dbo].[AuditLog] ******/",
    "CREATE TABLE [dbo].[AuditLog](",
    "\t[EventTime] [datetime] NOT NULL,",
    "\t[Message] [varchar](200) NULL,",
    "\t[Ratio] [float] NULL,",
    "\t[Tiny] [tinyint] NULL,",
    "\t[Small] [smallint] NULL,",
    "\t[Big] [bigint] NULL,",
    "\t[Flag] [bit] NULL,",
    "\t[Code] [char](3) NULL,",
    "\t[Legacy] [text] NULL",
    ") ON [PRIMARY]",
    "GO",
    "/****** Object:  Table [Sales].[OrderHeader] ******/",
    "CREATE TABLE [Sales].[OrderHeader](",
    "\t[OrderCode] [nvarchar](20) NOT NULL,",
    "\t[CustomerID] [int] NOT NULL,",
    "\t[Amount] [decimal](12, 2) NOT NULL,",
    "\t[Qty] [numeric](9, 0) NULL,",
    "\t[Status] [char](1) NULL,",
    "\t[OrderedAt] [smalldatetime] NULL,",
    "\t[Note] [ntext] NULL,",
    " CONSTRAINT [PK_OrderHeader] PRIMARY KEY CLUSTERED ",
    "(",
    "\t[OrderCode] ASC",
    ")WITH (PAD_INDEX = OFF) ON [PRIMARY]",
    ") ON [PRIMARY] TEXTIMAGE_ON [PRIMARY]",
    "GO",
    "/****** Object:  Table [Sales].[OrderLine] ******/",
    "CREATE TABLE [Sales].[OrderLine](",
    "\t[OrderCode] [nvarchar](20) NOT NULL,",
    "\t[LineNo] [int] NOT NULL,",
    "\t[Sku] [varchar](32) NOT NULL,",
    "\t[UnitPrice] [smallmoney] NULL,",
    "\t[Qty] [int] NOT NULL",
    ") ON [PRIMARY]",
    "GO",
    "ALTER TABLE [Sales].[OrderLine] ADD  CONSTRAINT [PK_OrderLine] PRIMARY KEY " +
      "CLUSTERED ([OrderCode] ASC, [LineNo] ASC)",
    "GO",
    "ALTER TABLE [Sales].[OrderLine] ADD  CONSTRAINT [DF_OrderLine_Qty]  DEFAULT ((1)) FOR [Qty]",
    "GO",
    "ALTER TABLE [Sales].[OrderHeader]  WITH CHECK ADD  CONSTRAINT " +
      "[FK_OrderHeader_Customer] FOREIGN KEY([CustomerID])",
    "REFERENCES [dbo].[Customer] ([CustomerID])",
    "ON DELETE CASCADE",
    "GO",
    "ALTER TABLE [Sales].[OrderHeader] CHECK CONSTRAINT [FK_OrderHeader_Customer]",
    "GO",
    "ALTER TABLE [Sales].[OrderLine]  WITH CHECK ADD  CONSTRAINT " +
      "[FK_OrderLine_Header] FOREIGN KEY([OrderCode])",
    "REFERENCES [Sales].[OrderHeader] ([OrderCode])",
    "GO",
    "ALTER TABLE [Sales].[OrderHeader]  WITH CHECK ADD  CONSTRAINT " +
      "[CK_OrderHeader_Amount] CHECK  (([Amount]>=(0) AND [Status]<>'X'))",
    "GO",
    "ALTER TABLE [Sales].[OrderLine]  WITH NOCHECK ADD  CONSTRAINT " +
      "[CK_OrderLine_Qty] CHECK  (([Qty]>(0)))",
    "GO",
    "CREATE NONCLUSTERED INDEX [IX_OrderHeader_Customer] ON [Sales].[OrderHeader]",
    "(",
    "\t[CustomerID] ASC,",
    "\t[OrderedAt] DESC",
    ")",
    "INCLUDE([Amount], [Status]) WHERE ([Status] IS NOT NULL) WITH " +
      "(PAD_INDEX = OFF, SORT_IN_TEMPDB = OFF) ON [PRIMARY]",
    "GO",
    "CREATE UNIQUE NONCLUSTERED INDEX [UX_Customer_Name] ON [dbo].[Customer]",
    "(",
    "\t[LastName] ASC,",
    "\t[FirstName] ASC",
    ") WITH (PAD_INDEX = OFF) ON [PRIMARY]",
    "GO",
    "CREATE VIEW [dbo].[ActiveCustomers]",
    "AS",
    "SELECT [CustomerID], [FirstName] + ' ' + [LastName] AS DisplayName,",
    "  ISNULL([Email], 'none') AS Email, CONVERT(varchar(10), [CreatedAt], 120) AS Since",
    "FROM dbo.[Customer] WHERE [IsActive] = 1",
    "GO",
    "CREATE PROCEDURE [dbo].[RefreshStats]",
    "AS",
    "BEGIN",
    "  SET NOCOUNT ON;",
    "  SELECT 1",
    "END",
    "GO",
    "GRANT SELECT ON [dbo].[Customer] TO [reporting]",
    "GO"
  ).mkString("", "\r\n", "\r\n")

  /** The dump as SSMS saves it: UTF-16LE with a byte-order mark. */
  val dumpBytes: Array[Byte] =
    Array(-1.toByte, -2.toByte) ++ dumpText.getBytes(StandardCharsets.UTF_16LE)

  /** Every output of the front half under one option set: the three DDL
    * scripts, the column map, the warnings and the Kettle artifacts
    * (job entries point at `/kettle`). */
  def render(opts: String): Map[String, String] = {
    val extra = if (opts == "default") Nil else opts.split(" ").toSeq
    val job: ConfFile.Job = Main.buildJob(connOpts ++ extra)
    val cat = new TsqlParser(job.config)
      .parse(LineCleaner.decode(dumpBytes).split("\n", -1).toVector)
    val ddl = new PgDdlEmitter(job.config).emit(cat)
    val kettle = new KettleEmitter(job.config, job.sqlServer, job.postgres)
      .emit(cat, "/kettle")
    Map("before.sql" -> ddl.before, "after.sql" -> ddl.after,
      "unsure.sql" -> ddl.unsure, "colmap.tsv" -> ddl.colMap,
      "warnings.txt" -> ddl.warnings.mkString("", "\n", "\n")) ++
      kettle.map { case (n, x) => s"kettle/$n" -> x }
  }
}
