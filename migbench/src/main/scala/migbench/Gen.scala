package migbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generators. Every size (table counts, column counts,
  * row counts, churn counts) comes from a fixed schedule; the seed only
  * picks names, filler types and values. Two seeds therefore give
  * workloads of the same shape, and the same seed gives identical bytes.
  */
object Gen {

  private val words = Vector("orders", "items", "customers", "invoices",
    "payments", "shipments", "accounts", "ledger", "products", "stock",
    "suppliers", "returns", "notes", "events", "audit", "regions",
    "contracts", "tickets", "rates", "batches")

  private val fillerTypes = Vector("[nvarchar](100)", "[varchar](50)",
    "[decimal](12, 2)", "[numeric](18, 4)", "[money]", "[float]", "[real]",
    "[bigint]", "[smallint]", "[tinyint]", "[date]", "[datetime]",
    "[datetime2](7)", "[datetimeoffset](7)", "[uniqueidentifier]",
    "[nvarchar](max)", "[varbinary](max)", "[xml]", "[char](10)",
    "[dbo].[phone_t]", "[bit]")

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  // ---- T-SQL dump model ------------------------------------------------

  final case class Col(name: String, tsql: String, notNull: Boolean = false,
      identity: Boolean = false, computed: Option[String] = None,
      default: Option[(String, String)] = None, collate: Boolean = false)
  final case class Idx(name: String, cols: Seq[String],
      include: Seq[String] = Nil, where: Option[String] = None,
      unique: Boolean = false)
  final case class Fk(name: String, col: String, refSchema: String,
      refTable: String, refCol: String)
  final case class Tbl(schema: String, name: String, cols: Vector[Col],
      pk: Option[(String, Seq[String])] = None,
      uq: Option[(String, Seq[String])] = None,
      fks: Seq[Fk] = Nil,
      checks: Seq[(String, String)] = Nil,
      alterDefaults: Seq[(String, String, String)] = Nil,
      indexes: Seq[Idx] = Nil,
      comment: Option[String] = None) {
    /** Schema name after the default dbo → public relabel. */
    def pgSchema: String = if (schema == "dbo") "public" else schema
  }
  final case class View(schema: String, name: String, body: String) {
    def pgSchema: String = if (schema == "dbo") "public" else schema
  }

  /** A generated dump and its manifest: what a correct parse must find. */
  final case class Dump(tables: Vector[Tbl], views: Vector[View],
      sequences: Vector[String], domains: Vector[String], procs: Int,
      utf16: Boolean, bytes: Array[Byte], lines: Int) {
    def computedCols: Int = tables.map(_.cols.count(_.computed.isDefined)).sum
    /** Parser warnings the dump must raise: one per computed column and
      * one per skipped procedure. */
    def expectedWarnings: Int = computedCols + procs
    /** Sequences the catalog must hold: explicit ones plus one per
      * IDENTITY column. */
    def expectedSequences: Seq[(String, String)] =
      sequences.map(s => "public" -> s) ++ tables.flatMap(t =>
        t.cols.filter(_.identity).map(c => t.pgSchema -> s"${t.name}_${c.name}_seq"))
  }

  /** Tables per dump in the schema_convert pool, cycled by dump index.
    * An assumed spread from small to mid-sized schemas, not a measured
    * one. */
  val dumpTableCounts: Vector[Int] = Vector(4, 8, 12, 16, 24, 32, 48, 64)

  /** Every fourth dump is UTF-16LE with a BOM, like an SSMS export. */
  def isUtf16(dumpIdx: Int): Boolean = dumpIdx % 4 == 3

  /** A dump exercising the parser's documented constructs: IDENTITY,
    * computed columns, defaults, COLLATE, PK/UNIQUE/FK/CHECK,
    * INCLUDE/WHERE indexes, sequences, views, domains, extended
    * properties and a skipped procedure.
    */
  def richDump(seed: Long, dumpIdx: Int): Dump = {
    val r = rng(seed, 1000L + dumpIdx)
    val n = dumpTableCounts(dumpIdx % dumpTableCounts.size)
    val tables = Vector.newBuilder[Tbl]
    var singlePk = Vector.empty[Tbl]
    for (i <- 0 until n) {
      val schema = if (i % 5 == 4) "sales" else "dbo"
      val name = s"t${i}_${words(r.nextInt(words.size))}"
      val layout = i % 6
      val idCols =
        if (layout == 4) Vector(Col("id", "[int]", notNull = true),
          Col("line_no", "[smallint]", notNull = true))
        else Vector(Col("id", "[int]", notNull = true, identity = layout != 5))
      val base = idCols ++ Vector(
        Col("qty", "[int]"),
        Col("code", "[nvarchar](40)", notNull = true, collate = true),
        Col("flag", "[bit]", notNull = true,
          default = Some(s"df_t${i}_flag" -> "((0))")),
        Col("created", "[datetime2](7)"))
      val nFiller = 1 + (i * 7 + dumpIdx) % 8
      val filler = (0 until nFiller).map(k =>
        Col(s"c$k", fillerTypes(r.nextInt(fillerTypes.size))))
      val computed =
        if (i % 3 == 0) Vector(Col("qty2", "", computed = Some("([qty]*(2))")))
        else Vector.empty
      val ref = singlePk.lastOption.filter(_ => i % 3 != 2)
      val refCol = ref.map(_ => Col("ref_id", "[int]")).toVector
      val cols = base ++ filler ++ computed ++ refCol
      val pk = layout match {
        case 4 => Some(s"pk_t$i" -> Seq("id", "line_no"))
        case 5 => None
        case _ => Some(s"pk_t$i" -> Seq("id"))
      }
      val t = Tbl(schema, name, cols, pk,
        uq = if (i % 4 == 1) Some(s"uq_t$i" -> Seq("code")) else None,
        fks = ref.map(rt => Fk(s"fk_t$i", "ref_id", rt.schema, rt.name, "id")).toSeq,
        checks = Seq(s"ck_t${i}_qty" -> "([qty]>=(0))") ++
          (if (i % 7 == 3) Seq(s"ck_t${i}_code" -> "([code]<>'')") else Nil),
        alterDefaults = if (i % 4 == 2) Seq((s"df_t${i}_created", "(getdate())", "created")) else Nil,
        indexes = (if (i % 3 == 1) Seq(Idx(s"ix_t${i}_code", Seq("code"),
            include = Seq("qty"))) else Nil) ++
          (if (i % 5 == 2) Seq(Idx(s"ix_t${i}_qty", Seq("qty"),
            where = Some("([qty]>(0))"))) else Nil),
        comment = if (i % 4 == 0) Some(s"table $i of dump $dumpIdx") else None)
      tables += t
      if (layout < 4) singlePk :+= t
    }
    val ts = tables.result()
    val views = ts.zipWithIndex.collect { case (t, i) if i % 6 == 0 =>
      View(t.schema, s"v_${t.name}",
        s"SELECT [id], [code], isnull([qty], 0) AS qty_nz FROM [${t.schema}].[${t.name}] WHERE [flag] = 1")
    }
    build(ts, views, Vector(s"seq_d$dumpIdx"), Vector("phone_t"), procs = 1,
      utf16 = isUtf16(dumpIdx), dumpIdx)
  }

  private def build(tables: Vector[Tbl], views: Vector[View],
      sequences: Vector[String], domains: Vector[String], procs: Int,
      utf16: Boolean, dumpIdx: Int): Dump = {
    val text = render(tables, views, sequences, domains, procs, dumpIdx)
    val bytes =
      if (utf16) Array(-1.toByte, -2.toByte) ++ text.getBytes(StandardCharsets.UTF_16LE)
      else text.getBytes(StandardCharsets.UTF_8)
    Dump(tables, views, sequences, domains, procs, utf16, bytes,
      text.count(_ == '\n'))
  }

  /** SSMS-style rendering: bracketed names, CRLF line ends, GO batches. */
  def render(tables: Seq[Tbl], views: Seq[View], sequences: Seq[String],
      domains: Seq[String], procs: Int, dumpIdx: Int): String = {
    val sb = new StringBuilder
    def ln(s: String): Unit = sb ++= s ++= "\r\n"
    def go(): Unit = ln("GO")
    ln(s"USE [bench_d$dumpIdx]"); go()
    ln("SET ANSI_NULLS ON"); go()
    ln("SET QUOTED_IDENTIFIER ON"); go()
    if (tables.exists(_.schema == "sales")) { ln("CREATE SCHEMA [sales]"); go() }
    domains.foreach { d => ln(s"CREATE TYPE [dbo].[$d] FROM [nvarchar](20) NULL"); go() }
    sequences.foreach { s =>
      ln(s"CREATE SEQUENCE [dbo].[$s] ")
      ln(" AS [bigint]"); ln(" START WITH 1000"); ln(" INCREMENT BY 1")
      ln(" MINVALUE 1"); ln(" MAXVALUE 9223372036854775807"); ln(" CACHE  50")
      go()
    }
    tables.foreach { t =>
      ln(s"/****** Object:  Table [${t.schema}].[${t.name}] ******/")
      ln(s"CREATE TABLE [${t.schema}].[${t.name}](")
      val items = t.cols.map { c =>
        c.computed match {
          case Some(e) => s"\t[${c.name}] AS $e PERSISTED"
          case None =>
            val sb2 = new StringBuilder(s"\t[${c.name}] ${c.tsql}")
            if (c.identity) sb2 ++= " IDENTITY(1,1)"
            if (c.collate) sb2 ++= " COLLATE SQL_Latin1_General_CP1_CI_AS"
            sb2 ++= (if (c.notNull) " NOT NULL" else " NULL")
            c.default.foreach { case (n, v) => sb2 ++= s" CONSTRAINT [$n] DEFAULT $v" }
            sb2.toString
        }
      }
      val cons = t.pk.toSeq.map { case (n, cs) =>
        s" CONSTRAINT [$n] PRIMARY KEY CLUSTERED \r\n(\r\n" +
          cs.map(c => s"\t[$c] ASC").mkString(",\r\n") +
          "\r\n)WITH (PAD_INDEX = OFF, STATISTICS_NORECOMPUTE = OFF) ON [PRIMARY]"
      } ++ t.uq.toSeq.map { case (n, cs) =>
        s" CONSTRAINT [$n] UNIQUE NONCLUSTERED (${cs.map(c => s"[$c] ASC").mkString(", ")})"
      }
      sb ++= (items ++ cons).mkString(",\r\n") ++= "\r\n"
      ln(") ON [PRIMARY] TEXTIMAGE_ON [PRIMARY]"); go()
      t.comment.foreach { cm =>
        ln(s"EXEC sys.sp_addextendedproperty @name=N'MS_Description', " +
          s"@value=N'$cm' , @level0type=N'SCHEMA',@level0name=N'${t.schema}', " +
          s"@level1type=N'TABLE',@level1name=N'${t.name}'")
        go()
      }
    }
    tables.foreach { t =>
      t.alterDefaults.foreach { case (n, v, c) =>
        ln(s"ALTER TABLE [${t.schema}].[${t.name}] ADD  CONSTRAINT [$n]  DEFAULT $v FOR [$c]")
        go()
      }
      t.fks.foreach { fk =>
        ln(s"ALTER TABLE [${t.schema}].[${t.name}]  WITH CHECK ADD  CONSTRAINT " +
          s"[${fk.name}] FOREIGN KEY([${fk.col}])")
        ln(s"REFERENCES [${fk.refSchema}].[${fk.refTable}] ([${fk.refCol}])")
        ln("ON DELETE CASCADE"); go()
        ln(s"ALTER TABLE [${t.schema}].[${t.name}] CHECK CONSTRAINT [${fk.name}]"); go()
      }
      t.checks.foreach { case (n, e) =>
        ln(s"ALTER TABLE [${t.schema}].[${t.name}]  WITH CHECK ADD  CONSTRAINT [$n] CHECK  ($e)")
        go()
      }
      t.indexes.foreach { ix =>
        ln(s"CREATE ${if (ix.unique) "UNIQUE " else ""}NONCLUSTERED INDEX [${ix.name}] " +
          s"ON [${t.schema}].[${t.name}]")
        ln("(")
        ln(ix.cols.map(c => s"\t[$c] ASC").mkString(",\r\n"))
        ln(")" + (if (ix.include.nonEmpty)
          s"\r\nINCLUDE(${ix.include.map(c => s"[$c]").mkString(", ")})" else "") +
          ix.where.map(w => s" WHERE $w").getOrElse("") +
          " WITH (PAD_INDEX = OFF, SORT_IN_TEMPDB = OFF) ON [PRIMARY]")
        go()
      }
    }
    views.foreach { v =>
      ln(s"CREATE VIEW [${v.schema}].[${v.name}]"); ln("AS"); ln(v.body); go()
    }
    (0 until procs).foreach { p =>
      ln(s"CREATE PROCEDURE [dbo].[p_refresh_$p]"); ln("AS"); ln("BEGIN")
      ln("  SET NOCOUNT ON;"); ln("  SELECT 1"); ln("END"); go()
    }
    sb.toString
  }

  // ---- data tables for the copy and sync workloads ----------------------

  /** Column kinds of the data tables, with their Derby stand-in types. */
  sealed abstract class Kind(val tsql: String, val derbySrc: String,
      val derbyCopyTgt: String)
  case object KInt extends Kind("[int]", "INT", "INT")
  case object KCode extends Kind("[nvarchar](40)", "VARCHAR(40)", "VARCHAR(40)")
  case object KDec extends Kind("[decimal](12, 2)", "DECIMAL(12,2)", "DECIMAL(12,2)")
  case object KUuid extends Kind("[uniqueidentifier]", "CHAR(36)", "CHAR(36)")
  case object KDto extends Kind("[datetimeoffset](7)", "TIMESTAMP", "VARCHAR(40)")
  case object KDt2 extends Kind("[datetime2](7)", "TIMESTAMP", "VARCHAR(30)")
  case object KLob extends Kind("[nvarchar](max)", "CLOB", "CLOB")
  case object KNote extends Kind("[nvarchar](200)", "VARCHAR(200)", "VARCHAR(200)")

  final case class DataCol(name: String, kind: Kind)
  final case class DataTable(name: String, cols: Vector[DataCol], rows: Int) {
    def tbl: Tbl = Tbl("dbo", name,
      cols.map(c => Col(c.name, c.kind.tsql, notNull = c.name == "id",
        identity = c.name == "id")),
      pk = Some(s"pk_$name" -> Seq("id")))
  }

  /** Zipf rank-size row counts: most tables small, a few mid-sized.
    * The exponent, the row range and the table counts are assumptions,
    * not taken from a measured set of schemas. They were chosen so that
    * per-table fixed costs (planning, schema probes, truncate, job
    * launch), not Derby inserts, make most of a copy's time, and so that
    * one round stays short enough for many rounds per run. */
  def zipfRows(rank: Int, top: Int, floor: Int): Int =
    math.max(floor, math.round(top / math.pow(rank + 1, 1.15)).toInt)

  /** The bulk_copy database: every column kind the copy plan rewrites
    * (uuid, datetimeoffset, datetime2), decimals, NUL-bearing strings,
    * and a LOB column on every third table. */
  def copyTables(seed: Long, n: Int): Vector[DataTable] = {
    val r = rng(seed, 2L)
    val order = shuffled(r, (0 until n).toVector)
    order.zipWithIndex.map { case (rank, i) =>
      val cols = Vector(DataCol("id", KInt), DataCol("code", KCode),
        DataCol("amount", KDec), DataCol("guid", KUuid),
        DataCol("stamp", KDto), DataCol("created", KDt2),
        DataCol("qty", KInt)) ++
        (if (rank % 3 == 0) Vector(DataCol("notes", KLob)) else Vector.empty)
      DataTable(s"c${i}_${words(r.nextInt(words.size))}", cols,
        zipfRows(rank, 1500, 30))
    }
  }

  /** Sync tables: a PK, text, a nullable int, a decimal, a timestamp
    * and a nullable note. */
  def syncTables(seed: Long, n: Int, rows: Int): Vector[DataTable] = {
    val r = rng(seed, 3L)
    (0 until n).toVector.map { i =>
      DataTable(s"S${i}_${words(r.nextInt(words.size)).toUpperCase}",
        Vector(DataCol("id", KInt), DataCol("name", KCode),
          DataCol("qty", KInt), DataCol("price", KDec),
          DataCol("updated", KDt2), DataCol("note", KNote)), rows)
    }
  }

  def dataDump(tables: Seq[DataTable], dumpIdx: Int): Dump =
    build(tables.map(_.tbl).toVector, Vector.empty, Vector.empty,
      Vector.empty, procs = 0, utf16 = false, dumpIdx)

  private def shuffled[A](r: SplittableRandom, v: Vector[A]): Vector[A] = {
    val a = v.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[A]]
  }

  // ---- values ----------------------------------------------------------

  private val alnum = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 "

  def text(r: SplittableRandom, min: Int, max: Int, nulShare: Double): String = {
    val len = min + r.nextInt(max - min + 1)
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) { sb += alnum.charAt(r.nextInt(alnum.length)); i += 1 }
    if (r.nextDouble() < nulShare) sb.insert(r.nextInt(len + 1), '\u0000')
    sb.toString
  }

  /** Base for generated timestamps: 2020-01-01T00:00:00Z. */
  private val epoch2020 = 1577836800000L
  private val fiveYearsMs = 5L * 365 * 24 * 3600 * 1000

  /** One generated value for a column kind, as the JDBC object loaded
    * into the source. */
  def value(r: SplittableRandom, k: Kind, id: Int): AnyRef = k match {
    case KInt => if (r.nextInt(10) == 0) null else Integer.valueOf(r.nextInt(100000))
    case KCode => text(r, 4, 30, 0.1)
    case KDec => java.math.BigDecimal.valueOf(r.nextLong(10000000L), 2)
    case KUuid => new java.util.UUID(r.nextLong(), r.nextLong()).toString.toUpperCase
    case KDto | KDt2 => new java.sql.Timestamp(epoch2020 + r.nextLong(fiveYearsMs))
    case KLob => text(r, 100, 1500, 0.2)
    case KNote => if (r.nextInt(5) == 0) null else text(r, 0, 120, 0.0)
  }
}
