package graft.convert

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Conf-file + CLI option binding — the reference's parse_conf_file
  * (sqlserver2pgsql.pl:80–151) and GetOptions matrix (pl:3272–3312),
  * including the example_conf_file shipping with the reference.
  */
class ConfFileSpec extends AnyFunSuite {

  test("conf lines: comments, spaces around =, unknown key dies") {
    val entries = ConfFile.parseConfLines(Seq(
      "# full-line comment",
      "sql server dump filename = /tmp/dump   # trailing comment",
      "case insensitive         = 1",
      "",
      "relabel schemas          = dbo=>foo;s1=>bar"))
    val m = ConfFile.merge(entries)
    assert(m("f") === "/tmp/dump")
    assert(m("i") === "1")
    assert(m("relabel_schemas") === "dbo=>foo;s1=>bar")
    intercept[ConfFile.ConfException] {
      ConfFile.parseConfLines(Seq("no such parameter = 1"))
    }
    intercept[ConfFile.ConfException] {
      ConfFile.parseConfLines(Seq("just some text"))
    }
  }

  test("CLI wins over conf; first conf occurrence wins") {
    val cli = ConfFile.parseCli(Seq("-f", "/cli/dump", "-num"))
    val conf = ConfFile.parseConfLines(Seq(
      "sql server dump filename = /conf/dump",
      "before file = /conf/before",
      "before file = /conf/before2"))
    val m = ConfFile.merge(cli ++ conf)
    assert(m("f") === "/cli/dump")     // CLI precedence (pl:143-146)
    assert(m("b") === "/conf/before")  // first occurrence wins
    assert(m("num") === "1")
  }

  test("CLI forms: -opt value, -opt=value, switches, unknown dies") {
    val m = ConfFile.merge(ConfFile.parseCli(Seq(
      "-f=/d.sql", "-po", "16", "-validate_constraints=after", "-i", "-nr")))
    assert(m("f") === "/d.sql")
    assert(m("po") === "16")
    assert(m("validate_constraints") === "after")
    assert(m("i") === "1" && m("nr") === "1")
    intercept[ConfFile.ConfException] { ConfFile.parseCli(Seq("-bogus")) }
    intercept[ConfFile.ConfException] { ConfFile.parseCli(Seq("-f")) }
  }

  test("toJob binds the full Config surface") {
    val job = ConfFile.toJob(ConfFile.merge(ConfFile.parseCli(Seq(
      "-f", "/d.sql", "-b", "/b.sql", "-a", "/a.sql", "-u", "/u.sql",
      "-i", "-num", "-camel_to_snake", "-drop_rowversion", "-nr",
      "-validate_constraints", "after", "-pi", "4", "-po", "16",
      "-sort_size", "50000", "-ignore_errors", "-skip_citext_length_check",
      "-stringtype_unspecified", "-use_pk_if_possible", "*",
      "-relabel_schemas", "dbo=>app;x=>y",
      "-sd", "db1", "-sh", "host1", "-su", "sa", "-sw", "pw1",
      "-pd", "db2", "-ph", "host2", "-pu", "pg", "-pw", "pw2"))))
    val c = job.config
    assert(c.caseInsensitive && c.convertNumericToInt && c.dropRowversion)
    assert(c.identifierCase === IdentifierCase.CamelToSnake)
    assert(!c.relabelDbo)
    assert(c.validateConstraints === "after")
    assert(c.parallelismIn === 4 && c.parallelismOut === 16)
    assert(c.sortSize === 50000 && c.ignoreErrors)
    assert(c.skipCitextLengthCheck && c.stringtypeUnspecified)
    assert(c.usePkIfPossible === "*")
    assert(c.relabelSchemas === Map("dbo" -> "app", "x" -> "y"))
    assert(job.sqlServer === Map("sd" -> "db1", "sh" -> "host1",
      "su" -> "sa", "sw" -> "pw1"))
    assert(job.postgres === Map("pd" -> "db2", "ph" -> "host2",
      "pu" -> "pg", "pw" -> "pw2"))
  }

  test("connection params bind to JDBC read/write specs") {
    val job = ConfFile.toJob(ConfFile.merge(ConfFile.parseCli(Seq(
      "-sd", "srcdb", "-sh", "mssql.example", "-sp", "1433", "-si", "INST",
      "-su", "sa", "-sw", "s3c", "-sforce_ssl",
      "-pd", "tgtdb", "-ph", "pg.example", "-pp", "5433", "-pu", "pg",
      "-pw", "p4s", "-stringtype_unspecified", "-pforce_ssl",
      "-pi", "6", "-po", "12"))))
    assert(job.sqlServerUrl === Some("jdbc:sqlserver://mssql.example:1433" +
      ";instanceName=INST;databaseName=srcdb;encrypt=true;trustServerCertificate=true"))
    assert(job.postgresUrl === Some(
      "jdbc:postgresql://pg.example:5433/tgtdb?stringtype=unspecified&sslmode=require"))
    val read = graft.sources.Tables.specFromJob(job, "dbo.T",
      partitionColumn = Some("id"), bounds = Some((0L, 100L)))
    assert(read.numPartitions === 6 && read.user === "sa")
    val write = graft.operators.JdbcSink.specFromJob(job, "public.t")
    assert(write.numPartitions === 12 && write.user === "pg")
    assert(write.url.startsWith("jdbc:postgresql://pg.example:5433/tgtdb"))
  }

  test("-sforce_ssl / -pforce_ssl follow their value, not their presence") {
    val ends = Seq("-sd", "src", "-pd", "tgt")
    val cat = new graft.parser.TsqlParser(Config()).parse(Seq(
      "CREATE TABLE [dbo].[T](", "\t[id] [int] NOT NULL", ") ON [PRIMARY]", "GO"))
    /** (SQL Server URL, PostgreSQL URL, SQL Server Kettle block,
      * PostgreSQL Kettle block) each forcing SSL. */
    def ssl(job: ConfFile.Job) = {
      val ktr = new graft.emit.KettleEmitter(job.config, job.sqlServer,
        job.postgres).emit(cat, "/tmp/kettle").values.mkString
      (job.sqlServerUrl.get.contains("encrypt=true"),
        job.postgresUrl.get.contains("sslmode=require"),
        ktr.contains("EXTRA_OPTION_MSSQL.ssl"),
        ktr.contains("EXTRA_OPTION_POSTGRESQL.ssl"))
    }
    def cli(args: String*) = ssl(graft.tools.Main.buildJob(ends ++ args))
    def conf(v: String) = ssl(ConfFile.toJob(ConfFile.merge(
      ConfFile.parseCli(ends) ++ ConfFile.parseConfLines(Seq(
        s"sql server force ssl = $v", s"postgresql force ssl = $v")))))
    val on = (true, true, true, true)
    val off = (false, false, false, false)
    assert(cli("-sforce_ssl=0", "-pforce_ssl=0") === off)
    assert(cli("-sforce_ssl=1", "-pforce_ssl=1") === on)
    assert(cli("-sforce_ssl", "-pforce_ssl") === on)   // bare switch: on
    assert(cli() === off)
    assert(cli("-sforce_ssl") === ((true, false, true, false)))
    assert(conf("0") === off)
    assert(conf("1") === on)
  }

  test("-ignore_errors reaches the copy sink spec") {
    def ignore(args: String*) = graft.operators.JdbcSink.specFromJob(
      graft.tools.Main.buildJob(Seq("-pd", "tgt") ++ args), "t").ignoreErrors
    assert(ignore("-ignore_errors"))
    assert(!ignore("-ignore_errors=0"))
    assert(!ignore())
  }

  test("buildJob is embeddable: -h does not exit the JVM") {
    // -h parses as a plain boolean flag; only Main.main() exits on it
    val job = graft.tools.Main.buildJob(Seq("-h", "-f", "/d.sql"))
    assert(job.dumpFile === Some("/d.sql"))
  }

  test("-use_identity_column=0 binds useIdentityColumn = false") {
    def identity(args: String*) =
      graft.tools.Main.buildJob(args).config.useIdentityColumn
    assert(!identity("-use_identity_column=0"))
    assert(identity("-use_identity_column=1"))
    assert(identity("-use_identity_column"))   // bare switch: on
    assert(identity())                         // default: on
  }

  test("keep_identifier_case + camel_to_snake is rejected") {
    intercept[ConfFile.ConfException] {
      ConfFile.toJob(Map("keep_identifier_case" -> "1",
        "camel_to_snake" -> "1"))
    }
  }

  test("skip citext length check drops the generated CHECK") {
    val base = Config(caseInsensitive = true)
    val t = graft.catalog.SqlType("varchar", arg1 = Some(50))
    assert(TypeMapper.convert(t, base).generatedCheck.isDefined)
    assert(TypeMapper.convert(t,
      base.copy(skipCitextLengthCheck = true)).generatedCheck.isEmpty)
  }

  test("the reference's example_conf_file parses (uncommented)") {
    val p = Paths.get("/root/reference/example_conf_file")
    assume(Files.exists(p))
    import scala.jdk.CollectionConverters._
    // activate the commented-out option lines too: they must all be
    // understood keys (drop the leading # from "#key = value" lines)
    val lines = Files.readAllLines(p).asScala.toSeq.map { l =>
      if (l.matches("^#[a-z].*=.*")) l.drop(1) else l
    }
    val job = ConfFile.toJob(ConfFile.merge(ConfFile.parseConfLines(lines)))
    assert(job.dumpFile === Some("/tmp/dump"))
    assert(job.beforeFile === Some("/tmp/before"))
    assert(job.afterFile === Some("/tmp/after"))
    assert(job.unsureFile === Some("/tmp/unsure"))
    assert(job.kettleDir === Some("/tmp/kettle"))
    assert(job.config.relabelSchemas === Map("dbo" -> "foo", "schema1" -> "bar"))
    assert(job.config.validateConstraints === "yes")
  }

  test("Main converts a dump end-to-end from a conf file") {
    val dir = Files.createTempDirectory("graft_conf")
    val dump = Paths.get("/root/reference/regression/basic_test/views.sql")
    assume(Files.exists(dump))
    val conf = dir.resolve("job.conf")
    Files.writeString(conf,
      s"""# graft job conf
         |sql server dump filename = $dump
         |before file              = $dir/before.sql
         |after file               = $dir/after.sql
         |unsure file              = $dir/unsure.sql
         |col map file             = $dir/colmap.txt
         |col map file header      = 1
         |convert numeric to int   = 1
         |""".stripMargin)
    val job = graft.tools.Main.buildJob(Seq("-conf", conf.toString))
    assert(job.config.convertNumericToInt)
    graft.tools.Main.main(Array("-conf", conf.toString))
    assert(Files.readString(dir.resolve("before.sql")).contains("CREATE TABLE"))
    assert(Files.readString(dir.resolve("colmap.txt")).startsWith("source"))
  }
}
