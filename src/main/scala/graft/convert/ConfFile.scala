package graft.convert

/** The reference's configuration surface: conf-file parsing
  * (sqlserver2pgsql.pl:80–151 `parse_conf_file`) + the GetOptions CLI
  * matrix (pl:3272–3312), merged with the same precedence — a value
  * set on the command line wins; within the conf file the FIRST
  * occurrence of a key wins (pl:143–146 skips already-defined vars).
  *
  * Everything lands in a flat param map keyed by the reference's short
  * parameter names, then `toJob` binds the full `Config` plus the
  * job-level file/connection settings.
  */
object ConfFile {

  final case class ConfException(msg: String) extends RuntimeException(msg)

  /** conf-file key → short parameter name (pl:85–126, verbatim list). */
  val keyToParam: Map[String, String] = Map(
    "sql server database" -> "sd",
    "sql server host" -> "sh",
    "sql server host instance" -> "si",
    "sql server port" -> "sp",
    "sql server username" -> "su",
    "sql server password" -> "sw",
    "postgresql database" -> "pd",
    "postgresql host" -> "ph",
    "postgresql port" -> "pp",
    "postgresql username" -> "pu",
    "postgresql password" -> "pw",
    "kettle directory" -> "kettle",
    "parallelism_in" -> "pi",
    "parallelism_out" -> "po",
    "before file" -> "b",
    "after file" -> "a",
    "unsure file" -> "u",
    "sql server dump filename" -> "f",
    "case insensitive" -> "i",
    "no relabel dbo" -> "nr",
    "relabel schemas" -> "relabel_schemas",
    "keep identifier case" -> "keep_identifier_case",
    "camelcasetosnake" -> "camel_to_snake",
    "col map file" -> "col_map_file",
    "col map file header" -> "col_map_file_header",
    "col map file delimiter" -> "col_map_file_delimiter",
    "convert numeric to int" -> "num",
    "drop rowversion" -> "drop_rowversion",
    "validate constraints" -> "validate_constraints",
    "sort size" -> "sort_size",
    "use pk if possible" -> "use_pk_if_possible",
    "ignore errors" -> "ignore_errors",
    "sql server force ssl" -> "sforce_ssl",
    "postgresql force ssl" -> "pforce_ssl",
    "stringtype unspecified" -> "stringtype_unspecified",
    "skip citext length check" -> "skip_citext_length_check",
    "use identity column" -> "use_identity_column")

  /** CLI options taking a value (GetOptions "=s"/"=i" specs); all
    * others are boolean switches.
    */
  private val valueOpts = Set("k", "pi", "po", "b", "a", "u", "conf",
    "sd", "sh", "si", "sp", "su", "sw", "pd", "ph", "pp", "pu", "pw",
    "f", "col_map_file", "col_map_file_delimiter", "relabel_schemas",
    "validate_constraints", "sort_size", "use_pk_if_possible")

  private val boolOpts = Set("i", "nr", "num", "col_map_file_header",
    "drop_rowversion", "keep_identifier_case", "camel_to_snake",
    "ignore_errors", "sforce_ssl", "pforce_ssl",
    "stringtype_unspecified", "skip_citext_length_check",
    "use_identity_column", "h")

  private val kvRe = """^(.*?)=(.*)$""".r
  private val commentRe = "#.*".r
  private val spacedEqualsRe = """\s+=\s+""".r
  private val trailingSpaceRe = """\s+$""".r

  /** Parse conf-file lines: strip #-comments, tolerate whitespace
    * around `=`, fail on unknown keys or non key=value lines
    * (pl:128–150).
    */
  def parseConfLines(lines: Seq[String]): Seq[(String, String)] = {
    lines.flatMap { raw =>
      val line = trailingSpaceRe.replaceAllIn(spacedEqualsRe.replaceAllIn(
        commentRe.replaceAllIn(raw, ""), "="), "")
      if (line.isEmpty) None
      else line match {
        case kvRe(k, v) =>
          keyToParam.get(k) match {
            case Some(p) => Some(p -> v)
            case None => throw ConfException(
              s"Cannot understand parameter $k in configuration file")
          }
        case _ => throw ConfException(s"Cannot parse $line")
      }
    }
  }

  /** Parse CLI args into (params, confFile). Accepts both `-opt value`
    * and `-opt=value` forms for value options, like GetOptions; a
    * boolean switch is on when bare, else its inline value decides.
    */
  def parseCli(args: Seq[String]): Seq[(String, String)] = {
    val out = Seq.newBuilder[(String, String)]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("-"))
        throw ConfException(s"Unexpected argument $a")
      val body = a.dropWhile(_ == '-')
      val (name, inline) = body.indexOf('=') match {
        case -1 => (body, None)
        case n => (body.take(n), Some(body.drop(n + 1)))
      }
      if (valueOpts(name)) {
        inline match {
          case Some(v) => out += name -> v
          case None =>
            if (i + 1 >= args.length)
              throw ConfException(s"Option -$name requires a value")
            out += name -> args(i + 1); i += 1
        }
      } else if (boolOpts(name))
        // a bare switch means on; `-x=0` / `-x=1` carries its value
        // (GetOptions' negatable form, e.g. -use_identity_column=0)
        out += name -> (if (inline.forall(boolOf)) "1" else "0")
      else throw ConfException(s"Unknown option -$name")
      i += 1
    }
    out.result()
  }

  /** First occurrence wins (CLI entries are placed ahead of conf-file
    * entries, giving the reference's CLI-over-conf precedence).
    */
  def merge(entries: Seq[(String, String)]): Map[String, String] =
    entries.foldLeft(Map.empty[String, String]) {
      case (m, (k, v)) => if (m.contains(k)) m else m + (k -> v)
    }

  private def boolOf(v: String): Boolean =
    v.trim.toLowerCase match {
      case "1" | "true" | "yes" | "y" => true
      case _ => false
    }

  private val relabelArrowRe = "=>".r

  /** `relabel schemas` value: `src=>dst;src2=>dst2` (pl:716–751). */
  def parseRelabel(v: String): Map[String, String] =
    v.split(";").iterator.map(_.trim).filter(_.nonEmpty).map { pair =>
      relabelArrowRe.split(pair) match {
        case Array(s, d) => s.trim -> d.trim
        case _ => throw ConfException(s"Cannot parse relabel schemas: $pair")
      }
    }.toMap

  /** Everything the reference's option surface controls: conversion
    * semantics (Config) + job-level files and endpoints.
    */
  final case class Job(
      config: Config,
      dumpFile: Option[String],
      beforeFile: Option[String],
      afterFile: Option[String],
      unsureFile: Option[String],
      kettleDir: Option[String],
      colMapFile: Option[String],
      colMapHeader: Boolean,
      colMapDelimiter: String,
      sqlServer: Map[String, String],
      postgres: Map[String, String]) {

    /** Source JDBC URL from the reference's connection params
      * (pl:3650–3676: host, port, instance, database, force-ssl).
      */
    def sqlServerUrl: Option[String] = sqlServer.get("sd").map { db =>
      val host = sqlServer.getOrElse("sh", "localhost")
      val port = sqlServer.get("sp").map(p => s":$p").getOrElse("")
      val inst = sqlServer.get("si").map(i => s";instanceName=$i").getOrElse("")
      val ssl = if (sqlServer.contains("sforce_ssl"))
        ";encrypt=true;trustServerCertificate=true" else ""
      s"jdbc:sqlserver://$host$port$inst;databaseName=$db$ssl"
    }

    /** Target JDBC URL (pl:3680–3727): `stringtype=unspecified` lets PG
      * implicitly cast varchar parameters to citext/uuid/xml — the JDBC
      * twin of the B3 CREATE CAST statements emitted for text loads.
      */
    def postgresUrl: Option[String] = postgres.get("pd").map { db =>
      val host = postgres.getOrElse("ph", "localhost")
      val port = postgres.get("pp").map(p => s":$p").getOrElse("")
      val params = Seq(
        if (config.stringtypeUnspecified) Some("stringtype=unspecified") else None,
        if (postgres.contains("pforce_ssl")) Some("sslmode=require") else None
      ).flatten
      val q = if (params.isEmpty) "" else params.mkString("?", "&", "")
      s"jdbc:postgresql://$host$port/$db$q"
    }
  }

  def toJob(p: Map[String, String]): Job = {
    val keep = p.get("keep_identifier_case").exists(boolOf)
    val camel = p.get("camel_to_snake").exists(boolOf)
    if (keep && camel) throw ConfException(
      "keep identifier case and camelcasetosnake cannot be both set")
    val idCase =
      if (camel) IdentifierCase.CamelToSnake
      else if (keep) IdentifierCase.Keep
      else IdentifierCase.Lowercase
    val conf = Config(
      caseInsensitive = p.get("i").exists(boolOf),
      convertNumericToInt = p.get("num").exists(boolOf),
      identifierCase = idCase,
      dropRowversion = p.get("drop_rowversion").exists(boolOf),
      useIdentityColumn = p.get("use_identity_column").forall(boolOf),
      relabelDbo = !p.get("nr").exists(boolOf),
      relabelSchemas = p.get("relabel_schemas").map(parseRelabel)
        .getOrElse(Map.empty),
      validateConstraints = p.getOrElse("validate_constraints", "yes"),
      parallelismIn = p.get("pi").map(_.trim.toInt).getOrElse(1),
      parallelismOut = p.get("po").map(_.trim.toInt).getOrElse(8),
      sortSize = p.get("sort_size").map(_.trim.toInt).getOrElse(10000),
      ignoreErrors = p.get("ignore_errors").exists(boolOf),
      skipCitextLengthCheck = p.get("skip_citext_length_check").exists(boolOf),
      usePkIfPossible = p.getOrElse("use_pk_if_possible", ""),
      stringtypeUnspecified = p.get("stringtype_unspecified").exists(boolOf))
    Job(conf,
      dumpFile = p.get("f"),
      beforeFile = p.get("b"),
      afterFile = p.get("a"),
      unsureFile = p.get("u"),
      // CLI -k and conf-file "kettle directory" name the same setting
      kettleDir = p.get("k").orElse(p.get("kettle")),
      colMapFile = p.get("col_map_file"),
      colMapHeader = p.get("col_map_file_header").exists(boolOf),
      colMapDelimiter = p.getOrElse("col_map_file_delimiter", "\t"),
      sqlServer = endpoint(p, Seq("sd", "sh", "si", "sp", "su", "sw"), "sforce_ssl"),
      postgres = endpoint(p, Seq("pd", "ph", "pp", "pu", "pw"), "pforce_ssl"))
  }

  /** Connection params; the force-ssl switch is kept only when on, so
    * its presence is what the JDBC URLs and Kettle blocks test
    * (`-sforce_ssl=0` or `... force ssl = 0` leaves SSL off).
    */
  private def endpoint(p: Map[String, String], keys: Seq[String],
      ssl: String): Map[String, String] =
    keys.flatMap(k => p.get(k).map(k -> _)).toMap ++
      p.get(ssl).filter(boolOf).map(ssl -> _)
}
