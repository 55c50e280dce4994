package graft.convert

import org.apache.spark.sql.types._
import graft.catalog.SqlType

/** B1/B2: MSSQL → PostgreSQL + Spark type conversion.
  *
  * Re-expresses the reference's `%types` table + `convert_type()`
  * (sqlserver2pgsql.pl:261–288, 295–434) and `convert_numeric_to_int`
  * (pl:226–238). Pure function of (type, config); also reports any
  * generated CHECK predicate (citext length / bytea octet_length,
  * pl:308–317, 386–418) and required extensions/casts.
  */
object TypeMapper {

  final case class Converted(
      pgType: String,
      sparkType: DataType,
      /** generated CHECK body with `%s` for the (quoted) column name. */
      generatedCheck: Option[String] = None,
      requiresCitext: Boolean = false,
      requiresPostgis: Boolean = false,
      /** implicit target-side cast kind needed for text loads (pl:243–255):
        * 'C' = CREATE CAST … WITH INOUT, 'S' = pg_cast catalog tweak. */
      castKind: Option[Char] = None,
      warning: Option[String] = None
  )

  /** No-brainer static map (pl:261–288): mssql name → (pg name, spark). */
  private val simple: Map[String, (String, DataType)] = Map(
    "int"            -> ("int", IntegerType),
    "smallint"       -> ("smallint", ShortType),
    "bigint"         -> ("bigint", LongType),
    "tinyint"        -> ("smallint", ShortType), // widened (pl:267)
    "text"           -> ("text", StringType),
    "ntext"          -> ("text", StringType),
    "real"           -> ("real", FloatType),
    "float"          -> ("double precision", DoubleType),
    "date"           -> ("date", DateType),
    "datetime"       -> ("timestamp", TimestampNTZType),
    "datetime2"      -> ("timestamp", TimestampNTZType),
    "smalldatetime"  -> ("timestamp", TimestampNTZType),
    // PG time-of-day; Spark lacks a time type → micros-of-day LongType
    "time"           -> ("time", LongType),
    // MSSQL rowversion is NOT a time! (pl:279–280)
    "timestamp"      -> ("bytea", BinaryType),
    "rowversion"     -> ("bytea", BinaryType),
    "datetimeoffset" -> ("timestamp with time zone", TimestampType),
    "image"          -> ("bytea", BinaryType),
    "money"          -> ("numeric", DecimalType(19, 4)),
    "smallmoney"     -> ("numeric(6,4)", DecimalType(10, 4)),
    "uniqueidentifier" -> ("uuid", StringType),
    "xml"            -> ("xml", StringType)
  )

  /** Full conversion (pl:295–434). `domains` = user-defined types already
    * registered (A13) so columns can use them (pl:1898–1913).
    */
  def convert(t: SqlType, conf: Config = Config(),
      domains: Map[String, String] = Map.empty,
      tableTypes: Set[String] = Set.empty): Converted = {
    val n = t.name.toLowerCase
    n match {
      case _ if domains.contains(n) =>
        Converted(domains(n), StringType) // domain's spark type approximated
      case _ if tableTypes.contains(n) =>
        // columns of a table type become arrays of the composite (pl:419–428)
        Converted(s"$n[]", ArrayType(StringType))
      case "bit" => Converted("boolean", BooleanType)
      case "char" | "nchar" =>
        textType("char", t, conf)
      case "varchar" | "nvarchar" =>
        textType("varchar", t, conf)
      case "text" | "ntext" if conf.caseInsensitive =>
        Converted("citext", StringType, requiresCitext = true)
      case "sysname" => // internal name type (pl:356–360)
        textType("varchar", t.copy(arg1 = Some(128)), conf)
      case "decimal" | "numeric" =>
        numericType(t, conf)
      case "geometry" | "geography" => // PostGIS (pl:362–372)
        Converted(n, BinaryType, requiresPostgis = true)
      case "sql_variant" => // (pl:373–378)
        Converted("text", StringType,
          warning = Some("sql_variant converted to text"))
      case "binary" | "varbinary" =>
        // + CHECK octet_length <= n (pl:308–317); (max) → unbounded
        val check = t.arg1.filterNot(_ => t.isMax)
          .map(len => s"octet_length(%s) <= $len")
        Converted("bytea", BinaryType, generatedCheck = check)
      case "uniqueidentifier" =>
        Converted("uuid", StringType, castKind = Some('C'))
      case "date" =>
        Converted("date", DateType, castKind = Some('C'))
      case "datetimeoffset" =>
        Converted("timestamp with time zone", TimestampType,
          castKind = Some('C'))
      case "xml" =>
        Converted("xml", StringType, castKind = Some('S'))
      case _ =>
        simple.get(n) match {
          case Some((pg, spark)) => Converted(pg, spark)
          case None =>
            Converted("text", StringType,
              warning = Some(s"unknown type <${t.render}> converted to text"))
        }
    }
  }

  /** char/varchar with optional length; citext under -i (pl:386–418).
    * `(max)` drops the qualifier → unbounded (pl:1423–1427).
    */
  private def textType(pgBase: String, t: SqlType, conf: Config): Converted =
    if (conf.caseInsensitive) {
      val check = t.arg1.filterNot(_ => t.isMax)
        .filterNot(_ => conf.skipCitextLengthCheck) // pl:420–424
        .map(len => s"char_length(%s) <= $len")
      Converted("citext", StringType, generatedCheck = check,
        requiresCitext = true)
    } else {
      val pg = t.arg1 match {
        case Some(len) if !t.isMax => s"$pgBase($len)"
        case _ => if (pgBase == "char") "char" else "varchar"
      }
      Converted(pg, StringType)
    }

  /** decimal/numeric; `-num` narrows scale-0 to integrals (pl:226–238,
    * 334–355). numeric(p,0): p≤4 → smallint, p≤9 → integer, p≤18 → bigint.
    */
  private def numericType(t: SqlType, conf: Config): Converted =
    (t.arg1, t.arg2) match {
      case (Some(p), s0) =>
        val s = s0.getOrElse(0)
        if (s == 0 && conf.convertNumericToInt && p <= 18) {
          if (p <= 4) Converted("smallint", ShortType)
          else if (p <= 9) Converted("integer", IntegerType)
          else Converted("bigint", LongType)
        } else Converted(s"numeric($p,$s)", DecimalType(p, s))
      case _ => Converted("numeric", DecimalType(38, 18))
    }

  /** B8: normalize an MSSQL default-value literal
    * (store_default_value, pl:632–683). Returns (normalized, unsure).
    * `((0))` → `0`; `N'x'` → `'x'`; bit defaults booleanize; NULL stays;
    * anything else is an expression → unsure tier.
    */
  def normalizeDefault(raw: String, isBit: Boolean): (String, Boolean) = {
    val unparen = {
      var s = raw.trim
      while (s.startsWith("(") && s.endsWith(")")) s = s.substring(1, s.length - 1).trim
      s
    }
    unparen match {
      case _ if isBit && (unparen == "0" || unparen == "1") =>
        (if (unparen == "1") "true" else "false", false)
      case numRe(_*) => (unparen, false)
      case strRe(body) => (s"'$body'", false)
      case s if s.equalsIgnoreCase("null") => ("NULL", false)
      case expr => (ExprRewriter.rewrite(expr), true) // expression → unsure
    }
  }

  private val numRe = """^-?\d+(\.\d+)?$""".r
  private val strRe = """^N?'(.*)'$""".r
}
