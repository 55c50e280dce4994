package graft.convert

import graft.catalog._
import java.nio.charset.StandardCharsets

/** B9–B13: identifier policy, PK sort-safety, name-conflict resolution.
  *
  * Re-expresses camel_to_snake/rename_identifier/format_identifier
  * (sqlserver2pgsql.pl:486–559), format_identifier_cols_index (pl:561–571),
  * is_constraint_name_valid (pl:573–583), is_pk_sort_order_safe
  * (pl:495–524), resolve_name_conflicts (pl:3173–3265).
  */
object Identifiers {

  val PgMaxIdentLen = 63

  /** camelCase → snake_case (pl:486–493). */
  def camelToSnake(s: String): String =
    upperRunRe.replaceAllIn(lowerUpperRe.replaceAllIn(s, "$1_$2"), "$1_$2")
      .toLowerCase

  private val lowerUpperRe = "([a-z0-9])([A-Z])".r
  private val upperRunRe = "([A-Z]+)([A-Z][a-z])".r

  /** Apply the configured identifier policy (pl:526–541). */
  def rename(s: String, conf: Config): String = conf.identifierCase match {
    case IdentifierCase.Lowercase => s.toLowerCase
    case IdentifierCase.Keep => s
    case IdentifierCase.CamelToSnake => camelToSnake(s)
  }

  private val plainRe = """^[a-z_][a-z0-9_$]*$""".r

  /** Reserved words that must be quoted even when lowercase — the subset
    * the reference's quote-everything-unusual policy covers in practice.
    */
  private val reserved = Set(
    "all", "and", "any", "as", "asc", "between", "case", "cast", "check",
    "column", "constraint", "create", "cross", "current_date",
    "current_time", "current_timestamp", "current_user", "default",
    "desc", "distinct", "else", "end", "except", "false", "for",
    "foreign", "from", "full", "grant", "group", "having", "in",
    "initially", "inner", "intersect", "into", "is", "join", "left",
    "like", "limit", "natural", "not", "null", "offset", "on", "only",
    "or", "order", "outer", "primary", "references", "right", "select",
    "table", "then", "to", "true", "union", "unique", "user", "using",
    "when", "where", "with")

  /** Rename + quote-if-needed + 63-char truncation warning
    * (format_identifier, pl:543–559). Returns (formatted, warnings).
    */
  def format(s: String, conf: Config): (String, Seq[String]) = {
    val renamed = rename(s, conf)
    val warnings =
      if (renamed.getBytes(StandardCharsets.UTF_8).length > PgMaxIdentLen)
        Seq(s"identifier <$renamed> longer than $PgMaxIdentLen bytes — " +
          "PostgreSQL will truncate it")
      else Nil
    val quoted =
      if (plainRe.matches(renamed) && !reserved.contains(renamed)) renamed
      else "\"" + renamed.replace("\"", "\"\"") + "\""
    (quoted, warnings)
  }

  /** B10: split a trailing ASC/DESC before formatting (pl:561–571). */
  def formatIndexCol(s: String, conf: Config): String = {
    val (col, dir) = splitSortDir(s)
    format(col, conf)._1 + dir.map(" " + _).getOrElse("")
  }

  def splitSortDir(s: String): (String, Option[String]) = {
    val t = s.trim
    val up = t.toUpperCase
    if (up.endsWith(" DESC")) (t.dropRight(5).trim, Some("DESC"))
    else if (up.endsWith(" ASC")) (t.dropRight(4).trim, None) // ASC = default
    else (t, None)
  }

  /** B11: constraint names > 63 chars are dropped so PG generates one
    * (pl:573–583).
    */
  def constraintNameValid(name: String): Boolean =
    name.getBytes(StandardCharsets.UTF_8).length <= PgMaxIdentLen

  /** B12: a PK ordering survives cross-database comparison only when every
    * PK column's type is collation-independent — numeric/date/time kinds
    * (pl:495–524). Text under differing collations sorts differently in
    * MSSQL vs PG/Spark, so those fall back to engine-side sorting.
    */
  private val sortSafeTypes = Set(
    "int", "smallint", "bigint", "tinyint", "decimal", "numeric", "money",
    "smallmoney", "float", "real", "date", "datetime", "datetime2",
    "smalldatetime", "time", "datetimeoffset", "bit")

  def isPkSortOrderSafe(table: TableDef): Boolean =
    table.pk.exists(pk => pk.cols.forall { c =>
      table.colByName(c).exists(cd =>
        sortSafeTypes.contains(cd.sqlType.name.toLowerCase))
    })

  /** B13: tables, domains and indexes share one namespace in PG; rename
    * collisions deterministically — domains get suffix `2pgd`, indexes
    * `2pgi<N>` — and rewrite column types referring to renamed domains
    * (resolve_name_conflicts, pl:3173–3265).
    */
  def resolveNameConflicts(cat: Catalog): Catalog = {
    var out = cat
    out.schemas.foreach { case (sn, sd) =>
      val tableNames = sd.tables.keySet.map(_.toLowerCase)
      // domains colliding with tables
      sd.domains.keys.filter(d => tableNames.contains(d.toLowerCase))
        .foreach { d =>
          val nd = d + "2pgd"
          out = out.updateSchema(sn) { s =>
            s.copy(domains = (s.domains - d) + (nd -> s.domains(d)))
          }
          // rewrite referring column types
          out = out.updateSchema(sn) { s =>
            s.copy(tables = s.tables.map { case (tn, t) =>
              tn -> t.copy(cols = t.cols.map { c =>
                if (c.pgType.equalsIgnoreCase(d)) c.copy(pgType = nd) else c
              })
            })
          }
          out = out.warn(s"domain $sn.$d renamed to $nd (collides with table)")
        }
      // indexes colliding with tables or other indexes
      val used = scala.collection.mutable.Set[String]()
      used ++= tableNames
      sd.tables.toSeq.sortBy(_._1).foreach { case (tn, t) =>
        t.indexes.toSeq.sortBy(_._1).foreach { case (in, idx) =>
          if (used.contains(in.toLowerCase)) {
            var n = 1
            while (used.contains(s"${in}2pgi$n".toLowerCase)) n += 1
            val ni = s"${in}2pgi$n"
            out = out.updateTable(sn, tn) { tt =>
              tt.copy(indexes = (tt.indexes - in) +
                (ni -> tt.indexes(in).copy(name = ni)))
            }
            used += ni.toLowerCase
            out = out.warn(s"index $sn.$in renamed to $ni (name collision)")
          } else used += in.toLowerCase
        }
      }
    }
    out
  }
}
