package graft.convert

/** Engine configuration — the reference's CLI/conf option matrix
  * (sqlserver2pgsql.pl:3272–3312 GetOptions, 153–178 defaults).
  */
final case class Config(
    /** -i: case-insensitive mode — text types become citext (pl:386–418). */
    caseInsensitive: Boolean = false,
    /** -num: narrow numeric(p,0) to integral types (pl:226–238). */
    convertNumericToInt: Boolean = false,
    /** identifier policy (pl:212–218): 0=lowercase, 1=keep, 2=camel→snake. */
    identifierCase: IdentifierCase = IdentifierCase.Lowercase,
    /** -drop_rowversion: drop timestamp/rowversion cols (pl:1437–1443). */
    dropRowversion: Boolean = false,
    /** -use_identity_column: GENERATED ALWAYS AS IDENTITY vs sequences
      * (pl:2722–2744). */
    useIdentityColumn: Boolean = true,
    /** -nr: don't relabel dbo→public (pl:719–741). */
    relabelDbo: Boolean = true,
    /** user schema remapping `src=>dst;…` (pl:716–751). */
    relabelSchemas: Map[String, String] = Map.empty,
    /** -validate_constraints: yes | after (NOT VALID) | no (pl:2900–2960). */
    validateConstraints: String = "yes",
    /** read parallelism (-pi, pl:165). */
    parallelismIn: Int = 1,
    /** write parallelism (-po, pl:166). */
    parallelismOut: Int = 8,
    /** incremental sort batch (-sort_size, pl:167). */
    sortSize: Int = 10000,
    ignoreErrors: Boolean = false,
    /** -skip_citext_length_check: no char_length CHECK on citext
      * columns under -i (pl:420–424). */
    skipCitextLengthCheck: Boolean = false,
    /** -use_pk_if_possible: table list (or "*") allowed to use the
      * sortable-PK incremental path (C17, pl:168/4105–4133). */
    usePkIfPossible: String = "",
    /** -stringtype_unspecified: JDBC stringtype=unspecified so PG casts
      * varchar params to citext/uuid/… implicitly (pl:3723–3727). */
    stringtypeUnspecified: Boolean = false
) {
  /** dbo→public default + user remapping (B14, pl:716–751). */
  def relabel(schema: String): String = {
    val s = relabelSchemas.getOrElse(schema, schema)
    if (s == schema && relabelDbo && schema.equalsIgnoreCase("dbo")) "public"
    else s
  }

  /** `-use_pk_if_possible` membership — ONE matcher for both the
    * Kettle artifact path and the Spark read planner (pl:502–524):
    * "1" (the reference's boolean form) or "*" allows every table;
    * otherwise a comma/semicolon/space separated list of bare or
    * schema-qualified table names, case-insensitive.
    */
  def usePkAllowed(schema: String, table: String): Boolean =
    usePkList.forall { l =>
      val t = table.toLowerCase
      l.contains(t) || l.contains(s"${schema.toLowerCase}.$t")
    }

  /** The `usePkIfPossible` list, split once; None allows every table. */
  @transient private lazy val usePkList: Option[Set[String]] = {
    val allow = usePkIfPossible.trim
    if (allow == "1" || allow == "*") None
    else Some(Config.listSepRe.split(allow).map(_.trim.toLowerCase)
      .filter(_.nonEmpty).toSet)
  }
}

object Config {
  private val listSepRe = "[,;\\s]+".r
}

sealed trait IdentifierCase
object IdentifierCase {
  case object Lowercase extends IdentifierCase
  case object Keep extends IdentifierCase
  case object CamelToSnake extends IdentifierCase
}
