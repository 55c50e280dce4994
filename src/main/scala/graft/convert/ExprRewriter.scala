package graft.convert

/** B6/B7: table-driven T-SQL → PostgreSQL/Spark-SQL scalar expression
  * rewriting.
  *
  * Re-expresses `convert_transact_function` (sqlserver2pgsql.pl:585–601)
  * and `convert_transactsql_code` (pl:603–630): bracket-identifier
  * unquoting, ISNULL→COALESCE, getdate()→CURRENT_TIMESTAMP,
  * user_name()→CURRENT_USER, SPACE→REPEAT, CHARINDEX→POSITION,
  * DATEPART→date_part, DATEADD→interval arithmetic, CONVERT→CAST, and
  * `+` string concatenation → `||` (view rewriting, pl:1857–1876).
  *
  * Like the reference, this is a best-effort textual rewriter — outputs
  * that use it flow to the "unsure" tier unless the construct is on the
  * known-safe list. Spark-dialect output differs from PG only where the
  * SQL surface differs (interval literals, date_part naming).
  */
object ExprRewriter {

  sealed trait Dialect
  case object Pg extends Dialect
  case object Sparksql extends Dialect

  /** Rewrite a T-SQL scalar expression/predicate. `rename` is the
    * identifier policy applied to every `[bracketed]` identifier AND
    * every bare identifier that is not a keyword, function call, or
    * type name — so `-keep_identifier_case` / `-camel_to_snake`
    * conversions stay consistent between a table's DDL and the
    * expressions that reference its columns (real-PG replay caught
    * unquoted/unsnaked references breaking under those policies).
    *
    * String literals are MASKED for the whole pipeline: the function
    * rewrites can no longer corrupt literal content (a source literal
    * `'isnull('` used to come out `'COALESCE('`), and T-SQL `N'…'`
    * national literals lose their prefix (neither PostgreSQL nor
    * Spark SQL accepts it).
    */
  def rewrite(expr: String, dialect: Dialect = Pg,
      rename: String => String = identity): String = {
    val (masked, lits) = maskLiterals(expr)
    unmask(rewriteMasked(masked, dialect, rename), lits)
  }

  /** Full view-body translation (pl:1857–1886): literal masking, the
    * identifier policy, function rewrites, the `dbo.` schema relabel
    * (applied while literals are masked, so a literal containing
    * "dbo." survives), then `+` → `||` concat inference on the
    * unmasked text (literal-driven, so it must see real quotes).
    */
  def rewriteViewBody(body: String, dialect: Dialect,
      rename: String => String, dboTarget: String): String = {
    val (masked, lits) = maskLiterals(body)
    var s = rewriteMasked(masked, dialect, rename)
    s = dboRe.replaceAllIn(s,
      java.util.regex.Matcher.quoteReplacement(dboTarget + "."))
    rewriteConcat(unmask(s, lits))
  }

  private val dboRe = """(?i)\bdbo\.""".r

  private def rewriteMasked(masked: String, dialect: Dialect,
      rename: String => String): String =
    rewriteFunctions(renameIdents(masked, rename), dialect)

  private val litRe = """(?i)(?<![\w$])N'(?:[^']|'')*'|'(?:[^']|'')*'""".r

  /** Replace every string literal with an unparseable sentinel; the
    * T-SQL `N` prefix is dropped here (PG/Spark have no such literal).
    */
  private[convert] def maskLiterals(s: String): (String, Vector[String]) = {
    val lits = Vector.newBuilder[String]
    var idx = -1
    val masked = litRe.replaceAllIn(s, m => {
      idx += 1
      val raw = m.matched
      lits += (if (raw.charAt(0) == 'N' || raw.charAt(0) == 'n')
        raw.substring(1) else raw)
      "\uE000" + idx + "\uE001"
    })
    (masked, lits.result())
  }

  private val maskRe = "\uE000(\\d+)\uE001".r

  private[convert] def unmask(s: String, lits: Vector[String]): String =
    maskRe.replaceAllIn(s, m =>
      java.util.regex.Matcher.quoteReplacement(lits(m.group(1).toInt)))

  // keywords/type names a bare-identifier pass must leave alone; the
  // type names also keep CAST(x AS INT)-style targets unquoted under
  // -keep_identifier_case (they are mapped by rewriteCastTypes instead)
  private val bareStoplist: Set[String] = Set(
    "all", "and", "any", "as", "asc", "between", "by", "case", "cast",
    "check", "column", "constraint", "create", "cross", "current",
    "current_date", "current_time", "current_timestamp", "current_user",
    "default", "desc", "distinct", "else", "end", "escape", "except",
    "exists", "false", "first", "following", "for", "foreign", "from",
    "full", "grant", "group", "having", "if", "ilike", "in", "initially",
    "inner", "intersect", "into", "is", "join", "last", "left", "like",
    "limit", "natural", "not", "null", "nulls", "offset", "on", "only",
    "or", "order", "outer", "over", "partition", "preceding", "primary",
    "range", "references", "right", "row", "rows", "select", "table",
    "then", "to", "top", "true", "unbounded", "union", "unique", "user",
    "using", "when", "where", "with",
    // day/month/etc so DATEADD/DATEPART unit tokens stay verbatim
    "day", "month", "year", "hour", "minute", "second", "week",
    "dd", "d", "mm", "m", "yy", "yyyy", "hh", "mi", "n", "ss", "s",
    "wk", "ww",
    // type names (T-SQL and PG/Spark targets)
    "int", "integer", "bigint", "smallint", "tinyint", "bit", "decimal",
    "numeric", "money", "smallmoney", "float", "real", "double",
    "precision", "date", "datetime", "datetime2", "smalldatetime",
    "datetimeoffset", "time", "timestamp", "char", "nchar", "varchar",
    "nvarchar", "text", "ntext", "binary", "varbinary", "image",
    "uniqueidentifier", "xml", "sysname", "boolean", "interval", "uuid",
    "bytea", "citext", "string", "max")

  // ONE alternation so each source character is classified once:
  // [bracketed] and "double-quoted" forms are identifiers wholesale
  // (their content renames; never re-scanned as bare words — a second
  // pass used to turn an already-quoted "VERSION" into ""VERSION"");
  // bare words go through the stoplist/call filter
  // The bare-word arm needs a left-boundary guard: without it the scan
  // matches the alphabetic TAIL of numeric/hex literals ('1E9' → 'E9',
  // '0xFF' → 'xFF'), and under -keep_identifier_case the tail gets
  // quoted, corrupting expressions to 1"E9". The class is the FULL
  // identifier-continuation set (not just digits — '1Ea' blocked at
  // 'E' must not cascade to a match at 'a'), which deliberately also
  // covers '#'/'$': a '#'-prefixed temp-table reference passes through
  // VERBATIM rather than having its tail renamed to '#my_temp' —
  // temp tables live in skipped procedure bodies and are never
  // renamed DDL-side, so a half-renamed reference would dangle
  // (behavior pinned by the B7 temp-table test).
  private val identRe =
    """\[[^\]]+\]|"[^"]*"|(?<![0-9A-Za-z_$#])[A-Za-z_][A-Za-z0-9_$#]*""".r

  /** Apply the identifier policy (pl:616–618 extended): `[bracketed]`
    * and `"quoted"` identifiers rename unconditionally; bare words
    * rename unless they are keywords, type names, or function calls
    * (a word followed by `(`). Without the bare-word arm,
    * `-keep_identifier_case` emits a quoted "T3309" table but a view
    * body referencing unquoted T3309 (which PG folds to t3309), and
    * `-camel_to_snake` renames a column while expressions keep the
    * camel form.
    */
  private def renameIdents(s: String, rename: String => String): String =
    identRe.replaceAllIn(s, m => {
      val tok = m.matched
      val out =
        if (tok.charAt(0) == '[')
          rename(tok.substring(1, tok.length - 1))
        else if (tok.charAt(0) == '"')
          rename(tok.substring(1, tok.length - 1))
        else {
          val isCall = {
            var i = m.end
            // any whitespace (tab/newline in multi-line view bodies),
            // not just 0x20 — 'SUM\n(x)' is still a call
            while (i < s.length && Character.isWhitespace(s.charAt(i))) i += 1
            i < s.length && s.charAt(i) == '('
          }
          if (isCall || bareStoplist.contains(tok.toLowerCase)) tok
          else rename(tok)
        }
      java.util.regex.Matcher.quoteReplacement(out)
    })

  private val isnullRe = """(?i)\bISNULL\s*\(""".r
  private val getdateRe = """(?i)\bGETDATE\s*\(\s*\)""".r
  private val sysdatetimeRe = """(?i)\bSYSDATETIME\s*\(\s*\)""".r
  private val userNameRe = """(?i)\buser_name\s*\(\s*\)""".r
  private val spaceRe = """(?i)\bSPACE\s*\(""".r
  private val lenRe = """(?i)\bLEN\s*\(""".r
  private val newidRe = """(?i)\bNEWID\s*\(\s*\)""".r

  private def rewriteFunctions(in: String, dialect: Dialect): String = {
    var s = in
    s = isnullRe.replaceAllIn(s, "COALESCE(")
    s = getdateRe.replaceAllIn(s,
      if (dialect == Pg) "CURRENT_TIMESTAMP" else "current_timestamp()")
    s = sysdatetimeRe.replaceAllIn(s,
      if (dialect == Pg) "CURRENT_TIMESTAMP" else "current_timestamp()")
    s = userNameRe.replaceAllIn(s,
      if (dialect == Pg) "CURRENT_USER" else "current_user()")
    s = spaceRe.replaceAllIn(s, "REPEAT(' ',")
    s = lenRe.replaceAllIn(s, "LENGTH(")
    s = newidRe.replaceAllIn(s,
      if (dialect == Pg) "gen_random_uuid()" else "uuid()")
    s = rewriteCharindex(s, dialect)
    s = rewriteDatepart(s, dialect)
    s = rewriteDateadd(s, dialect)
    s = rewriteConvert(s, dialect)
    s = rewriteCastTypes(s, dialect)
    s
  }

  /** Map a T-SQL type expression inside CAST/CONVERT to the target
    * dialect (the B1 table restricted to cast-legal names,
    * pl:295–434) — `CAST(x AS NVARCHAR(15))` must become
    * `varchar(15)`: PostgreSQL has no nvarchar and the real-PG replay
    * rejects it. Unknown names pass through untouched.
    */
  private[convert] def mapCastType(t: String, dialect: Dialect): String =
    t match {
      case castTypeRe(name, args) =>
        val a = Option(args).map(_.trim).filter(_.nonEmpty)
        def withArgs(base: String) = a match {
          case Some(x) if !x.equalsIgnoreCase("max") => s"$base($x)"
          case _ => base
        }
        name.toLowerCase match {
          case "nvarchar" | "varchar" => withArgs("varchar")
          case "nchar" | "char" => withArgs("char")
          case "ntext" | "text" =>
            if (dialect == Pg) "text" else "string"
          case "sysname" => "varchar(128)"
          case "datetime" | "datetime2" | "smalldatetime" => "timestamp"
          case "datetimeoffset" =>
            if (dialect == Pg) "timestamp with time zone" else "timestamp"
          case "tinyint" => "smallint"
          case "bit" => "boolean"
          case "money" => "numeric(19,4)"
          case "smallmoney" => "numeric(10,4)"
          case "float" =>
            if (dialect == Pg) "double precision" else "double"
          case "uniqueidentifier" =>
            if (dialect == Pg) "uuid" else "string"
          case "binary" | "varbinary" | "image" =>
            if (dialect == Pg) "bytea" else "binary"
          case _ => t.trim
        }
      case _ => t.trim
    }

  private val castTypeRe =
    """^\s*([A-Za-z_][\w]*)\s*(?:\(\s*([^)]*?)\s*\))?\s*$""".r

  /** `CAST(x AS <tsql-type>)` → same cast with the mapped type. The
    * expression side was already rewritten by the rewriteCall
    * recursion; only the type token after the LAST top-level AS maps.
    */
  private def rewriteCastTypes(s: String, dialect: Dialect): String =
    rewriteCall(s, castCallRe, dialect) {
      case Seq(one) =>
        splitLastTopLevelAs(one) match {
          case Some((e, t)) => s"CAST($e AS ${mapCastType(t, dialect)})"
          case None => s"CAST($one)"
        }
      case args => s"CAST(${args.mkString(", ")})"
    }

  /** Split "expr AS type" on the last depth-0 AS keyword. */
  private[convert] def splitLastTopLevelAs(
      s: String): Option[(String, String)] = {
    var depth = 0; var i = 0; var last = -1
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case 'a' | 'A' if depth == 0 =>
          val isAs = i + 1 < s.length &&
            (s.charAt(i + 1) == 's' || s.charAt(i + 1) == 'S') &&
            (i == 0 || !Character.isLetterOrDigit(s.charAt(i - 1)) &&
              s.charAt(i - 1) != '_') &&
            (i + 2 >= s.length || !Character.isLetterOrDigit(s.charAt(i + 2)) &&
              s.charAt(i + 2) != '_')
          if (isAs) last = i
        case _ =>
      }
      i += 1
    }
    if (last < 0) None
    else Some((s.substring(0, last).trim, s.substring(last + 2).trim))
  }

  /** CHARINDEX(sub, str) → POSITION(sub IN str) (pl:593). Spark SQL also
    * accepts the POSITION(x IN y) form.
    */
  private def rewriteCharindex(s: String, dialect: Dialect): String =
    rewriteCall(s, charindexCallRe, dialect) {
      case Seq(sub, str) => s"POSITION($sub IN $str)"
      case args => s"CHARINDEX(${args.mkString(", ")})" // 3-arg: unsupported
    }

  /** DATEPART(part, d) → date_part('part', d) (pl:595). */
  private def rewriteDatepart(s: String, dialect: Dialect): String =
    rewriteCall(s, datepartCallRe, dialect) {
      case Seq(part, d) => s"date_part('${part.trim.toLowerCase}', $d)"
      case args => s"DATEPART(${args.mkString(", ")})"
    }

  /** DATEADD(unit, n, d) → d + n * INTERVAL '1 unit' (pl:596–597).
    * Spark: accepts the same arithmetic with INTERVAL literals.
    */
  private def rewriteDateadd(s: String, dialect: Dialect): String =
    rewriteCall(s, dateaddCallRe, dialect) {
      case Seq(unit, n, d) =>
        val u = unit.trim.toLowerCase match {
          case "dd" | "d" => "day"
          case "mm" | "m" => "month"
          case "yy" | "yyyy" => "year"
          case "hh" => "hour"
          case "mi" | "n" => "minute"
          case "ss" | "s" => "second"
          case "wk" | "ww" => "week"
          case other => other
        }
        s"($d + ($n) * INTERVAL '1 $u')"
      case args => s"DATEADD(${args.mkString(", ")})"
    }

  /** CONVERT(type[(n[,m])], x[, style]) → CAST(x AS type) (pl:598–600);
    * the T-SQL style argument is dropped.
    */
  private def rewriteConvert(s: String, dialect: Dialect): String =
    rewriteCall(s, convertCallRe, dialect) {
      case Seq(tpe, x) => s"CAST($x AS ${mapCastType(tpe, dialect)})"
      case Seq(tpe, x, _) => s"CAST($x AS ${mapCastType(tpe, dialect)})"
      case args => s"CONVERT(${args.mkString(", ")})"
    }

  // `fn(` call heads, for rewriteCall
  private val castCallRe = """(?i)\bcast\s*\(""".r
  private val charindexCallRe = """(?i)\bcharindex\s*\(""".r
  private val datepartCallRe = """(?i)\bdatepart\s*\(""".r
  private val dateaddCallRe = """(?i)\bdateadd\s*\(""".r
  private val convertCallRe = """(?i)\bconvert\s*\(""".r

  /** Generic innermost-out rewrite of `fn(args…)` (`re` matches the call
    * head) with balanced-paren, quote-aware argument splitting — the
    * structural improvement over the reference's flat regexes (which
    * break on nested calls).
    */
  private def rewriteCall(input: String, re: scala.util.matching.Regex,
      dialect: Dialect)(f: Seq[String] => String): String = {
    var s = input
    // Resume each search AFTER the previous replacement: a fallback branch
    // that re-emits the same function name (legal 3-arg CHARINDEX, odd-arity
    // DATEPART/DATEADD/CONVERT) would otherwise re-match forever.
    var from = 0
    var continue = true
    while (continue && from < s.length) {
      re.findFirstMatchIn(s.substring(from)) match {
        case None => continue = false
        case Some(m) =>
          val start = from + m.start
          val open = from + m.end - 1
          findClose(s, open) match {
            case None => continue = false
            case Some(close) =>
              val args = splitArgs(s.substring(open + 1, close))
              // recurse into args so nested calls rewrite first
              val rwArgs = args.map(a => rewriteFunctions(a, dialect))
              val repl = f(rwArgs)
              s = s.substring(0, start) + repl + s.substring(close + 1)
              from = start + repl.length
          }
      }
    }
    s
  }

  /** Index of the ')' matching the '(' at `open`, honoring quotes. */
  private def findClose(s: String, open: Int): Option[Int] = {
    var depth = 0; var i = open; var inStr = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1; if (depth == 0) return Some(i)
        case _ =>
      }
      i += 1
    }
    None
  }

  /** Split a call's argument list on top-level commas. */
  private[convert] def splitArgs(s: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    var depth = 0; var inStr = false; var start = 0; var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inStr) { if (c == '\'') inStr = false }
      else c match {
        case '\'' => inStr = true
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i).trim; start = i + 1
        case _ =>
      }
      i += 1
    }
    val last = s.substring(start).trim
    if (last.nonEmpty || start < s.length) out += last
    out.result()
  }

  /** View-body string concatenation: `+` between string-ish operands →
    * `||` (pl:1857–1876). The reference applies this when either operand
    * is a quoted literal or the expression context is known textual; we
    * take the same literal-driven heuristic.
    */
  private val litPlusRe = """('(?:[^']|'')*')\s*\+""".r
  private val plusLitRe = """\+\s*('(?:[^']|'')*')""".r

  def rewriteConcat(s: String): String = {
    // a + 'lit'  /  'lit' + a  → ||
    var out = s
    var prev = ""
    while (prev != out) {
      prev = out
      out = litPlusRe.replaceAllIn(out, "$1 ||")
      out = plusLitRe.replaceAllIn(out, "|| $1")
    }
    // ident || b + c chains where left side already became || keep + for
    // numerics — matches the reference's conservative behavior.
    out
  }
}
