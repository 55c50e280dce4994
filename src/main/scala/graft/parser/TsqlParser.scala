package graft.parser

import graft.catalog._
import graft.convert._
import scala.util.matching.Regex

final class ParseException(msg: String) extends RuntimeException(msg)

/** A3–A27: fail-fast T-SQL DDL dump parser → Catalog IR.
  *
  * Re-expresses `parse_dump` (sqlserver2pgsql.pl:1512–2576): each supported
  * statement shape is recognized; any unrecognized line is a hard failure
  * (pl:2572 `die "Line <$line> not understood"`), by design — a silent skip
  * could drop schema objects.
  *
  * Stored procedures/functions/triggers are skipped with a warning
  * (pl:1746–1775), matching the reference's explicit non-goal.
  */
final class TsqlParser(conf: Config = Config()) {
  import TsqlParser._

  private var cat = Catalog()
  private var domains = Map.empty[String, String]     // lower name → pg type
  private var tableTypes = Set.empty[String]

  private def unbr(s: String): String = {
    val t = s.trim
    if (t.startsWith("[") && t.endsWith("]")) t.substring(1, t.length - 1)
    else t
  }

  private def relabel(s: String): String = conf.relabel(s)

  def parse(lines: Seq[String]): Catalog = {
    val ls = LineCleaner.clean(lines)
    var i = 0
    while (i < ls.length) {
      i = dispatch(ls, i)
    }
    Identifiers.resolveNameConflicts(cat)
  }

  def parseFile(path: java.nio.file.Path): Catalog =
    parse(LineCleaner.readFile(path))

  // ---- top-level statement recognizers -------------------------------

  private def dispatch(ls: Vector[String], i: Int): Int = {
    val line = ls(i)
    val t = line.trim
    line match {
      case _ if t.isEmpty => i + 1
      case createTableRe(sch, tbl) =>
        parseTableBody(ls, i + 1, relabel(unbr(Option(sch).getOrElse("dbo"))),
          unbr(tbl), unbr(Option(sch).getOrElse("dbo")))
      case createSpatialRe() => // A16: swallowed with warning (pl:2065–2073)
        cat = cat.warn(s"spatial index ignored: $t")
        skipToGo(ls, i)
      case _ if createIndexRe.findFirstIn(line).isDefined =>
        val (stmt, next) = gather(ls, i)
        parseCreateIndex(stmt); next
      case _ if createViewRe.findFirstIn(line).isDefined =>
        val (stmt, next) = gatherToGo(ls, i)
        parseCreateView(stmt); next
      case _ if createSeqRe.findFirstIn(line).isDefined =>
        val (stmt, next) = gather(ls, i)
        parseCreateSequence(stmt); next
      case createTypeTableRe(sch, name) =>
        parseTableType(ls, i + 1, relabel(unbr(Option(sch).getOrElse("dbo"))),
          unbr(name))
      case createTypeFromRe(sch, name, base) =>
        parseDomain(relabel(unbr(Option(sch).getOrElse("dbo"))), unbr(name),
          base, line); i + 1
      case createSchemaRe(name) =>
        val sn = relabel(unbr(name))
        cat = cat.updateSchema(sn)(identity); i + 1
      case skipToGoRe(_*) => // A10/A11 + databases etc: skip with warning
        cat = cat.warn(s"statement skipped (not migrated): ${t.take(80)}")
        skipToGo(ls, i)
      case _ if ifRe.matches(line) => skipToGo(ls, i)
      case alterIndexDisableRe(idx, sch, tbl) => // A17
        val sn = relabel(unbr(Option(sch).getOrElse("dbo")))
        val in = unbr(idx)
        cat = cat.updateTable(sn, unbr(tbl)) { tt =>
          tt.indexes.get(in) match {
            case Some(d) => tt.copy(indexes =
              tt.indexes.updated(in, d.copy(disabled = true)))
            case None => tt
          }
        }
        i + 1
      case alterTableRe(_, _, _) =>
        val (stmt, next) = gather(ls, i)
        parseAlterTable(stmt); next
      case _ if extPropRe.findFirstIn(line).isDefined => // A24
        val (stmt, next) = gather(ls, i)
        parseExtendedProperty(stmt); next
      case setvarRe(name, value) => // A25
        cat = cat.copy(variables = cat.variables + (name -> value)); i + 1
      case _ if ignoreRes.exists(_.matches(line)) =>
        if (arithabortOffRe.matches(line))
          cat = cat.warn("ARITHABORT OFF: source data may expect 10/0=NULL " +
            "semantics (pl:2496–2508)")
        i + 1
      case _ => // A27: fail fast, like the reference (pl:2572)
        throw notUnderstood(line)
    }
  }

  /** Skip to the next `GO` (batch separator), inclusive. */
  private def skipToGo(ls: Vector[String], i: Int): Int = {
    var j = i
    while (j < ls.length && !ls(j).trim.equalsIgnoreCase("GO")) j += 1
    j + 1
  }

  /** Gather a multi-line statement: until GO or a new top-level keyword. */
  private def gather(ls: Vector[String], i: Int): (String, Int) = {
    val sb = new StringBuilder(ls(i))
    var j = i + 1
    var continue = true
    while (continue && j < ls.length) {
      val t = ls(j).trim
      if (t.equalsIgnoreCase("GO")) { continue = false; j += 1 }
      else if (t.isEmpty && balanced(sb)) continue = false
      else if (newStmtRe.matches(ls(j)) && balanced(sb)) continue = false
      else { sb.append('\n').append(ls(j)); j += 1 }
    }
    (sb.toString, j)
  }

  /** Gather strictly to GO (view bodies may contain CREATE-ish text). */
  private def gatherToGo(ls: Vector[String], i: Int): (String, Int) = {
    val sb = new StringBuilder(ls(i))
    var j = i + 1
    while (j < ls.length && !ls(j).trim.equalsIgnoreCase("GO")) {
      sb.append('\n').append(ls(j)); j += 1
    }
    (sb.toString, j + 1)
  }

  private def balanced(sb: StringBuilder): Boolean = {
    var d = 0; var inStr = false
    sb.foreach {
      case '\'' => inStr = !inStr
      case '(' if !inStr => d += 1
      case ')' if !inStr => d -= 1
      case _ =>
    }
    d <= 0
  }

  // ---- CREATE TABLE body (A3–A7) -------------------------------------

  private def parseTableBody(ls: Vector[String], start: Int, schema: String,
      table: String, origSchema: String): Int = {
    cat = cat.updateTable(schema, table)(_.copy(origSchema = origSchema))
    var i = start
    var pos = 0
    var done = false
    while (!done && i < ls.length) {
      val line = ls(i)
      val t = line.trim
      line match {
        case _ if t.isEmpty || t.equalsIgnoreCase("GO") => i += 1
        case tableCloseRe(_) => done = true; i += 1
        case computedColRe(name, expr, persisted, notNull) => // A5
          pos += 1
          addComputedColumn(schema, table, unbr(name), pos, expr,
            persisted != null, notNull != null)
          i += 1
        case inlinePkHeadRe(cname, rest) => // A6
          val (cols, ni) = parseConstraintCols(ls, i, rest)
          addConstraint(schema, table,
            PrimaryKey(Option(cname).map(unbr), cols))
          i = ni
        case inlineUqHeadRe(cname, rest)
            if !t.toUpperCase.startsWith("UNIQUEIDENTIFIER") => // A7
          val (cols, ni) = parseConstraintCols(ls, i, rest)
          addConstraint(schema, table, Unique(Option(cname).map(unbr), cols))
          i = ni
        case _ => // A4: column definition
          pos += 1
          parseColumnDef(schema, table, line, pos)
          i += 1
      }
    }
    i
  }

  /** Parse the `( [col] ASC, … )` list of an inline PK/UNIQUE; same-line
    * or multi-line (pl:1617–1675).
    */
  private def parseConstraintCols(ls: Vector[String], i: Int,
      sameLineRest: String): (Seq[String], Int) = {
    parenRe.findFirstMatchIn(withOptionsRe.replaceAllIn(sameLineRest, "")) match {
      case Some(m) => (splitIndexCols(m.group(1)).map(_._1), i + 1)
      case None =>
        // multi-line: next lines form ( col ASC, … ) … close
        var j = i + 1
        val sb = new StringBuilder
        var open = false
        var doneAt = -1
        while (doneAt < 0 && j < ls.length) {
          val t = ls(j).trim
          if (!open) { if (t.startsWith("(")) { open = true; sb.append(t.drop(1)) }; j += 1 }
          else if (t.startsWith(")")) { doneAt = j + 1 }
          else { sb.append(' ').append(t); j += 1 }
        }
        val inner = sb.toString.takeWhile(_ != ')')
        (splitIndexCols(inner).map(_._1), if (doneAt > 0) doneAt else j)
    }
  }

  /** Split "col ASC, col2 DESC" → Seq((col, asc?)). */
  private def splitIndexCols(s: String): Seq[(String, Boolean)] =
    s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { c =>
      val (name, dir) = Identifiers.splitSortDir(c)
      (unbr(name), !dir.contains("DESC"))
    }

  private def parseColumnDef(schema: String, table: String, line: String,
      pos: Int): Unit = line match {
    case colRe(name, typeSchema, typeName, qual, rest0) =>
      var rest = rest0
      // COLLATE, ROWGUIDCOL, SPARSE, NOT FOR REPLICATION: ignored (pl:1554+)
      rest = ignoredColOptionRes.foldLeft(rest)((r, re) => re.replaceAllIn(r, ""))
      // IDENTITY(start, step)
      val identity = identityRe.findFirstMatchIn(rest).map(m =>
        IdentityDef(long(m.group(1), line), long(m.group(2), line)))
      rest = identityRe.replaceAllIn(rest, "")
      // inline single-col PRIMARY KEY (HASH variant incl., F3)
      val inlinePk = inlinePkRe.findFirstIn(rest).isDefined
      rest = inlinePkRe.replaceAllIn(rest, "")
      // DEFAULT, optionally named
      val defaultRaw = colDefaultRe.findFirstMatchIn(rest).map(_.group(2))
      rest = colDefaultRe.replaceAllIn(rest, "")
      val notNull = notNullRe.findFirstIn(rest).isDefined

      val colName = unbr(name)
      val tn = unbr(typeName).toLowerCase
      if (conf.dropRowversion && (tn == "timestamp" || tn == "rowversion")) {
        cat = cat.warn(s"rowversion column $schema.$table.$colName dropped")
        return
      }
      val (a1, a2, isMax) = qualifier(qual, line)
      val st = SqlType(tn, Option(typeSchema).map(unbr), a1, a2, isMax)
      val conv = TypeMapper.convert(st, conf, domains, tableTypes)
      registerConvertedFlags(conv)
      val default = defaultRaw.map { raw =>
        val (v, unsure) = TypeMapper.normalizeDefault(raw, tn == "bit")
        DefaultDef(v, unsure)
      }
      val isLob = conv.pgType == "bytea" || tn == "ntext" ||
        (tn == "xml") || isMax
      cat = cat.updateTable(schema, table) { tt =>
        val t2 = tt.withCol(ColumnDef(colName, pos, st, conv.pgType,
          conv.sparkType, notNull, default, identity,
          // the %s placeholder stays — the EMITTER fills it with the
          // policy-formatted name (a camel_to_snake or keep-case run
          // would otherwise CHECK a column that no longer exists)
          generatedCheck = conv.generatedCheck))
        (if (isLob) t2.copy(hasLobs = true) else t2)
      }
      identity.foreach { id => // IDENTITY → sequence record (pl:1451–1481)
        val seqName = s"${table}_${colName}_seq"
        cat = cat.updateSchema(schema) { sd =>
          sd.copy(sequences = sd.sequences + (seqName -> SequenceDef(
            seqName, start = Some(id.start), step = Some(id.step),
            ownerSchema = Some(schema), ownerTable = Some(table),
            ownerCol = Some(colName))))
        }
      }
      if (inlinePk)
        addConstraint(schema, table, PrimaryKey(None, Seq(colName)))
    case _ =>
      throw new ParseException(s"Line <$line> not understood (in table " +
        s"$schema.$table)")
  }

  /** A5: computed column → varchar + commented GENERATED clause
    * (pl:1576–1616). The translated expression is carried so Spark can
    * compute it at read (`withColumn`).
    */
  private def addComputedColumn(schema: String, table: String, name: String,
      pos: Int, expr: String, persisted: Boolean, notNull: Boolean): Unit = {
    val translated = ExprRewriter.rewrite(expr, ExprRewriter.Pg,
      n => Identifiers.format(n, conf)._1)
    cat = cat.warn(s"computed column $schema.$table.$name declared varchar; " +
      s"formula kept as comment (reference parity, pl:1576–1616)")
    cat = cat.updateTable(schema, table)(_.withCol(ColumnDef(
      name, pos, SqlType("varchar"), "varchar",
      org.apache.spark.sql.types.StringType, notNull,
      computedExpr = Some(translated), computedPersisted = persisted)))
  }

  private def addConstraint(schema: String, table: String,
      c: Constraint): Unit =
    cat = cat.updateTable(schema, table)(t =>
      t.copy(constraints = t.constraints :+ c))

  private def registerConvertedFlags(c: TypeMapper.Converted): Unit = {
    if (c.requiresCitext) cat = cat.copy(requiresCitext = true)
    if (c.requiresPostgis) cat = cat.copy(requiresPostgis = true)
    c.castKind.foreach(k => cat = cat.copy(casts = cat.casts + (c.pgType.takeWhile(_ != '(') -> k)))
    c.warning.foreach(w => cat = cat.warn(w))
  }

  // ---- ALTER TABLE (A18–A23) -----------------------------------------

  private def parseAlterTable(stmt: String): Unit = {
    val m = alterTableRe.findFirstMatchIn(stmt.linesIterator.next())
      .getOrElse(throw notUnderstood(stmt))
    val schema = relabel(unbr(Option(m.group(1)).getOrElse("dbo")))
    val table = unbr(m.group(2))
    // normalize: strip WITH [NO]CHECK noise
    val body = withCheckRe.replaceAllIn(stmt, "")

    body match {
      case _ if checkConstraintRe.matches(body.replace('\n', ' ')) =>
        () // enable-constraint statement — no-op
      case addFkRe(name, cols, refSchema, refTable, refCols, tail) => // A22
        addConstraint(schema, table, ForeignKey(
          Option(name).map(unbr).filter(Identifiers.constraintNameValid),
          splitCols(cols),
          relabel(unbr(Option(refSchema).getOrElse("dbo"))),
          unbr(refTable), splitCols(refCols),
          onDeleteCascade = onDeleteCascadeRe.findFirstIn(tail).isDefined,
          onDeleteSetNull = onDeleteSetNullRe.findFirstIn(tail).isDefined,
          onUpdateCascade = onUpdateCascadeRe.findFirstIn(tail).isDefined,
          onUpdateSetNull = onUpdateSetNullRe.findFirstIn(tail).isDefined))
      case addPkRe(name, cols) => // A19
        addConstraint(schema, table, PrimaryKey(
          Option(name).map(unbr).filter(Identifiers.constraintNameValid),
          splitIndexCols(cols).map(_._1)))
      case addUqRe(name, cols) => // A20
        addConstraint(schema, table, Unique(
          Option(name).map(unbr).filter(Identifiers.constraintNameValid),
          splitIndexCols(cols).map(_._1)))
      case addDefaultRe(_, value, column) => // A21
        val col = unbr(column)
        val isBit = cat.table(schema, table)
          .flatMap(_.colByName(col)).exists(_.sqlType.name == "bit")
        val (v, unsure) = TypeMapper.normalizeDefault(value, isBit)
        cat = cat.updateTable(schema, table) { t =>
          t.copy(cols = t.cols.map(c =>
            if (c.name.equalsIgnoreCase(col))
              c.copy(default = Some(DefaultDef(v, unsure))) else c))
        }
      case addCheckRe(name, check) => // A23
        val pred = ExprRewriter.rewrite(check, ExprRewriter.Pg,
          n => Identifiers.format(n, conf)._1)
        addConstraint(schema, table, Check(
          Option(name).map(unbr).filter(Identifiers.constraintNameValid),
          pred, unsure = true))
      case addColumnRe(_*) => // A18
        val colLine = body.substring(body.toUpperCase.indexOf("ADD") + 3)
        val pos = cat.table(schema, table).map(_.cols.size).getOrElse(0) + 1
        parseColumnDef(schema, table, colLine, pos)
      case _ =>
        throw new ParseException(s"Line <$stmt> not understood (ALTER TABLE)")
    }
  }

  private def splitCols(s: String): Seq[String] =
    s.split(",").toSeq.map(c => unbr(c.trim)).filter(_.nonEmpty)

  // ---- CREATE INDEX (A15) --------------------------------------------

  private def parseCreateIndex(stmt: String): Unit = {
    val one = stmt.linesIterator.mkString(" ")
    indexRe.findFirstMatchIn(one) match {
      case Some(m) =>
        val schema = relabel(unbr(Option(m.group(3)).getOrElse("dbo")))
        val table = unbr(m.group(4))
        val name = unbr(m.group(2))
        val cols = splitIndexCols(m.group(5))
        val include = Option(m.group(6)).map(splitCols).getOrElse(Nil)
        val where = Option(m.group(7)).map(_.trim).filter(_.nonEmpty)
          .map(w => ExprRewriter.rewrite(w, ExprRewriter.Pg,
            n => Identifiers.format(n, conf)._1))
        cat = cat.updateTable(schema, table) { t =>
          t.copy(indexes = t.indexes + (name -> IndexDef(
            name, unique = m.group(1) != null, cols = cols,
            include = include, where = where)))
        }
      case None =>
        throw new ParseException(s"Line <$stmt> not understood (CREATE INDEX)")
    }
  }

  // ---- CREATE VIEW (A12) ---------------------------------------------

  private def parseCreateView(stmt: String): Unit = stmt match {
    case viewRe(sch, name, colList, query) =>
      val schema = relabel(unbr(Option(sch).getOrElse("dbo")))
      val vn = unbr(name)
      // translate body: brackets + bare identifiers under the policy
      // (quote-aware — keep_identifier_case must quote what the DDL
      // quoted), functions, dbo. relabel (pl:1877–1886), + concat
      val q = ExprRewriter.rewriteViewBody(query.trim, ExprRewriter.Pg,
        n => Identifiers.format(n, conf)._1, relabel("dbo"))
      val cols = Option(colList).map(c =>
        c.substring(1, c.length - 1)).map(splitCols).getOrElse(Nil)
      val colsSql = if (cols.nonEmpty)
        cols.map(c => Identifiers.format(c, conf)._1)
          .mkString(" (", ", ", ")") else ""
      val (fmtName, _) = Identifiers.format(vn, conf)
      val sql = s"CREATE VIEW ${Identifiers.format(schema, conf)._1}." +
        s"$fmtName$colsSql AS $q"
      cat = cat.updateSchema(schema) { sd =>
        sd.copy(views = sd.views + (vn -> ViewDef(vn, sql)),
          viewOrder = sd.viewOrder :+ vn)
      }
    case _ =>
      throw new ParseException(s"Line <$stmt> not understood (CREATE VIEW)")
  }

  // ---- CREATE SEQUENCE (A8) ------------------------------------------

  private def parseCreateSequence(stmt: String): Unit = {
    val one = stmt.linesIterator.mkString(" ")
    seqRe.findFirstMatchIn(one) match {
      case Some(m) =>
        val schema = relabel(unbr(Option(m.group(1)).getOrElse("dbo")))
        val name = unbr(m.group(2))
        val rest = m.group(3)
        def num(re: Regex): Option[Long] =
          re.findFirstMatchIn(rest).map(m => long(m.group(1), stmt))
        cat = cat.updateSchema(schema) { sd =>
          sd.copy(sequences = sd.sequences + (name -> SequenceDef(name,
            start = num(seqStartRe), step = num(seqIncrementRe),
            min = num(seqMinRe), max = num(seqMaxRe),
            cache = num(seqCacheRe))))
        }
      case None =>
        throw new ParseException(s"Line <$stmt> not understood (SEQUENCE)")
    }
  }

  // ---- CREATE TYPE (A13/A14) -----------------------------------------

  private def parseDomain(schema: String, name: String, base: String,
      line: String): Unit = {
    val baseClean = base.trim.stripSuffix(";")
    val pg = domainBaseRe.findFirstMatchIn(baseClean).map { m =>
      val (a1, a2, isMax) = qualifier(m.group(2), line)
      TypeMapper.convert(SqlType(m.group(1).toLowerCase, None, a1, a2, isMax),
        conf, domains, tableTypes).pgType
    }.getOrElse("text")
    domains += (name.toLowerCase -> pg)
    cat = cat.updateSchema(schema)(sd =>
      sd.copy(domains = sd.domains + (name -> pg)))
  }

  /** A14: CREATE TYPE … AS TABLE → composite type; inner PKs ignored with
    * a warning (pl:1943–1951).
    */
  private def parseTableType(ls: Vector[String], start: Int, schema: String,
      name: String): Int = {
    var i = start
    val cols = Vector.newBuilder[(String, String)]
    var done = false
    while (!done && i < ls.length) {
      val t = ls(i).trim
      if (t.isEmpty || t.equalsIgnoreCase("GO")) i += 1
      else if (t.startsWith(")")) { done = true; i += 1 }
      else if (tableTypePkRe.matches(t)) {
        cat = cat.warn(s"PK inside table type $schema.$name ignored " +
          "(reference parity, pl:1943–1951)")
        // skip its col list if multi-line
        if (!t.contains(")")) {
          while (i < ls.length && !ls(i).trim.startsWith(")")) i += 1
        }
        i += 1
      } else {
        colRe.findFirstMatchIn(ls(i)).foreach { m =>
          val (a1, a2, isMax) = qualifier(m.group(4), ls(i))
          val conv = TypeMapper.convert(
            SqlType(unbr(m.group(3)).toLowerCase, None, a1, a2, isMax),
            conf, domains, tableTypes)
          cols += ((unbr(m.group(1)), conv.pgType))
        }
        i += 1
      }
    }
    tableTypes += name.toLowerCase
    cat = cat.updateSchema(schema)(sd =>
      sd.copy(tableTypes = sd.tableTypes + (name -> cols.result())))
    i
  }

  // ---- sp_addextendedproperty (A24) ----------------------------------

  private def parseExtendedProperty(stmt: String): Unit = {
    val one = stmt.linesIterator.mkString(" ")
    def arg(k: String): Option[String] =
      extPropArgRes(k).findFirstMatchIn(one)
        .map(_.group(1).replace("''", "'"))
    val propName = arg("name").getOrElse("")
    // MS_Description / MS_SSMA_SOURCE become comments (pl:2322–2386),
    // and the multi-line 'Dictionary' variant is another way tables get
    // comments (pl:2387–2406); the 50+ SSMS GUI layout properties are
    // ignored.
    if (propName != "MS_Description" && propName != "MS_SSMA_SOURCE" &&
      propName != "Dictionary") return
    val value = arg("value").getOrElse("")
    val l0 = arg("level0name").map(s => relabel(s))
    val l1type = arg("level1type").map(_.toUpperCase)
    val l1 = arg("level1name")
    val l2type = arg("level2type").map(_.toUpperCase)
    val l2 = arg("level2name")
    (l0, l1type, l1, l2type, l2) match {
      case (Some(s), None, _, _, _) =>
        cat = cat.updateSchema(s)(_.copy(comment = Some(value)))
      case (Some(s), Some("TABLE"), Some(t), None, _) =>
        cat = cat.updateTable(s, t)(_.copy(comment = Some(value)))
      case (Some(s), Some("TABLE"), Some(t), Some("COLUMN"), Some(c)) =>
        cat = cat.updateTable(s, t) { tt =>
          tt.copy(cols = tt.cols.map(col =>
            if (col.name.equalsIgnoreCase(c))
              col.copy(comment = Some(value)) else col))
        }
      case (Some(s), Some("TABLE"), Some(t), Some("INDEX"), Some(ix)) =>
        cat = cat.updateTable(s, t) { tt =>
          tt.indexes.get(ix) match {
            case Some(d) => tt.copy(indexes =
              tt.indexes.updated(ix, d.copy(comment = Some(value))))
            case None => tt
          }
        }
      case (Some(s), Some("VIEW"), Some(v), _, _) =>
        cat = cat.updateSchema(s) { sd =>
          sd.views.get(v) match {
            case Some(vd) => sd.copy(views =
              sd.views.updated(v, vd.copy(comment = Some(value))))
            case None => sd
          }
        }
      case _ => () // constraint-level and exotic targets: ignored
    }
  }
}

/** The parser's patterns, compiled once per JVM rather than per parser
  * or per call. */
object TsqlParser {

  // identifier: [bracketed possibly with spaces] or bare word
  private val ID = """(?:\[[^\]]+\]|[\w#$]+)"""

  private def notUnderstood(line: String) =
    new ParseException(s"Line <$line> not understood")

  /** A number in the dump; one that does not fit fails like any other
    * line not understood. */
  private def int(s: String, line: String): Int =
    s.trim.toIntOption.getOrElse(throw notUnderstood(line))

  private def long(s: String, line: String): Long =
    s.trim.toLongOption.getOrElse(throw notUnderstood(line))

  /** A type's `(n)`, `(p, s)` or `(max)` qualifier (null when absent) →
    * (arg1, arg2, isMax). */
  private def qualifier(q: String,
      line: String): (Option[Int], Option[Int], Boolean) = q match {
    case null => (None, None, false)
    case _ if q.equalsIgnoreCase("max") => (None, None, true)
    case _ => q.split(",") match { // the patterns allow one comma at most
      case Array(p) => (Some(int(p, line)), None, false)
      case Array(p, s) => (Some(int(p, line)), Some(int(s, line)), false)
    }
  }

  // ---- top-level statement recognizers -------------------------------

  private val createTableRe =
    s"""(?i)^\\s*CREATE\\s+TABLE\\s+(?:($ID)\\.)?($ID)\\s*\\(?\\s*$$""".r
  private val createIndexRe =
    s"""(?i)^\\s*CREATE\\s+(UNIQUE\\s+)?(?:(?:NON)?CLUSTERED\\s+)?(?:COLUMNSTORE\\s+)?INDEX\\s+""".r
  private val createSpatialRe =
    """(?i)^\s*CREATE\s+SPATIAL\s+INDEX\s+""".r
  private val createViewRe =
    s"""(?i)^\\s*CREATE\\s+VIEW\\s+""".r
  private val createSeqRe =
    """(?i)^\s*CREATE\s+SEQUENCE\s+""".r
  private val createSchemaRe =
    s"""(?i)^\\s*CREATE\\s+SCHEMA\\s+($ID).*$$""".r
  private val createTypeFromRe =
    s"""(?i)^\\s*CREATE\\s+TYPE\\s+(?:($ID)\\.)?($ID)\\s+FROM\\s+(.*)$$""".r
  private val createTypeTableRe =
    s"""(?i)^\\s*CREATE\\s+TYPE\\s+(?:($ID)\\.)?($ID)\\s+AS\\s+TABLE\\s*\\(?\\s*$$""".r
  private val skipToGoRe =
    """(?i)^\s*CREATE\s+(OR\s+ALTER\s+)?(PROC|PROCEDURE|FUNCTION|TRIGGER|DATABASE|FULLTEXT|XML\s+SCHEMA|USER|LOGIN|ROLE|PARTITION)\b.*""".r
  private val ifRe = """(?i)^\s*IF\s+.*""".r
  private val alterTableRe =
    s"""(?i)^\\s*ALTER\\s+TABLE\\s+(?:($ID)\\.)?($ID)\\s+(.*)$$""".r
  private val alterIndexDisableRe =
    s"""(?i)^\\s*ALTER\\s+INDEX\\s+($ID)\\s+ON\\s+(?:($ID)\\.)?($ID)\\s+DISABLE\\s*$$""".r
  private val extPropRe =
    """(?i)^\s*EXEC(?:UTE)?\s+(?:sys\.)?sp_addextendedproperty\b""".r
  private val setvarRe =
    """(?i)^\s*:setvar\s+(\S+)\s+"?([^"]*)"?\s*$""".r

  /** A26 ignore list (pl:2424–2570): statements with no PG equivalent. */
  private val ignoreRes: Seq[Regex] = Seq(
    """(?i)^\s*$""".r,
    """^\s*--.*$""".r,                     // line comments (pl:2430)
    """(?i)^\s*GO\s*;?\s*$""".r,
    """(?i)^\s*USE\s+.*$""".r,
    """(?i)^\s*SET\s+\w+.*$""".r,
    """(?i)^\s*GRANT\s+.*$""".r,
    """(?i)^\s*REVOKE\s+.*$""".r,
    """(?i)^\s*DENY\s+.*$""".r,
    """(?i)^\s*ALTER\s+DATABASE\s+.*$""".r,
    """(?i)^\s*ALTER\s+ROLE\s+.*$""".r,
    """(?i)^\s*ALTER\s+AUTHORIZATION\s+.*$""".r,
    """(?i)^\s*EXEC(?:UTE)?\s+.*$""".r,     // any other EXEC (system procs)
    """(?i)^\s*DBCC\s+.*$""".r,
    """(?i)^\s*PRINT\s+.*$""".r,
    """(?i)^\s*BEGIN\s*$""".r,
    """(?i)^\s*END\s*$""".r,
    """(?i)^\s*COMMIT\s*;?\s*$""".r,
    """(?i)^\s*;\s*$""".r
  )
  private val arithabortOffRe = """(?i).*ARITHABORT\s+OFF.*""".r

  /** A line that starts a new statement ends a gathered one. */
  private val newStmtRe =
    """(?i)^\s*(CREATE|ALTER|EXEC|EXECUTE|USE|SET|GRANT|REVOKE|DENY|INSERT|UPDATE|DELETE|:setvar|IF|DBCC|PRINT)\b.*""".r

  // ---- CREATE TABLE body (A3–A7) -------------------------------------

  private val tableCloseRe =
    """(?i)^\s*\)\s*(ON\s+.*|TEXTIMAGE_ON\s+.*)?\s*$""".r
  private val computedColRe =
    s"""(?i)^\\s*($ID)\\s+AS\\s+(\\(.*\\))\\s*(PERSISTED)?\\s*(NOT\\s+NULL)?\\s*,?\\s*$$""".r
  private val inlinePkHeadRe =
    s"""(?i)^\\s*(?:CONSTRAINT\\s+($ID)\\s+)?PRIMARY\\s+KEY\\s*(?:(?:NON)?CLUSTERED)?\\s*(?:HASH)?\\s*(.*)$$""".r
  private val inlineUqHeadRe =
    s"""(?i)^\\s*(?:CONSTRAINT\\s+($ID)\\s+)?UNIQUE\\s*(?:(?:NON)?CLUSTERED)?\\s*(.*)$$""".r
  private val parenRe = """(?s)\((.*?)\)""".r
  private val withOptionsRe = """(?i)WITH\s*\(.*?\)""".r

  private val colRe = (
    s"""(?i)^\\s*($ID)\\s+""" +               // column name
    s"""(?:($ID)\\.)?($ID)\\s*""" +           // [type-schema.] type
    """(?:\(\s*(max|\d+(?:\s*,\s*\d+)?)\s*\))?""" + // qualifier
    """(.*)$"""                                // modifiers
  ).r
  // COLLATE, ROWGUIDCOL, SPARSE, NOT FOR REPLICATION: removed in turn
  private val ignoredColOptionRes: Seq[Regex] = Seq(
    """(?i)\bCOLLATE\s+\S+""".r,
    """(?i)\bROWGUIDCOL\b""".r,
    """(?i)\bSPARSE\b""".r,
    """(?i)\bNOT\s+FOR\s+REPLICATION\b""".r)
  private val identityRe =
    """(?i)\bIDENTITY\s*\(\s*(-?\d+)\s*,\s*(-?\d+)\s*\)""".r
  private val inlinePkRe =
    """(?i)\bPRIMARY\s+KEY\s*(?:(?:NON)?CLUSTERED)?\s*(?:HASH)?\s*(?:WITH\s*\([^)]*\))?""".r
  private val colDefaultRe =
    """(?i)(?:CONSTRAINT\s+(\[[^\]]+\]|\w+)\s+)?DEFAULT\s*(\(.*\))""".r
  private val notNullRe = """(?i)\bNOT\s+NULL\b""".r

  // ---- ALTER TABLE (A18–A23) -----------------------------------------

  private val withCheckRe = """(?i)\bWITH\s+(NO)?CHECK\b""".r
  private val checkConstraintRe = """(?i).*\bCHECK\s+CONSTRAINT\b.*""".r
  // the ADD forms match as unanchored extractors: one search each
  private val addPkRe =
    s"""(?is)ADD\\s+(?:CONSTRAINT\\s+($ID)\\s+)?PRIMARY\\s+KEY\\s*(?:(?:NON)?CLUSTERED)?\\s*(?:HASH)?\\s*\\((.*?)\\)""".r.unanchored
  private val addUqRe =
    s"""(?is)ADD\\s+(?:CONSTRAINT\\s+($ID)\\s+)?UNIQUE\\s*(?:(?:NON)?CLUSTERED)?\\s*\\((.*?)\\)""".r.unanchored
  private val addFkRe =
    s"""(?is)ADD\\s+(?:CONSTRAINT\\s+($ID)\\s+)?FOREIGN\\s+KEY\\s*\\(([^)]*)\\)\\s*REFERENCES\\s+(?:($ID)\\.)?($ID)\\s*\\(([^)]*)\\)(.*)$$""".r.unanchored
  private val onDeleteCascadeRe = """(?i)ON\s+DELETE\s+CASCADE""".r
  private val onDeleteSetNullRe = """(?i)ON\s+DELETE\s+SET\s+NULL""".r
  private val onUpdateCascadeRe = """(?i)ON\s+UPDATE\s+CASCADE""".r
  private val onUpdateSetNullRe = """(?i)ON\s+UPDATE\s+SET\s+NULL""".r
  private val addCheckRe =
    s"""(?is)ADD\\s+(?:CONSTRAINT\\s+($ID)\\s+)?CHECK\\s*(?:NOT\\s+FOR\\s+REPLICATION\\s*)?\\((.*)\\)\\s*;?\\s*$$""".r.unanchored
  private val addDefaultRe =
    s"""(?is)ADD\\s+(?:CONSTRAINT\\s+($ID)\\s+)?DEFAULT\\s*(\\(.*\\)|N?'[^']*'|[\\w.-]+)\\s+FOR\\s+($ID)\\s*;?\\s*$$""".r.unanchored
  private val addColumnRe =
    s"""(?is)ADD\\s+($ID)\\s+(?:($ID)\\.)?($ID)\\s*(?:\\(\\s*(max|\\d+(?:\\s*,\\s*\\d+)?)\\s*\\))?(.*)$$""".r.unanchored

  // ---- CREATE INDEX (A15) --------------------------------------------

  private val indexRe = (
    s"""(?is)^\\s*CREATE\\s+(UNIQUE\\s+)?(?:(?:NON)?CLUSTERED\\s+)?INDEX\\s+($ID)\\s+""" +
    s"""ON\\s+(?:($ID)\\.)?($ID)\\s*\\((.*?)\\)""" +
    """(?:\s*INCLUDE\s*\((.*?)\))?""" +
    """(?:\s*WHERE\s+(.*?))?""" +
    """(?:\s*WITH\s*\([^)]*\))?""" +
    """(?:\s*ON\s+\S+)?\s*$"""
  ).r

  // ---- CREATE VIEW (A12) ---------------------------------------------

  private val viewRe =
    s"""(?is)^\\s*CREATE\\s+VIEW\\s+(?:($ID)\\.)?($ID)\\s*(\\([^)]*\\))?\\s*AS\\s+(.*)$$""".r

  // ---- CREATE SEQUENCE (A8) ------------------------------------------

  private val seqRe =
    s"""(?is)^\\s*CREATE\\s+SEQUENCE\\s+(?:($ID)\\.)?($ID)\\s*(.*)$$""".r
  private val seqStartRe = """(?i)\bSTART\s+WITH\s+(-?\d+)""".r
  private val seqIncrementRe = """(?i)\bINCREMENT\s+BY\s+(-?\d+)""".r
  private val seqMinRe = """(?i)\bMINVALUE\s+(-?\d+)""".r
  private val seqMaxRe = """(?i)\bMAXVALUE\s+(-?\d+)""".r
  private val seqCacheRe = """(?i)\bCACHE\s+(-?\d+)""".r

  // ---- CREATE TYPE (A13/A14) -----------------------------------------

  private val domainBaseRe =
    """(?i)^\s*\[?(\w+)\]?\s*(?:\(\s*(max|\d+(?:\s*,\s*\d+)?)\s*\))?.*$""".r
  private val tableTypePkRe = """(?i)^\s*(CONSTRAINT\s+.*)?PRIMARY\s+KEY.*""".r

  // ---- sp_addextendedproperty (A24) ----------------------------------

  private val extPropArgRes: Map[String, Regex] = Seq("name", "value",
    "level0name", "level1type", "level1name", "level2type", "level2name")
    .map(k => k -> s"""(?i)@$k\\s*=\\s*N?'((?:[^']|'')*)'""".r).toMap
}
