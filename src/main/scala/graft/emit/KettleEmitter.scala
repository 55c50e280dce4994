package graft.emit

import graft.catalog._
import graft.convert.{Config, Identifiers}

/** Kettle/PDI artifact emitter — the reference's entry-point-2/3 file
  * deliverable: one full-copy `.ktr` transformation per table, one
  * `incremental-*.ktr` per table with a primary key, and the two jobs
  * (`migration.kjb`, `incremental.kjb`) chaining them between the
  * trigger-disable / trigger-enable SQL scripts
  * (generate_kettle, sqlserver2pgsql.pl:923–1352; templates 3362–5032).
  *
  * The Spark operators (graft.operators.*) replace the *execution* of
  * these artifacts; this emitter restores the *file outputs* so a user
  * of the reference who hands `.ktr`/`.kjb` files to a PDI scheduler
  * gets the same artifacts from this library. The XML is generated
  * structurally (each step/entry is a builder function), not from a
  * verbatim template, but the step graph, step types, option wiring
  * and placeholder semantics match the reference:
  *
  *  - full copy: ExecSQL `truncate table` → TableInput (`WITH(NOLOCK)`,
  *    blocked until the truncate finishes) → NUL-scrub
  *    UserDefinedJavaClass → TableOutput (commit 100, batch inserts)
  *    (pl:3485–3712);
  *  - LOB tables with a single int-family PK read with
  *    `-pi` parallel input copies, each slicing on
  *    `pk % ${Internal.Step.Unique.Count} = ${Internal.Step.Unique.Number}`
  *    (pl:949–963, 4018–4043);
  *  - incremental: both sides stream PK-sorted (database-side ORDER BY
  *    when every PK column's sort order is collation-independent,
  *    SortRows steps otherwise) into MergeRows(diff) → Synchronize
  *    after merge (insert=new / update=changed / delete=deleted)
  *    (pl:970–1163, 4270–5032);
  *  - `-ignore_errors` flips TableOutput to ignore_errors=Y and
  *    disables batch mode (batch + ignore is not possible, pl:1034–1037);
  *  - jobs: START → SQL SCRIPT START (CREATE CAST statements + DISABLE
  *    TRIGGER ALL per table) → alphabetical TRANS entries → SQL SCRIPT
  *    END (reverse) (pl:1176–1352).
  *
  * Template contract: every XML fragment is a `tpl"""…"""` template.
  * Its literal text loses its `|` margin once per template (memoized in
  * the companion); interpolated values (names, SQL, connection
  * settings) are never margin-stripped and reach the file verbatim.
  * The connection blocks are built once per emitter.
  */
final class KettleEmitter(conf: Config,
    sqlServer: Map[String, String] = Map.empty,
    postgres: Map[String, String] = Map.empty) {
  import KettleEmitter._

  private val sqlConnName = "__sqlserver_db__"
  private val pgConnName = "__postgres_db__"

  private def esc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    .replace("\"", "&quot;")

  private def fmt(s: String): String = Identifiers.format(s, conf)._1

  /** The reference writes job-entry file paths with `/` escaped as
    * `&#47;` on non-Windows hosts (pl:1249–1257). */
  private def escPath(s: String): String = esc(s).replace("/", "&#47;")

  // --- column conversion for the generated SELECTs -------------------

  /** Source-side column expression (sql_convert_column, pl:442–465):
    * keyed on the CONVERTED PostgreSQL type — uuid reads lowercased,
    * date/tstz read as style-120/121 text, xml NULLs the empty-ish
    * payloads SQL Server ships for empty xml.
    */
  private[emit] def sqlServerCol(c: ColumnDef): String = {
    val b = s"[${c.name}]"
    val t = c.pgType.toLowerCase
    val expr =
      if (t == "uuid") s"lower($b)"
      else if (t == "date") s"convert(varchar(50), $b, 120)"
      else if (t.startsWith("timestamp with time zone"))
        s"convert(varchar(50), $b, 121)"
      else if (t == "xml") s"case when datalength($b) > 5 then $b else null end"
      else b
    s"$expr AS ${fmt(c.name)}"
  }

  /** Target-side column expression for the incremental compare read
    * (postgres_convert_column, pl:467–485): render uuid/date as the
    * same text the source side ships so MergeRows compares equal.
    * The tstz format string is reproduced VERBATIM from the reference
    * (pl:473) including its quirks — `HH` is 12-hour in to_char and
    * `.US+00` differs from style-121's 7-digit fraction — so a
    * datetimeoffset column re-syncs every row, exactly as the
    * reference's artifacts do. Artifact parity wins over fixing the
    * comparison: users migrating from the reference get identical
    * files.
    */
  private[emit] def postgresCol(c: ColumnDef): String = {
    val b = fmt(c.name)
    val t = c.pgType.toLowerCase
    val expr =
      if (t == "uuid") s"lower(cast($b as varchar))"
      else if (t == "date") s"to_char($b, 'YYYY-MM-DD')"
      else if (t == "timestamp with time zone")
        s"to_char($b AT TIME ZONE 'UTC', 'YYYY-MM-DD HH:MI:SS.US+00')"
      else b
    s"$expr AS $b"
  }

  private def orderedCols(t: TableDef): Seq[ColumnDef] = t.cols.sortBy(_.pos)

  /** `-use_pk_if_possible` gate (pl:502–524): Config.usePkAllowed is
    * the single matcher shared with the Spark read planner
    * (Tables.partitionHint) — one flag, one meaning on both paths.
    */
  private def pkSortAllowed(schema: String, t: TableDef): Boolean =
    (conf.usePkAllowed(schema, t.name) ||
      conf.usePkAllowed(t.origSchema, t.name)) &&
      Identifiers.isPkSortOrderSafe(t)

  /** LOB modulo-slice eligibility (pl:949–957): haslobs + single
    * int-family PK column. */
  private def lobSliced(t: TableDef): Boolean =
    t.hasLobs && t.pk.exists(_.cols.size == 1) && t.pk.exists(pk =>
      t.colByName(pk.cols.head).exists(_.sqlType.name.toLowerCase.endsWith("int")))

  // --- connection blocks ---------------------------------------------

  private def attr(code: String, value: String): String =
    s"      <attribute><code>${esc(code)}</code><attribute>${esc(value)}</attribute></attribute>"

  private def pgAttrs: String = {
    val ssl =
      if (postgres.contains("pforce_ssl"))
        Seq(attr("EXTRA_OPTION_POSTGRESQL.ssl", "true"),
          attr("EXTRA_OPTION_POSTGRESQL.sslfactory",
            "org.postgresql.ssl.NonValidatingFactory"))
      else Nil
    val stringtype =
      if (conf.stringtypeUnspecified)
        Seq(attr("EXTRA_OPTION_POSTGRESQL.stringtype", "unspecified"))
      else Nil
    (Seq(attr("EXTRA_OPTION_POSTGRESQL.reWriteBatchedInserts", "true")) ++
      ssl ++ Seq(
      attr("FORCE_IDENTIFIERS_TO_LOWERCASE", "N"),
      attr("FORCE_IDENTIFIERS_TO_UPPERCASE", "N"),
      attr("IS_CLUSTERED", "N"),
      attr("PORT_NUMBER", postgres.getOrElse("pp", "")),
      attr("QUOTE_ALL_FIELDS", "Y"),
      attr("SQL_CONNECT", "set synchronous_commit to off;"),
      attr("SUPPORTS_BOOLEAN_DATA_TYPE", "Y"),
      attr("USE_POOLING", "N")) ++ stringtype).mkString("\n")
  }

  private def sqlServerAttrs: String = {
    val ssl =
      if (sqlServer.contains("sforce_ssl"))
        Seq(attr("EXTRA_OPTION_MSSQL.ssl", "require"))
      else Nil
    (ssl ++ Seq(
      attr("EXTRA_OPTION_MSSQL.instance", sqlServer.getOrElse("si", "")),
      attr("FORCE_IDENTIFIERS_TO_LOWERCASE", "N"),
      attr("FORCE_IDENTIFIERS_TO_UPPERCASE", "N"),
      attr("IS_CLUSTERED", "N"),
      attr("MSSQL_DOUBLE_DECIMAL_SEPARATOR", "N"),
      attr("PORT_NUMBER", sqlServer.getOrElse("sp", "")),
      attr("QUOTE_ALL_FIELDS", "Y"),
      attr("SUPPORTS_BOOLEAN_DATA_TYPE", "N"),
      attr("USE_POOLING", "N"))).mkString("\n")
  }

  private def connection(name: String, dbType: String, host: String,
      db: String, port: String, user: String, pass: String,
      attrs: String): String =
    tpl"""  <connection>
       |    <name>$name</name>
       |    <server>${esc(host)}</server>
       |    <type>$dbType</type>
       |    <access>Native</access>
       |    <database>${esc(db)}</database>
       |    <port>${esc(port)}</port>
       |    <username>${esc(user)}</username>
       |    <password>${esc(pass)}</password>
       |    <servername/>
       |    <data_tablespace/>
       |    <index_tablespace/>
       |    <attributes>
       |$attrs
       |    </attributes>
       |  </connection>"""

  private val pgConnection: String =
    connection(pgConnName, "POSTGRESQL", postgres.getOrElse("ph", ""),
      postgres.getOrElse("pd", ""), postgres.getOrElse("pp", ""),
      postgres.getOrElse("pu", ""), postgres.getOrElse("pw", ""), pgAttrs)

  private val sqlServerConnection: String =
    connection(sqlConnName, "MSSQL", sqlServer.getOrElse("sh", ""),
      sqlServer.getOrElse("sd", ""), sqlServer.getOrElse("sp", ""),
      sqlServer.getOrElse("su", ""), sqlServer.getOrElse("sw", ""),
      sqlServerAttrs)

  // --- step builders --------------------------------------------------

  private def stepHeader(name: String, stepType: String,
      copies: String): String =
    tpl"""    <name>$name</name>
       |    <type>$stepType</type>
       |    <description/>
       |    <distribute>Y</distribute>
       |    <copies>$copies</copies>
       |    <partitioning>
       |      <method>none</method>
       |      <schema_name/>
       |    </partitioning>"""

  private def stepFooter(x: Int, y: Int): String =
    tpl"""    <cluster_schema/>
       |    <remotesteps><input></input><output></output></remotesteps>
       |    <GUI><xloc>$x</xloc><yloc>$y</yloc><draw>Y</draw></GUI>
       |    </step>"""

  private def step(name: String, stepType: String, copies: String,
      body: String, x: Int, y: Int): String =
    s"  <step>\n${stepHeader(name, stepType, copies)}\n$body\n${stepFooter(x, y)}"

  private def execSqlStep(sql: String): String =
    step("Execute SQL script", "ExecSQL", "1",
      tpl"""    <connection>$pgConnName</connection>
         |    <execute_each_row>N</execute_each_row>
         |    <single_statement>N</single_statement>
         |    <replace_variables>N</replace_variables>
         |    <quoteString>N</quoteString>
         |    <sql>${esc(sql)}</sql>
         |    <set_params>N</set_params>
         |    <insert_field/>
         |    <update_field/>
         |    <delete_field/>
         |    <read_field/>
         |    <arguments>
         |    </arguments>""", 64, 160)

  private def blockStep: String =
    step("Block this step until steps finish", "BlockUntilStepsFinish", "1",
      tpl"""    <steps>
         |      <step>
         |        <name>Execute SQL script</name>
         |        <CopyNr>0</CopyNr>
         |      </step>
         |    </steps>""", 123, 160)

  private def tableInputStep(name: String, conn: String, sql: String,
      copies: String, variablesActive: Boolean, x: Int, y: Int): String =
    step(name, "TableInput", copies,
      tpl"""    <connection>$conn</connection>
         |    <sql>${esc(sql)}</sql>
         |    <limit>0</limit>
         |    <lookup/>
         |    <execute_each_row>N</execute_each_row>
         |    <variables_active>${if (variablesActive) "Y" else "N"}</variables_active>
         |    <lazy_conversion_active>N</lazy_conversion_active>""",
      x, y)

  /** NUL-byte scrub between input and output — same contract as the
    * reference's embedded transform class (pl:3569–3654: strip `\0`
    * from every string field; C5's JDBC-side twin is
    * CopyPipeline.scrubNulBytes) but an original implementation.
    */
  private def nulScrubStep(copies: String, x: Int, y: Int): String = {
    step("User Defined Java Class", "UserDefinedJavaClass", copies,
      tpl"""    <definitions>
         |      <definition>
         |        <class_type>TRANSFORM_CLASS</class_type>
         |        <class_name>Processor</class_name>
         |        <class_source><![CDATA[$nulScrubSource]]></class_source>
         |      </definition>
         |    </definitions>
         |    <fields>
         |    </fields>
         |    <clear_result_fields>N</clear_result_fields>
         |    <info_steps></info_steps><target_steps></target_steps>
         |    <usage_parameters></usage_parameters>""", x, y)
  }

  private def tableOutputStep(pgSchema: String, pgTable: String,
      copies: String): String = {
    val ignore = if (conf.ignoreErrors) "Y" else "N"
    // batch mode cannot ignore errors (pl:1034–1037)
    val batch = if (conf.ignoreErrors) "N" else "Y"
    step("Table output", "TableOutput", copies,
      tpl"""    <connection>$pgConnName</connection>
         |    <schema>${esc(pgSchema)}</schema>
         |    <table>${esc(pgTable)}</table>
         |    <commit>100</commit>
         |    <truncate>N</truncate>
         |    <ignore_errors>$ignore</ignore_errors>
         |    <use_batch>$batch</use_batch>
         |    <specify_fields>N</specify_fields>
         |    <partitioning_enabled>N</partitioning_enabled>
         |    <partitioning_field/>
         |    <partitioning_daily>N</partitioning_daily>
         |    <partitioning_monthly>Y</partitioning_monthly>
         |    <tablename_in_field>N</tablename_in_field>
         |    <tablename_field/>
         |    <tablename_in_table>Y</tablename_in_table>
         |    <return_keys>N</return_keys>
         |    <return_field/>
         |    <fields>
         |    </fields>""", 371, 158)
  }

  private def sortRowsStep(name: String, keys: Seq[String], copies: String,
      x: Int, y: Int): String = {
    val fields = keys.map(k =>
      s"      <field>\n        <name>${esc(k)}</name>\n        <ascending>Y</ascending>\n        <case_sensitive>Y</case_sensitive>\n      </field>").mkString("\n")
    step(name, "SortRows", copies,
      tpl"""    <directory>%%java.io.tmpdir%%</directory>
         |    <prefix>out</prefix>
         |    <sort_size>${conf.sortSize}</sort_size>
         |    <free_memory></free_memory>
         |    <compress>N</compress>
         |    <compress_variable/>
         |    <unique_rows>N</unique_rows>
         |    <fields>
         |$fields
         |    </fields>""", x, y)
  }

  private def sortedMergeStep(name: String, keys: Seq[String], x: Int,
      y: Int): String = {
    val fields = keys.map(k =>
      s"      <field>\n        <name>${esc(k)}</name>\n        <ascending>Y</ascending>\n      </field>").mkString("\n")
    step(name, "SortedMerge", "1",
      s"    <fields>\n$fields\n    </fields>", x, y)
  }

  private def mergeRowsStep(t: TableDef, reference: String,
      compare: String): String = {
    val keys = t.pk.toSeq.flatMap(_.cols)
      .map(k => s"      <key>${esc(k)}</key>").mkString("\n")
    val values = orderedCols(t)
      .map(c => s"      <value>${esc(c.name)}</value>").mkString("\n")
    step("Merge Rows (diff)", "MergeRows", "1",
      tpl"""    <keys>
         |$keys
         |    </keys>
         |    <values>
         |$values
         |    </values>
         |    <flag_field>__changed__</flag_field>
         |    <reference>$reference</reference>
         |    <compare>$compare</compare>""", 506, 212)
  }

  private def syncAfterMergeStep(t: TableDef, pgSchema: String,
      pgTable: String): String = {
    // lookup keys: PG column (renamed) matched against the renamed
    // stream field; values: PG column <- source stream field
    // (pl:1118–1149)
    val keys = t.pk.toSeq.flatMap(_.cols).map { k =>
      tpl"""      <key>
         |        <name>${esc(k)}</name>
         |        <field>${esc(Identifiers.rename(k, conf))}</field>
         |        <condition>=</condition>
         |        <name2/>
         |      </key>"""
    }.mkString("\n")
    val values = orderedCols(t).map { c =>
      tpl"""      <value>
         |        <name>${esc(Identifiers.rename(c.name, conf))}</name>
         |        <rename>${esc(c.name)}</rename>
         |        <update>Y</update>
         |      </value>"""
    }.mkString("\n")
    step("Synchronize after merge", "SynchronizeAfterMerge",
      conf.parallelismOut.toString,
      tpl"""    <connection>$pgConnName</connection>
         |    <commit>100</commit>
         |    <tablename_in_field>N</tablename_in_field>
         |    <tablename_field/>
         |    <use_batch>N</use_batch>
         |    <perform_lookup>N</perform_lookup>
         |    <operation_order_field>__changed__</operation_order_field>
         |    <order_insert>new</order_insert>
         |    <order_update>changed</order_update>
         |    <order_delete>deleted</order_delete>
         |    <lookup>
         |      <schema>${esc(pgSchema)}</schema>
         |      <table>${esc(pgTable)}</table>
         |$keys
         |$values
         |    </lookup>""", 700, 212)
  }

  // --- transformation documents ---------------------------------------

  private def transInfo(name: String): String =
    tpl"""  <info>
       |    <name>${esc(name)}</name>
       |    <description/>
       |    <extended_description/>
       |    <trans_version/>
       |    <trans_type>Normal</trans_type>
       |    <trans_status>0</trans_status>
       |    <directory>&#47;</directory>
       |    <parameters>
       |    </parameters>
       |    <size_rowset>10000</size_rowset>
       |    <sleep_time_empty>50</sleep_time_empty>
       |    <sleep_time_full>50</sleep_time_full>
       |    <unique_connections>N</unique_connections>
       |    <feedback_shown>Y</feedback_shown>
       |    <feedback_size>50000</feedback_size>
       |    <using_thread_priorities>Y</using_thread_priorities>
       |    <shared_objects_file/>
       |    <capture_step_performance>N</capture_step_performance>
       |    <step_performance_capturing_delay>1000</step_performance_capturing_delay>
       |    <step_performance_capturing_size_limit>100</step_performance_capturing_size_limit>
       |    <dependencies>
       |    </dependencies>
       |    <partitionschemas>
       |    </partitionschemas>
       |    <slaveservers>
       |    </slaveservers>
       |    <clusterschemas>
       |    </clusterschemas>
       |  </info>
       |  <notepads>
       |  </notepads>"""

  private def hop(from: String, to: String): String =
    s"    <hop><from>$from</from><to>$to</to><enabled>Y</enabled></hop>"

  private def transformation(name: String, connections: Seq[String],
      hops: Seq[String], steps: Seq[String]): String =
    tpl"""<transformation>
       |${transInfo(name)}
       |${connections.mkString("\n")}
       |  <order>
       |${hops.mkString("\n")}
       |  </order>
       |${steps.mkString("\n")}
       |  <step_error_handling>
       |  </step_error_handling>
       |  <slave-step-copy-partition-distribution>
       |  </slave-step-copy-partition-distribution>
       |  <slave_transformation>N</slave_transformation>
       |</transformation>
       |"""

  /** Full-copy transformation for one table (pl:944–968, 3362–4086). */
  private[emit] def copyTransformation(schema: String, t: TableDef): String = {
    val pgSchema = fmt(conf.relabel(schema))
    val pgTable = fmt(t.name)
    val mssqlName = s"[${t.origSchema}].[${t.name}]"
    val cols = orderedCols(t).map(sqlServerCol).mkString(",")
    val sliced = lobSliced(t)
    val whereFilter =
      if (sliced) {
        val pkCol = t.pk.get.cols.head
        " WHERE " + pkCol +
          " % ${Internal.Step.Unique.Count} = ${Internal.Step.Unique.Number}"
      } else ""
    val inputCopies = if (sliced) conf.parallelismIn.toString else "1"
    val sql =
      s"SELECT $cols FROM $mssqlName WITH(NOLOCK)$whereFilter"
    transformation(mssqlName,
      Seq(sqlServerConnection, pgConnection),
      Seq(
        hop("Table input", "Block this step until steps finish"),
        hop("Block this step until steps finish", "User Defined Java Class"),
        hop("User Defined Java Class", "Table output")),
      Seq(
        execSqlStep(s"truncate table $pgSchema.$pgTable"),
        blockStep,
        tableInputStep("Table input", sqlConnName, sql, inputCopies,
          variablesActive = true, 182, 160),
        nulScrubStep(conf.parallelismOut.toString, 280, 332),
        tableOutputStep(pgSchema, pgTable, conf.parallelismOut.toString)))
  }

  /** Incremental diff/sync transformation (pl:970–1163, 4270–5032):
    * PK-sorted streams on both sides into MergeRows → Synchronize.
    */
  private[emit] def incrementalTransformation(schema: String,
      t: TableDef): String = {
    val pgSchema = fmt(conf.relabel(schema))
    val pgTable = fmt(t.name)
    val mssqlName = s"[${t.origSchema}].[${t.name}]"
    val pkCols = t.pk.toSeq.flatMap(_.cols)
    val srcCols = orderedCols(t).map(sqlServerCol).mkString(",")
    val pgCols = orderedCols(t).map(postgresCol).mkString(",")
    val sortable = pkSortAllowed(schema, t)
    if (sortable) {
      val pkList = pkCols.mkString(",")
      transformation(s"migration$mssqlName",
        Seq(pgConnection, sqlServerConnection),
        Seq(
          hop("Table input 2", "User Defined Java Class"),
          hop("User Defined Java Class", "Merge Rows (diff)"),
          hop("Table input", "Merge Rows (diff)"),
          hop("Merge Rows (diff)", "Synchronize after merge")),
        Seq(
          tableInputStep("Table input 2", sqlConnName,
            s"SELECT $srcCols FROM $mssqlName WITH(NOLOCK) ORDER BY $pkList",
            "1", variablesActive = false, 122, 260),
          nulScrubStep("1", 300, 260),
          tableInputStep("Table input", pgConnName,
            s"SELECT $pgCols FROM $pgSchema.$pgTable ORDER BY $pkList",
            "1", variablesActive = false, 122, 150),
          mergeRowsStep(t, reference = "Table input",
            compare = "User Defined Java Class"),
          syncAfterMergeStep(t, pgSchema, pgTable)))
    } else {
      transformation(s"migration$mssqlName",
        Seq(pgConnection, sqlServerConnection),
        Seq(
          hop("Table input 2", "User Defined Java Class"),
          hop("User Defined Java Class", "Sort rows 2"),
          hop("Sort rows 2", "Sorted Merge 2"),
          hop("Table input", "Sort rows"),
          hop("Sort rows", "Sorted Merge"),
          hop("Sorted Merge", "Merge Rows (diff)"),
          hop("Sorted Merge 2", "Merge Rows (diff)"),
          hop("Merge Rows (diff)", "Synchronize after merge")),
        Seq(
          tableInputStep("Table input 2", sqlConnName,
            s"SELECT $srcCols FROM $mssqlName WITH(NOLOCK)",
            "1", variablesActive = false, 122, 260),
          nulScrubStep("1", 250, 260),
          sortRowsStep("Sort rows 2", pkCols,
            conf.parallelismOut.toString, 351, 260),
          tableInputStep("Table input", pgConnName,
            s"SELECT $pgCols FROM $pgSchema.$pgTable",
            "1", variablesActive = false, 122, 150),
          sortRowsStep("Sort rows", pkCols,
            conf.parallelismOut.toString, 351, 161),
          sortedMergeStep("Sorted Merge", pkCols, 430, 161),
          sortedMergeStep("Sorted Merge 2", pkCols, 430, 260),
          mergeRowsStep(t, reference = "Sorted Merge",
            compare = "Sorted Merge 2"),
          syncAfterMergeStep(t, pgSchema, pgTable)))
    }
  }

  // --- job documents ---------------------------------------------------

  private def jobSqlEntry(name: String, sql: String, y: Int): String =
    tpl"""    <entry>
       |      <name>$name</name>
       |      <description/>
       |      <type>SQL</type>
       |      <sql>${esc(sql)}</sql>
       |      <useVariableSubstitution>F</useVariableSubstitution>
       |      <sqlfromfile>F</sqlfromfile>
       |      <sqlfilename/>
       |      <sendOneStatement>F</sendOneStatement>
       |      <connection>$pgConnName</connection>
       |      <parallel>N</parallel>
       |      <draw>Y</draw>
       |      <nr>0</nr>
       |      <xloc>38</xloc>
       |      <yloc>$y</yloc>
       |    </entry>"""

  private def jobTransEntry(name: String, fileName: String, y: Int): String =
    tpl"""    <entry>
       |      <name>${esc(name)}</name>
       |      <description/>
       |      <type>TRANS</type>
       |      <specification_method>filename</specification_method>
       |      <trans_object_id/>
       |      <filename>${escPath(fileName)}</filename>
       |      <transname/>
       |      <arg_from_previous>N</arg_from_previous>
       |      <params_from_previous>N</params_from_previous>
       |      <exec_per_row>N</exec_per_row>
       |      <clear_rows>N</clear_rows>
       |      <clear_files>N</clear_files>
       |      <set_logfile>N</set_logfile>
       |      <logfile/>
       |      <logext/>
       |      <add_date>N</add_date>
       |      <add_time>N</add_time>
       |      <loglevel>Basic</loglevel>
       |      <cluster>N</cluster>
       |      <slave_server_name/>
       |      <set_append_logfile>N</set_append_logfile>
       |      <wait_until_finished>Y</wait_until_finished>
       |      <follow_abort_remote>N</follow_abort_remote>
       |      <create_parent_folder>N</create_parent_folder>
       |      <parameters>
       |        <pass_all_parameters>Y</pass_all_parameters>
       |      </parameters>
       |      <parallel>N</parallel>
       |      <draw>Y</draw>
       |      <nr>0</nr>
       |      <xloc>197</xloc>
       |      <yloc>$y</yloc>
       |    </entry>"""

  private def jobHop(from: String, to: String,
      unconditional: Boolean = false): String =
    tpl"""    <hop>
       |      <from>${esc(from)}</from>
       |      <to>${esc(to)}</to>
       |      <from_nr>0</from_nr>
       |      <to_nr>0</to_nr>
       |      <enabled>Y</enabled>
       |      <evaluation>Y</evaluation>
       |      <unconditional>${if (unconditional) "Y" else "N"}</unconditional>
       |    </hop>"""

  /** Bracketing SQL for the job (pl:1281–1315): implicit-cast setup and
    * trigger disable before, reverse after.
    */
  private[emit] def jobScripts(cat: Catalog): (String, String) = {
    val before = new StringBuilder
    val after = new StringBuilder
    cat.casts.toSeq.sortBy(_._1).foreach { case (pgType, kind) =>
      if (kind == 'C') {
        before ++= s"DROP CAST IF EXISTS (varchar as $pgType);\n"
        before ++= s"CREATE CAST (varchar as $pgType) with inout as implicit;\n"
        after ++= s"DROP CAST (varchar as $pgType);\n"
      } else if (kind == 'S') {
        before ++= "UPDATE pg_cast SET castcontext='i' WHERE " +
          s"castsource='character varying'::regtype AND casttarget='$pgType'::regtype;\n"
        after ++= "UPDATE pg_cast SET castcontext='e' WHERE " +
          s"castsource='character varying'::regtype AND casttarget='$pgType'::regtype;\n"
      }
    }
    cat.schemas.toSeq.sortBy(_._1).foreach { case (sn, sd) =>
      sd.tables.toSeq.sortBy(_._1.toLowerCase).foreach { case (_, t) =>
        val qual = s"${fmt(conf.relabel(sn))}.${fmt(t.name)}"
        before ++= s"ALTER TABLE $qual DISABLE TRIGGER ALL;\n"
        after ++= s"ALTER TABLE $qual ENABLE TRIGGER ALL;\n"
      }
    }
    (before.toString, after.toString)
  }

  private def job(name: String, cat: Catalog,
      fileFor: (String, TableDef) => String): String = {
    val (beforeSql, afterSql) = jobScripts(cat)
    val tables = cat.schemas.toSeq.sortBy(_._1).flatMap { case (sn, sd) =>
      sd.tables.toSeq.sortBy(_._1.toLowerCase).map { case (_, t) => (sn, t) }
    }
    val entries = new scala.collection.mutable.ListBuffer[String]
    val hops = new scala.collection.mutable.ListBuffer[String]
    entries += jobSqlEntry("SQL SCRIPT START", beforeSql, 140)
    entries += jobSqlEntry("SQL SCRIPT END", afterSql, 200)
    hops += jobHop("START", "SQL SCRIPT START", unconditional = true)
    var prev = "SQL SCRIPT START"
    var y = 100
    tables.foreach { case (sn, t) =>
      val entryName = s"${sn}_${t.name}"
      entries += jobTransEntry(entryName, fileFor(sn, t), y)
      hops += jobHop(prev, entryName)
      prev = entryName
      y += 80
    }
    hops += jobHop(prev, "SQL SCRIPT END")
    tpl"""<job>
       |  <name>${esc(name)}</name>
       |  <description/>
       |  <extended_description/>
       |  <job_version/>
       |  <job_status>0</job_status>
       |  <directory>&#47;</directory>
       |  <created_user>-</created_user>
       |  <created_date/>
       |  <modified_user>-</modified_user>
       |  <modified_date/>
       |${pgConnection}
       |  <parameters>
       |  </parameters>
       |  <passedBatchId>0</passedBatchId>
       |  <entries>
       |    <entry>
       |      <name>START</name>
       |      <description/>
       |      <type>SPECIAL</type>
       |      <start>Y</start>
       |      <dummy>N</dummy>
       |      <repeat>N</repeat>
       |      <schedulerType>0</schedulerType>
       |      <intervalSeconds>0</intervalSeconds>
       |      <intervalMinutes>60</intervalMinutes>
       |      <hour>12</hour>
       |      <minutes>0</minutes>
       |      <weekDay>1</weekDay>
       |      <DayOfMonth>1</DayOfMonth>
       |      <parallel>N</parallel>
       |      <draw>Y</draw>
       |      <nr>0</nr>
       |      <xloc>38</xloc>
       |      <yloc>73</yloc>
       |    </entry>
       |${entries.mkString("\n")}
       |  </entries>
       |  <hops>
       |${hops.mkString("\n")}
       |  </hops>
       |  <notepads>
       |  </notepads>
       |</job>
       |"""
  }

  // --- public API ------------------------------------------------------

  /** All artifacts for the catalog: relative filename → XML document.
    * `dir` is the target directory the job entries point at (the
    * reference resolves it absolute at write time, pl:1232–1246).
    */
  def emit(cat: Catalog, dir: String): Map[String, String] = {
    val files = scala.collection.mutable.LinkedHashMap[String, String]()
    cat.schemas.toSeq.sortBy(_._1).foreach { case (sn, sd) =>
      sd.tables.toSeq.sortBy(_._1).foreach { case (_, t) =>
        files(s"$sn-${t.name}.ktr") = copyTransformation(sn, t)
        if (t.pk.exists(_.cols.nonEmpty))
          files(s"incremental-$sn-${t.name}.ktr") =
            incrementalTransformation(sn, t)
      }
    }
    def abs(f: String): String =
      new java.io.File(dir, f).getAbsolutePath
    files("migration.kjb") = job("Migration", cat,
      (sn, t) => abs(s"$sn-${t.name}.ktr"))
    // incremental job falls back to the full-copy transformation for
    // PK-less tables (pl:1248–1252)
    files("incremental.kjb") = job("Migration", cat, (sn, t) => {
      val inc = s"incremental-$sn-${t.name}.ktr"
      abs(if (files.contains(inc)) inc else s"$sn-${t.name}.ktr")
    })
    files.toMap
  }

  /** Write all artifacts into `dir` (created if missing). Returns the
    * written file paths.
    */
  def writeTo(dir: java.nio.file.Path, cat: Catalog): Seq[java.nio.file.Path] = {
    java.nio.file.Files.createDirectories(dir)
    emit(cat, dir.toString).toSeq.map { case (name, xml) =>
      val p = dir.resolve(name)
      java.nio.file.Files.writeString(p, xml)
      p
    }
  }
}

private object KettleEmitter {

  /** Java source of the NUL-scrub step (see `nulScrubStep`). */
  private val nulScrubSource: String =
    """import java.util.Arrays;
      |
      |private int[] stringFieldIdx;
      |
      |public boolean processRow(StepMetaInterface smi, StepDataInterface sdi)
      |    throws KettleException {
      |  Object[] row = getRow();
      |  if (row == null) { setOutputDone(); return false; }
      |  if (first) {
      |    RowMetaInterface meta = getInputRowMeta();
      |    int n = meta.size();
      |    int[] tmp = new int[n];
      |    int k = 0;
      |    for (int i = 0; i < n; i++) {
      |      if (meta.getValueMeta(i).getType() == ValueMetaInterface.TYPE_STRING) {
      |        tmp[k++] = i;
      |      }
      |    }
      |    stringFieldIdx = Arrays.copyOf(tmp, k);
      |    first = false;
      |  }
      |  Object[] out = createOutputRow(row, data.outputRowMeta.size());
      |  for (int j = 0; j < stringFieldIdx.length; j++) {
      |    int i = stringFieldIdx[j];
      |    Object v = out[i];
      |    if (v instanceof String && ((String) v).indexOf('\0') >= 0) {
      |      out[i] = ((String) v).replace("\0", "");
      |    }
      |  }
      |  putRow(data.outputRowMeta, out);
      |  return true;
      |}""".stripMargin

  /** `tpl"""…"""`, the templates' interpolator: like `s"""…""".stripMargin`
    * over the literal text only. Each template's literal parts are
    * escape-processed and margin-stripped once, memoized on the parts;
    * interpolated values are inserted verbatim, so a value line that
    * starts with blanks and `|` keeps them.
    */
  implicit final class Template(private val sc: StringContext) extends AnyVal {
    def tpl(args: Any*): String = {
      val parts = literals.computeIfAbsent(sc.parts, stripParts)
      val sb = new java.lang.StringBuilder(parts(0))
      var i = 0
      while (i < args.length) {
        sb.append(args(i)).append(parts(i + 1))
        i += 1
      }
      sb.toString
    }
  }

  private val literals =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], Array[String]]

  /** A part after the first starts mid-line (right after a value), so
    * its first line keeps its text; every other line loses its margin. */
  private val stripParts: java.util.function.Function[Seq[String], Array[String]] =
    parts => parts.iterator.zipWithIndex.map { case (raw, i) =>
      val lines = StringContext.processEscapes(raw).linesWithSeparators
      val sb = new StringBuilder
      if (i > 0 && lines.hasNext) sb ++= lines.next()
      lines.foreach(l => sb ++= l.stripMargin)
      sb.toString
    }.toArray
}
