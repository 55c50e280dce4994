package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** C11–C18: incremental synchronization, Spark-first.
  *
  * The reference's Kettle pipeline external-sorts both databases on the
  * PK, runs a sorted full-outer diff (`MergeRows (diff)`, pl:4662–4689)
  * tagging rows new/changed/deleted/identical, then applies per-row
  * insert/update/delete (`SynchronizeAfterMerge`, pl:4628–4660). Here
  * the sort+merge is one full-outer join (the shuffle IS the external
  * sort, C13/C14) and classification a codegen'd projection: the only
  * shuffle is the join's own on the PK, gone when both sides are
  * bucketed on it.
  */
object DiffSync {

  val FlagCol = "__changed__" // reference's flag field (pl:4676)

  /** B5: canonicalization projection before diffing — both sides to a
    * comparable form (`postgres_convert_column`, pl:462–484): uuid →
    * lower text, date → ISO text, timestamptz → UTC text.
    */
  def canonicalize(df: DataFrame, colTypes: Map[String, String]): DataFrame = {
    val cols = df.columns.map { n =>
      colTypes.get(n).map(_.toLowerCase) match {
        case Some("uniqueidentifier") => lower(col(n).cast("string")).as(n)
        case Some("date") => date_format(col(n), "yyyy-MM-dd").as(n)
        case Some("datetimeoffset") =>
          date_format(col(n), "yyyy-MM-dd HH:mm:ss.SSSXXX").as(n)
        case _ => col(n)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** C15: sorted full-outer diff → row-state classification.
    *
    * Output schema: pk columns + source's non-pk columns (src values
    * where present, else target's) + `__changed__` ∈
    * {new, changed, deleted, identical}. Reference = target stream,
    * compare = source stream (pl:4677–4678): `new` means "in source,
    * missing from target" (must be inserted), `deleted` means "in
    * target, gone from source".
    *
    * `nullSafePk = true` joins PKs with `<=>` so NULL keys pair up —
    * only for degenerate sources; Spark's rewrite of null-safe join
    * keys (`coalesce(k, 0), isnull(k)`) disqualifies bucketed-scan
    * co-location, so the default (plain equality, PKs are NOT NULL)
    * keeps the bucketed diff shuffle-free. Value comparison stays
    * null-safe either way.
    */
  def diff(source: DataFrame, target: DataFrame,
      pkCols: Seq[String], nullSafePk: Boolean = false): DataFrame = {
    val src = source.alias("s")
    val tgt = target.alias("t")
    val joinCond = pkCols.map(k =>
      if (nullSafePk) col(s"s.$k") <=> col(s"t.$k")
      else col(s"s.$k") === col(s"t.$k"))
      .reduce(_ && _)
    val valueCols = source.columns.filterNot(pkCols.contains)

    val srcPresent = col(s"s.${pkCols.head}").isNotNull
    val tgtPresent = col(s"t.${pkCols.head}").isNotNull
    // null-safe per-column comparison; any difference → changed
    val anyDiff = valueCols.map(c => !(col(s"s.$c") <=> col(s"t.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))

    val flag = when(!tgtPresent, lit("new"))
      .when(!srcPresent, lit("deleted"))
      .when(anyDiff, lit("changed"))
      .otherwise(lit("identical"))

    val outPk = pkCols.map(k =>
      coalesce(col(s"s.$k"), col(s"t.$k")).as(k))
    val outVals = valueCols.map(c =>
      when(srcPresent, col(s"s.$c")).otherwise(col(s"t.$c")).as(c))

    src.join(tgt, joinCond, "full_outer")
      .select(outPk ++ outVals :+ flag.as(FlagCol): _*)
  }

  /** Sampled spot-check diff, for audits where even the digest pass is
    * too much I/O: BOTH sides keep only the deterministic `1/modulus`
    * PK-hash slice (md5-derived, engine-portable, so both select the SAME
    * keys), then run the full diff on it. A clean sample bounds the
    * row-error rate at ~3/sample_size with 95% confidence (rule of
    * three); any hit escalates to `digestDiff`/`diff`. The filter is a
    * map-side scan predicate, so the join shuffles only the sliver.
    */
  def sampledDiff(source: DataFrame, target: DataFrame,
      pkCols: Seq[String], modulus: Int, slot: Int = 0): DataFrame = {
    require(modulus > 0 && slot >= 0 && slot < modulus,
      s"need 0 <= slot < modulus, got slot=$slot modulus=$modulus")
    def keep(df: DataFrame): DataFrame = df.filter(
      pmod(conv(substring(md5(concat_ws("|",
          pkCols.map(c => col(c).cast("string")): _*)), 1, 15), 16, 10)
        .cast("bigint"), lit(modulus)) === slot)
    diff(keep(source), keep(target), pkCols)
  }

  /** Row hash for the digest. `xxhash64` SKIPS null children (a null
    * input leaves the hash state unchanged), so hashing raw columns
    * makes (pk, 'x', NULL) and (pk, NULL, 'x') collide — exactly the
    * column-shift corruption a sync audit exists to catch. Interleaving
    * each column with its (never-null) isnull flag makes null POSITION
    * part of the hash, restoring the documented 2^-64 collision odds.
    */
  private def rowHash(df: DataFrame): Column =
    xxhash64(df.columns.toIndexedSeq
      .flatMap(c => Seq(col(c), isnull(col(c)))): _*)

  /** Per-bucket digests for Merkle-style change detection: rows hash to
    * `nBuckets` buckets by PK, each bucket aggregates (row count,
    * XOR of full-row hashes). Equal digests ⇒ identical bucket content
    * (up to 64-bit hash collision odds); the aggregation is map-side
    * partial, so a digest pass moves nBuckets rows per partition —
    * not the table — through the shuffle.
    */
  private[operators] def bucketDigests(df: DataFrame, pkCols: Seq[String],
      nBuckets: Int): DataFrame =
    df.withColumn("__bkt", pmod(xxhash64(pkCols.map(col): _*), lit(nBuckets)))
      .withColumn("__rh", rowHash(df))
      .groupBy(col("__bkt"))
      .agg(count(lit(1)).as("__n"), expr("bit_xor(__rh)").as("__x"))

  /** Buckets whose (count, xor-digest) differ between the two sides —
    * including buckets present on only one side.
    */
  def dirtyBuckets(source: DataFrame, target: DataFrame,
      pkCols: Seq[String], nBuckets: Int): DataFrame = {
    val s = bucketDigests(source, pkCols, nBuckets).alias("ds")
    val t = bucketDigests(target, pkCols, nBuckets).alias("dt")
    s.join(t, col("ds.__bkt") === col("dt.__bkt"), "full_outer")
      .filter(!(col("ds.__n") <=> col("dt.__n")) ||
              !(col("ds.__x") <=> col("dt.__x")))
      .select(coalesce(col("ds.__bkt"), col("dt.__bkt")).as("__bkt"))
  }

  /** C15 when most rows are unchanged: Merkle-pruned diff. Both sides
    * aggregate per-bucket digests (tiny shuffles), and the full-outer
    * diff runs only over rows of buckets whose digests differ, restricted
    * by a broadcast semi-join on the dirty-bucket ids (which prunes I/O
    * too on inputs bucketed by `pmod(xxhash64(pk), nBuckets)`; a stored
    * digest table from the previous sync can replace one side's pass).
    * Returns exactly `diff(...)` minus `identical`, what a sync consumes.
    */
  def digestDiff(source: DataFrame, target: DataFrame, pkCols: Seq[String],
      nBuckets: Int = 4096): DataFrame = {
    val dirty = broadcast(dirtyBuckets(source, target, pkCols, nBuckets))
    def restrict(df: DataFrame): DataFrame =
      df.withColumn("__bkt",
          pmod(xxhash64(pkCols.map(col): _*), lit(nBuckets)))
        .join(dirty, Seq("__bkt"), "left_semi")
        .drop("__bkt")
    diff(restrict(source), restrict(target), pkCols)
      .filter(col(FlagCol) =!= "identical")
  }

  /** C16 (set-based half): the synchronized table from the classified
    * diff — keep `new`, `changed` (source values) and `identical`, drop
    * `deleted` — as a target-side `MERGE INTO` would be staged. */
  def applyDiff(diffed: DataFrame): DataFrame =
    diffed.filter(col(FlagCol) =!= "deleted").drop(FlagCol)

  /** C16 (JDBC half): the classified diff, minus `identical` rows,
    * through [[JdbcSink.writePartition]] in the diff join's own result
    * stage: `new` → INSERT, `changed` → UPDATE (INSERT when it matched
    * no row), `deleted` → DELETE by PK, all batched and committed every
    * `batchSize` rows (the reference's 100, pl:3693); the "postgresql"
    * dialect upserts `new` and `changed` with `upsertSql`. Columns
    * resolve against the target case-insensitively.
    *
    * The input must hold each PK at most once, so no two partitions
    * write the same key: `diff` guarantees it; a CDC micro-batch is
    * repartitioned by PK first. [[SyncReport]] counts applied rows per
    * flag (`new` → inserted, `deleted` → deleted, other → updated). */
  final case class SyncTarget(url: String, table: String, user: String,
      password: String, batchSize: Int = 100, dialect: String = "postgresql")

  /** Rows `applyToJdbc` applied, per flag, and rows it rejected. */
  final case class SyncReport(inserted: Long, updated: Long, deleted: Long, rejected: Long = 0)

  def applyToJdbc(diffed: DataFrame, pkCols: Seq[String],
      target: SyncTarget): SyncReport = {
    val n = JdbcSink.run(diffed.filter(col(FlagCol) =!= "identical"),
      syncPlan(diffed, pkCols, target))
    SyncReport(n.inserted, n.updated, n.deleted, n.rejected)
  }

  /** The apply's statements, resolved against the target. */
  private[operators] def syncPlan(diffed: DataFrame, pkCols: Seq[String],
      target: SyncTarget): JdbcSink.Plan = {
    val valueCols = diffed.columns.filterNot(c => pkCols.contains(c) || c == FlagCol).toSeq
    val all = pkCols ++ valueCols
    val conn = JdbcSink.Conn(target.url, target.user, target.password)
    val t = JdbcSink.target(conn, target.table, diffed, all, truncate = false)
    val where = t.q(pkCols).map(_ + " = ?").mkString(" AND ")
    // a key-only table sets its key to itself: 1 if present, 0 if not
    val set = if (valueCols.isEmpty) pkCols else valueCols
    val pg = target.dialect == "postgresql"
    JdbcSink.Plan(conn, target.batchSize, ignoreErrors = false,
      flag = diffed.schema.fieldIndex(FlagCol),
      insert = if (!pg) t.insert(all)
        else t.stmt(upsertSql(target.table, t.q(pkCols), t.q(valueCols)), all),
      update = if (pg) None else Some(t.stmt(s"UPDATE ${target.table} SET " +
        t.q(set).map(_ + " = ?").mkString(", ") + s" WHERE $where", set ++ pkCols)),
      delete = Some(t.stmt(s"DELETE FROM ${target.table} WHERE $where", pkCols)))
  }

  /** PostgreSQL upsert statement for the apply step. */
  private[operators] def upsertSql(table: String, pkCols: Seq[String],
      valueCols: Seq[String]): String = {
    val all = pkCols ++ valueCols
    val sets = valueCols.map(c => s"$c = EXCLUDED.$c").mkString(", ")
    val action =
      if (valueCols.isEmpty) "DO NOTHING" else s"DO UPDATE SET $sets"
    s"INSERT INTO $table (${all.mkString(", ")}) VALUES " +
      s"(${all.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT (${pkCols.mkString(", ")}) $action"
  }
}
