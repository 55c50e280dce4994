package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table loading for the driver's parquet test data and, in production,
  * JDBC sources (C2/C3/C11/C12 of SURVEY §2).
  *
  * At 100 TB the parquet path is the native one: columnar scans with
  * filter/column pushdown handled by Catalyst. The JDBC path carries the
  * reference's physical knobs (partitioned reads for LOB tables,
  * NOLOCK ≈ READ_UNCOMMITTED, fetchsize).
  */
object Tables {

  def parquet(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Spread an UNDER-SPLIT scan across the cluster before a heavy
    * map-side kernel (gram explode, tokenizer, media decode).
    *
    * Parquet cannot split below a row group, so a single-file /
    * single-row-group input (or a gzip text file) feeds ONE task no
    * matter how many cores the cluster has — the optimization guide's
    * "input skew: one huge unsplittable file … repartition immediately
    * after the read" case. Measured here: the span-extents gram
    * explode ran 1.5 s on 1 of 32 cores because the corpus table is
    * one row group.
    *
    * Scale-adaptive, not a local[32] constant: fires ONLY when the
    * scan's split count is below the cluster's default parallelism.
    * A production 100 TB table scans as thousands of splits, so this
    * is a no-op there — no payload re-shuffle is ever added at scale;
    * on an under-split input the one-time round-robin exchange of the
    * raw rows is the price of engaging the other cores at all
    * (deterministic row→partition assignment via Spark's
    * sort-before-repartition default).
    */
  def spreadScan(df: DataFrame): DataFrame = {
    // streaming frames can't be partition-probed (.rdd) and their
    // micro-batch parallelism is the source's business — pass through
    if (df.isStreaming) return df
    // "scans only", made explicit on the OPTIMIZED logical plan: only
    // Project/Filter nodes over leaf relations qualify. Anything else
    // (join, aggregate, window, repartition, generate) passes through
    // untouched — a post-shuffle frame is already cluster-spread, and
    // probing `.rdd` on an exchange-bearing plan would finalize (and
    // pre-execute) its AQE query stages in a throwaway execution. The
    // round-18 guard checked sparkPlan for Exchange nodes, but
    // EnsureRequirements inserts join/aggregate exchanges only in
    // executedPlan, so a caller-supplied join frame slipped past it
    // (latent: all round-18 call sites passed scan+project frames).
    // A Project/Filter-over-leaf plan has no stages, so its `.rdd`
    // probe below builds the RDD without running anything.
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Project}
    val scanOnly = df.queryExecution.optimizedPlan.collectFirst {
      case p if !p.isInstanceOf[Project] && !p.isInstanceOf[Filter] &&
        !p.isInstanceOf[LeafNode] => p
    }.isEmpty
    if (!scanOnly) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** JDBC read plan mirroring the reference's TableInput (C2) with the
    * LOB-table partitioned variant (C3, pl:949–963): when a single
    * integral PK exists, read with `partitionColumn` so N executors scan
    * disjoint ranges — Spark's native equivalent of the reference's
    * `WHERE pk % N = copy#` modulo split.
    */
  final case class JdbcSpec(
      url: String,
      table: String,
      user: String,
      password: String,
      partitionColumn: Option[String] = None,
      numPartitions: Int = 1,
      lowerBound: Option[Long] = None,
      upperBound: Option[Long] = None,
      fetchSize: Int = 10000,
      dirtyReads: Boolean = true // WITH(NOLOCK) parity (pl:3666)
  )

  /** C3/C17 partition-column choice from the catalog: a table is
    * range-partitionable when it has a single-column integral PK, and
    * the conf's `use pk if possible` or a LOB payload opts it in —
    * the reference's template selection (pl:949–962, 4105–4133) as
    * one predicate. The opt-in accepts every form the reference and
    * KettleEmitter accept: "1"/"*" (all tables), bare table names, or
    * schema-qualified `schema.table` entries (comma/semicolon/space
    * separated, case-insensitive) — one flag, one meaning on both the
    * artifact and the Spark read path.
    */
  def partitionHint(table: graft.catalog.TableDef,
      conf: graft.convert.Config): Option[String] = {
    val eligible = table.pk.toSeq.flatMap(_.cols) match {
      case Seq(one) =>
        // exact names: TypeMapper maps SQL Server `int` to `int`, and
        // -num narrowing yields `integer`
        table.colByName(one).filter(c =>
          Set("smallint", "int", "integer", "bigint")(c.pgType)).map(_.name)
      case _ => None
    }
    // match under the source OR the relabeled target schema qualifier
    // (the reference matches the target name; users know either)
    val wanted = table.hasLobs ||
      conf.usePkAllowed(table.origSchema, table.name) ||
      conf.usePkAllowed(conf.relabel(table.origSchema), table.name)
    eligible.filter(_ => wanted)
  }

  /** Read spec from the conf/CLI surface: source endpoint + -pi read
    * parallelism; the LOB partition column/bounds stay per-table (C3).
    */
  def specFromJob(job: graft.convert.ConfFile.Job, table: String,
      partitionColumn: Option[String] = None,
      bounds: Option[(Long, Long)] = None): JdbcSpec =
    JdbcSpec(
      url = job.sqlServerUrl.getOrElse(sys.error(
        "sql server connection not configured (-sd/-sh/...)")),
      table = table,
      user = job.sqlServer.getOrElse("su", ""),
      password = job.sqlServer.getOrElse("sw", ""),
      partitionColumn = partitionColumn,
      numPartitions = job.config.parallelismIn,
      lowerBound = bounds.map(_._1),
      upperBound = bounds.map(_._2))

  def jdbc(spark: SparkSession, spec: JdbcSpec): DataFrame = {
    var r = spark.read.format("jdbc")
      .option("url", spec.url)
      .option("dbtable", spec.table)
      .option("user", spec.user)
      .option("password", spec.password)
      .option("fetchsize", spec.fetchSize)
    if (spec.dirtyReads)
      r = r.option("isolationLevel", "READ_UNCOMMITTED")
    (spec.partitionColumn, spec.lowerBound, spec.upperBound) match {
      case (Some(col), Some(lo), Some(hi)) if spec.numPartitions > 1 =>
        r = r.option("partitionColumn", col)
          .option("numPartitions", spec.numPartitions)
          .option("lowerBound", lo).option("upperBound", hi)
      case _ =>
    }
    r.load()
  }
}
