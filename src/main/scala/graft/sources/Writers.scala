package graft.sources

import org.apache.spark.sql.{Column, DataFrame}

/** Layout-aware parquet writers — the write-side half of the scan
  * optimizations the engine's readers rely on:
  *
  * - hive-partitioned: directory pruning removes entire partitions
  *   from a filtered scan before any file is opened;
  * - bucketed: co-located joins/diffs run with ZERO exchanges
  *   (DiffSync's bucketed path is spec-proven shuffle-free);
  * - z-ordered: multi-dimensional min/max pruning via
  *   [[graft.operators.Layout]].
  */
object Writers {

  /** Hive-style partitioned write. Choose a column of moderate
    * cardinality (date, region — NOT a unique id: one directory per
    * value is the small-files antipattern at scale).
    */
  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String]): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(path)

  /** Z-order-clustered write: range-partition by the Morton value of
    * `cols`' low `bits` bits, sort within partitions, write — every
    * file covers a tight hypercube of the clustered dimensions, so
    * range predicates on ANY of them prune by parquet min/max stats.
    */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[Column],
      bits: Int, numFiles: Int): Unit =
    graft.operators.Layout.zOrderBy(df, cols, bits, numFiles)
      .write.mode("overwrite").parquet(path)
}
