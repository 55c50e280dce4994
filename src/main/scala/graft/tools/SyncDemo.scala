package graft.tools

import org.apache.spark.sql.functions._
import graft.operators.{DiffSync, JdbcSink}
import java.sql.DriverManager

/** CLI: end-to-end bulk copy + incremental sync against an embedded
  * Derby database — the full C1–C16 dataflow runnable without external
  * infrastructure. Copies `orders` (subset) into Derby, perturbs the
  * target, then diff+applies and prints the classification and the
  * round-trip check.
  *
  * Usage: runMain graft.tools.SyncDemo [sfDir]
  */
object SyncDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val url = "jdbc:derby:memory:syncdemo;create=true"
    val spark = graft.Sessions.local(4, 4)
    spark.sparkContext.setLogLevel("ERROR")

    val conn = DriverManager.getConnection(url)
    conn.createStatement().executeUpdate(
      "CREATE TABLE orders_t (o_orderkey BIGINT NOT NULL PRIMARY KEY, " +
        "o_totalprice DOUBLE)")

    // C1–C6: bulk copy into the JDBC target
    val src = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    JdbcSink.write(src, JdbcSink.Spec(url, "orders_t", "", "",
      numPartitions = 2, truncate = false, relaxDurability = false,
      rewriteBatchedInserts = false))
    println(s"copied ${src.count()} rows into derby orders_t")

    // perturb the target: delete some keys, change some values
    val st = conn.createStatement()
    val deleted = st.executeUpdate(
      "DELETE FROM orders_t WHERE MOD(o_orderkey, 10) = 3")
    val changed = st.executeUpdate(
      "UPDATE orders_t SET o_totalprice = o_totalprice + 5 " +
        "WHERE MOD(o_orderkey, 7) = 0")
    println(s"perturbed target: deleted $deleted rows, changed $changed rows")

    // C11–C16: diff and apply
    val tgt = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "orders_t").load()
      .select(col("O_ORDERKEY").as("o_orderkey"),
        col("O_TOTALPRICE").as("o_totalprice"))
    val diffed = DiffSync.diff(src, tgt, Seq("o_orderkey"))
    diffed.groupBy(DiffSync.FlagCol).count().orderBy(DiffSync.FlagCol)
      .collect().foreach(r => println(s"  ${r.getString(0)}: ${r.getLong(1)}"))
    val report = DiffSync.applyToJdbc(diffed, Seq("o_orderkey"),
      DiffSync.SyncTarget(url, "orders_t", "", "", dialect = "generic"))
    println(s"applied: inserted ${report.inserted}, " +
      s"updated ${report.updated}, deleted ${report.deleted}")

    // round-trip: target must now equal source
    val after = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "orders_t").load()
      .select(col("O_ORDERKEY").as("o_orderkey"),
        col("O_TOTALPRICE").as("o_totalprice"))
    val diffsLeft = DiffSync.diff(src, after, Seq("o_orderkey"))
      .filter(col(DiffSync.FlagCol) =!= "identical").count()
    println(s"post-sync differences: $diffsLeft " +
      (if (diffsLeft == 0) "(SYNC OK)" else "(SYNC FAILED)"))

    // distribution audit closes the loop: post-sync KS and PSI must
    // be exactly 0. (The pre-sync perturbation here is deliberately
    // distribution-INVISIBLE — +5 on ~13% of thousand-scale values
    // barely moves any rank — which is precisely the division of
    // labor: the row-level diff catches value edits, the drift audit
    // catches shape changes a row diff can't see on append-only or
    // sampled targets.)
    val postKs = graft.operators.Profile
      .ksDrift(src, after, "o_totalprice").collect().head.getAs[Double]("ks")
    val postPsi = graft.operators.Profile
      .psiDrift(src, after, "o_totalprice", 32).collect().head
      .getAs[Double]("psi")
    println(f"distribution audit: post-sync KS = $postKs%.4f, " +
      f"PSI = $postPsi%.4f " +
      (if (postKs == 0.0 && postPsi == 0.0) "(AUDIT OK)"
       else "(AUDIT FAILED)"))
    conn.close()
    spark.stop()
    if (diffsLeft != 0 || postKs != 0.0 || postPsi != 0.0) sys.exit(1)
  }
}
