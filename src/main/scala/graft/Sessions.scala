package graft

import org.apache.spark.sql.SparkSession

/** The one place a local session is built. Every harness, tool and test
  * gets the conf the oracle compare depends on:
  * - UTC session time zone (timestamp rendering and date arithmetic);
  * - `spark.sql.legacy.parquet.nanosAsLong`: events.parquet ts arrives
  *   as INT64 TIMESTAMP(NANOS) in some driver generations (read as long
  *   under this conf) and TIMESTAMP(MICROS, NTZ) in others —
  *   SparkEntry.events() normalizes both to a UTC instant;
  * - no UI.
  * AQE is on by default in Spark 4, so it is not set here.
  */
object Sessions {

  /** Cores for the harnesses: `$SPARK_GRAFT_CPUS`, else 4. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(4)

  def local(cores: Int, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
