package perfbench

import org.apache.spark.sql.SparkSession

/** The Spark session every workload runs in: local[4], four shuffle
  * partitions, the engine's extensions and, for the lakehouse workload,
  * the snapshot catalog `graft_cat` with its warehouse under `dir`. (The
  * operator inventory's keys register `graft_cat` themselves, under
  * java.io.tmpdir.) */
object Session {
  val Cores = 4

  def start(root: String, dir: String, withCatalog: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
    val spark = (if (withCatalog)
      b.config("spark.sql.catalog.graft_cat", classOf[graft.sources.SnapshotCatalog].getName)
        .config("spark.sql.catalog.graft_cat.warehouse", s"$dir/warehouse")
    else b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
