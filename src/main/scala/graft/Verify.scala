package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — dump (and gate)
    // only that subset for fast single-operator iteration. The driver
    // always passes 2 args and gets the full inventory.
    val keys = if (args.length > 2) args(2).split(",").toSeq else SparkEntry.queries.keys.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(
        "spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    run(spark, sfDir, outDir, keys)
    spark.stop()
  }

  /** Dumps each of `keys`' results under `outDir` as parquet, with
    * `oracle_sql.json` and `manifest.json`, on `spark`, which it leaves
    * running. A key that throws is reported on stderr and left undumped. */
  def run(spark: SparkSession, sfDir: String, outDir: String, keys: Seq[String]): Unit = {
    // fail fast on typos: a silently-empty subset would dump nothing
    // and gate nothing, making a broken iteration look green
    val names = keys.toSet
    val unknown = names.diff(SparkEntry.queries.keySet)
    require(
      unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}"
    )
    val wanted = SparkEntry.queries.filter { case (k, _) => names(k) }
    new java.io.File(outDir).mkdirs()
    wanted.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => wanted.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Manifest of ALL query keys (oracle-less included): oracle_check.py
    // fails any key with no dumped parquet, so a query that crashes
    // inside the try above can't silently vanish from the self-gate.
    val manifest = wanted.keys.toSeq.sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
  }
}
