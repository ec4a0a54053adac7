package graft.tools

import org.apache.spark.sql.SparkSession

/** Dumps `.explain("formatted")` of declared bench keys to files —
  * the plans/r19 deliverable. Reads the same env contract as Bench;
  * SPARK_GRAFT_PLAN_KEYS picks the keys, SPARK_GRAFT_PLAN_DIR the
  * output directory, SPARK_GRAFT_PLAN_SUFFIX the file suffix
  * (e.g. "before" / "after").
  *
  * Note: a lifecycle key's returned DataFrame is its SERVE plan; the
  * lifecycle phases it ran on the way are separate executions whose
  * shapes are captured by ProfileKey/OPTIMIZATION_r19.md instead.
  *
  * Run-to-run values print normalized, so two dumps of the same code
  * compare equal: Spark's exchange `plan_id=`, the random job id in a
  * data file's `part-<id>` name, the identity hash an object without
  * its own `toString` prints (`Lookup@1b2c3d`), and the `java.io.tmpdir`
  * prefix of the table paths a scan prints. Expression ids (`#123`)
  * stay; `tools/plan_diff.py` masks them when it compares dump
  * directories.
  */
object PlanDump {
  private val PlanId = "plan_id=\\d+".r
  private val PartJob = "part-[0-9a-f]{8}(?=-)".r
  private val IdentityHash = "(?<=[A-Za-z0-9_$])@[0-9a-f]{5,8}\\b".r

  /** `plan_id=<n>`, `part-<uuid>`, `@<hash>` and `<tmp>` in place of
    * the run's values; `tmpDir` prints as `<tmp>` wherever it ends a path
    * segment. */
  def normalize(plan: String, tmpDir: String = System.getProperty("java.io.tmpdir")): String = {
    val tmp = tmpDir.stripSuffix("/")
    val masked =
      if (tmp.isEmpty) plan
      else (java.util.regex.Pattern.quote(tmp) + "(?![\\w.-])").r.replaceAllIn(plan, "<tmp>")
    IdentityHash.replaceAllIn(
      PartJob.replaceAllIn(PlanId.replaceAllIn(masked, "plan_id=<n>"), "part-<uuid>"),
      "@<hash>")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_PLAN_DIR", "plans/r19")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "after")
    val keys = sys.env.getOrElse("SPARK_GRAFT_PLAN_KEYS", "")
      .split(",").map(_.trim).filter(_.nonEmpty)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[graft.functions.GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    keys.foreach { name =>
      graft.SparkEntry.queries.get(name) match {
        case None => println(s"[plandump] $name: not a declared key")
        case Some(fn) =>
          try {
            val df = fn(spark, sfDir)
            val plan = normalize(df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
            java.nio.file.Files.writeString(
              java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
            println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
          } catch {
            case t: Throwable =>
              println(s"[plandump] $name FAILED: ${t.getMessage}")
          }
      }
    }
    spark.stop()
  }
}
