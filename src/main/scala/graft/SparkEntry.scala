package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the declared operator inventory (SURVEY.md §2): one entry
  * per operator, assembled from the per-category modules. `oracleSql`
  * carries the DuckDB-equivalent ANSI SQL for every hash-checkable query.
  */
object SparkEntry {

  /** The inventory's modules, by name: (queries, oracle SQL) each. */
  private[graft] val modules: Seq[(String, Map[String, Q], Map[String, String])] = Seq(
    ("Scans", operators.Scans.queries, operators.Scans.oracles),
    ("MvKeys", operators.MvKeys.queries, operators.MvKeys.oracles),
    ("Project", operators.Project.queries, operators.Project.oracles),
    ("Aggregates", operators.Aggregates.queries, operators.Aggregates.oracles),
    ("Joins", operators.Joins.queries, operators.Joins.oracles),
    ("Windows", operators.Windows.queries, operators.Windows.oracles),
    ("SetOps", operators.SetOps.queries, operators.SetOps.oracles),
    ("StreamingBatch", operators.StreamingBatch.queries, operators.StreamingBatch.oracles),
    ("Etl", operators.Etl.queries, operators.Etl.oracles),
    ("EventAnalytics", operators.EventAnalytics.queries, operators.EventAnalytics.oracles),
    ("ScalarFns", functions.ScalarFns.queries, functions.ScalarFns.oracles),
    ("Udfs", functions.Udfs.queries, functions.Udfs.oracles),
    ("TextOps", text.TextOps.queries, text.TextOps.oracles),
    ("Dedup", text.Dedup.queries, text.Dedup.oracles),
    ("Similarity", sim.Similarity.queries, sim.Similarity.oracles),
    ("Multimodal", multimodal.Multimodal.queries, multimodal.Multimodal.oracles)
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    operators.Aggregates.aggHash(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.iterator.flatMap(_._2).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check. */
  def oracleSql: Map[String, String] =
    modules.iterator.flatMap(_._3).toMap
}
