package perfbench

import org.apache.spark.sql.SparkSession

/** The dataflow modules the lakehouse workload does not reach
  * (operators.*, text, sim, streaming, multimodal, Stage, Tables), through
  * the engine's declared inventory `SparkEntry.queries` at sf0.01, the
  * oracle scale. Each op is one key, `fn(spark, dir).count()`; a key that
  * throws or returns a negative count is a failed op.
  *
  * A full pass over every key takes about five minutes on four cores, far
  * more than one run may take, and single keys move by up to 50 % between
  * cold passes. So the loop cycles, in a seed-permuted order, over a fixed
  * sample of keys that covers the main key-prefix areas, after an untimed
  * warm-up pass has paid each key's first-use cost (codegen, Stage index
  * builds). The sample is fixed across seeds so that two runs
  * measure the same work; the seed moves the data and the order. */
final class OperatorInventory(seed: Long) extends Workload {
  import OperatorInventory._

  private val rng = new Rng(seed).fork("operator_inventory")
  private var spark: SparkSession = _
  private var dir: String = _
  private val queries = graft.SparkEntry.queries
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private var pos = 0

  val classes: Seq[String] = Areas
  def dataDirs: Seq[String] = Seq(dir, sys.props("java.io.tmpdir"))
  val cycleLength: Int = Keys.size
  val warmCycles = 1
  override def usesCatalog: Boolean = false

  def setup(spark: SparkSession, dir: String): Unit = {
    this.spark = spark
    this.dir = s"$dir/sf0.01"
    new java.io.File(this.dir).mkdirs()
    Gen.writeFixtures(spark, this.dir, Scale, seed)
  }

  /** Loop seconds per key-prefix area. */
  override def layers(traces: Seq[OpTrace], ops: Seq[(String, Double)]): Map[String, Double] =
    ops.groupBy(_._1).map { case (a, xs) => s"area.${a}_s" -> xs.map(_._2).sum / 1000.0 }

  def next(): Op = {
    if (pos == order.size) { order = rng.shuffle(Keys); pos = 0 }
    val key = order(pos)
    pos += 1
    new Op(area(key), key, () => {
      val n = queries(key)(spark, dir).count()
      () => n >= 0
    })
  }
}

object OperatorInventory {
  val Scale = 0.01

  def area(key: String): String = key.takeWhile(_ != '_')

  /** The fixed key sample: one key from each main key-prefix area, picked
    * among the cheaper ones (under about half a second warm at sf0.01 on
    * four cores), among them the Stage-backed index keys sim_index_serve
    * and text_index_search; and seven keys of about 0.1 s from the small
    * areas, so that a run holds enough ops for its upper percentile. */
  val Keys: IndexedSeq[String] = IndexedSeq(
    "agg_hash", "dedup_exact", "etl_merge", "join_broadcast", "mm_shard_pack", "scan_parquet",
    "set_except", "sim_index_serve", "sink_parquet", "sql_subquery", "stream_tumbling",
    "text_index_search", "ts_sessionize",
    "etl_scd2", "fn_string", "project_rename_cast", "text_normalize", "topk_global", "udtf_generator",
    "win_running")

  val Areas: Seq[String] = Keys.map(area).distinct.sorted
}
