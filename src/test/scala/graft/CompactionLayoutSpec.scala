package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.{SnapshotCatalog, SnapshotLog}

/** The layout an un-keyed OPTIMIZE leaves: key-ordered outputs with
  * disjoint key ranges when the table declares `sorted_by` or its files
  * are clustered on an integer column, and the shuffle-free concat when
  * they are clustered on nothing. */
class CompactionLayoutSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_layout_wh").toString
    spark.conf.set("spark.sql.catalog.layouttest", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.layouttest.warehouse", w)
    w
  }
  private def pathOf(name: String): String = s"$warehouse/main/$name"

  private def tip(name: String): Int = SnapshotLog.versions(spark, pathOf(name)).last

  private def optimize(name: String, filesOut: Int): Unit = {
    val _ = spark.sql(
      s"CALL layouttest.system.optimize(table => 'main.$name', files_out => $filesOut)").collect()
  }

  /** Per live file `[min, max]` of `column`, in key order. */
  private def ranges(name: String, column: String): Seq[(Long, Long)] =
    SnapshotLog.fileLongRanges(spark, pathOf(name), tip(name), column)
      .map(_._2.get).sortBy(_._1)

  private def disjoint(rs: Seq[(Long, Long)]): Boolean =
    rs.zip(rs.drop(1)).forall { case (a, b) => a._2 < b._1 }

  /** Each live file's rows, `cols` in file order. */
  private def fileRows(name: String, cols: String*): Seq[Seq[Seq[Long]]] =
    SnapshotLog.manifest(spark, pathOf(name), tip(name)).map { f =>
      spark.read.parquet(s"${pathOf(name)}/$f").orderBy(col("_metadata.row_index"))
        .select(cols.map(col): _*).collect().map(r => cols.indices.map(r.getLong)).toSeq
    }

  private def total(name: String, column: String): (Long, Long) = {
    val r = spark.sql(s"SELECT count(*), sum($column) FROM layouttest.main.$name").head
    (r.getLong(0), r.getLong(1))
  }

  /** The physical plans of the file writes `body` ran. */
  private def writePlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive asynchronously
      val deadline = System.currentTimeMillis() + 20000
      while (plans.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  private def shuffles(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collect(plan) { case s: ShuffleExchangeExec => s }

  test("a sorted_by table compacts into files with disjoint key ranges") {
    val _ = warehouse
    spark.sql("CREATE TABLE layouttest.main.declared (k BIGINT, v BIGINT) " +
      "TBLPROPERTIES ('sorted_by' = 'k')")
    // every insert spans the whole key domain: its files are sorted, but
    // the inserts overlap each other
    (0 until 4).foreach { i =>
      spark.sql("INSERT INTO layouttest.main.declared " +
        s"SELECT pmod(id * 7919 + $i, 4000) AS k, id AS v FROM range(${i * 1000}, ${i * 1000 + 1000})")
    }
    val before = total("declared", "k")
    assert(!disjoint(ranges("declared", "k")))
    optimize("declared", 4)
    val after = ranges("declared", "k")
    assert(after.size == 4)
    assert(disjoint(after), s"file key ranges overlap: $after")
    assert(total("declared", "k") == before)
  }

  test("a table clustered when written, with no declaration, compacts the same way, ties in input order") {
    val _ = warehouse
    spark.sql("CREATE TABLE layouttest.main.clustered (k BIGINT, seq BIGINT, v BIGINT)")
    // eight files, each one key slice; within a file the keys are
    // scrambled and every key repeats three times in `seq` order, and
    // the `v` column spans the whole domain in every file
    (0 until 8).foreach { i =>
      val _ = SnapshotLog.commit(spark, pathOf("clustered"),
        spark.range(i * 300L, i * 300L + 300L)
          .select((lit(i * 100L) + pmod(col("id") * 37, lit(100L))).as("k"),
            (col("id") - i * 300L).as("seq"), pmod(col("id") * 7919, lit(2400L)).as("v"))
          .coalesce(1))
    }
    val before = total("clustered", "k")
    optimize("clustered", 4)
    val after = ranges("clustered", "k")
    assert(after.size == 4)
    assert(disjoint(after), s"file key ranges overlap: $after")
    assert(total("clustered", "k") == before)
    fileRows("clustered", "k", "seq").foreach { rows =>
      assert(rows.map(_.head) == rows.map(_.head).sorted, "rows are not key-ordered")
      rows.groupBy(_.head).values.foreach { tie =>
        assert(tie.map(_(1)) == tie.map(_(1)).sorted, s"ties left input order: $tie")
      }
    }
  }

  test("a modulo layout keeps the shuffle-free concat; a clustered one range-partitions") {
    import spark.implicits._
    val _ = warehouse
    spark.sql("CREATE TABLE layouttest.main.modulo (id BIGINT)")
    (0 until 4).foreach(i =>
      SnapshotLog.commit(spark, pathOf("modulo"), (0L until 400L).filter(_ % 4 == i).toDF("id").coalesce(1)))
    val concat = writePlans(optimize("modulo", 2))
    assert(concat.nonEmpty)
    assert(concat.forall(shuffles(_).isEmpty), concat.mkString("\n"))
    assert(SnapshotLog.manifest(spark, pathOf("modulo"), tip("modulo")).size == 2)
    assert(total("modulo", "id") == ((400L, (0L until 400L).sum)))

    spark.sql("CREATE TABLE layouttest.main.sliced (id BIGINT)")
    (0 until 4).foreach(i =>
      SnapshotLog.commit(spark, pathOf("sliced"), (i * 100L until i * 100L + 100L).toDF("id").coalesce(1)))
    val ranged = writePlans(optimize("sliced", 2))
    assert(ranged.exists(shuffles(_).nonEmpty), ranged.mkString("\n"))
  }
}
