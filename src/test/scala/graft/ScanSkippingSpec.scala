package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.sources.{SnapshotCatalog, SnapshotLog}

/** Row-group and page skipping in the catalog scan reader: pushed
  * integer comparisons skip data inside files and must change neither
  * an answer nor a `_pos`. Every answer is checked against the
  * DataFrame read path (`SnapshotLog.read`), and every position against
  * Spark's own parquet reader (`_metadata.row_index`). */
class ScanSkippingSpec extends SparkTestBase with AdaptiveSparkPlanHelper {

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_skip_wh").toString
    spark.conf.set("spark.sql.catalog.skiptest", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.skiptest.warehouse", w)
    w
  }
  private def pathOf(name: String): String = s"$warehouse/main/$name"

  /** Runs `body` writing 64-row pages and ~16 KB row groups, so a few
    * thousand rows span many of both. */
  private def smallPages[T](body: => T): T = {
    val confs = Seq("parquet.page.row.count.limit" -> "64", "parquet.block.size" -> "16384")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def sql(s: String): DataFrame = spark.sql(s)

  private def liveFiles(name: String): Seq[String] = {
    val p = pathOf(name)
    SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
  }

  /** Appends keys `[lo, hi)` as one file, rows in a scrambled key
    * order unless `ordered`, through Spark's parquet writer (which takes
    * the page and row-group sizes from the session). */
  private def append(name: String, select: String, lo: Long, hi: Long,
      ordered: Boolean = false): Unit = {
    val ids = spark.range(lo, hi)
    val _ = SnapshotLog.commit(spark, pathOf(name),
      (if (ordered) ids else ids.orderBy(expr(s"pmod(id * 7919, ${hi - lo})")))
        .selectExpr(select.split(';').toIndexedSeq: _*).coalesce(1))
  }

  /** Fewest pages any column has in `file`, over its row groups. */
  private def minPages(file: String): Int = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), spark.sessionState.newHadoopConf()))
    try {
      val chunks = r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      chunks.groupBy(_.getPath).values
        .map(_.map(c => r.readOffsetIndex(c).getPageCount).sum).min
    } finally r.close()
  }

  /** (file, position) of every key in the live files, from Spark's own
    * parquet reader — keys are never re-inserted, so each lives once. */
  private def positions(name: String, physKey: String): Map[Long, (String, Long)] =
    liveFiles(name).flatMap { f =>
      spark.read.parquet(s"${pathOf(name)}/$f")
        .select(col("_metadata.file_name"), col("_metadata.row_index"), col(physKey).cast("long"))
        .collect().map(r => r.getLong(2) -> ((r.getString(0), r.getLong(1))))
    }.toMap

  /** SQL rows with `_file`/`_pos` equal the DataFrame path's rows at the
    * reference positions, exactly (duplicates included). */
  private def checkExact(name: String, cols: Seq[String], where: String,
      pos: Map[Long, (String, Long)]): Unit = {
    val got = sql(s"SELECT _file, _pos, ${cols.mkString(", ")} FROM skiptest.main.$name WHERE $where")
      .collect().map(_.mkString("|")).sorted.toSeq
    val want = SnapshotLog.read(spark, pathOf(name)).where(expr(where))
      .select(cols.map(col): _*).collect().map { r =>
        val (f, p) = pos(r.getLong(0))
        (Seq(f, p) ++ r.toSeq).mkString("|")
      }.sorted.toSeq
    assert(got == want, s"WHERE $where")
  }

  /** (rowsDecoded, rowsSkippedByStats) of the catalog scans `df` ran. */
  private def scanMetrics(df: DataFrame): (Long, Long) = {
    df.collect()
    val scans = collect(df.queryExecution.executedPlan) { case b: BatchScanExec => b }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    (scans.map(_.metrics("rowsDecoded").value).sum,
      scans.map(_.metrics("rowsSkippedByStats").value).sum)
  }

  private def randomPredicates(rnd: Random, n: Int, k: String, v: String, keys: Int): Seq[String] = {
    def key() = rnd.nextInt(keys)
    Seq.fill(n) {
      rnd.nextInt(8) match {
        case 0 => val a = key(); s"$k BETWEEN $a AND ${a + rnd.nextInt(300)}"
        case 1 => s"$k = ${key()}"
        case 2 => s"$k IN (${Seq.fill(1 + rnd.nextInt(5))(key()).mkString(", ")})"
        case 3 => s"$k > ${key()}"
        case 4 => s"$k <= ${key()}"
        case 5 => s"$v < ${rnd.nextInt(1000)}"
        case 6 => s"$k >= ${key()} AND $v = ${rnd.nextInt(1000)}"
        case _ => s"$v IN (${rnd.nextInt(1000)}, ${rnd.nextInt(1000)})"
      }
    }
  }

  /** Empty and boundary predicates on key `k` over `[0, keys)`; 64 is
    * the page size the tables are written with. */
  private def edgePredicates(k: String, keys: Int): Seq[String] = Seq(
    s"$k = 0", s"$k = ${keys - 1}", s"$k < 0", s"$k > ${keys - 1}", s"$k >= ${keys - 1}",
    s"$k <= 0", s"$k BETWEEN 10 AND 5", s"$k = -1", s"$k = 63", s"$k = 64",
    s"$k IN (0, ${keys - 1})", s"$k BETWEEN 63 AND 64")

  /** Merge-on-read table: six key-clustered appends, a key-ordered
    * OPTIMIZE into two files, one more append, then deletion-vector
    * DELETEs on both generations. */
  private lazy val mor: String = smallPages {
    val name = "mor"
    val _ = warehouse
    sql(s"CREATE TABLE skiptest.main.$name (k BIGINT, v INT, s STRING) " +
      "TBLPROPERTIES ('write_mode' = 'merge-on-read')")
    val select = "id AS k;CAST(pmod(id * 37, 1000) AS INT) AS v;concat('s', id) AS s"
    (0 until 6).foreach(i => append(name, select, i * 500L, i * 500L + 500L))
    sql(s"CALL skiptest.system.optimize(table => 'main.$name', files_out => 2)")
    append(name, select, 3000L, 3400L)
    sql(s"DELETE FROM skiptest.main.$name WHERE k % 5 = 0 AND k < 1700")
    sql(s"DELETE FROM skiptest.main.$name WHERE k BETWEEN 2000 AND 2100 OR k > 3350")
    name
  }

  test("pushed comparisons skip pages without changing any row or _pos") {
    val name = mor
    val files = liveFiles(name)
    assert(files.size == 3)
    files.foreach(f => assert(minPages(s"${pathOf(name)}/$f") >= 3, f))
    val pos = positions(name, "k")
    val preds = randomPredicates(new Random(7), 30, "k", "v", 3400) ++ edgePredicates("k", 3400)
    preds.foreach(p => checkExact(name, Seq("k", "v", "s"), p, pos))
  }

  test("a column widened INT to BIGINT: older INT32 files drop the comparison, answers stay exact") {
    val name = "widened"
    val _ = warehouse
    smallPages {
      sql(s"CREATE TABLE skiptest.main.$name (k INT, v INT) " +
        "TBLPROPERTIES ('write_mode' = 'merge-on-read')")
      val select = "CAST(id AS INT) AS k;CAST(pmod(id * 37, 1000) AS INT) AS v"
      append(name, select, 0L, 600L)
      append(name, select, 600L, 1200L)
      sql(s"ALTER TABLE skiptest.main.$name ALTER COLUMN k TYPE BIGINT")
      append(name, "id AS k;CAST(pmod(id * 37, 1000) AS INT) AS v", 1200L, 1800L, ordered = true)
      sql(s"DELETE FROM skiptest.main.$name WHERE k % 3 = 0")
    }
    val pos = positions(name, "k")
    val preds = randomPredicates(new Random(11), 6, "k", "v", 1800) ++
      Seq("k = 5", "k BETWEEN 590 AND 1250", "k IN (1, 1201, 1799)", "k > 1790")
    preds.foreach(p => checkExact(name, Seq("k", "v"), p, pos))
    // the BIGINT file still skips on its own pages
    assert(scanMetrics(sql(s"SELECT k FROM skiptest.main.$name WHERE k = 1500"))._2 > 0)
  }

  test("a renamed (mapped) column: comparisons reach the physical column") {
    val name = "mapped"
    val _ = warehouse
    smallPages {
      sql(s"CREATE TABLE skiptest.main.$name (a BIGINT, b BIGINT, v INT)")
      val select = "id AS a;2000 - id AS b;CAST(pmod(id * 37, 1000) AS INT) AS v"
      (0 until 4).foreach(i => append(name, select, i * 500L, i * 500L + 500L))
      // logical `a` now names physical `b`, logical `c` physical `a`
      sql(s"ALTER TABLE skiptest.main.$name RENAME COLUMN a TO c")
      sql(s"ALTER TABLE skiptest.main.$name RENAME COLUMN b TO a")
      sql(s"CALL skiptest.system.optimize(table => 'main.$name', files_out => 2)")
    }
    val pos = positions(name, "a")
    val preds = randomPredicates(new Random(13), 4, "c", "v", 2000) ++
      Seq("a = 1999", "a BETWEEN 100 AND 160", "a IN (1, 2000)", "a > 1990 AND c < 5")
    preds.foreach(p => checkExact(name, Seq("c", "a", "v"), p, pos))
  }

  test("scan metrics: every row of a planned file is decoded or skipped; a point read decodes about a page") {
    val name = mor
    val table = s"skiptest.main.$name"
    val p = pathOf(name)
    val rows = SnapshotLog.manifestFileStats(spark, p, SnapshotLog.versions(spark, p).last)
      .map(s => s._1 -> s._3.get).toMap
    val (fullDecoded, fullSkipped) = scanMetrics(sql(s"SELECT k, v FROM $table"))
    assert(fullDecoded == rows.values.sum && fullSkipped == 0)
    val key = 1234L
    val planned = SnapshotLog.prunedFiles(spark, p, "k", key, key)._1
    val (decoded, skipped) = scanMetrics(sql(s"SELECT k, v FROM $table WHERE k = $key"))
    assert(decoded + skipped == planned.map(rows).sum)
    assert(decoded > 0 && decoded <= 2 * 64, s"decoded $decoded rows for one key")
  }
}
