package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

import graft.plans.MvRewrite
import graft.sources.SnapshotLog

/** A stale `sum`/`stats` MV serves as MV ⊕ change feed: after a source
  * commit the serve rule folds the feed since the MV's watermark into
  * the MV instead of rescanning the source, wherever that fold provably
  * equals the unrewritten query, and bails with a named reason
  * everywhere else. Every case compares the answer with rewriting off
  * and pins serve or bail through `MvRewrite.explainServe`'s lines. */
class MvStaleServeSpec extends SparkTestBase {

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_stale_wh").toString
    spark.conf.set("spark.sql.catalog.stalecat", classOf[graft.sources.SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.stalecat.warehouse", w)
    w
  }
  private var n = 0
  private def freshName(): String = {
    val _ = warehouse
    n += 1
    s"stalecat.main.s$n"
  }
  private def short(t: String): String = t.split('.').last
  private def pathOf(t: String): String = s"$warehouse/main/${short(t)}"
  private def tip(t: String): Int = SnapshotLog.versions(spark, pathOf(t)).last

  /** Appends ids `[lo, hi)` as one file: `k` cycles a/b/c, `g` is
    * `id % 4`, `v` is `id % 7` with every 13th value NULL. */
  private def insert(t: String, lo: Long, hi: Long): Unit =
    spark.sql(
      s"""INSERT INTO $t SELECT id, element_at(array('a', 'b', 'c'), CAST(id % 3 AS INT) + 1),
         |id % 4, CASE WHEN id % 13 = 0 THEN NULL ELSE id % 7 END
         |FROM range($lo, $hi, 1, 1)""".stripMargin)

  /** A source of four 100-row files with a `sum` MV on (k, g) and a
    * `stats` MV with avgExact on k, both fresh at the tip. */
  private def source(props: String = ""): String = {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, k STRING, g BIGINT, v BIGINT) $props")
    (0 until 4).foreach(i => insert(t, i * 100L, i * 100L + 100))
    spark.sql(
      s"""CREATE MATERIALIZED VIEW ${t}_sum AS
         |SELECT k, g, sum(v) AS mv_sum, count(*) AS mv_n FROM $t GROUP BY k, g""".stripMargin)
    spark.sql(
      s"""CALL stalecat.system.create_mv(source => 'main.${short(t)}',
         |mv => 'main.${short(t)}_st', key => 'k', agg => 'v', kind => 'stats',
         |avg_exact => true)""".stripMargin)
    t
  }

  private def grains(t: String): Seq[String] = Seq(
    s"SELECT k, g, sum(v) AS s, count(*) AS n FROM $t GROUP BY k, g",
    s"SELECT g, sum(v) AS s, count(*) AS n FROM $t GROUP BY g",
    s"SELECT sum(v) AS s, count(*) AS n FROM $t",
    s"SELECT g, sum(v) AS s FROM $t WHERE k = 'a' GROUP BY g",
    s"SELECT k, avg(v) AS a, sum(v * v) AS q, count(v) AS c FROM $t GROUP BY k")

  private def rows(q: String): Seq[String] =
    spark.sql(q).collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def withRewrite[T](on: Boolean)(f: => T): T =
    graft.withConf(spark, MvRewrite.ConfKey -> on.toString)(f)

  private def explain(q: String): Seq[String] = MvRewrite.explainServe(spark, spark.sql(q))

  private def servedThroughFeed(lines: Seq[String]): Boolean =
    lines.exists(l => l.startsWith("SERVED from") && l.contains("through its change feed"))

  /** `q` answers the same with rewriting on and off, and the explain
    * lines say it served through the feed (`served`) or bailed with a
    * STALE line containing `reason`. */
  private def check(q: String, served: Boolean, reason: String = ""): Unit = {
    val lines = explain(q)
    if (served) assert(servedThroughFeed(lines), s"$q: ${lines.mkString("\n")}")
    else
      assert(!lines.exists(_.startsWith("SERVED from")) &&
        lines.exists(l => l.contains("STALE") && l.contains(reason) &&
          l.contains("REFRESH MATERIALIZED VIEW")), s"$q: ${lines.mkString("\n")}")
    assert(withRewrite(on = true)(rows(q)) == withRewrite(on = false)(rows(q)), q)
  }

  private def checkServes(t: String): Unit = grains(t).foreach(check(_, served = true))

  test("append: every grain serves MV ⊕ feed and equals the rewrite-off answer") {
    val t = source()
    insert(t, 400, 430)
    checkServes(t)
    // the plan reads the MV, not the source
    val q = grains(t).head
    withRewrite(on = true) {
      assert(MvRewrite.readsPath(spark.sql(q).queryExecution.optimizedPlan,
        pathOf(s"${t}_sum")))
    }
  }

  test("copy-on-write UPDATE, DELETE and MERGE serve through the feed") {
    val u = source()
    spark.sql(s"UPDATE $u SET v = v + 1 WHERE id < 50")
    checkServes(u)
    val d = source()
    spark.sql(s"DELETE FROM $d WHERE id >= 100 AND id < 130")
    checkServes(d)
    val m = source()
    spark.sql(
      s"""MERGE INTO $m USING (SELECT id, 'c' AS k, id % 4 AS g, id % 5 AS v
         |FROM range(390, 410)) s ON $m.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    checkServes(m)
  }

  test("a merge-on-read DELETE (deletion vector) serves through the feed") {
    val t = source("TBLPROPERTIES ('write_mode' = 'merge-on-read')")
    spark.sql(s"DELETE FROM $t WHERE id >= 100 AND id < 130")
    checkServes(t)
  }

  test("OPTIMIZE folds an empty feed; a DML on the compacted file bails: " +
    "its feed reads more rows than the source holds") {
    val t = source()
    spark.sql(s"CALL stalecat.system.optimize(table => 'main.${short(t)}')")
    checkServes(t)
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id < 10")
    grains(t).foreach(check(_, served = false, "not fewer than the source's"))
    spark.sql(s"REFRESH MATERIALIZED VIEW ${t}_sum")
    assert(explain(grains(t).head).exists(l =>
      l.startsWith("SERVED from") && !l.contains("change feed")))
  }

  test("restore past a DELETE serves through the feed") {
    val t = source()
    val v = tip(t)
    spark.sql(s"DELETE FROM $t WHERE id >= 100 AND id < 130")
    spark.sql(s"CALL stalecat.system.restore(table => 'main.${short(t)}', version => $v)")
    checkServes(t)
  }

  test("VERSION AS OF between the watermark and the tip folds the feed up " +
    "to the pinned version") {
    val t = source()
    insert(t, 400, 430)
    val mid = tip(t)
    spark.sql(s"UPDATE $t SET v = v + 2 WHERE id < 40")
    grains(s"$t VERSION AS OF $mid").foreach(check(_, served = true))
    checkServes(t)
  }

  test("a minmax MV bails after a delete: its partials do not invert") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, k STRING, g BIGINT, v BIGINT)")
    (0 until 4).foreach(i => insert(t, i * 100L, i * 100L + 100))
    spark.sql(
      s"""CALL stalecat.system.create_mv(source => 'main.${short(t)}',
         |mv => 'main.${short(t)}_mm', key => 'k', agg => 'v', kind => 'minmax')""".stripMargin)
    spark.sql(s"DELETE FROM $t WHERE id % 7 = 6")
    check(s"SELECT k, min(v) AS lo, max(v) AS hi FROM $t GROUP BY k",
      served = false, "kind=minmax")
  }

  test("a feed range that crosses expired versions bails") {
    val t = source()
    insert(t, 400, 430)
    insert(t, 430, 460)
    spark.sql(s"CALL stalecat.system.expire(table => 'main.${short(t)}', keep_last => 1)")
    grains(t).foreach(check(_, served = false, "expired by retention"))
  }

  test("a join MV bails on a stale fact") {
    val f = freshName()
    val d = freshName()
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'auto'), (2, 'mach')")
    spark.sql(s"INSERT INTO $f SELECT id % 2 + 1, id FROM range(0, 200, 1, 1)")
    spark.sql(s"INSERT INTO $f SELECT id % 2 + 1, id FROM range(200, 400, 1, 1)")
    SnapshotLog.createJoinMv(spark, pathOf(f), pathOf(d), "fk", "pk",
      s"$warehouse/main/${short(f)}_jmv", "seg", "m")
    spark.sql(s"INSERT INTO $f VALUES (1, 7)")
    check(s"SELECT seg, sum(m) AS s, count(*) AS n FROM $f JOIN $d ON fk = pk GROUP BY seg",
      served = false, "join MV")
  }

  test("a group whose non-NULL values the feed removes and whose sum folds " +
    "to 0 bails: NULL or 0 is undecidable from a sum MV") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, k STRING, v BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 'z', 5)")
    spark.sql(s"INSERT INTO $t VALUES (2, 'z', NULL)")
    spark.sql(s"INSERT INTO $t SELECT id, 'y', id FROM range(10, 200, 1, 1)")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW ${t}_sum AS
         |SELECT k, sum(v) AS mv_sum, count(*) AS mv_n FROM $t GROUP BY k""".stripMargin)
    spark.sql(s"DELETE FROM $t WHERE id = 1")
    val q = s"SELECT k, sum(v) AS s, count(*) AS n FROM $t GROUP BY k"
    check(q, served = false, "undecidable")
    assert(withRewrite(on = true)(rows(q)).contains("z|null|1"))
    // REFRESH recomputes the undecided group from the source
    spark.sql(s"REFRESH MATERIALIZED VIEW ${t}_sum")
    assert(explain(q).exists(_.startsWith("SERVED from")))
    assert(withRewrite(on = true)(rows(q)) == withRewrite(on = false)(rows(q)))
  }

  test("a stale serve's task input rows are the MV's rows plus the feed's " +
    "rider rows, fewer than the source's live rows") {
    val t = source()
    insert(t, 400, 430)
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id < 50")
    val q = s"SELECT k, g, sum(v) AS s, count(*) AS n FROM $t GROUP BY k, g"
    val src = pathOf(t)
    val mv = pathOf(s"${t}_sum")
    val w = SnapshotLog.committedWatermark(spark, mv, "mvv").get
    val mvRows = SnapshotLog.liveRowCounts(spark, mv, SnapshotLog.versions(spark, mv).last)
      .map(_._2.get).sum
    val feedRows = SnapshotLog.changeFeedRows(spark, src, w, tip(t)).get
    val srcRows = SnapshotLog.liveRowCounts(spark, src, tip(t)).map(_._2.get).sum
    val group = s"stale-serve-${System.nanoTime()}"
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val read = new AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          j.stageIds.foreach(stages.add(_))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          read.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val expected = withRewrite(on = false)(rows(q))
    ListenerDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val got =
      try {
        spark.sparkContext.setJobGroup(group, "stale serve")
        try withRewrite(on = true)(rows(q))
        finally spark.sparkContext.clearJobGroup()
      } finally {
        ListenerDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(got == expected)
    assert(read.get == mvRows + feedRows, s"read ${read.get}, MV $mvRows, feed $feedRows")
    assert(read.get < srcRows, s"read ${read.get}, source $srcRows")
  }
}
