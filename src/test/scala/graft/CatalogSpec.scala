package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sources.{SnapshotCatalog, SnapshotLog}

/** Round-11 SQL catalog over the snapshot log
  * (sources/SnapshotCatalog): DDL/DML through `spark.sql`, pushed-
  * filter file skipping at planning, exact manifest statistics, and
  * interop with the programmatic SnapshotLog API on the same table. */
class CatalogSpec extends SparkTestBase {

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_cat_wh").toString
    spark.conf.set(
      "spark.sql.catalog.cattest", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.cattest.warehouse", w)
    w
  }

  /** Fresh fully-qualified table name (unique per call). */
  private var n = 0
  private def freshName(): String = {
    val _ = warehouse // force catalog registration
    n += 1
    s"cattest.main.t$n"
  }
  private def pathOf(name: String): String =
    s"$warehouse/main/${name.split('.').last}"

  test("CREATE TABLE / tableExists / SELECT on empty / DROP TABLE") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, name STRING)")
    assert(spark.sql(s"SELECT * FROM $t").collect().isEmpty)
    assert(
      spark.sql("SHOW TABLES IN cattest.main").collect()
        .map(_.getString(1)).contains(t.split('.').last))
    spark.sql(s"DROP TABLE $t")
    val err = intercept[Exception](spark.sql(s"SELECT * FROM $t").collect())
    assert(err.getMessage.toLowerCase.contains("table"))
  }

  test("INSERT INTO appends commits; SnapshotLog reads the same table") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE) FROM range(1, 6)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE) FROM range(6, 10)")
    assert(
      spark.sql(s"SELECT sum(id) FROM $t").head.getLong(0) == (1L to 9L).sum)
    // interop: the programmatic API reads what SQL wrote
    val direct = SnapshotLog.read(spark, pathOf(t))
    assert(direct.agg(sum("id")).head.getLong(0) == (1L to 9L).sum)
    // CREATE was v1 (schema-only), the inserts v2 and v3
    assert(SnapshotLog.versions(spark, pathOf(t)) == Seq(1, 2, 3))
    // and SQL reads what the programmatic API commits
    SnapshotLog.commit(
      spark, pathOf(t),
      spark.range(10, 12).select(col("id"), col("id").cast("double").as("v")))
    assert(
      spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 11L)
  }

  test("INSERT OVERWRITE truncates to the new content") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 100)")
    spark.sql(s"INSERT OVERWRITE $t SELECT id FROM range(500, 510)")
    assert(
      spark.sql(s"SELECT min(id), max(id), count(*) FROM $t").head.toSeq ==
        Seq(500L, 509L, 10L))
    // pre-overwrite version still time-travels
    assert(
      spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").head.getLong(0) == 100L)
  }

  test("VERSION AS OF and TIMESTAMP AS OF pin snapshots") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 5)")
    val tsAfterV2 = System.currentTimeMillis()
    Thread.sleep(1100) // commit mtimes have second granularity on some FS
    spark.sql(s"INSERT INTO $t SELECT id FROM range(5, 9)")
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").head.getLong(0) == 5L)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 9L)
    val asOf = java.time.Instant.ofEpochMilli(tsAfterV2).toString.replace("T", " ").stripSuffix("Z")
    assert(
      spark.sql(s"SELECT count(*) FROM $t TIMESTAMP AS OF '$asOf'").head.getLong(0) == 5L)
  }

  test("pushed range filter skips provably-disjoint files at planning") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE)")
    // three range-sharded inserts => three stats-disjoint file sets
    Seq((0, 1000), (1000, 2000), (2000, 3000)).foreach { case (lo, hi) =>
      spark.sql(
        s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE) FROM range($lo, $hi)")
    }
    val q = spark.sql(s"SELECT sum(id) FROM $t WHERE id >= 1200 AND id < 1800")
    assert(q.head.getLong(0) == (1200L until 1800L).sum)
    // the scan description carries kept/total manifest file counts
    val plan = q.queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no files=k/n in plan:\n$plan")
    assert(m.get.group(1).toInt < m.get.group(2).toInt,
      s"pruning kept everything: ${m.get.matched}")
    assert(m.get.group(1).toInt >= 1)
  }

  test("scan reports exact statistics from manifest riders") {
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 1234)")
    val cat = spark.sessionState.catalogManager
      .catalog("cattest").asInstanceOf[SnapshotCatalog]
    val tbl = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("main"), t.split('.').last))
    val scan = tbl.asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    val stats = scan.asInstanceOf[SupportsReportStatistics].estimateStatistics()
    assert(stats.numRows().getAsLong == 1234L)
    assert(stats.sizeInBytes().getAsLong > 0L)
  }

  test("ALTER TABLE ADD COLUMN null-fills earlier files") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 3)")
    spark.sql(s"ALTER TABLE $t ADD COLUMN tag STRING")
    spark.sql(s"INSERT INTO $t SELECT id, 'new' FROM range(3, 5)")
    val got = spark.sql(s"SELECT id, tag FROM $t ORDER BY id").collect()
    assert(got.length == 5)
    assert(got.take(3).forall(_.isNullAt(1)))
    assert(got.drop(3).forall(_.getString(1) == "new"))
  }

  test("CTAS creates and fills in one statement") {
    val t = freshName()
    spark.sql(
      s"CREATE TABLE $t AS SELECT id % 3 AS k, count(*) AS c FROM range(0, 30) GROUP BY 1")
    assert(spark.sql(s"SELECT sum(c) FROM $t").head.getLong(0) == 30L)
  }

  test("loud refusals: pinned-version write, unsupported type, partitioned create") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 3)")
    val e1 = intercept[Exception](
      spark.sql(s"INSERT INTO $t VERSION AS OF 1 SELECT id FROM range(0, 3)"))
    assert(e1.getMessage != null)
    // numeric arrays are supported since round 11 cont.; string arrays
    // and maps still refuse
    val e2 = intercept[Exception](
      spark.sql(s"CREATE TABLE ${freshName()} (a ARRAY<STRING>)"))
    assert(e2.getMessage.contains("unsupported column type"))
    val e2b = intercept[Exception](
      spark.sql(s"CREATE TABLE ${freshName()} (a MAP<STRING, INT>)"))
    assert(e2b.getMessage.contains("unsupported column type"))
    // identity (multi-column, round 13) and the known transforms are
    // supported; an UNKNOWN transform still refuses loudly
    val e3 = intercept[Exception](
      spark.sql(
        s"CREATE TABLE ${freshName()} (id BIGINT, p INT) " +
          "PARTITIONED BY (my_transform(p))"))
    assert(e3.getMessage.contains("bucket(n, col)") ||
      e3.getMessage.toLowerCase.contains("transform"))
    // mixing bucket with identity partitioning refuses too
    val e4 = intercept[Exception](
      spark.sql(
        s"CREATE TABLE ${freshName()} (id BIGINT, p INT) " +
          "PARTITIONED BY (p, bucket(4, id))"))
    assert(e4.getMessage.contains("bucket(n, col)"))
  }

  test("PARTITIONED BY (col): value-clustered files, stats pruning, null partition") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, p BIGINT) PARTITIONED BY (p)")
    spark.sql(
      s"""INSERT INTO $t
         |SELECT id, CASE WHEN id < 90 THEN id % 3 ELSE NULL END AS p
         |FROM range(0, 100)""".stripMargin)
    // every landed file holds ONE partition value: a value probe prunes
    // to at most one file per insert
    val (kept, total) = SnapshotLog.prunedFiles(spark, pathOf(t), "p", 1, 1)
    assert(total >= 3, s"expected one file per value, saw $total")
    assert(kept.size < total, s"partition probe must prune: ${kept.size}/$total")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE p = 1").head.getLong(0) == 30L)
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE p IS NULL").head.getLong(0) == 10L)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 100L)
    // DESCRIBE surfaces the layout; a second insert keeps it
    assert(spark.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
      .exists(r => r.toString.contains("p")), "partitioning must be visible")
    spark.sql(s"INSERT INTO $t SELECT id, id % 3 FROM range(100, 130)")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 130L)
    // DML on a partitioned table stays correct (layout is advisory)
    spark.sql(s"DELETE FROM $t WHERE p = 2 AND id < 90")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE p = 2").head.getLong(0) == 10L)
  }

  test("empty INSERT commits a readable schema-only version") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 10) WHERE id < 0")
    assert(SnapshotLog.versions(spark, pathOf(t)) == Seq(1, 2))
    assert(spark.sql(s"SELECT * FROM $t").collect().isEmpty)
  }

  test("streaming read via readStream.table delivers appends exactly once") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 5)")
    val ckpt = Files.createTempDirectory("graft_cat_ckpt").toString
    val q = spark.readStream
      .table(t)
      .writeStream
      .format("memory")
      .queryName("cat_stream_sink")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    assert(
      spark.table("cat_stream_sink").agg(sum("id")).head.getLong(0) ==
        (0L until 5L).sum)
  }

  test("graded sql_* catalog keys run and match their dataflow at sf0.001") {
    val orders = Tables.orders(spark, sf0001)
    val shard2 = orders.filter(expr("o_orderkey % 3 = 2")).count()
    val insert = SparkEntry.queries("sql_snapshot_insert")(spark, sf0001)
    assert(insert.count() == shard2)
    val tt = SparkEntry.queries("sql_snapshot_time_travel")(spark, sf0001)
    assert(tt.count() == orders.count())
    val sel = SparkEntry.queries("sql_snapshot_select")(spark, sf0001)
    assert(sel.count() > 0)
    val ctas = SparkEntry.queries("sql_snapshot_ctas")(spark, sf0001)
    assert(ctas.count() == orders.select("o_custkey").distinct().count())
    // widen: all rows survive, the third shard's values exceed INT range
    val widened = SparkEntry.queries("sql_widen_col")(spark, sf0001)
    assert(widened.count() == orders.count())
    assert(widened.agg(max("cust")).head.getLong(0) > Int.MaxValue.toLong)
    // metadata-table ledger: 4 versions, final live total = post-delete
    val ledger = SparkEntry.queries("sql_meta_history")(spark, sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toList
    assert(ledger.map(_._1) == List(1, 2, 3, 4) && ledger.head._2 == 0L)
    assert(ledger(2)._2 == orders.count())
    assert(ledger(3)._2 < orders.count() && ledger(3)._2 > 0)
    // partitioned table: the part=3 slice equals the recompute
    val part = SparkEntry.queries("sql_partitioned_table")(spark, sf0001)
    assert(part.count() ==
      orders.filter(expr("o_custkey % 8 = 3")).count())
    // three-clause MERGE: matched doubled, straggler purged, row inserted
    val m = SparkEntry.queries("sql_merge_source")(spark, sf0001)
    val customers = Tables.customer(spark, sf0001)
    val nDeleted = customers
      .filter(expr("c_custkey % 10 <> 0 AND c_custkey % 7 = 0")).count()
    assert(m.count() == customers.count() - nDeleted + 1)
    assert(m.filter(expr("c_custkey = -7")).count() == 1)
  }

  test("catalog reads subtract deletion vectors") {
    import spark.implicits._
    val _ = warehouse
    val p = s"$warehouse/main/dvread"
    SnapshotLog.commit(spark, p, (0L to 9L).toDF("id"))
    SnapshotLog.commit(spark, p, (10L to 19L).toDF("id"))
    SnapshotLog.deleteWhereMoR(spark, p, "id", 3, 12)
    val got = spark.sql("SELECT id FROM cattest.main.dvread")
      .collect().map(_.getLong(0)).toSet
    assert(got == ((0L to 19L).toSet -- (3L to 12L)))
    // pruned catalog read over a DV'd file also subtracts
    val pruned = spark.sql("SELECT id FROM cattest.main.dvread WHERE id <= 5")
      .collect().map(_.getLong(0)).toSet
    assert(pruned == Set(0L, 1L, 2L))
  }

  test("storage-partitioned join: co-bucketed tables join with no shuffle on the keys") {
    import spark.implicits._
    val _ = warehouse
    SnapshotLog.commitBucketed(
      spark, s"$warehouse/main/spj_a",
      (0L to 99L).map(i => (i, i * 2)).toDF("id", "a"), "id", 4)
    SnapshotLog.commitBucketed(
      spark, s"$warehouse/main/spj_b",
      (0L to 99L).map(i => (i, i * 3)).toDF("id", "b"), "id", 4)
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.sql(
        """SELECT x.id, x.a, y.b FROM cattest.main.spj_a x
          |JOIN cattest.main.spj_b y ON x.id = y.id""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"storage-partitioned join still shuffled:\n$plan")
      val rows = df.collect()
      assert(rows.length == 100)
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 2 &&
        r.getLong(2) == r.getLong(0) * 3))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("an un-bucketed append drops the partitioning claim, never serves it stale") {
    import spark.implicits._
    val _ = warehouse
    val p = s"$warehouse/main/spj_stale"
    SnapshotLog.commitBucketed(
      spark, p, (0L to 49L).toDF("id"), "id", 4)
    SnapshotLog.commit(spark, p, (50L to 59L).toDF("id")) // plain append
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.sql(
        """SELECT x.id FROM cattest.main.spj_stale x
          |JOIN cattest.main.spj_stale y ON x.id = y.id""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      // the claim is gone: Spark must shuffle (correctness over speed)
      assert(plan.contains("Exchange hashpartitioning"), plan)
      assert(df.collect().length == 60)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("writeStream.toTable commits epochs exactly once into a catalog table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (value BIGINT)")
    val ms = MemoryStream[Long]
    val ckpt = Files.createTempDirectory("graft_cat_wsink").toString
    val q = ms.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .toTable(t)
    ms.addData(1L, 2L, 3L)
    q.processAllAvailable()
    ms.addData(4L, 5L)
    q.processAllAvailable()
    q.stop()
    assert(spark.sql(s"SELECT sum(value) FROM $t").head.getLong(0) == 15L)
    // each epoch carried its replay-scoped txn id into the commit log
    val txns = SnapshotLog.describeHistory(spark, pathOf(t))
      .where(col("txn_id") =!= "").count()
    assert(txns >= 2)
    // a restart from the same checkpoint must not re-deliver epochs
    val q2 = ms.toDF().writeStream
      .option("checkpointLocation", ckpt)
      .toTable(t)
    q2.processAllAvailable()
    q2.stop()
    assert(spark.sql(s"SELECT sum(value) FROM $t").head.getLong(0) == 15L)
  }

  test("writeStream.toTable into a days-partitioned table routes day-pure files") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, ts TIMESTAMP)
         |PARTITIONED BY (days(ts))""".stripMargin)
    val ms = MemoryStream[Long]
    val ckpt = Files.createTempDirectory("graft_cat_wpart").toString
    val base = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime
    val q = ms.toDF()
      .select(col("value").as("id"),
        expr(s"timestamp_seconds(${base / 1000} + (value % 4) * 86400)").as("ts"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .toTable(t)
    ms.addData(0L until 200L: _*)
    q.processAllAvailable()
    q.stop()
    // the streaming writer routes by the days() transform too: a
    // one-day probe in raw micros prunes via existing stats skipping
    val lo = java.time.LocalDate.parse("2024-06-03").toEpochDay * 86400000000L
    val (kept, total) = SnapshotLog.prunedFiles(
      spark, pathOf(t), "ts", lo, lo + 86400000000L - 1)
    assert(total >= 4 && kept.size < total,
      s"streamed day files must prune: ${kept.size}/$total")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 200L)
  }

  test("SQL DELETE FROM / UPDATE / MERGE INTO rewrite the table correctly") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range(0, 20)")
    spark.sql(s"DELETE FROM $t WHERE id >= 15")
    assert(
      spark.sql(s"SELECT count(*), max(id) FROM $t").head.toSeq == Seq(15L, 14L))
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id < 5")
    assert(
      spark.sql(s"SELECT sum(v) FROM $t").head.getLong(0) ==
        (0 until 15).map(_ * 10L).sum + 5)
    spark.range(3, 25, 7).createOrReplaceTempView("merge_src") // 3,10,17,24
    spark.sql(
      s"""MERGE INTO $t USING merge_src s ON $t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = 0
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, -1)""".stripMargin)
    val got = spark.sql(s"SELECT id, v FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got(3) == 0L && got(10) == 0L) // matched -> zeroed
    assert(got(17) == -1L && got(24) == -1L) // unmatched -> inserted
    assert(got(4) == 41L) // earlier UPDATE preserved
    assert(got.size == 17)
    // DML over a deletion-vectored table must not resurrect dead rows
    SnapshotLog.deleteWhereMoR(spark, pathOf(t), "id", 0, 1)
    spark.sql(s"DELETE FROM $t WHERE id = 2")
    val after = spark.sql(s"SELECT id FROM $t ORDER BY id").collect()
      .map(_.getLong(0)).toSet
    assert(!after.contains(0L) && !after.contains(1L) && !after.contains(2L))
  }

  test("runtime group filtering: DML rewrites only files holding matched rows") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    Seq((0, 100), (100, 200), (200, 300)).foreach { case (lo, hi) =>
      spark.sql(s"INSERT INTO $t SELECT id FROM range($lo, $hi)")
    }
    val p = pathOf(t)
    val before = SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
    // the doomed range lives entirely in the middle shard
    spark.sql(s"DELETE FROM $t WHERE id >= 120 AND id < 180")
    val vAfter = SnapshotLog.versions(spark, p).last
    val after = SnapshotLog.manifest(spark, p, vAfter)
    val survivors = before.toSet.intersect(after.toSet)
    assert(survivors.nonEmpty,
      s"untouched shards must carry BY NAME; before=$before after=$after")
    assert(before.toSet -- after.toSet != Set.empty,
      "the matched shard's files must be rewritten")
    assert(
      spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 240L)
    // a DELETE matching no rows must not burn a version
    spark.sql(s"DELETE FROM $t WHERE id > 100000")
    assert(SnapshotLog.versions(spark, p).last == vAfter)
    // the _file metadata column is user-queryable
    val nFiles = spark.sql(s"SELECT count(DISTINCT _file) FROM $t").head.getLong(0)
    assert(nFiles.toInt == after.length)
  }

  test("whole-shard DELETE is metadata-only; straddling DELETE falls back to rewrite") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    Seq((0, 100), (100, 200), (200, 300)).foreach { case (lo, hi) =>
      spark.sql(s"INSERT INTO $t SELECT id FROM range($lo, $hi)")
    }
    val p = pathOf(t)
    // whole third shard: every file provably inside or disjoint
    val planMeta = spark.sql(s"EXPLAIN DELETE FROM $t WHERE id >= 200")
      .head.getString(0)
    assert(planMeta.contains("DeleteFromTable") && !planMeta.contains("ReplaceData"),
      s"expected a metadata-only delete:\n$planMeta")
    val before = SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
    spark.sql(s"DELETE FROM $t WHERE id >= 200")
    val after = SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
    assert(after.toSet.subsetOf(before.toSet), "metadata delete adds no file")
    assert(spark.sql(s"SELECT count(*), max(id) FROM $t").head.toSeq == Seq(200L, 199L))
    // a range straddling a file's [min,max]: undecidable by stats ->
    // the rewrite path (file boundaries fall on task splits, so an
    // odd bound like 161 cannot align with any file edge)
    val planRewrite = spark.sql(s"EXPLAIN DELETE FROM $t WHERE id >= 161")
      .head.getString(0)
    assert(planRewrite.contains("ReplaceData"), planRewrite)
    spark.sql(s"DELETE FROM $t WHERE id >= 161")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 161L)
    // TRUNCATE TABLE: empty overwrite, history intact
    spark.sql(s"TRUNCATE TABLE $t")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 0L)
    assert(SnapshotLog.read(spark, p, Some(4)).count() == 300L)
  }

  test("all-SQL bucketed tables: CREATE PARTITIONED BY bucket, INSERT maintains the layout") {
    val _ = warehouse
    spark.sql("DROP TABLE IF EXISTS cattest.main.bkt_a")
    spark.sql("DROP TABLE IF EXISTS cattest.main.bkt_b")
    spark.sql(
      "CREATE TABLE cattest.main.bkt_a (id BIGINT, a BIGINT) PARTITIONED BY (bucket(4, id))")
    spark.sql(
      "CREATE TABLE cattest.main.bkt_b (id BIGINT, b BIGINT) PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO cattest.main.bkt_a SELECT id, id * 2 FROM range(0, 60)")
    spark.sql("INSERT INTO cattest.main.bkt_b SELECT id, id * 3 FROM range(0, 60)")
    // a second insert must keep the layout claim alive
    spark.sql("INSERT INTO cattest.main.bkt_a SELECT id, id * 2 FROM range(60, 100)")
    spark.sql("INSERT INTO cattest.main.bkt_b SELECT id, id * 3 FROM range(60, 100)")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.sql(
        """SELECT x.id, x.a, y.b FROM cattest.main.bkt_a x
          |JOIN cattest.main.bkt_b y ON x.id = y.id""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"SQL-ingested bucketed tables must storage-partition join:\n$plan")
      val rows = df.collect()
      assert(rows.length == 100)
      assert(rows.forall(r => r.getLong(1) == r.getLong(0) * 2 &&
        r.getLong(2) == r.getLong(0) * 3))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    // every committed file carries its bucket rider
    val riders = SnapshotLog.fileRiders(
      spark, s"$warehouse/main/bkt_a",
      SnapshotLog.versions(spark, s"$warehouse/main/bkt_a").last)
    assert(riders.nonEmpty && riders.forall(_._2.isDefined))
  }

  test("CALL procedures: optimize, vacuum, expire, describe_history") {
    val t = freshName()
    val short = t.stripPrefix("cattest.")
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    (0 until 6).foreach(i =>
      spark.sql(s"INSERT INTO $t SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
    val filesBefore = SnapshotLog
      .manifest(spark, pathOf(t), SnapshotLog.versions(spark, pathOf(t)).last).size
    val opt = spark.sql(s"CALL cattest.system.optimize(table => '$short')").head
    assert(opt.getInt(1) > 0, "optimize must rewrite the small files")
    val filesAfter = SnapshotLog
      .manifest(spark, pathOf(t), SnapshotLog.versions(spark, pathOf(t)).last).size
    assert(filesAfter < filesBefore)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 60L)
    val hist = spark.sql(s"CALL cattest.system.describe_history(table => '$short')")
    assert(hist.count() == SnapshotLog.versions(spark, pathOf(t)).size)
    assert(hist.where(col("data_change") === false).count() == 1) // the optimize
    val vac = spark.sql(
      s"CALL cattest.system.vacuum(table => '$short', older_than_ms => 0L)").head
    assert(vac.getInt(0) >= 0)
    val exp = spark.sql(
      s"CALL cattest.system.expire(table => '$short', keep_last => 1)").head
    assert(exp.getInt(0) > 0 && exp.getInt(1) > 1)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 60L)
  }

  test("column pruning reaches the catalog scan") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, a STRING, b DOUBLE)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS STRING), CAST(id AS DOUBLE) FROM range(0, 10)")
    val q = spark.sql(s"SELECT sum(b) FROM $t")
    val plan = q.queryExecution.executedPlan.toString
    val rs = "ReadSchema: ([^,]+)".r.findFirstMatchIn(plan)
    assert(rs.isDefined, s"no ReadSchema in plan:\n$plan")
    assert(rs.get.group(1).contains("b"))
    assert(!rs.get.group(1).contains("a:"), s"unpruned: ${rs.get.matched}")
    assert(q.head.getDouble(0) == (0 until 10).map(_.toDouble).sum)
  }

  test("ALTER TABLE RENAME COLUMN: metadata-only, DML and filters work on the new name") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id, id * 2 FROM range(1, 21)")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO score")
    assert(spark.sql(s"SELECT score FROM $t WHERE id = 4").head.getLong(0) == 8L)
    assert(spark.table(t).columns.toSeq == Seq("id", "score"))
    // INSERT under the new name lands physical-name files; reads unify
    spark.sql(s"INSERT INTO $t SELECT id, id * 2 FROM range(21, 31)")
    assert(spark.sql(s"SELECT sum(score) FROM $t").head.getLong(0) ==
      (1L to 30L).map(_ * 2).sum)
    // row-level DML through the mapping: UPDATE on the renamed column
    spark.sql(s"UPDATE $t SET score = 0 WHERE id <= 5")
    assert(spark.sql(s"SELECT sum(score) FROM $t").head.getLong(0) ==
      (6L to 30L).map(_ * 2).sum)
    // renaming to a live name refuses
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $t RENAME COLUMN score TO id"))
    assert(e.getMessage.contains("already exists"))
  }

  test("ALTER TABLE DROP COLUMN + re-ADD: nulls, never resurrected bytes") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, c BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id, id * 7 FROM range(1, 6)")
    spark.sql(s"ALTER TABLE $t DROP COLUMN c")
    assert(spark.table(t).columns.toSeq == Seq("id"))
    spark.sql(s"ALTER TABLE $t ADD COLUMN c BIGINT")
    spark.sql(s"INSERT INTO $t SELECT id, id * 1000 FROM range(6, 9)")
    val rows = spark.sql(s"SELECT id, c FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
    assert(rows.toSeq ==
      ((1L to 5L).map((_, -1L)) ++ (6L to 8L).map(i => (i, i * 1000))),
      s"got ${rows.mkString(",")}")
    // metadata aggregate pushdown stays EXACT through the mapping
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 8L)
  }

  test("streaming read of a renamed table delivers logical columns") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id, id + 100 FROM range(1, 6)")
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO score")
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q = spark.readStream.table(t).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        df.collect().foreach(r => out.add((r.getLong(0), r.getLong(1))))
        ()
      }
      .start()
    q.awaitTermination(60000)
    assert(out.asScala.toSet == (1L to 5L).map(i => (i, i + 100)).toSet)
  }

  test("CALL tag/branch/publish: the SQL write-audit-publish flow") {
    val t = freshName()
    val short = t.stripPrefix("cattest.")
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(1, 11)")
    // tag the clean state; audit work goes to a branch
    val tagged = spark.sql(
      s"CALL cattest.system.tag(table => '$short', name => 'clean')").head.getInt(0)
    assert(tagged == 2)
    val branchPath = spark.sql(
      s"CALL cattest.system.branch(table => '$short', name => 'audit')")
      .head.getString(0)
    SnapshotLog.commit(
      spark, branchPath, spark.range(11, 21).select(col("id")))
    // main unchanged until publish; the tag travels by name in SQL
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 10L)
    val res = spark.sql(
      s"CALL cattest.system.publish(table => '$short', name => 'audit')").head
    assert(res.getInt(0) == 3 && res.getInt(1) > 0)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 20L)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'clean'")
      .head.getLong(0) == 10L)
    // a dropped branch leaves no trace
    spark.sql(s"CALL cattest.system.branch(table => '$short', name => 'junk')")
    spark.sql(s"CALL cattest.system.branch_drop(table => '$short', name => 'junk')")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 20L)
    // tag_delete releases the name for re-use; CALL tags lists the refs
    spark.sql(s"CALL cattest.system.tag_delete(table => '$short', name => 'clean')")
    assert(spark.sql(
      s"CALL cattest.system.tag(table => '$short', name => 'clean')")
      .head.getInt(0) == 3)
    val listed = spark.sql(s"CALL cattest.system.tags(table => '$short')")
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(listed == Map("clean" -> 3))
    // DESCRIBE DETAIL: one metadata-only observability row
    val d = spark.sql(s"CALL cattest.system.detail(table => '$short')").head
    assert(d.getInt(0) == 3 && d.getInt(1) == 3, s"tip/version count: $d")
    assert(d.getLong(4) == 20L, s"live rows from riders: $d")
    assert(d.getInt(5) == 1 && !d.getBoolean(9), s"tags/mapped: $d")
  }

  test("sorted_by tables: plain INSERT clusters; pruning fires; rename of the sort key refuses") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('sorted_by' = 'k', 'sorted_partitions' = '4')""".stripMargin)
    // insert in shuffled key order: the ordered distribution must sort
    spark.sql(s"INSERT INTO $t SELECT (id * 37) % 1000 AS k, id AS v FROM range(0, 1000)")
    val p = pathOf(t)
    val (kept, total) = SnapshotLog.prunedFiles(spark, p, "k", 100, 150)
    assert(total >= 4 && kept.size <= 2,
      s"sorted ingestion must produce prunable layout: ${kept.size}/$total")
    // data intact through the sort
    assert(spark.sql(s"SELECT sum(v) FROM $t").head.getLong(0) == (0L until 1000L).sum)
    // layout keys are rename-protected like bucket columns
    val e = intercept[Exception](spark.sql(s"ALTER TABLE $t RENAME COLUMN k TO key"))
    assert(e.getMessage.contains("sorted_by"))
    // non-layout columns still rename freely
    spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO val2")
    assert(spark.sql(s"SELECT sum(val2) FROM $t").head.getLong(0) == (0L until 1000L).sum)
  }

  test("CHECK constraints: DDL validation, write refusal, DML re-validation, ALTER guard") {
    val t = freshName()
    // malformed constraint fails the CREATE, not the first INSERT
    val ddlErr = intercept[Exception](spark.sql(
      s"CREATE TABLE ${t}_bad (id BIGINT) TBLPROPERTIES ('check' = 'id +')"))
    assert(ddlErr != null)
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, v BIGINT)
         |TBLPROPERTIES ('check' = 'v >= 0')""".stripMargin)
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(1, 6)")
    // violating insert refuses atomically
    intercept[Exception](
      spark.sql(s"INSERT INTO $t SELECT id, -id FROM range(6, 9)"))
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 5L)
    // an UPDATE cannot sneak a violating row past the boundary
    intercept[Exception](spark.sql(s"UPDATE $t SET v = -1 WHERE id = 3"))
    assert(spark.sql(s"SELECT sum(v) FROM $t").head.getLong(0) == 15L)
    // a compliant UPDATE still works
    spark.sql(s"UPDATE $t SET v = 100 WHERE id = 3")
    assert(spark.sql(s"SELECT sum(v) FROM $t").head.getLong(0) == 112L)
    // null passes (SQL unknown-is-allowed), and the ALTER guard holds
    spark.sql(s"INSERT INTO $t SELECT 9, CAST(NULL AS BIGINT)")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 6L)
    val e = intercept[Exception](spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO w"))
    assert(e.getMessage.contains("CHECK"))
  }

  test("aggregate pushdown: complete when exact, refused when it could guess") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id, id * 2 FROM range(1, 101)")
    def plan(sql: String): String =
      spark.sql(sql).queryExecution.executedPlan.toString
    // clean table, no filter: complete metadata answer
    val p1 = plan(s"SELECT count(*), min(id), max(id) FROM $t")
    assert(p1.contains("PushedAggregation"), s"must push: $p1")
    assert(spark.sql(s"SELECT count(*), min(id), max(id) FROM $t")
      .head match { case r => r.getLong(0) == 100L && r.getLong(1) == 1L && r.getLong(2) == 100L })
    // a WHERE clause leaves residual filters: pushdown must NOT fire
    val p2 = plan(s"SELECT count(*) FROM $t WHERE id > 50")
    assert(!p2.contains("PushedAggregation"), s"filtered agg must scan: $p2")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id > 50").head.getLong(0) == 50L)
    // a live deletion vector makes MIN/MAX inexact: refuse, fall back
    spark.sql(s"DELETE FROM $t WHERE id = 100") // CoW delete — still exact
    SnapshotLog.deleteWhereMoR(spark, pathOf(t), "id", 1, 1) // DV — now inexact
    val p3 = plan(s"SELECT min(id), max(id) FROM $t")
    assert(!p3.contains("PushedAggregation"), s"DV'd min/max must scan: $p3")
    assert(spark.sql(s"SELECT count(*), min(id), max(id) FROM $t")
      .head match { case r => r.getLong(0) == 98L && r.getLong(1) == 2L && r.getLong(2) == 99L })
  }

  test("vector (array) columns: write/read round-trip, DML rewrite preserves elements") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v ARRAY<FLOAT>, w BIGINT)")
    spark.sql(
      s"""INSERT INTO $t
         |SELECT id, array(CAST(id AS FLOAT), CAST(id * 2 AS FLOAT),
         |                 CAST(0.5 AS FLOAT)), id * 10
         |FROM range(1, 11)""".stripMargin)
    // element-exact read-back through the Group-API reader
    val r = spark.sql(s"SELECT v FROM $t WHERE id = 4").head.getSeq[Float](0)
    assert(r == Seq(4.0f, 8.0f, 0.5f), s"got $r")
    assert(spark.sql(s"SELECT sum(size(v)) FROM $t").head.getLong(0) == 30L)
    // a CoW DML rewrite must carry the vectors through the rewrite
    // writer untouched
    spark.sql(s"UPDATE $t SET w = 0 WHERE id = 4")
    val r2 = spark.sql(s"SELECT v FROM $t WHERE id = 4").head.getSeq[Float](0)
    assert(r2 == Seq(4.0f, 8.0f, 0.5f), s"rewrite damaged the vector: $r2")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 10L)
    // programmatic snapshot read (native vectorized parquet) agrees
    assert(SnapshotLog.read(spark, pathOf(t))
      .selectExpr("sum(aggregate(v, CAST(0.0 AS DOUBLE), (a, x) -> a + x))")
      .head.getDouble(0) == (1 to 10).map(i => i + 2.0 * i + 0.5).sum)
  }

  test("CREATE OR REPLACE TABLE replaces; NOT NULL columns refuse null writes") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 5)")
    // non-staging catalogs get Spark's drop-then-create REPLACE
    spark.sql(s"CREATE OR REPLACE TABLE $t AS SELECT CAST(7 AS BIGINT) AS x")
    assert(spark.table(t).columns.toSeq == Seq("x"))
    assert(spark.sql(s"SELECT x FROM $t").head.getLong(0) == 7L)
    // NOT NULL rides the schema into the commit header; the engine's
    // AssertNotNull guards every write
    val nn = freshName()
    spark.sql(s"CREATE TABLE $nn (id BIGINT NOT NULL)")
    assert(scala.util.Try(
      spark.sql(s"INSERT INTO $nn VALUES (CAST(NULL AS BIGINT))")).isFailure,
      "a NULL into a NOT NULL column must refuse")
    spark.sql(s"INSERT INTO $nn VALUES (1)")
    assert(spark.sql(s"SELECT count(*) FROM $nn").head.getLong(0) == 1L)
  }

  test("CALL build_bloom: SQL point lookups skip files at planning") {
    val t = freshName()
    val short = t.stripPrefix("cattest.")
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    // several inserts, values hash-spread: every file spans the domain
    (0 until 4).foreach(i =>
      spark.sql(
        s"""INSERT INTO $t
           |SELECT id, id * 7 FROM range(0, 400) WHERE id % 4 = $i
           |DISTRIBUTE BY id % 2""".stripMargin))
    def keptOf(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val d = df.queryExecution.executedPlan.toString
      val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(d).get
      (m.group(1).toInt, m.group(2).toInt)
    }
    val (preK, preT) = keptOf(spark.sql(s"SELECT v FROM $t WHERE id = 123"))
    assert(preK == preT && preT >= 4, s"stats must be useless pre-bloom: $preK/$preT")
    spark.sql(s"CALL cattest.system.build_bloom(table => '$short', column => 'id')")
    val q = spark.sql(s"SELECT v FROM $t WHERE id = 123")
    val (postK, postT) = keptOf(q)
    assert(postK < postT, s"bloom must skip at planning: $postK/$postT")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(123L * 7))
    // absent key: possibly a false-positive file opens, zero rows serve
    assert(spark.sql(s"SELECT v FROM $t WHERE id = 100000").collect().isEmpty)
    // IN-lists: union of per-value admissions, exact result
    val inq = spark.sql(s"SELECT v FROM $t WHERE id IN (7, 123, 100000)")
    val (inK, inT) = keptOf(inq)
    assert(inK < inT, s"IN-list must skip at planning: $inK/$inT")
    assert(inq.collect().map(_.getLong(0)).toSet == Set(7L * 7, 123L * 7))
    // incremental refresh: an append lands BLIND files; build_bloom
    // with incremental => true blooms only those (the already-bloomed
    // entries carry byte-identical), and the point probe prunes
    // across both generations again
    spark.sql(
      s"INSERT INTO $t SELECT id, id * 7 FROM range(400, 800) DISTRIBUTE BY id % 2")
    val path = pathOf(t)
    val bloomedBefore = SnapshotLog
      .manifestEntries(spark, path, SnapshotLog.versions(spark, path).last)
      .filter(_.contains("_bm")).toSet
    spark.sql(
      s"CALL cattest.system.build_bloom(table => '$short', column => 'id', " +
        "incremental => true)")
    val after = SnapshotLog
      .manifestEntries(spark, path, SnapshotLog.versions(spark, path).last)
    assert(bloomedBefore.subsetOf(after.toSet),
      "incremental build must not re-spell already-bloomed entries")
    assert(after.forall(_.contains("_bm")),
      "every live file must carry a rider after the incremental build")
    val q2 = spark.sql(s"SELECT v FROM $t WHERE id = 555")
    val (k2, t2) = keptOf(q2)
    assert(k2 < t2, s"refreshed bloom must skip across generations: $k2/$t2")
    assert(q2.collect().map(_.getLong(0)).toSeq == Seq(555L * 7))
  }

  test("CALL clone: zero-copy shallow clone through SQL, version-pinnable") {
    val t = freshName()
    val short = t.stripPrefix("cattest.")
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 10)")   // v2
    spark.sql(s"INSERT INTO $t SELECT id FROM range(10, 30)")  // v3
    // clone of the tip: same content, ZERO data files in the clone dir
    spark.sql(
      s"CALL cattest.system.clone(source => '$short', target => 'main.cl_tip')")
    assert(spark.sql("SELECT count(*) FROM cattest.main.cl_tip").head.getLong(0) == 30L)
    val cloneDir = new org.apache.hadoop.fs.Path(pathOf("cattest.main.cl_tip"))
    val fs = cloneDir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.listStatus(cloneDir).exists(st =>
      st.isFile && st.getPath.getName.endsWith(".parquet")),
      "a shallow clone must own no data files")
    // version-pinned clone sees only v2's rows; diverges independently
    spark.sql(
      s"CALL cattest.system.clone(source => '$short', target => 'main.cl_v2', version => 2)")
    assert(spark.sql("SELECT count(*) FROM cattest.main.cl_v2").head.getLong(0) == 10L)
    spark.sql("INSERT INTO cattest.main.cl_v2 SELECT id FROM range(100, 105)")
    assert(spark.sql("SELECT count(*) FROM cattest.main.cl_v2").head.getLong(0) == 15L)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 30L,
      "the source must not see the clone's writes")
  }

  test("CALL optimize z-orders on a STRING column through SQL") {
    val t = freshName()
    val short = t.stripPrefix("cattest.")
    spark.sql(s"CREATE TABLE $t (x BIGINT, s STRING)")
    (0 until 4).foreach(i =>
      spark.sql(
        s"""INSERT INTO $t
           |SELECT id AS x, concat('k', lpad(CAST((id * 173) % 400 AS STRING), 3, '0')) AS s
           |FROM range(0, 400) WHERE id % 4 = $i DISTRIBUTE BY x % 4""".stripMargin))
    spark.sql(
      s"CALL cattest.system.optimize(table => '$short', zorder_by => 's,x', files_out => 16)")
    val (zS, totalS) = SnapshotLog.prunedFilesString(
      spark, pathOf(t), "s", "k000", "k099")
    val (zX, totalX) = SnapshotLog.prunedFiles(spark, pathOf(t), "x", 0, 99)
    assert(totalS > 1 && zS.size < totalS, s"string probe must prune: ${zS.size}/$totalS")
    assert(zX.size < totalX, s"numeric probe must prune: ${zX.size}/$totalX")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 400L)
  }

  test("streaming into a PARTITIONED BY table lands value-pure files") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, p BIGINT) PARTITIONED BY (p)")
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Long]
    in.addData(0L until 60L: _*)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_pstr").toString
    val q = in.toDF().selectExpr("value AS id", "value % 3 AS p")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .toTable(t)
    q.awaitTermination(60000)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 60L)
    // epoch files are value-routed: a value probe prunes
    val (kept, total) = SnapshotLog.prunedFiles(spark, pathOf(t), "p", 1, 1)
    assert(total >= 3 && kept.size < total,
      s"streamed partitioned files must be value-pure: ${kept.size}/$total")
  }

  test("metadata tables: t.history / t.files / t.refs serve rider data via SQL") {
    val t = freshName()
    val short = t.stripPrefix("cattest.")
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 10)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(10, 30)")
    val hist = spark.sql(
      s"SELECT version, n_live_rows, data_change FROM $t.history ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2))).toList
    assert(hist == List((1, 0L, true), (2, 10L, true), (3, 30L, true)), s"got $hist")
    val files = spark.sql(s"SELECT file, rows, external FROM $t.files").collect()
    assert(files.nonEmpty && files.forall(r =>
      r.getString(0).endsWith(".parquet") && r.getLong(1) > 0 && !r.getBoolean(2)))
    assert(spark.sql(s"SELECT sum(rows) FROM $t.files").head.getLong(0) == 30L)
    spark.sql(s"CALL cattest.system.tag(table => '$short', name => 'seen')")
    spark.sql(s"CALL cattest.system.branch(table => '$short', name => 'wip')")
    val refs = spark.sql(s"SELECT name, type, version FROM $t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).toList
    assert(refs == List(("seen", "tag", 3), ("wip", "branch", 1)), s"got $refs")
    // metadata tables are read-only and never shadow a real table
    assert(scala.util.Try(
      spark.sql(s"INSERT INTO $t.history VALUES (9, 'x', true, '', 0, 0, 0, 0, 0)"))
      .isFailure)
    assert(scala.util.Try(spark.sql(s"SELECT * FROM $t.nope").collect()).isFailure)
  }

  test("MERGE WHEN NOT MATCHED BY SOURCE deletes stragglers in the same commit") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20), (3, 30)")
    spark.sql("SELECT * FROM VALUES (CAST(2 AS BIGINT), CAST(99 AS BIGINT)), " +
      "(CAST(4 AS BIGINT), CAST(40 AS BIGINT))")
      .toDF("id", "v").createOrReplaceTempView("mrgsrc_t")
    val versBefore = SnapshotLog.versions(spark, pathOf(t)).last
    spark.sql(
      s"""MERGE INTO $t USING mrgsrc_t s ON $t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = s.v
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
         |WHEN NOT MATCHED BY SOURCE AND $t.id = 1 THEN DELETE""".stripMargin)
    val got = spark.sql(s"SELECT id, v FROM $t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == List((2L, 99L), (3L, 30L), (4L, 40L)), s"got $got")
    // one atomic commit for all three clauses
    assert(SnapshotLog.versions(spark, pathOf(t)).last == versBefore + 1)
  }

  test("ALTER COLUMN TYPE widening: metadata-only, declared ahead of the data") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v INT, f FLOAT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 7, CAST(1.5 AS FLOAT))")
    val filesBefore = SnapshotLog.manifest(
      spark, pathOf(t), SnapshotLog.versions(spark, pathOf(t)).last).toSet
    spark.sql(s"ALTER TABLE $t ALTER COLUMN v TYPE BIGINT")
    spark.sql(s"ALTER TABLE $t ALTER COLUMN f TYPE DOUBLE")
    assert(SnapshotLog.manifest(
      spark, pathOf(t), SnapshotLog.versions(spark, pathOf(t)).last).toSet
      == filesBefore, "widening must be a schema-only commit")
    // beyond-INT values only representable because the widen preceded them
    spark.sql(s"INSERT INTO $t VALUES (2, ${3000000000L}, CAST(2.5 AS DOUBLE))")
    val got = spark.sql(s"SELECT v, f FROM $t ORDER BY id").collect()
    assert(got(0).getLong(0) == 7L && got(1).getLong(0) == 3000000000L)
    assert(got(0).getDouble(1) == 1.5 && got(1).getDouble(1) == 2.5)
    // narrowing and non-widening changes refuse (Spark's up-cast check
    // or our own — either way the declaration stands)
    assert(scala.util.Try(
      spark.sql(s"ALTER TABLE $t ALTER COLUMN v TYPE INT")).isFailure)
    assert(scala.util.Try(
      spark.sql(s"ALTER TABLE $t ALTER COLUMN id TYPE STRING")).isFailure)
  }

  test("a multi-change ALTER validates everything before applying anything") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (a BIGINT, b BIGINT)")
    val cat = spark.sessionState.catalogManager
      .catalog("cattest").asInstanceOf[TableCatalog]
    val ident = Identifier.of(Array("main"), t.split('.').last)
    // first change valid, second invalid: NEITHER may apply
    val e = intercept[IllegalArgumentException](cat.alterTable(
      ident,
      TableChange.renameColumn(Array("a"), "c"),
      TableChange.deleteColumn(Array("nope"), false)))
    assert(e.getMessage.contains("no column"))
    assert(spark.table(t).columns.toSeq == Seq("a", "b"),
      "a failed multi-change ALTER must leave the schema untouched")
    // rename-to-a-name-added-later-in-the-same-ALTER validates in order
    cat.alterTable(
      ident,
      TableChange.renameColumn(Array("a"), "c"),
      TableChange.addColumn(Array("a"), org.apache.spark.sql.types.LongType))
    assert(spark.table(t).columns.toSeq == Seq("c", "b", "a"))
    // but a change TARGETING a column added in the same statement
    // refuses up front (pass 2 batches adds last, so declared order
    // could not be honored)
    val e2 = intercept[UnsupportedOperationException](cat.alterTable(
      ident,
      TableChange.addColumn(Array("z"), org.apache.spark.sql.types.LongType),
      TableChange.renameColumn(Array("z"), "zz")))
    assert(e2.getMessage.contains("same statement"))
    assert(spark.table(t).columns.toSeq == Seq("c", "b", "a"),
      "the refused ALTER must leave the schema untouched")
  }

  test("quarantine-mode DML: a violating UPDATE diverts, never aborts") {
    val t = freshName()
    val short = t.split('.').last
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, price DOUBLE)
         |TBLPROPERTIES ('check' = 'price >= 0',
         |               'check_mode' = 'quarantine')""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    // the UPDATE drives one row below the constraint: on a quarantine
    // table it must land in the dead-letter table, the rest of the DML
    // proceeding — not abort the whole statement (fail-mode behavior)
    spark.sql(s"UPDATE $t SET price = price - 25.0 WHERE id <= 2")
    val kept = spark.sql(s"SELECT id, price FROM $t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(kept.forall(_._2 >= 0) && kept.map(_._1) == List(3L),
      s"main table must keep only passing rows: $kept")
    val quarantined = spark.sql(
      s"SELECT id, price FROM cattest.main.${short}_quarantine ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(quarantined == List((1L, -15.0), (2L, -5.0)),
      s"diverted rewritten rows must be queryable in the dead-letter: $quarantined")
  }

  test("NULL array elements survive the write/read round-trip as NULLs, not zeros") {
    // ARRAY<FLOAT> parses with containsNull=true, so null elements are
    // part of the declared type; the Group-API writer must encode them
    // as empty element groups (never a silent 0) and both readers —
    // Group-API and native vectorized — must surface them as nulls.
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v ARRAY<FLOAT>)")
    spark.sql(
      s"""INSERT INTO $t VALUES
         |(1, array(CAST(1.5 AS FLOAT), NULL, CAST(2.5 AS FLOAT))),
         |(2, array(NULL)),
         |(3, array(CAST(7.0 AS FLOAT)))""".stripMargin)
    val got = spark.sql(s"SELECT v FROM $t ORDER BY id").collect()
      .map(_.getSeq[Any](0).toList).toList
    assert(got == List(List(1.5f, null, 2.5f), List(null), List(7.0f)),
      s"catalog read-back corrupted null elements: $got")
    // native vectorized path agrees (empty element group IS the
    // standard 3-level null encoding)
    val native = SnapshotLog.read(spark, pathOf(t))
      .selectExpr("size(filter(v, x -> x IS NULL))", "id").orderBy("id")
      .collect().map(_.getInt(0)).toList
    assert(native == List(1, 1, 0), s"native reader null counts: $native")
  }

  test("CALL restore rolls a catalog table back to a version, metadata-only") {
    val t = freshName()
    val short = t.stripPrefix("cattest.")
    spark.sql(s"CREATE TABLE $t (id BIGINT)")                     // v1
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 100)")     // v2
    spark.sql(s"INSERT INTO $t SELECT id FROM range(100, 200)")   // v3
    spark.sql(s"DELETE FROM $t WHERE id >= 50 AND id < 150")      // v4: bad write
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 100L)
    val res = spark.sql(
      s"CALL cattest.system.restore(table => '$short', version => 3)").head
    assert(res.getInt(0) == 5 && res.getInt(1) > 0)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 200L)
    // manifest equals v3's verbatim; the bad version stays readable
    val p = pathOf(t)
    assert(SnapshotLog.manifest(spark, p, 5).sorted ==
      SnapshotLog.manifest(spark, p, 3).sorted)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 4").head.getLong(0) == 100L)
  }

  test("unique_key: DDL validation, NULL and in-batch dup refusals") {
    val t = freshName()
    // declaration gates: column must exist and be BIGINT
    val missing = intercept[Exception](spark.sql(
      s"CREATE TABLE $t (id BIGINT) TBLPROPERTIES ('unique_key'='nope')"))
    assert(missing.getMessage.contains("not in the schema"))
    val wrongType = intercept[Exception](spark.sql(
      s"CREATE TABLE $t (id BIGINT, s STRING) " +
        "TBLPROPERTIES ('unique_key'='s')"))
    assert(wrongType.getMessage.contains("BIGINT"))
    spark.sql(
      s"CREATE TABLE $t (id BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('unique_key'='id')")
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 10)")
    val vBefore = SnapshotLog.versions(spark, pathOf(t)).last
    // NULL key refuses
    val nullKey = intercept[Exception](spark.sql(
      s"INSERT INTO $t VALUES (CAST(NULL AS BIGINT), 1)"))
    assert(nullKey.getMessage.contains("NULL"))
    // in-batch duplicate refuses even against an empty overlap
    val inBatch = intercept[Exception](spark.sql(
      s"INSERT INTO $t SELECT 100, id FROM range(0, 2)"))
    assert(inBatch.getMessage.contains("more than once"))
    // neither refusal burned a version or left rows behind
    assert(SnapshotLog.versions(spark, pathOf(t)).last == vBefore)
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 10L)
    // the unique column refuses rename (it is a declared layout claim)
    val ren = intercept[Exception](spark.sql(
      s"ALTER TABLE $t RENAME COLUMN id TO id2"))
    assert(ren.getMessage.contains("unique_key"))
  }

  test("unique_key: MoR-deleted keys are re-insertable (audit sees live rows)") {
    val t = freshName()
    spark.sql(
      s"CREATE TABLE $t (id BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('unique_key'='id')")
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 20)")
    // kill ids 5..9 via deletion vectors: rows stay in the file, dead
    SnapshotLog.deleteWhereMoR(spark, pathOf(t), "id", 5L, 9L)
    // re-inserting a DV-dead key must pass: the audit reads entries
    // with deletion vectors applied, not raw files
    spark.sql(s"INSERT INTO $t VALUES (7, 700)")
    assert(spark.sql(s"SELECT v FROM $t WHERE id = 7").head.getLong(0) == 700L)
    // but a LIVE key in the same DV'd file still refuses
    val live = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (3, 0)"))
    assert(live.getMessage.contains("already exists"))
  }

  test("unique_key: streaming writes refuse loudly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = freshName()
    spark.sql(
      s"CREATE TABLE $t (value BIGINT) TBLPROPERTIES ('unique_key'='value')")
    val ms = MemoryStream[Long]
    val ckpt = Files.createTempDirectory("graft_uniq_stream").toString
    ms.addData(1L)
    val err = intercept[Exception] {
      val q = ms.toDF().writeStream
        .option("checkpointLocation", ckpt).toTable(t)
      try q.processAllAvailable() finally q.stop()
    }
    def chain(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).filter(_ != null).toSeq
    assert(chain(err).exists(_.contains("unique_key")),
      s"expected the unique_key refusal, got: ${chain(err)}")
  }

  test("SET TBLPROPERTIES: layout evolves freely, constraints audit existing data") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v DOUBLE)")
    spark.sql(
      s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE) FROM range(0, 100)")
    // layout claim: future inserts range-cluster; nothing rewritten
    val vBefore = SnapshotLog.versions(spark, pathOf(t)).last
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('sorted_by' = 'id')")
    assert(SnapshotLog.versions(spark, pathOf(t)).last == vBefore,
      "a property write must not burn a data version")
    assert(SnapshotLog.tableProps(spark, pathOf(t))("sorted_by") == "id")
    // ALTER ADD CONSTRAINT semantics: a check the data satisfies lands…
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('check' = 'v >= 0')")
    // …one it violates refuses WITH the witness, and changes nothing
    val bad = intercept[Exception](spark.sql(
      s"ALTER TABLE $t SET TBLPROPERTIES ('check' = 'v < 50')"))
    assert(bad.getMessage.contains("existing row violates"))
    assert(SnapshotLog.tableProps(spark, pathOf(t))("check") == "v >= 0",
      "a refused SET must keep the previous constraint")
    // the landed check now enforces on writes
    val ins = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (200, -1.0)"))
    assert(ins.getMessage.contains("CHECK"))
    // unique_key on existing data: clean data accepts, a dup refuses
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('unique_key' = 'id')")
    val dupIns = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (5, 5.0)"))
    assert(dupIns.getMessage.contains("already exists"))
    // UNSET drops enforcement
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('unique_key')")
    spark.sql(s"INSERT INTO $t VALUES (5, 5.0)")
    assert(spark.sql(s"SELECT count(*) FROM $t WHERE id = 5").head.getLong(0) == 2L)
    // and declaring unique over now-duplicated data refuses
    val dupDecl = intercept[Exception](spark.sql(
      s"ALTER TABLE $t SET TBLPROPERTIES ('unique_key' = 'id')"))
    assert(dupDecl.getMessage.contains("more than once"))
    // property and column changes cannot mix (defense: SQL cannot
    // express the mix, but the catalog API can)
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    val cat = spark.sessionState.catalogManager.catalog("cattest")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val mixed = intercept[Exception](cat.alterTable(
      Identifier.of(Array("main"), t.split('.').last),
      TableChange.setProperty("sorted_by", "v"),
      TableChange.addColumn(Array("z"), org.apache.spark.sql.types.LongType)))
    assert(mixed.getMessage.contains("cannot mix"))
  }

  /** `write_mode = 'merge-on-read'` table with three range shards of
    * id 0..29 (one file per INSERT, tight stats). */
  private def morTable(): (String, String) = {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, v BIGINT)
         |TBLPROPERTIES ('write_mode' = 'merge-on-read')""".stripMargin)
    Seq((0, 10), (10, 20), (20, 30)).foreach { case (lo, hi) =>
      spark.sql(s"INSERT INTO $t SELECT id, id * 10 FROM range($lo, $hi)")
    }
    (t, pathOf(t))
  }

  test("merge-on-read DELETE amends in place: same files, DV riders, no-op burns nothing") {
    val (t, p) = morTable()
    val before = SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last).toSet
    spark.sql(s"DELETE FROM $t WHERE id % 7 = 3") // 3,10,17,24 — every shard
    val v = SnapshotLog.versions(spark, p).last
    assert(SnapshotLog.manifest(spark, p, v).toSet == before,
      "a MoR DELETE must amend entries in place, never move a data file")
    // an INSERT may land >1 file per shard; every file holding a
    // matched row (at least one per shard) must carry a DV rider
    val riders = SnapshotLog.fileRiders(spark, p, v)
    val dvd = riders.count(_._3.isDefined)
    assert(dvd >= 3 && dvd <= riders.size,
      s"every touched shard must carry a DV rider, got $dvd of ${riders.size}")
    assert(spark.sql(s"SELECT id FROM $t ORDER BY id").collect().map(_.getLong(0)).toSet
      == (0L to 29L).toSet -- Set(3L, 10L, 17L, 24L))
    spark.sql(s"DELETE FROM $t WHERE id > 1000")
    assert(SnapshotLog.versions(spark, p).last == v,
      "a no-match MoR DELETE must not burn a version")
  }

  test("merge-on-read UPDATE: one atomic commit, originals live, only new rows appended") {
    val (t, p) = morTable()
    val v0 = SnapshotLog.versions(spark, p).last
    val before = SnapshotLog.manifest(spark, p, v0).toSet
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE id % 10 = 5") // 5,15,25 — every shard
    val v1 = SnapshotLog.versions(spark, p).last
    assert(v1 == v0 + 1, "the delete half and insert half must be ONE commit")
    val after = SnapshotLog.manifest(spark, p, v1).toSet
    assert(before.subsetOf(after) && (after -- before).nonEmpty,
      "MoR UPDATE keeps every original file live and appends the rewritten rows")
    val got = spark.sql(s"SELECT id, v FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.size == 30 && got(5) == 51L && got(15) == 151L && got(25) == 251L
      && got(6) == 60L)
  }

  test("merge-on-read MERGE runs through the delta path; successive DMLs union DVs") {
    val (t, p) = morTable()
    spark.sql(s"DELETE FROM $t WHERE id = 4") // first DV on shard 0
    spark.range(3, 40, 31).createOrReplaceTempView("mor_merge_src") // 3, 34
    spark.sql(
      s"""MERGE INTO $t USING mor_merge_src s ON $t.id = s.id
         |WHEN MATCHED THEN UPDATE SET v = 0
         |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, -1)""".stripMargin)
    val got = spark.sql(s"SELECT id, v FROM $t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(!got.contains(4L), "the merge's new sidecar must UNION the first delete")
    assert(got(3) == 0L && got(34) == -1L && got(2) == 20L && got.size == 30)
    // one merged sidecar per file: the rider count never exceeds files
    val v = SnapshotLog.versions(spark, p).last
    val riders = SnapshotLog.fileRiders(spark, p, v)
    assert(riders.count(_._3.isDefined) >= 1)
  }

  test("change feed of a MoR UPDATE: old rows delete + new rows insert, same version") {
    val (t, p) = morTable()
    val v0 = SnapshotLog.versions(spark, p).last
    spark.sql(s"UPDATE $t SET v = -9 WHERE id IN (7, 13)")
    val v1 = SnapshotLog.versions(spark, p).last
    val feed = SnapshotLog.readChanges(spark, p, v0, v1)
      .select("id", "v", "change_type").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(feed == Set((7L, 70L, "delete"), (13L, 130L, "delete"),
      (7L, -9L, "insert"), (13L, -9L, "insert")),
      s"the feed must compose both halves of the delta commit exactly: $feed")
  }

  test("quarantine-mode MoR UPDATE diverts the violating insert half, never aborts") {
    val t = freshName()
    val short = t.split('.').last
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, price DOUBLE)
         |TBLPROPERTIES ('write_mode' = 'merge-on-read',
         |               'check' = 'price >= 0',
         |               'check_mode' = 'quarantine')""".stripMargin)
    spark.sql(s"INSERT INTO $t VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    spark.sql(s"UPDATE $t SET price = price - 25.0 WHERE id <= 2")
    val kept = spark.sql(s"SELECT id, price FROM $t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(kept == List((3L, 30.0)), s"main must keep only passing rows: $kept")
    val q = spark.sql(
      s"SELECT id, price FROM cattest.main.${short}_quarantine ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toList
    assert(q == List((1L, -15.0), (2L, -5.0)), s"diverted rows: $q")
  }

  test("CALL optimize materializes a MoR-DML'd table's DVs away") {
    val (t, p) = morTable()
    spark.sql(s"DELETE FROM $t WHERE id % 2 = 0")
    spark.sql(s"CALL cattest.system.optimize('main.${t.split('.').last}')")
    val v = SnapshotLog.versions(spark, p).last
    assert(SnapshotLog.fileRiders(spark, p, v).forall(_._3.isEmpty),
      "OPTIMIZE must purge deletion vectors")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 15L)
  }

  private def scanInfo(sql: String): (Int, Int, String) = {
    val plan = spark.sql(sql).queryExecution.executedPlan.toString
    val m = "files=(\\d+)/(\\d+)".r.findFirstMatchIn(plan).getOrElse(
      fail(s"no snapshot scan in plan:\n$plan"))
    (m.group(1).toInt, m.group(2).toInt, plan)
  }

  test("LIMIT plans a live-row-priced file prefix; deletion vectors re-price it") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT NOT NULL, v BIGINT)
         |TBLPROPERTIES ('write_mode' = 'merge-on-read')""".stripMargin)
    Seq((0, 100), (100, 200), (200, 300)).foreach { case (lo, hi) =>
      spark.sql(s"INSERT INTO $t SELECT id, id FROM range($lo, $hi, 1, 1)")
    }
    val (k1, t1, p1) = scanInfo(s"SELECT * FROM $t LIMIT 50")
    assert(t1 == 3 && k1 == 1 && p1.contains("PushedLimit: 50"),
      s"LIMIT 50 over 100-row files must plan one: $k1/$t1")
    // kill half of EVERY file: 50 live rows each, so LIMIT 80 needs two
    // files — pricing from the raw `_rc` (100) would plan one file and
    // under-deliver the limit, so this pins correctness, not just cost
    spark.sql(s"DELETE FROM $t WHERE id % 2 = 0")
    val (k2, t2, _) = scanInfo(s"SELECT * FROM $t LIMIT 80")
    assert(t2 == 3 && k2 == 2, s"DV'd limit must re-price live rows: $k2/$t2")
    assert(spark.sql(s"SELECT * FROM $t LIMIT 80").count() == 80)
  }

  test("top-N pruning stays sound when a deletion vector kills the extremum") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT NOT NULL, v BIGINT)
         |TBLPROPERTIES ('write_mode' = 'merge-on-read')""".stripMargin)
    Seq((0, 100), (100, 200), (200, 300)).foreach { case (lo, hi) =>
      spark.sql(s"INSERT INTO $t SELECT id, id FROM range($lo, $hi, 1, 1)")
    }
    // the stats still say file-3 max=299, but 290..299 are dead: the
    // stale (wider) bound may keep extra files, never lose the answer
    spark.sql(s"DELETE FROM $t WHERE id >= 290")
    val top = spark.sql(s"SELECT id FROM $t ORDER BY id DESC LIMIT 3")
      .collect().map(_.getLong(0)).toSeq
    assert(top == Seq(289L, 288L, 287L), s"DV'd top-n wrong: $top")
    val bottom = spark.sql(s"SELECT id FROM $t ORDER BY id LIMIT 3")
      .collect().map(_.getLong(0)).toSeq
    assert(bottom == Seq(0L, 1L, 2L))
  }

  test("NOT NULL survives appends in the header schema; nullable sort keys refuse top-N") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT NOT NULL, v BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 50, 1, 1)")
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(50, 100, 1, 1)")
    val sch = spark.table(t).schema
    assert(!sch("id").nullable && sch("v").nullable,
      s"declared nullability must survive the append merge: $sch")
    val (_, _, byId) = scanInfo(s"SELECT * FROM $t ORDER BY id LIMIT 3")
    assert(byId.contains("PushedTopN"))
    // v is nullable: footer stats ignore nulls and NULLS FIRST rows
    // would hide from the bound — must refuse to the full scan
    val (kV, tV, byV) = scanInfo(s"SELECT * FROM $t ORDER BY v LIMIT 3")
    assert(!byV.contains("PushedTopN") && kV == tV)
  }

  test("bucketed scans never truncate under LIMIT (the bucket claim covers every group)") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT NOT NULL, v BIGINT)
         |PARTITIONED BY (bucket(4, id))""".stripMargin)
    spark.sql(s"INSERT INTO $t SELECT id, id FROM range(0, 200)")
    val (k, tot, _) = scanInfo(s"SELECT * FROM $t LIMIT 5")
    assert(k == tot, s"bucketed limit must keep every file: $k/$tot")
    assert(spark.sql(s"SELECT * FROM $t LIMIT 5").count() == 5)
  }

  test("write_mode refusals: bad value, and merge-on-read × unique_key both ways") {
    val bad = intercept[Exception](spark.sql(
      s"CREATE TABLE ${freshName()} (id BIGINT) TBLPROPERTIES ('write_mode' = 'mor')"))
    assert(bad.getMessage.contains("write_mode"))
    val both = intercept[Exception](spark.sql(
      s"""CREATE TABLE ${freshName()} (id BIGINT)
         |TBLPROPERTIES ('write_mode' = 'merge-on-read',
         |               'unique_key' = 'id')""".stripMargin))
    assert(both.getMessage.contains("mutually exclusive"))
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT) TBLPROPERTIES ('unique_key' = 'id')")
    val alter = intercept[Exception](spark.sql(
      s"ALTER TABLE $t SET TBLPROPERTIES ('write_mode' = 'merge-on-read')"))
    assert(alter.getMessage.contains("mutually exclusive"))
  }

  test("INSERT OVERWRITE keeps the DECLARED nullability: a non-nullable batch " +
    "cannot flip a nullable column to NOT NULL") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT NOT NULL, v DOUBLE)")
    // literal VALUES analyze non-nullable — committing the batch's
    // nullability through the truncate path recorded v as NOT NULL,
    // and the later NULL insert then failed AssertNotNull
    spark.sql(s"INSERT OVERWRITE $t VALUES (1, 1.5), (2, 2.5)")
    assert(spark.table(t).schema("v").nullable,
      "declared-nullable column must stay nullable through OVERWRITE")
    assert(!spark.table(t).schema("id").nullable,
      "declared NOT NULL must survive the overwrite too")
    spark.sql(s"INSERT INTO $t VALUES (3, CAST(NULL AS DOUBLE))")
    assert(
      spark.sql(s"SELECT count(*) FROM $t WHERE v IS NULL").head.getLong(0) == 1L)
  }

  test("concurrent same-key INSERTs on a unique_key table admit at most one " +
    "(the audit re-runs inside the commit critical section)") {
    val t = freshName()
    spark.sql(
      s"CREATE TABLE $t (id BIGINT) TBLPROPERTIES ('unique_key' = 'id')")
    spark.sql(s"INSERT INTO $t VALUES (1)")
    // two writers race the same fresh key: both audit against the same
    // tip, then commit sequentially through the version race — without
    // the in-lock re-audit both passed and the table ended with a
    // duplicate despite the declared constraint
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    (0 until 3).foreach { round =>
      val k = 100L + round
      val attempts = Seq(
        Future(scala.util.Try(spark.sql(s"INSERT INTO $t VALUES ($k)"))),
        Future(scala.util.Try(spark.sql(s"INSERT INTO $t VALUES ($k)"))))
      val results = Await.result(Future.sequence(attempts), 120.seconds)
      assert(results.exists(_.isSuccess), s"round $round: both inserts failed")
      assert(
        spark.sql(s"SELECT count(*) FROM $t WHERE id = $k").head.getLong(0) == 1L,
        s"round $round: duplicate key admitted")
    }
  }

  test("PARTITIONED BY (a, b): tuple-routed files prune on either column " +
    "alone and narrow further on the conjunction") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, pa BIGINT, pb BIGINT)
         |PARTITIONED BY (pa, pb)""".stripMargin)
    spark.sql(
      s"INSERT INTO $t SELECT id, id % 3 AS pa, id % 2 AS pb FROM range(0, 600)")
    val path = pathOf(t)
    val (keptA, total) = SnapshotLog.prunedFiles(spark, path, "pa", 1, 1)
    val (keptB, _) = SnapshotLog.prunedFiles(spark, path, "pb", 0, 0)
    assert(total >= 6, s"tuple routing must land >=6 value-pure files: $total")
    assert(keptA.size < total && keptB.size < total,
      s"each column must prune alone: ${keptA.size}/${keptB.size} of $total")
    val both = keptA.toSet.intersect(keptB.toSet)
    assert(both.size < keptA.size && both.size < keptB.size,
      s"conjunction must narrow beyond either column: ${both.size}")
    // and the rows are exact through the layout
    assert(
      spark.sql(s"SELECT count(*) FROM $t WHERE pa = 1 AND pb = 0")
        .head.getLong(0) ==
        (0L until 600L).count(i => i % 3 == 1 && i % 2 == 0))
    // a duplicate partition column refuses at DDL (Spark's analyzer
    // catches it first; our catalog guard backs it up for direct API use)
    val dup = intercept[Exception](spark.sql(
      s"CREATE TABLE ${freshName()} (x BIGINT) PARTITIONED BY (x, x)"))
    assert(dup.getMessage.toLowerCase.contains("duplicate"))
    // (transform partitioning — days(ts) etc. — is supported as of
    // this round; its pins live in the days(ts) test below)
  }

  test("PARTITIONED BY (days(ts)): day-pure files prune a one-day probe " +
    "via raw ts stats; hours needs a timestamp; truncate routes prefixes") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, ts TIMESTAMP)
         |PARTITIONED BY (days(ts))""".stripMargin)
    // 6 distinct days, interleaved arrival order (the write must
    // route by day, not by input order)
    spark.sql(
      s"""INSERT INTO $t
         |SELECT id, timestamp'2024-03-01 00:00:00'
         |  + make_interval(0, 0, 0, CAST(id % 6 AS INT), 0, 0, id)
         |FROM range(0, 600)""".stripMargin)
    val path = pathOf(t)
    val lo = java.time.LocalDate.parse("2024-03-03").toEpochDay * 86400000000L
    val (kept, total) = SnapshotLog.prunedFiles(
      spark, path, "ts", lo, lo + 86400000000L - 1)
    assert(total >= 6, s"day routing must land >=6 day-pure files: $total")
    assert(kept.size < total, s"one-day probe must prune: ${kept.size}/$total")
    assert(
      spark.sql(
        s"""SELECT count(*) FROM $t
           |WHERE ts >= timestamp'2024-03-03 00:00:00'
           |  AND ts < timestamp'2024-03-04 00:00:00'""".stripMargin)
        .head.getLong(0) == 100L)
    // truncate(100, id): ranges land value-pure and prune
    val tt = freshName()
    spark.sql(
      s"""CREATE TABLE $tt (id BIGINT, v BIGINT)
         |PARTITIONED BY (truncate(100, id))""".stripMargin)
    spark.sql(s"INSERT INTO $tt SELECT id, id FROM range(0, 500)")
    val (keptT, totalT) = SnapshotLog.prunedFiles(spark, pathOf(tt), "id", 210, 280)
    assert(totalT >= 5 && keptT.size < totalT,
      s"truncate routing must prune: ${keptT.size}/$totalT")
    // hours() over a DATE refuses at DDL
    val e = intercept[Exception](spark.sql(
      s"CREATE TABLE ${freshName()} (d DATE) PARTITIONED BY (hours(d))"))
    assert(e.getMessage.contains("TIMESTAMP"))
  }

  test("count_by: metadata-only day counts stay exact through a MoR delete; " +
    "an impure layout refuses loudly") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, ts TIMESTAMP NOT NULL)
         |PARTITIONED BY (days(ts))
         |TBLPROPERTIES ('write_mode' = 'merge-on-read')""".stripMargin)
    spark.sql(
      s"""INSERT INTO $t
         |SELECT id, timestamp'2024-05-01 00:00:00'
         |  + make_interval(0, 0, 0, CAST(id % 6 AS INT), 0, 0, id)
         |FROM range(0, 600)""".stripMargin)
    val ref = s"main.${t.split('.').last}"
    def counts(): Map[Long, Long] =
      spark.sql(
        s"CALL cattest.system.count_by(table => '$ref', field => 'days(ts)')")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val c1 = counts()
    assert(c1.size == 6 && c1.values.sum == 600L)
    // a MoR DELETE kills rows via deletion vectors: files unchanged,
    // dv-count riders keep the metadata-only answer EXACT
    spark.sql(s"DELETE FROM $t WHERE id % 5 = 0")
    val c2 = counts()
    val real = spark.sql(
      s"""SELECT CAST(CAST(ts AS DATE) - DATE'1970-01-01' AS BIGINT), count(*)
         |FROM $t GROUP BY 1""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2 == real, s"metadata counts must equal the real GROUP BY: $c2 vs $real")
    assert(c2.values.sum == 480L)
    // an UNPARTITIONED table's files span days: refuse, never guess
    val u = freshName()
    spark.sql(s"CREATE TABLE $u (id BIGINT, ts TIMESTAMP)")
    spark.sql(
      s"""INSERT INTO $u
         |SELECT id, timestamp'2024-05-01 00:00:00'
         |  + make_interval(0, 0, 0, CAST(id % 6 AS INT), 0, 0, id)
         |FROM range(0, 100)""".stripMargin)
    val e = intercept[Exception](spark.sql(
      s"CALL cattest.system.count_by(table => 'main.${u.split('.').last}', " +
        "field => 'days(ts)')").collect())
    assert(e.getMessage.contains("partition-pure"))
    // a NULLABLE column refuses even when every file is day-pure:
    // footer stats skip NULLs, so a routed file holding a NULL row
    // would count it into its day and lose the NULL group — only the
    // NOT NULL declaration proves that file cannot exist
    val nn = freshName()
    spark.sql(
      s"""CREATE TABLE $nn (id BIGINT, ts TIMESTAMP)
         |PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql(
      s"""INSERT INTO $nn
         |SELECT id, timestamp'2024-05-01 00:00:00' FROM range(0, 50)""".stripMargin)
    val en = intercept[Exception](spark.sql(
      s"CALL cattest.system.count_by(table => 'main.${nn.split('.').last}', " +
        "field => 'days(ts)')").collect())
    assert(en.getMessage.contains("NOT NULL"),
      s"nullable group column must refuse by name: ${en.getMessage}")
  }

  // (the nullable-group refusal is the SAME declared-NOT-NULL guard
  // count_by pins above — metadataRangeBy shares it verbatim)
  test("range_by: metadata-only per-day extrema; a deletion vector and a " +
    "non-integral measure refuse; OPTIMIZE restores exactness") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, ts TIMESTAMP NOT NULL, v BIGINT,
         |d DOUBLE)
         |PARTITIONED BY (days(ts))
         |TBLPROPERTIES ('write_mode' = 'merge-on-read')""".stripMargin)
    spark.sql(
      s"""INSERT INTO $t
         |SELECT id, timestamp'2024-05-01 00:00:00'
         |  + make_interval(0, 0, 0, CAST(id % 4 AS INT), 0, 0, id),
         |  id * 3 - 100, CAST(id AS DOUBLE)
         |FROM range(0, 400)""".stripMargin)
    val ref = s"main.${t.split('.').last}"
    def ranges(): Map[Long, (Long, Long)] =
      spark.sql(
        s"CALL cattest.system.range_by(table => '$ref', " +
          "field => 'days(ts)', agg => 'v')")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def real(): Map[Long, (Long, Long)] =
      spark.sql(
        s"""SELECT CAST(CAST(ts AS DATE) - DATE'1970-01-01' AS BIGINT),
           |  min(v), max(v) FROM $t GROUP BY 1""".stripMargin)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(ranges() == real() && ranges().size == 4)
    // a DOUBLE measure refuses by type (footer-stat LONG space only)
    val e1 = intercept[Exception](spark.sql(
      s"CALL cattest.system.range_by(table => '$ref', " +
        "field => 'days(ts)', agg => 'd')").collect())
    assert(e1.getMessage.contains("INT/BIGINT"))
    // a MoR DELETE leaves deletion vectors: the extremum may be dead
    spark.sql(s"DELETE FROM $t WHERE id % 5 = 0")
    val e2 = intercept[Exception](ranges())
    assert(e2.getMessage.contains("guess"))
    // OPTIMIZE materializes the DVs away — exact again, through the
    // delete
    spark.sql(s"CALL cattest.system.optimize(table => '$ref')")
    assert(ranges() == real())
  }

  test("column DEFAULTs: CREATE-time defaults fill missing INSERT columns; " +
    "ADD COLUMN DEFAULT serves old rows without rewrite") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, status STRING DEFAULT 'new',
         |score BIGINT DEFAULT 7)""".stripMargin)
    // INSERT naming only id: the analyzer fills declared defaults
    spark.sql(s"INSERT INTO $t (id) VALUES (1), (2)")
    spark.sql(s"INSERT INTO $t VALUES (3, 'done', 9)")
    spark.sql(s"INSERT INTO $t (id, status) VALUES (4, DEFAULT)")
    val rows = spark.sql(s"SELECT id, status, score FROM $t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows == Seq(
      (1L, "new", 7L), (2L, "new", 7L), (3L, "done", 9L), (4L, "new", 7L)))
    // ADD COLUMN with DEFAULT: rows in files that PREDATE the column
    // serve the default (existence fill), zero files rewritten
    val path = pathOf(t)
    val filesBefore = SnapshotLog
      .manifest(spark, path, SnapshotLog.versions(spark, path).last).toSet
    spark.sql(s"ALTER TABLE $t ADD COLUMN tier STRING DEFAULT 'bronze'")
    assert(SnapshotLog
      .manifest(spark, path, SnapshotLog.versions(spark, path).last)
      .toSet == filesBefore, "ADD COLUMN DEFAULT must be metadata-only")
    assert(
      spark.sql(s"SELECT count(*) FROM $t WHERE tier = 'bronze'")
        .head.getLong(0) == 4L,
      "pre-existing rows must serve the ADD-time default, not null")
    // and new inserts keep filling it
    spark.sql(s"INSERT INTO $t (id) VALUES (5)")
    assert(
      spark.sql(s"SELECT status, score, tier FROM $t WHERE id = 5")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .head == (("new", 7L, "bronze")))
    // defaults survive an INSERT OVERWRITE (the truncate path resets
    // the header schema — the declaration must round-trip)
    spark.sql(s"INSERT OVERWRITE $t (id) VALUES (10)")
    assert(
      spark.sql(s"SELECT status, score, tier FROM $t WHERE id = 10")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2)))
        .head == (("new", 7L, "bronze")))
  }

  test("EXISTS_DEFAULT freezes to the DDL-time constant: current_date() " +
    "cannot drift for pre-existing rows") {
    val t = freshName()
    spark.sql(
      s"CREATE TABLE $t (id BIGINT, d DATE DEFAULT current_date())")
    spark.sql(s"INSERT INTO $t (id) VALUES (1)")
    spark.sql(s"ALTER TABLE $t ADD COLUMN d2 DATE DEFAULT current_date()")
    val path = pathOf(t)
    val schema = SnapshotLog
      .tableSchema(spark, path, SnapshotLog.versions(spark, path).last).get
    Seq("d", "d2").foreach { c =>
      val m = schema.fields.find(_.name == c).get.metadata
      // CURRENT_DEFAULT keeps the SQL text — future INSERTs are
      // supposed to re-evaluate it per statement
      assert(m.getString("CURRENT_DEFAULT").toLowerCase.contains("current_date"))
      // EXISTS_DEFAULT is the folded literal: a raw current_date()
      // here would re-evaluate at every read and old rows would
      // drift across midnight
      val ed = m.getString("EXISTS_DEFAULT")
      assert(ed.startsWith("DATE '"),
        s"$c EXISTS_DEFAULT must be a frozen DATE literal, got: $ed")
    }
    // the pre-d2 row serves the frozen date (today, at test time)
    assert(
      spark.sql(s"SELECT count(*) FROM $t WHERE d2 = current_date()")
        .head.getLong(0) == 1L)
  }

  test("named CHECK constraints: ADD enforces, stacking conjoins, DROP releases; " +
    "existing-row violations refuse the ADD") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    spark.sql(s"ALTER TABLE $t ADD CONSTRAINT pos CHECK (v > 0)")
    val e1 = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (3, -5)"))
    assert(e1.getMessage.toLowerCase.contains("check"))
    spark.sql(s"INSERT INTO $t VALUES (3, 30)")
    // a second constraint stacks: both must hold
    spark.sql(s"ALTER TABLE $t ADD CONSTRAINT cap CHECK (v < 100)")
    val e2 = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (4, 500)"))
    assert(e2.getMessage.toLowerCase.contains("check"))
    val e3 = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (4, -1)"))
    assert(e3.getMessage.toLowerCase.contains("check"))
    spark.sql(s"INSERT INTO $t VALUES (4, 40)")
    // an ADD the existing rows violate refuses (Spark pre-validates
    // enforced CHECKs; our catalog scan backs up programmatic calls)
    val e4 = intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD CONSTRAINT tight CHECK (v > 15)"))
    assert(e4.getMessage.contains("existing row violates") ||
      e4.getMessage.contains("violated by existing data"))
    // DROP releases exactly the dropped predicate
    spark.sql(s"ALTER TABLE $t DROP CONSTRAINT cap")
    spark.sql(s"INSERT INTO $t VALUES (5, 500)")
    val e5 = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (6, -1)"))
    assert(e5.getMessage.toLowerCase.contains("check"))
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 5L)
    // unknown name refuses; IF EXISTS is a no-op
    val e6 = intercept[Exception](
      spark.sql(s"ALTER TABLE $t DROP CONSTRAINT nope"))
    assert(e6.getMessage.contains("no constraint"))
    spark.sql(s"ALTER TABLE $t DROP CONSTRAINT IF EXISTS nope")
    // property-declared check and named constraints cannot mix
    val t2 = freshName()
    spark.sql(
      s"CREATE TABLE $t2 (v BIGINT) TBLPROPERTIES ('check' = 'v > 0')")
    val e7 = intercept[Exception](
      spark.sql(s"ALTER TABLE $t2 ADD CONSTRAINT c CHECK (v < 9)"))
    assert(e7.getMessage.contains("mutually exclusive"))
  }

  test("ADD CONSTRAINT re-validates the delta when the tip moved past the " +
    "validated version") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)") // v1
    spark.sql(s"INSERT INTO $t VALUES (1, 10)") // v2
    spark.sql(s"INSERT INTO $t VALUES (2, -5)") // v3 — violates v > 0
    val cat = spark.sessionState.catalogManager
      .catalog("cattest").asInstanceOf[SnapshotCatalog]
    val ident = Identifier.of(Array("main"), t.split('.').last)
    // the caller claims validation AT v2 — the v3 insert was never
    // validated; the catalog must check the delta and refuse
    val ck = Constraint.check("late").predicateSql("v > 0").build()
    val e = intercept[Exception](
      cat.alterTable(ident, TableChange.addConstraint(ck, "2")))
    assert(e.getMessage.contains("existing row violates"))
    // same stale claim with a predicate the delta satisfies: the
    // delta-scoped re-check admits it, and it enforces from then on
    cat.alterTable(ident, TableChange.addConstraint(
      Constraint.check("loose").predicateSql("v > -100").build(), "2"))
    val e2 = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (3, -500)"))
    assert(e2.getMessage.toLowerCase.contains("check"))
    spark.sql(s"INSERT INTO $t VALUES (3, -50)") // within the loose bound
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 3L)
    // the change feed is per-version, not net: a violating insert that
    // a LATER version deleted must NOT refuse a constraint the current
    // table satisfies (the delta hit confirms against live rows)
    spark.sql(s"ALTER TABLE $t DROP CONSTRAINT loose")
    spark.sql(s"INSERT INTO $t VALUES (9, -999)") // violates the coming check
    spark.sql(s"DELETE FROM $t WHERE id = 9") // ...but is gone again
    cat.alterTable(ident, TableChange.addConstraint(
      Constraint.check("net").predicateSql("v > -100").build(), "2"))
    val e3 = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (10, -500)"))
    assert(e3.getMessage.toLowerCase.contains("check"))
  }

  test("ADD CONSTRAINT vs a racing INSERT: a violating write landing between " +
    "validation and the props write rolls the constraint back") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10)")
    // the racing INSERT lands after validation, before the props
    // write: it is neither validated nor enforced (plan-time props
    // predate the constraint) — the old design left a declared
    // constraint standing over a violating row
    graft.sources.SnapshotCatalog.onConstraintValidated.set(() => {
      spark.sql(s"INSERT INTO $t VALUES (2, -7)"): Unit
    })
    try {
      val e = intercept[Exception](
        spark.sql(s"ALTER TABLE $t ADD CONSTRAINT pos CHECK (v > 0)"))
      assert(e.getMessage.contains("rolled back"), e.getMessage)
    } finally graft.sources.SnapshotCatalog.onConstraintValidated.set(() => ())
    // the constraint is GONE — a violating insert sails through — and
    // the racing row survived (refusing it retroactively would lose a
    // committed write)
    spark.sql(s"INSERT INTO $t VALUES (3, -1)")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 3L)
    // a racing insert that SATISFIES the predicate keeps the ADD
    val t2 = freshName()
    spark.sql(s"CREATE TABLE $t2 (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t2 VALUES (1, 10)")
    graft.sources.SnapshotCatalog.onConstraintValidated.set(() => {
      spark.sql(s"INSERT INTO $t2 VALUES (2, 20)"): Unit
    })
    try spark.sql(s"ALTER TABLE $t2 ADD CONSTRAINT pos CHECK (v > 0)")
    finally graft.sources.SnapshotCatalog.onConstraintValidated.set(() => ())
    val e2 = intercept[Exception](spark.sql(s"INSERT INTO $t2 VALUES (3, -5)"))
    assert(e2.getMessage.toLowerCase.contains("check"))
  }

  test("managed-MV serve: a FRESH MV answers the source aggregate with no " +
    "aggregate node; a stale one bails to the source plan; refresh restores " +
    "serving; off-shape queries bail") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10), (1, 20), (2, 5)")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_mv AS
         |SELECT k, sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_mv"
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      val q = s"SELECT k, sum(v) AS s, count(*) AS n FROM $t GROUP BY k"
      val served = plan(q)
      assert(MvRewrite.readsPath(served, mvPath), "fresh MV must serve")
      assert(!served.exists(_.isInstanceOf[Aggregate]),
        "the MV is already at key grain — no aggregate node")
      val rows = org.apache.spark.sql.GraftPlanBridge.ofRows(spark, served)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set((1L, 30L, 2L), (2L, 5L, 1L)))
      // the source moves behind the MV's back: STALE must bail —
      // correctness before speed
      spark.sql(s"INSERT INTO $t VALUES (3, 7)")
      val stale = plan(q)
      assert(!MvRewrite.readsPath(stale, mvPath), "stale MV must not serve")
      assert(stale.exists(_.isInstanceOf[Aggregate]))
      // refresh restores the watermark — serving resumes
      spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_mv")
      assert(MvRewrite.readsPath(plan(q), mvPath), "refresh must restore serving")
      // a TIME-TRAVEL query pinned at an older source version must
      // never see the newer MV content. Round 14 bailed here; round
      // 15 serves it from the OLDER MV VERSION whose committed mvv
      // matches the pin (the ledger is immutable per version) — the
      // invariant is the same: served rows ≡ aggregate(source@pin)
      val tt = plan(
        s"SELECT k, sum(v) AS s, count(*) AS n FROM $t VERSION AS OF 2 GROUP BY k")
      assert(MvRewrite.readsPath(tt, mvPath),
        "the older pinned snapshot must serve from the MATCHING MV version")
      assert(
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, tt)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet == Set((1L, 30L, 2L), (2L, 5L, 1L)),
        "served rows must be the PINNED version's aggregate, not the tip's")
      // a key-only predicate transplants onto the MV read
      assert(MvRewrite.readsPath(
        plan(s"SELECT k, sum(v) AS s FROM $t WHERE k = 1 GROUP BY k"), mvPath))
      // filter on the MEASURE bails (row-level values are gone)
      assert(!MvRewrite.readsPath(
        plan(s"SELECT k, sum(v) AS s FROM $t WHERE v > 0 GROUP BY k"), mvPath))
      // count(v) skips NULLs — only count(*) may serve from mv_n
      assert(!MvRewrite.readsPath(
        plan(s"SELECT k, count(v) AS c FROM $t GROUP BY k"), mvPath))
      // avg is not stored by a sum MV — bail
      assert(!MvRewrite.readsPath(
        plan(s"SELECT k, avg(v) AS a FROM $t GROUP BY k"), mvPath))
      // grouping on a non-key column bails
      assert(!MvRewrite.readsPath(
        plan(s"SELECT v, count(*) AS c FROM $t GROUP BY v"), mvPath))
      // the serve composes with SQL VIEWS: a view expands to its text
      // at parse time, so an aggregate over the view is an aggregate
      // over the source scan — and serves identically
      spark.sql(s"CREATE VIEW cattest.main.${tn}_vw AS SELECT k, v FROM $t")
      assert(MvRewrite.readsPath(
        plan(s"SELECT k, sum(v) AS s, count(*) AS n " +
          s"FROM cattest.main.${tn}_vw GROUP BY k"), mvPath),
        "an aggregate over a view of the source must serve from the MV")
      spark.sql(s"DROP VIEW cattest.main.${tn}_vw")
      // DROP clears the source's reverse pointer — no dangling serve
      spark.sql(s"DROP MATERIALIZED VIEW cattest.main.${tn}_mv")
      assert(!SnapshotLog.tableProps(spark, pathOf(t)).contains("mv_refs"))
      assert(plan(q).exists(_.isInstanceOf[Aggregate]))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("managed-MV serve covers minmax and stats kinds: min/max and " +
    "sum-of-squares map onto the stored columns of the right MV") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10), (1, 30), (2, 5)")
    spark.sql(
      s"""CALL cattest.system.create_mv(source => 'main.$tn',
         |mv => 'main.${tn}_mm', key => 'k', agg => 'v',
         |kind => 'minmax')""".stripMargin)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_st AS
         |SELECT k, sum(v) AS mv_sum, sum(v*v) AS mv_sumsq, count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin)
    val mmPath = s"$warehouse/main/${tn}_mm"
    val stPath = s"$warehouse/main/${tn}_st"
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      val mm = plan(
        s"SELECT k, min(v) AS mn, max(v) AS mx, count(*) AS n FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(mm, mmPath), "min/max must serve the minmax MV")
      assert(!mm.exists(_.isInstanceOf[Aggregate]))
      val mmRows = org.apache.spark.sql.GraftPlanBridge.ofRows(spark, mm)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(mmRows == Set((1L, 10L, 30L, 2L), (2L, 5L, 5L, 1L)))
      val st = plan(
        s"SELECT k, sum(v) AS s, sum(v*v) AS sq FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(st, stPath),
        "sum + sum-of-squares must serve the stats MV")
      val stRows = org.apache.spark.sql.GraftPlanBridge.ofRows(spark, st)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(stRows == Set((1L, 40L, 1000L), (2L, 5L, 25L)))
      // the GLOBAL grain re-aggregates the rollup: sum over per-key
      // sums, count(*) as the sum of per-key counts — and a key-only
      // filter composes with it
      val g = plan(s"SELECT sum(v) AS s, count(*) AS n FROM $t")
      assert(MvRewrite.readsPath(g, stPath), "global sum must serve the stats MV")
      val gRow = org.apache.spark.sql.GraftPlanBridge.ofRows(spark, g).head
      assert((gRow.getLong(0), gRow.getLong(1)) == ((45L, 3L)))
      // count(*) is servable by EITHER kind (both store mv_n) — the
      // first-registered fresh MV wins, here the minmax one
      val gf = plan(s"SELECT count(*) AS n FROM $t WHERE k = 1")
      assert(MvRewrite.readsPath(gf, mmPath) || MvRewrite.readsPath(gf, stPath))
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, gf)
        .head.getLong(0) == 2L)
      // global min from the MINMAX MV re-aggregates its per-key mins
      // (a key filter rides along — it also keeps this off the
      // manifest metadata-pushdown path, which answers the bare
      // global min/max already)
      val gm = plan(s"SELECT min(v) AS mn, max(v) AS mx FROM $t WHERE k >= 1")
      assert(MvRewrite.readsPath(gm, mmPath))
      val gmRow = org.apache.spark.sql.GraftPlanBridge.ofRows(spark, gm).head
      assert((gmRow.getLong(0), gmRow.getLong(1)) == ((5L, 30L)))
      // min/max against the STATS MV alone cannot serve (wrong kind):
      // with the minmax MV dropped, the shape bails to the source
      spark.sql(s"DROP MATERIALIZED VIEW cattest.main.${tn}_mm")
      val bail = plan(s"SELECT k, min(v) AS mn FROM $t GROUP BY k")
      assert(!MvRewrite.readsPath(bail, stPath) && bail.exists(_.isInstanceOf[Aggregate]))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("derived-key (daily) MV serves GROUP BY to_date(ts): no aggregate " +
    "node; stale bails; refresh restores; any residual filter bails") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (ts TIMESTAMP, v BIGINT)")
    spark.sql(
      s"""INSERT INTO $t VALUES
         |(timestamp'2024-06-01 08:00:00', 10),
         |(timestamp'2024-06-01 20:00:00', 30),
         |(timestamp'2024-06-02 09:00:00', 5)""".stripMargin)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_dmv AS
         |SELECT to_date(ts) AS day, sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY to_date(ts)""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_dmv"
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      val q = s"SELECT to_date(ts) AS day, sum(v) AS s, count(*) AS n " +
        s"FROM $t GROUP BY to_date(ts)"
      val served = plan(q)
      assert(MvRewrite.readsPath(served, mvPath), "daily grain must serve")
      assert(!served.exists(_.isInstanceOf[Aggregate]))
      val rows = org.apache.spark.sql.GraftPlanBridge.ofRows(spark, served)
        .collect()
        .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2))).toSet
      assert(rows == Set(("2024-06-01", 40L, 2L), ("2024-06-02", 5L, 1L)))
      // any residual filter bails: a derived key never appears as a
      // source column, so no predicate can transplant
      assert(!MvRewrite.readsPath(
        plan(s"SELECT to_date(ts) AS day, sum(v) AS s FROM $t " +
          "WHERE v > 0 GROUP BY to_date(ts)"), mvPath))
      // stale → bail; refresh → serve again
      spark.sql(s"INSERT INTO $t VALUES (timestamp'2024-06-03 01:00:00', 7)")
      assert(!MvRewrite.readsPath(plan(q), mvPath), "stale daily MV must bail")
      spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_dmv")
      assert(MvRewrite.readsPath(plan(q), mvPath))
      // the GLOBAL grain over a derived-key MV re-aggregates too
      val g = plan(s"SELECT sum(v) AS s, count(*) AS n FROM $t")
      assert(MvRewrite.readsPath(g, mvPath))
      val gRow = org.apache.spark.sql.GraftPlanBridge.ofRows(spark, g).head
      assert((gRow.getLong(0), gRow.getLong(1)) == ((52L, 4L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("derived-key MV: a date-range predicate TRANSPLANTS onto the day " +
    "column (round 15); non-key and nondeterministic predicates bail") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (ts TIMESTAMP, v BIGINT)")
    spark.sql(
      s"""INSERT INTO $t VALUES
         |(timestamp'2024-06-01 08:00:00', 10),
         |(timestamp'2024-06-02 20:00:00', 30),
         |(timestamp'2024-06-03 09:00:00', 5),
         |(timestamp'2024-06-04 01:00:00', 2)""".stripMargin)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_fmv AS
         |SELECT to_date(ts) AS day, sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY to_date(ts)""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_fmv"
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      // >= and < day bounds (the optimizer unwraps both to midnight
      // timestamp atoms) both transplant; result stays exact
      val served = plan(
        s"SELECT to_date(ts) AS day, sum(v) AS s FROM $t " +
          "WHERE to_date(ts) >= DATE'2024-06-02' AND " +
          "to_date(ts) < DATE'2024-06-04' GROUP BY to_date(ts)")
      assert(MvRewrite.readsPath(served, mvPath),
        "day-range predicate must serve from the MV")
      assert(!served.exists(_.isInstanceOf[Aggregate]))
      val rows = org.apache.spark.sql.GraftPlanBridge.ofRows(spark, served)
        .collect().map(r => (r.getDate(0).toString, r.getLong(1))).toSet
      assert(rows == Set(("2024-06-02", 30L), ("2024-06-03", 5L)))
      // a measure predicate cannot transplant: the rollup no longer
      // holds row-level v
      assert(!MvRewrite.readsPath(
        plan(s"SELECT to_date(ts) AS day, sum(v) AS s FROM $t " +
          "WHERE v > 0 GROUP BY to_date(ts)"), mvPath))
      // a NONDETERMINISTIC predicate has an empty reference set — it
      // must bail on determinism, not sneak through the reference
      // check (it would evaluate once per MV group, not per row).
      // 0.5, not a tautology bound: the optimizer FOLDS `rand() < 2`
      // away entirely (rand ∈ [0,1)), which serves legitimately
      assert(!MvRewrite.readsPath(
        plan(s"SELECT to_date(ts) AS day, sum(v) AS s FROM $t " +
          "WHERE rand() < 0.5 GROUP BY to_date(ts)"), mvPath))
      // an OFF-midnight bound splits a day's group — must bail
      assert(!MvRewrite.readsPath(
        plan(s"SELECT to_date(ts) AS day, sum(v) AS s FROM $t " +
          "WHERE ts >= timestamp'2024-06-02 05:00:00' " +
          "GROUP BY to_date(ts)"), mvPath))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("coarse-grain serve: monthly and yearly queries re-aggregate the " +
    "daily MV; month and hour grains create and serve; finer-than-stored " +
    "bails") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (ts TIMESTAMP, v BIGINT)")
    spark.sql(
      s"""INSERT INTO $t VALUES
         |(timestamp'2024-05-31 23:00:00', 1),
         |(timestamp'2024-06-01 08:30:00', 10),
         |(timestamp'2024-06-01 08:45:00', 20),
         |(timestamp'2024-06-15 20:00:00', 30),
         |(timestamp'2025-01-02 09:00:00', 5)""".stripMargin)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_dmv AS
         |SELECT to_date(ts) AS day, sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY to_date(ts)""".stripMargin)
    val dayPath = s"$warehouse/main/${tn}_dmv"
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      // monthly over the daily MV: an Aggregate over the MV scan
      val mon = plan(
        s"SELECT trunc(to_date(ts), 'month') AS mon, sum(v) AS s, " +
          s"count(*) AS n FROM $t GROUP BY trunc(to_date(ts), 'month')")
      assert(MvRewrite.readsPath(mon, dayPath), "month must serve from daily")
      assert(mon.exists(_.isInstanceOf[Aggregate]),
        "coarse grain re-aggregates — an Aggregate node is expected")
      assert(
        run(mon).collect()
          .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
          .toSet ==
          Set(("2024-05-01", 1L, 1L), ("2024-06-01", 60L, 3L),
            ("2025-01-01", 5L, 1L)))
      // yearly composes through the same transplant
      val yr = plan(
        s"SELECT trunc(to_date(ts), 'year') AS y, sum(v) AS s FROM $t " +
          s"GROUP BY trunc(to_date(ts), 'year')")
      assert(MvRewrite.readsPath(yr, dayPath), "year must serve from daily")
      assert(
        run(yr).collect().map(r => (r.getDate(0).toString, r.getLong(1)))
          .toSet == Set(("2024-01-01", 61L), ("2025-01-01", 5L)))
      // a MONTH-grain MV creates via DDL and serves the month query at
      // identity grain (no aggregate at all)...
      spark.sql(
        s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_mmv AS
           |SELECT trunc(to_date(ts), 'month') AS mon, sum(v) AS mv_sum,
           |count(*) AS mv_n
           |FROM $t GROUP BY trunc(to_date(ts), 'month')""".stripMargin)
      val monPath = s"$warehouse/main/${tn}_mmv"
      val monId = plan(
        s"SELECT trunc(to_date(ts), 'month') AS mon, sum(v) AS s FROM $t " +
          s"GROUP BY trunc(to_date(ts), 'month')")
      assert(MvRewrite.readsPath(monId, monPath) ||
        MvRewrite.readsPath(monId, dayPath),
        "month query must serve from a maintained MV")
      // ...but a DAILY query can NEVER serve from the month MV: days
      // are not functions of months. (With both MVs registered the
      // daily MV answers it; the month MV alone must bail — checked
      // via the serve plan still reading the DAY path.)
      val dayQ = plan(
        s"SELECT to_date(ts) AS day, sum(v) AS s FROM $t " +
          s"GROUP BY to_date(ts)")
      assert(MvRewrite.readsPath(dayQ, dayPath) &&
        !MvRewrite.readsPath(dayQ, monPath),
        "finer-than-stored must not serve from the coarser MV")
      // HOUR grain: DDL creates, identity serve fires
      spark.sql(
        s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_hmv AS
           |SELECT date_trunc('hour', ts) AS h, sum(v) AS mv_sum,
           |count(*) AS mv_n
           |FROM $t GROUP BY date_trunc('hour', ts)""".stripMargin)
      val hPath = s"$warehouse/main/${tn}_hmv"
      val hr = plan(
        s"SELECT date_trunc('hour', ts) AS h, sum(v) AS s, count(*) AS n " +
          s"FROM $t GROUP BY date_trunc('hour', ts)")
      assert(MvRewrite.readsPath(hr, hPath), "hour grain must serve")
      assert(!hr.exists(_.isInstanceOf[Aggregate]))
      assert(
        run(hr).collect()
          .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2)))
          .toSet.contains(("2024-06-01 08:00:00.0", 30L, 2L)))
      // COMPOSITION: a day-range filter under a month grouping — the
      // predicate transplants AND the grain re-aggregates, in one plan
      val fm = plan(
        s"SELECT trunc(to_date(ts), 'month') AS mon, sum(v) AS s FROM $t " +
          "WHERE to_date(ts) >= DATE'2024-06-01' " +
          "GROUP BY trunc(to_date(ts), 'month')")
      assert(MvRewrite.readsPath(fm, dayPath),
        "filter + coarse grain must compose")
      assert(
        run(fm).collect().map(r => (r.getDate(0).toString, r.getLong(1)))
          .toSet == Set(("2024-06-01", 60L), ("2025-01-01", 5L)))
      // HAVING sits ABOVE the aggregate — the serve rewrites the
      // aggregate underneath it untouched
      val hv = plan(
        s"SELECT trunc(to_date(ts), 'month') AS mon, sum(v) AS s FROM $t " +
          "GROUP BY trunc(to_date(ts), 'month') HAVING sum(v) > 10")
      // round 17: with BOTH the daily and the month MV admissible,
      // the cheapest-candidate ranking now answers from the MONTH MV
      // (fewer stored rows) — the daily no longer wins on
      // registration order
      assert(MvRewrite.readsPath(hv, monPath), "HAVING must not block serve")
      assert(
        run(hv).collect().map(r => (r.getDate(0).toString, r.getLong(1)))
          .toSet == Set(("2024-06-01", 60L)))
      // refresh keeps all three grains serving after the source moves
      spark.sql(s"INSERT INTO $t VALUES (timestamp'2024-06-20 11:00:00', 7)")
      assert(!MvRewrite.readsPath(plan(
        s"SELECT trunc(to_date(ts), 'month') AS mon, sum(v) AS s FROM $t " +
          s"GROUP BY trunc(to_date(ts), 'month')"), dayPath),
        "stale daily MV must not serve the month query")
      spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_dmv")
      val mon2 = plan(
        s"SELECT trunc(to_date(ts), 'month') AS mon, sum(v) AS s FROM $t " +
          s"GROUP BY trunc(to_date(ts), 'month')")
      assert(MvRewrite.readsPath(mon2, dayPath))
      assert(
        run(mon2).collect().map(r => (r.getDate(0).toString, r.getLong(1)))
          .toSet == Set(("2024-05-01", 1L), ("2024-06-01", 67L),
            ("2025-01-01", 5L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("avg serves from a DECLARED stats MV (trailing count(a) AS mv_nn); " +
    "an undeclared stats MV bails avg but keeps serving sum") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    spark.sql(
      s"INSERT INTO $t VALUES (1, 10), (1, 20), (2, 5), (2, NULL), (3, NULL)")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_avmv AS
         |SELECT k, sum(v) AS mv_sum, sum(v*v) AS mv_sumsq,
         |count(*) AS mv_n, count(v) AS mv_nn
         |FROM $t GROUP BY k""".stripMargin)
    val avPath = s"$warehouse/main/${tn}_avmv"
    assert(
      SnapshotLog.tableProps(spark, pathOf(s"x.y.${tn}_avmv"))
        .get("mv_avg_exact").contains("true"),
      "the trailing mv_nn IS the declaration")
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      val served = plan(
        s"SELECT k, avg(v) AS a, sum(v) AS s FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(served, avPath), "declared avg must serve")
      assert(!served.exists(_.isInstanceOf[Aggregate]))
      val rows = org.apache.spark.sql.GraftPlanBridge.ofRows(spark, served)
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) null else r.getDouble(1),
          if (r.isNullAt(2)) null else r.getLong(2))).toSet
      // group 2 averages over the single non-null 5; group 3 is
      // all-NULL — avg NULL (mv_nn = 0 guarded, no ANSI divide error)
      assert(rows == Set((1L, 15.0, 30L), (2L, 5.0, 5L), (3L, null, null)))
      // the GLOBAL avg re-aggregates sum(mv_sum)/sum(mv_nn)
      val g = plan(s"SELECT avg(v) AS a FROM $t")
      assert(MvRewrite.readsPath(g, avPath))
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, g)
        .head.getDouble(0) == 35.0 / 3)
      // count(v) — the NON-NULL count — serves from mv_nn too (exact
      // under any re-association, no declaration needed)
      val cv = plan(s"SELECT k, count(v) AS nn FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(cv, avPath), "count(measure) must serve")
      assert(!cv.exists(_.isInstanceOf[Aggregate]))
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, cv)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 2L), (2L, 1L), (3L, 0L)))
      // an UNDECLARED stats MV must bail avg (fractional doubles are
      // order-sensitive; only the declaration buys exactness) while
      // sum keeps serving
      val u = freshName()
      val un = u.split('.').last
      spark.sql(s"CREATE TABLE $u (k BIGINT, v BIGINT)")
      spark.sql(s"INSERT INTO $u VALUES (1, 10), (1, 20)")
      spark.sql(
        s"""CREATE MATERIALIZED VIEW cattest.main.${un}_stmv AS
           |SELECT k, sum(v) AS mv_sum, sum(v*v) AS mv_sumsq,
           |count(*) AS mv_n
           |FROM $u GROUP BY k""".stripMargin)
      val stPath = s"$warehouse/main/${un}_stmv"
      assert(!MvRewrite.readsPath(
        plan(s"SELECT k, avg(v) AS a FROM $u GROUP BY k"), stPath),
        "undeclared avg must bail")
      assert(MvRewrite.readsPath(
        plan(s"SELECT k, sum(v) AS s FROM $u GROUP BY k"), stPath))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("historical-aware cheapest-candidate ranking (round 18): a VERSION " +
    "AS OF query ranks candidates by their size AT THE RESOLVED MV " +
    "version, so tip sizes and historical sizes can invert the choice") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (mon BIGINT, day BIGINT, k2 BIGINT, v BIGINT)")
    // phase 1: 40 distinct days across 2 months, ONE k2 value —
    // A=(mon,day) is 40 rows, B=(mon,k2) is 2 rows
    spark.sql(
      s"""INSERT INTO $t
         |SELECT id DIV 20, id, 0, id * 10 FROM range(1, 41)""".stripMargin)
    val srcV1 = SnapshotLog.versions(spark, pathOf(t)).last
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_a AS
         |SELECT mon, day, sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY mon, day""".stripMargin)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_b AS
         |SELECT mon, k2, sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY mon, k2""".stripMargin)
    val pA = s"$warehouse/main/${tn}_a"
    val pB = s"$warehouse/main/${tn}_b"
    // phase 2: delete all but 2 days, then fan k2 out to ~50 values —
    // at the TIP the sizes flip: A is 2 rows, B is ~51
    spark.sql(s"DELETE FROM $t WHERE day > 2")
    spark.sql(
      s"""INSERT INTO $t
         |SELECT 0, 1, id, id FROM range(1, 51)""".stripMargin)
    spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_a")
    spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_b")
    val rule = MvRollupRewriteRule(spark)
    // ground truths BEFORE arming the conf (SURVEY §5.6)
    val expTip = spark.sql(
      s"SELECT mon, sum(v) AS s FROM $t GROUP BY mon").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expOld = spark.sql(
      s"SELECT mon, sum(v) AS s FROM $t VERSION AS OF $srcV1 GROUP BY mon")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      // tip: A (2 rows) beats B (~51 rows)
      val tip = plan(s"SELECT mon, sum(v) AS s FROM $t GROUP BY mon")
      assert(MvRewrite.readsPath(tip, pA) && !MvRewrite.readsPath(tip, pB),
        "at the tip the 2-row candidate must win")
      assert(run(tip).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == expTip)
      // VERSION AS OF phase 1: A@old is 40 rows, B@old is 2 — the
      // ranking must use the RESOLVED versions' sizes (tip ranking
      // would wrongly pick A)
      val old = plan(
        s"SELECT mon, sum(v) AS s FROM $t VERSION AS OF $srcV1 GROUP BY mon")
      assert(MvRewrite.readsPath(old, pB) && !MvRewrite.readsPath(old, pA),
        "the historical query must rank by the resolved versions' sizes")
      assert(run(old).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == expOld)
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("VERSION AS OF serves from the MV version whose committed watermark " +
    "matches the pinned source version — not just the tip") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)") // v1
    spark.sql(s"INSERT INTO $t VALUES (1, 10), (2, 5)") // v2
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_hsv AS
         |SELECT k, sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin) // MV v1, mvv=2
    spark.sql(s"INSERT INTO $t VALUES (1, 100), (3, 7)") // v3
    spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_hsv")
    // MV v2, mvv=3
    val mvPath = s"$warehouse/main/${tn}_hsv"
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      // the tip query serves from MV v2 (tip behavior unchanged)
      val tip = plan(s"SELECT k, sum(v) AS s FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(tip, mvPath))
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, tip)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 110L), (2L, 5L), (3L, 7L)))
      // the HISTORICAL query pins source v2 → serves from MV VERSION 1
      // (its committed mvv=2), even though the MV tip is at mvv=3
      val hist = plan(
        s"SELECT k, sum(v) AS s FROM $t VERSION AS OF 2 GROUP BY k")
      assert(MvRewrite.readsPath(hist, mvPath),
        "a past source version with a matching MV watermark must serve")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, hist)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 10L), (2L, 5L)),
        "the served rows must be the OLD MV version's content")
      // a source version NO MV version ever folded (the schema-only
      // v1) still bails
      assert(!MvRewrite.readsPath(
        plan(s"SELECT k, sum(v) AS s FROM $t VERSION AS OF 1 GROUP BY k"),
        mvPath))
      // HARDENING: a direct INSERT INTO the MV is a data-changing
      // commit with NO mvv header — it truncates the serve span, so
      // the polluted version can never serve; the version BELOW it is
      // still exactly the fold and keeps serving
      spark.sql(s"INSERT INTO cattest.main.${tn}_hsv VALUES (9, 999, 1)")
      val afterForeign = plan(s"SELECT k, sum(v) AS s FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(afterForeign, mvPath),
        "the pre-pollution MV version must keep serving the tip")
      assert(
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, afterForeign)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
          Set((1L, 110L), (2L, 5L), (3L, 7L)),
        "the foreign row must NEVER surface in a served answer")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("composite-key MV: the full grain serves 1:1 in any key order, a " +
    "key SUBSET re-aggregates, a one-key filter transplants, and non-key " +
    "groupings bail") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, s STRING, v BIGINT)")
    spark.sql(
      s"""INSERT INTO $t VALUES
         |(1, 'a', 10), (1, 'b', 20), (2, 'a', 5), (2, 'a', 3)""".stripMargin)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_cmv AS
         |SELECT k, s, sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY k, s""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_cmv"
    assert(
      SnapshotLog.tableProps(spark, pathOf(s"x.y.${tn}_cmv"))("mv_key")
        == "k,s")
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      // full grain, REVERSED key order: identity, no aggregate node
      val full = plan(
        s"SELECT s, k, sum(v) AS sv, count(*) AS n FROM $t GROUP BY s, k")
      assert(MvRewrite.readsPath(full, mvPath), "full grain must serve")
      assert(!full.exists(_.isInstanceOf[Aggregate]))
      assert(run(full).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet ==
        Set(("a", 1L, 10L, 1L), ("b", 1L, 20L, 1L), ("a", 2L, 8L, 2L)))
      // key SUBSET: re-aggregates (sum of sums) over the MV
      val sub = plan(s"SELECT k, sum(v) AS sv FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(sub, mvPath), "subset grain must serve")
      assert(sub.exists(_.isInstanceOf[Aggregate]))
      assert(run(sub).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == Set((1L, 30L), (2L, 8L)))
      // the other subset too, with a filter on the FIRST key
      val sub2 = plan(
        s"SELECT s, count(*) AS n FROM $t WHERE k = 1 GROUP BY s")
      assert(MvRewrite.readsPath(sub2, mvPath))
      assert(run(sub2).collect().map(r => (r.getString(0), r.getLong(1)))
        .toSet == Set(("a", 1L), ("b", 1L)))
      // GLOBAL over the composite MV
      val g = plan(s"SELECT sum(v) AS sv, count(*) AS n FROM $t")
      assert(MvRewrite.readsPath(g, mvPath))
      assert(run(g).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((38L, 4L)))
      // a grouping OUTSIDE the key set bails
      assert(!MvRewrite.readsPath(
        plan(s"SELECT v, count(*) AS n FROM $t GROUP BY v"), mvPath))
      // refresh keeps the composite fold exact through an append
      spark.sql(s"INSERT INTO $t VALUES (1, 'a', 100), (3, 'c', 9)")
      assert(!MvRewrite.readsPath(
        plan(s"SELECT k, sum(v) AS sv FROM $t GROUP BY k"), mvPath),
        "stale composite MV must bail")
      spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_cmv")
      val sub3 = plan(s"SELECT k, sum(v) AS sv FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(sub3, mvPath))
      assert(run(sub3).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == Set((1L, 130L), (2L, 8L), (3L, 9L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("multi-measure MV: one rollup maintains several measures; a query " +
    "asking for all of them serves 1:1; refresh folds every measure; " +
    "off-list measures bail") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, a BIGINT, b BIGINT, c BIGINT)")
    spark.sql(
      s"INSERT INTO $t VALUES (1, 10, 1, 7), (1, 20, 2, 7), (2, 5, 3, 7)")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_mm AS
         |SELECT k, sum(a) AS mv_sum_a, sum(b) AS mv_sum_b,
         |count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_mm"
    assert(
      SnapshotLog.tableProps(spark, pathOf(s"x.y.${tn}_mm"))("mv_agg")
        == "a,b")
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      val served = plan(
        s"SELECT k, sum(a) AS sa, sum(b) AS sb, count(*) AS n " +
          s"FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(served, mvPath), "both sums must serve")
      assert(!served.exists(_.isInstanceOf[Aggregate]))
      assert(run(served).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet == Set((1L, 30L, 3L, 2L), (2L, 5L, 3L, 1L)))
      // one of the two also serves alone, and GLOBAL re-aggregates both
      assert(MvRewrite.readsPath(
        plan(s"SELECT k, sum(b) AS sb FROM $t GROUP BY k"), mvPath))
      val g = plan(s"SELECT sum(a) AS sa, sum(b) AS sb FROM $t")
      assert(MvRewrite.readsPath(g, mvPath))
      assert(run(g).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((35L, 6L)))
      // a measure the MV does not store bails
      assert(!MvRewrite.readsPath(
        plan(s"SELECT k, sum(c) AS sc FROM $t GROUP BY k"), mvPath))
      // the refresh folds EVERY measure
      spark.sql(s"INSERT INTO $t VALUES (2, 100, 50, 7), (3, 1, 2, 7)")
      spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_mm")
      val after = plan(
        s"SELECT k, sum(a) AS sa, sum(b) AS sb FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(after, mvPath))
      assert(run(after).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
        Set((1L, 30L, 3L), (2L, 105L, 53L), (3L, 1L, 2L)))
      // multi-measure MINMAX via DDL: per-measure min/max pairs
      val u = freshName()
      val un = u.split('.').last
      spark.sql(s"CREATE TABLE $u (k BIGINT, a BIGINT, b BIGINT)")
      spark.sql(s"INSERT INTO $u VALUES (1, 10, 9), (1, 3, 20), (2, 5, 1)")
      spark.sql(
        s"""CREATE MATERIALIZED VIEW cattest.main.${un}_mmx AS
           |SELECT k, min(a) AS mv_min_a, max(a) AS mv_max_a,
           |min(b) AS mv_min_b, max(b) AS mv_max_b, count(*) AS mv_n
           |FROM $u GROUP BY k""".stripMargin)
      val mmxPath = s"$warehouse/main/${un}_mmx"
      val mm = plan(
        s"SELECT k, min(a) AS mna, max(b) AS mxb FROM $u GROUP BY k")
      assert(MvRewrite.readsPath(mm, mmxPath))
      assert(run(mm).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
        Set((1L, 3L, 20L), (2L, 5L, 1L)))
      // wrong aliases refuse loudly at CREATE
      val e = intercept[Exception](spark.sql(
        s"""CREATE MATERIALIZED VIEW cattest.main.${un}_bad AS
           |SELECT k, sum(a) AS mv_sum, sum(b) AS mv_sum_b,
           |count(*) AS mv_n FROM $u GROUP BY k""".stripMargin))
      assert(e.getMessage.contains("shapes"))
      // the CALL surface mirrors the DDL: key_expr + avg_exact flow
      // through to the same createMv (a daily declared-avg stats MV)
      val w = freshName()
      val wn = w.split('.').last
      spark.sql(s"CREATE TABLE $w (ts TIMESTAMP, v BIGINT)")
      spark.sql(
        s"""INSERT INTO $w VALUES
           |(timestamp'2024-06-01 08:00:00', 10),
           |(timestamp'2024-06-01 20:00:00', 30)""".stripMargin)
      spark.sql(
        s"""CALL cattest.system.create_mv(source => 'main.$wn',
           |mv => 'main.${wn}_dav', key => 'day', agg => 'v',
           |kind => 'stats', key_expr => 'to_date(ts)',
           |avg_exact => true)""".stripMargin)
      val props =
        SnapshotLog.tableProps(spark, pathOf(s"x.y.${wn}_dav"))
      assert(props.get("mv_key_expr").contains("to_date(ts)") &&
        props.get("mv_avg_exact").contains("true"))
      val dav = plan(
        s"SELECT to_date(ts) AS day, avg(v) AS a FROM $w " +
          s"GROUP BY to_date(ts)")
      assert(MvRewrite.readsPath(dav, s"$warehouse/main/${wn}_dav"),
        "avg over the CALL-created daily declared MV must serve")
      assert(run(dav).collect()
        .map(r => (r.getDate(0).toString, r.getDouble(1))).toSet ==
        Set(("2024-06-01", 20.0)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("CREATE/REFRESH/DROP MATERIALIZED VIEW: the SQL spelling of the " +
    "managed MV, with loud refusals off the maintainable shapes") {
    val t = freshName()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10), (1, 20), (2, 5)")
    val mv = freshName()
    val created = spark.sql(
      s"""CREATE MATERIALIZED VIEW $mv AS
         |SELECT k, sum(v) AS mv_sum, count(*) AS mv_n FROM $t GROUP BY k""".stripMargin)
      .head
    assert(created.getInt(0) == 2, s"as-of version, got $created")
    assert(
      spark.sql(s"SELECT * FROM $mv ORDER BY k").collect().map(_.toSeq).toSeq ==
        Seq(Seq(1L, 30L, 2L), Seq(2L, 5L, 1L)))
    // the source moves; REFRESH folds only the change feed
    spark.sql(s"INSERT INTO $t VALUES (2, 7), (3, 1)")
    val r = spark.sql(s"REFRESH MATERIALIZED VIEW $mv").head
    assert(r.getInt(1) > r.getInt(0), s"refresh must advance, got $r")
    assert(
      spark.sql(s"SELECT * FROM $mv ORDER BY k").collect().map(_.toSeq).toSeq ==
        Seq(Seq(1L, 30L, 2L), Seq(2L, 12L, 2L), Seq(3L, 1L, 1L)))
    // the other two maintainable shapes parse to their kinds
    val mm = freshName()
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $mm AS
         |SELECT k, min(v) AS mv_min, max(v) AS mv_max, count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin)
    assert(SnapshotLog.tableProps(spark, pathOf(mm))("mv_kind") == "minmax")
    val st = freshName()
    spark.sql(
      s"""CREATE MATERIALIZED VIEW $st AS
         |SELECT k, sum(v) AS mv_sum, sum(v * v) AS mv_sumsq,
         |count(*) AS mv_n FROM $t GROUP BY k""".stripMargin)
    assert(SnapshotLog.tableProps(spark, pathOf(st))("mv_kind") == "stats")
    // off-shape rollups refuse LOUDLY, naming the three shapes
    val e1 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW ${freshName()} AS " +
        s"SELECT k, avg(v) AS mv_avg FROM $t GROUP BY k"))
    assert(e1.getMessage.contains("Incrementally-maintainable"))
    val e2 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW ${freshName()} AS " +
        s"SELECT k, sum(v) AS total, count(*) AS n FROM $t GROUP BY k"))
    assert(e2.getMessage.contains("Incrementally-maintainable"))
    // DROP MATERIALIZED VIEW means what it says: a plain table refuses
    val e3 = intercept[Exception](spark.sql(s"DROP MATERIALIZED VIEW $t"))
    assert(e3.getMessage.contains("plain table"))
    spark.sql(s"DROP MATERIALIZED VIEW $mv")
    assert(!spark.catalog.tableExists(mv))
    spark.sql(s"DROP MATERIALIZED VIEW IF EXISTS $mv") // absent: no-op
  }

  test("DDL multi-expression MV (round 18): sum(<expr>) AS mv_sum_<name> " +
    "items in the CREATE select list declare several derived measures in " +
    "one rollup; each serves alone and together; the bail matrix refuses " +
    "adjacent spellings loudly") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, a BIGINT, b BIGINT, c BIGINT)")
    spark.sql(
      s"INSERT INTO $t VALUES (1, 10, 3, 7), (1, 20, 4, 8), (2, 5, 5, 9)")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_mx AS
         |SELECT k, sum(a * b) AS mv_sum_rev, sum(c % 5) AS mv_sum_cm,
         |sum(a) AS mv_sum_a, count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_mx"
    val props = SnapshotLog.tableProps(spark, pathOf(s"x.y.${tn}_mx"))
    assert(props("mv_agg") == "rev,cm,a")
    assert(props.get("mv_agg_expr_rev")
      .exists(_.replace(" ", "").contains("a*b")))
    assert(props.contains("mv_agg_expr_cm"))
    assert(!props.contains("mv_agg_expr_a"), "plain column has no expr prop")
    // the refresh folds all three measures (derived re-derived over
    // the delta)
    spark.sql(s"INSERT INTO $t VALUES (2, 2, 10, 11), (3, 1, 1, 4)")
    spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_mx")
    val rule = MvRollupRewriteRule(spark)
    // ground truth BEFORE arming the conf (SURVEY §5.6)
    val expected = spark.sql(
      s"SELECT k, sum(a * b) AS rev, sum(c % 5) AS cm, sum(a) AS sa " +
        s"FROM $t GROUP BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      val all = plan(
        s"SELECT k, sum(a * b) AS rev, sum(c % 5) AS cm, sum(a) AS sa " +
          s"FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(all, mvPath), "all three must serve")
      assert(run(all).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet == expected)
      // each derived measure serves ALONE too
      assert(MvRewrite.readsPath(
        plan(s"SELECT k, sum(a * b) AS rev FROM $t GROUP BY k"), mvPath))
      assert(MvRewrite.readsPath(
        plan(s"SELECT k, sum(c % 5) AS cm FROM $t GROUP BY k"), mvPath))
      assert(MvRewrite.readsPath(
        plan(s"SELECT k, sum(a) AS sa FROM $t GROUP BY k"), mvPath))
      // an expression the MV does NOT store bails
      assert(!MvRewrite.readsPath(
        plan(s"SELECT k, sum(a * c) AS x FROM $t GROUP BY k"), mvPath))
    } finally spark.conf.unset(MvRewrite.ConfKey)
    // --- bail matrix (SURVEY §5.6): adjacent spellings refuse at CREATE
    // duplicate stored names
    val e1 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW ${freshName()} AS " +
        s"SELECT k, sum(a * b) AS mv_sum_x, sum(a + b) AS mv_sum_x, " +
        s"count(*) AS mv_n FROM $t GROUP BY k"))
    assert(e1.getMessage.contains("shapes"))
    // empty alias suffix
    val e2 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW ${freshName()} AS " +
        s"SELECT k, sum(a * b) AS mv_sum_, count(*) AS mv_n " +
        s"FROM $t GROUP BY k"))
    assert(e2.getMessage.contains("shapes"))
    // a plain column NOT in the mv_sum_<col> convention
    val e3 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW ${freshName()} AS " +
        s"SELECT k, sum(a) AS mv_sum, sum(a * b) AS mv_sum_rev, " +
        s"count(*) AS mv_n FROM $t GROUP BY k"))
    assert(e3.getMessage.contains("shapes"))
    // a derived name colliding with a source column (createMv's guard)
    val e4 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW ${freshName()} AS " +
        s"SELECT k, sum(a * b) AS mv_sum_c, sum(a) AS mv_sum_a, " +
        s"count(*) AS mv_n FROM $t GROUP BY k"))
    assert(e4.getMessage.contains("collides"))
    // expression measures stay single-table: the join form refuses
    val d = freshName()
    val dn = d.split('.').last
    spark.sql(s"CREATE TABLE $d (pk BIGINT, attr STRING)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'x'), (2, 'y')")
    val e5 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW ${freshName()} AS " +
        s"SELECT d.attr, sum(f.a * f.b) AS mv_sum_rev, count(*) AS mv_n " +
        s"FROM $t AS f JOIN cattest.main.$dn AS d ON f.k = d.pk " +
        s"GROUP BY d.attr"))
    assert(e5.getMessage.contains("shapes") ||
      e5.getMessage.contains("single-table"))
    // nn declarations do not combine with the multi-expression form
    val e6 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW ${freshName()} AS " +
        s"SELECT k, sum(a * b) AS mv_sum_rev, sum(a) AS mv_sum_a, " +
        s"count(a) AS mv_nn_a, count(*) AS mv_n FROM $t GROUP BY k"))
    assert(e6.getMessage.contains("shapes"))
  }

  test("GROUP BY a pure partition column pushes the whole count down: " +
    "zero data files opened, exact through MoR deletes") {
    val t = freshName()
    val short = t.stripPrefix("cattest.")
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, region BIGINT NOT NULL)
         |PARTITIONED BY (region)
         |TBLPROPERTIES ('write_mode' = 'merge-on-read')""".stripMargin)
    spark.sql(
      s"INSERT INTO $t SELECT id, id % 5 FROM range(0, 1000)")
    spark.sql(
      s"INSERT INTO $t SELECT id, id % 5 FROM range(1000, 1500)")
    val q = spark.sql(s"SELECT region, count(*) AS n FROM $t GROUP BY region")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("metadata-only"),
      s"GROUP BY count must serve from the manifest:\n$plan")
    assert(
      q.orderBy("region").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        (0L to 4L).map(v => (v, 300L)))
    // a MoR delete subtracts per file — the metadata count stays exact
    spark.sql(s"DELETE FROM $t WHERE id % 10 = 3")
    val q2 = spark.sql(s"SELECT region, count(*) AS n FROM $t GROUP BY region")
    assert(q2.queryExecution.executedPlan.toString.contains("metadata-only"))
    val expect = spark.sql(
      s"SELECT region, count(*) FROM $t GROUP BY region ORDER BY region")
    assert(
      q2.orderBy("region").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((0L, 300L), (1L, 300L), (2L, 300L), (3L, 150L), (4L, 300L)))
    // a filter disqualifies (residual rows would make the count a
    // guess): the ordinary distributed aggregate answers instead
    val q3 = spark.sql(
      s"SELECT region, count(*) AS n FROM $t WHERE id > 10 GROUP BY region")
    assert(!q3.queryExecution.executedPlan.toString.contains("metadata-only"))
    // 1350 live rows minus the 10 surviving ids in [0,10] (id=3 is DV-dead)
    assert(q3.collect().map(_.getLong(1)).sum == 1340L)
    // a NULLABLE grouping column refuses: footer stats skip nulls, so a
    // file holding [5, 5, NULL] looks pure while its row count hides
    // the NULL group — only the declaration proves that cannot happen
    val tn = freshName()
    spark.sql(s"CREATE TABLE $tn (id BIGINT, region BIGINT)")
    spark.sql(s"INSERT INTO $tn VALUES (1, 5), (2, 5), (3, NULL)")
    val qn = spark.sql(s"SELECT region, count(*) AS n FROM $tn GROUP BY region")
    assert(!qn.queryExecution.executedPlan.toString.contains("metadata-only"))
    assert(
      qn.collect().map(r =>
        (if (r.isNullAt(0)) -1L else r.getLong(0)) -> r.getLong(1)).toMap ==
        Map(5L -> 2L, -1L -> 1L))
  }

  test("GROUP BY min/max pushdown bails under a deletion vector while the " +
    "count-only form stays metadata-only; both stay correct") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, region BIGINT NOT NULL, v BIGINT)
         |PARTITIONED BY (region)
         |TBLPROPERTIES ('write_mode' = 'merge-on-read')""".stripMargin)
    spark.sql(
      s"INSERT INTO $t SELECT id, id % 4, id * 7 - 50 FROM range(0, 400)")
    def run(q: String): (Boolean, Seq[Seq[Long]]) = {
      val df = spark.sql(q)
      (df.queryExecution.executedPlan.toString.contains("metadata-only"),
        df.collect().toSeq.map(r => r.toSeq.map(_.asInstanceOf[Long])))
    }
    val qr = s"SELECT region, min(v), max(v), count(*) FROM $t " +
      "GROUP BY region ORDER BY region"
    val qc = s"SELECT region, count(*) FROM $t GROUP BY region ORDER BY region"
    val (m1, r1) = run(qr)
    assert(m1, "pure insert-only layout must answer min/max/count from riders")
    // a MoR DELETE leaves DVs: the dead row may BE the extremum, so
    // the min/max form must fall back to the scan — and still be right
    spark.sql(s"DELETE FROM $t WHERE id % 5 = 0")
    val (m2, r2) = run(qr)
    assert(!m2, "min/max under a DV must not serve from riders")
    assert(r2.map(_.head).toSet == r1.map(_.head).toSet,
      "the fallback scan must still serve every group")
    assert(r2.map(_.last).sum == 320L, "the fallback counts see the deletes")
    // the count-only form keeps the metadata path: `_rc − _dvc`
    // riders stay exact through DVs
    val (m3, r3) = run(qc)
    assert(m3, "count-only must stay metadata-only through a MoR delete")
    assert(r3.map(_.last).sum == 400L - 80L)
  }

  test("CALL vacuum dry_run previews the reclamation without touching a file") {
    val t = freshName()
    val short = t.stripPrefix("cattest.")
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 10)")
    // plant an orphan straggler (a crashed writer's landed file)
    val orphan = new java.io.File(pathOf(t), "stray.parquet")
    assert(orphan.createNewFile())
    assert(orphan.setLastModified(System.currentTimeMillis() - 2 * 60 * 60 * 1000))
    val dry = spark.sql(
      s"""CALL cattest.system.vacuum(table => '$short',
         |  older_than_ms => 0L, dry_run => true)""".stripMargin).head
    assert(dry.getInt(0) == 1 && dry.getBoolean(1))
    assert(dry.getString(2).contains("stray.parquet"))
    assert(orphan.exists(), "dry run must not delete anything")
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 10L)
    // the real pass reclaims exactly what the preview named
    val real = spark.sql(
      s"CALL cattest.system.vacuum(table => '$short', older_than_ms => 0L)").head
    assert(real.getInt(0) == 1 && !real.getBoolean(1))
    assert(!orphan.exists(), "real vacuum must reclaim the straggler")
    // expire dry_run: counts what WOULD go, leaves files AND the
    // retention horizon untouched (a preview must not expire time travel)
    spark.sql(s"INSERT INTO $t SELECT id FROM range(10, 20)")
    spark.sql(s"INSERT OVERWRITE $t SELECT id FROM range(0, 5)")
    val dryE = spark.sql(
      s"""CALL cattest.system.expire(table => '$short', keep_last => 1,
         |  dry_run => true)""".stripMargin).head
    assert(dryE.getInt(0) > 0, "preview should name the dead files")
    val horizonBefore = dryE.getInt(1)
    // every version still time-travels after the preview
    assert(SnapshotLog.versions(spark, pathOf(t)).size >= 3)
    assert(
      spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 2").head.getLong(0) == 10L)
    val realE = spark.sql(
      s"CALL cattest.system.expire(table => '$short', keep_last => 1)").head
    assert(realE.getInt(0) == dryE.getInt(0),
      "real expire must reclaim exactly what the preview counted")
    assert(realE.getInt(1) > horizonBefore, "the horizon advances only for real")
  }

  test("SHOW CREATE TABLE round-trips schema, layout, and properties") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, region STRING, v DOUBLE)
         |TBLPROPERTIES ('sorted_by' = 'id')""".stripMargin)
    val ddl = spark.sql(s"SHOW CREATE TABLE $t").head.getString(0)
    assert(ddl.contains("CREATE TABLE"))
    assert(ddl.contains("id BIGINT") && ddl.contains("region STRING"))
    assert(ddl.contains("sorted_by") && ddl.contains("'id'"))
    // a bucketed layout shows its transform
    val b = freshName()
    spark.sql(
      s"CREATE TABLE $b (k BIGINT, v DOUBLE) PARTITIONED BY (bucket(8, k))")
    val bddl = spark.sql(s"SHOW CREATE TABLE $b").head.getString(0)
    assert(bddl.toLowerCase.contains("bucket"), bddl)
  }

  test("OPTIMIZE on a partition-declared table compacts WITHIN values: " +
    "purity (and the metadata-only count) survives") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, ts TIMESTAMP NOT NULL)
         |PARTITIONED BY (days(ts))""".stripMargin)
    // three small inserts: each lands one file per day → 3 files/day
    (0 until 3).foreach(i =>
      spark.sql(
        s"""INSERT INTO $t
           |SELECT id, timestamp'2024-07-01 00:00:00'
           |  + make_interval(0, 0, 0, CAST(id % 4 AS INT), 0, 0, id)
           |FROM range(${i * 100}, ${i * 100 + 100})""".stripMargin))
    val ref = s"main.${t.split('.').last}"
    val path = pathOf(t)
    val filesBefore = SnapshotLog
      .manifest(spark, path, SnapshotLog.versions(spark, path).last).size
    assert(filesBefore >= 12, s"expected >=12 small day files: $filesBefore")
    val r = spark.sql(
      s"CALL cattest.system.optimize(table => '$ref')").head
    assert(r.getInt(1) > 0, "optimize must rewrite the small day files")
    val filesAfter = SnapshotLog
      .manifest(spark, path, SnapshotLog.versions(spark, path).last).size
    assert(filesAfter == 4,
      s"per-day compaction must land one file per day: $filesAfter")
    // purity survived — and so did the declared NOT NULL: the
    // dataChange=false rewrite must not relax the contract the
    // metadata-only count stands on (parquet reads spell everything
    // nullable; the commit realigns to the declaration)
    assert(!SnapshotLog
      .tableSchema(spark, path, SnapshotLog.versions(spark, path).last)
      .get.fields.find(_.name == "ts").get.nullable,
      "compaction dissolved the declared NOT NULL")
    val counts = spark.sql(
      s"CALL cattest.system.count_by(table => '$ref', field => 'days(ts)')")
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
    assert(counts.size == 4 && counts.values.sum == 300L)
    // and the one-day prune still flips
    val lo = java.time.LocalDate.parse("2024-07-02").toEpochDay * 86400000000L
    val (kept, total) = SnapshotLog.prunedFiles(
      spark, path, "ts", lo, lo + 86400000000L - 1)
    assert(kept.size < total, s"post-optimize prune must hold: ${kept.size}/$total")
    // rows intact through the rewrite
    assert(spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == 300L)
  }

  // --- round-13 gate of the round-12 ViewCatalog ---

  private var vn = 0
  private def freshView(): String = {
    val _ = warehouse
    vn += 1
    s"cattest.main.vw$vn"
  }

  test("view lifecycle: CREATE VIEW / read-through / SHOW VIEWS / DROP VIEW") {
    val t = freshName()
    val v = freshView()
    spark.sql(s"CREATE TABLE $t (id BIGINT, x DOUBLE)")
    spark.sql(s"INSERT INTO $t SELECT id, CAST(id AS DOUBLE) FROM range(0, 5)")
    spark.sql(s"CREATE VIEW $v AS SELECT id, x * 2 AS x2 FROM $t WHERE id > 0")
    assert(
      spark.sql(s"SELECT sum(x2) FROM $v").head.getDouble(0) ==
        (1 to 4).map(_ * 2.0).sum)
    assert(
      spark.sql("SHOW VIEWS IN cattest.main").collect()
        .map(_.getString(1)).contains(v.split('.').last))
    spark.sql(s"DROP VIEW $v")
    assert(
      !spark.sql("SHOW VIEWS IN cattest.main").collect()
        .map(_.getString(1)).contains(v.split('.').last))
    intercept[Exception](spark.sql(s"SELECT * FROM $v").collect())
  }

  test("view re-analyzes at the base table's CURRENT tip (text, not a frozen plan)") {
    val t = freshName()
    val v = freshView()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 5)")
    spark.sql(s"CREATE VIEW $v AS SELECT count(*) AS n FROM $t")
    assert(spark.sql(s"SELECT n FROM $v").head.getLong(0) == 5L)
    // rows landing AFTER view creation must be visible through it
    spark.sql(s"INSERT INTO $t SELECT id FROM range(5, 12)")
    assert(spark.sql(s"SELECT n FROM $v").head.getLong(0) == 12L)
  }

  test("view-over-view resolves through nested definitions") {
    val t = freshName()
    val v1 = freshView()
    val v2 = freshView()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 10)")
    spark.sql(s"CREATE VIEW $v1 AS SELECT id * 10 AS id10 FROM $t")
    spark.sql(s"CREATE VIEW $v2 AS SELECT sum(id10) AS s FROM $v1 WHERE id10 >= 50")
    assert(
      spark.sql(s"SELECT s FROM $v2").head.getLong(0) ==
        (5 to 9).map(_ * 10L).sum)
  }

  test("ALTER VIEW SET/UNSET properties round-trip; RENAME moves the definition") {
    val t = freshName()
    val v = freshView()
    val v2 = freshView()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 4)")
    spark.sql(s"CREATE VIEW $v AS SELECT count(*) AS n FROM $t")
    spark.sql(s"ALTER VIEW $v SET TBLPROPERTIES ('steward' = 'graft', 'tier' = 'gold')")
    val props = spark.sql(s"SHOW TBLPROPERTIES $v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("steward").contains("graft") && props.get("tier").contains("gold"))
    spark.sql(s"ALTER VIEW $v UNSET TBLPROPERTIES ('tier')")
    val props2 = spark.sql(s"SHOW TBLPROPERTIES $v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props2.get("steward").contains("graft") && !props2.contains("tier"))
    spark.sql(s"ALTER VIEW $v RENAME TO main.${v2.split('.').last}")
    assert(spark.sql(s"SELECT n FROM $v2").head.getLong(0) == 4L)
    intercept[Exception](spark.sql(s"SELECT n FROM $v").collect())
  }

  test("shadow guards are symmetric: no view over a table, no table over a view") {
    val t = freshName()
    val v = freshView()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    // view must not shadow the table
    val e1 = intercept[Exception](
      spark.sql(s"CREATE VIEW cattest.main.${t.split('.').last} AS SELECT 1 AS x"))
    assert(e1.getMessage.toLowerCase.contains("already exists"))
    spark.sql(s"CREATE VIEW $v AS SELECT id FROM $t")
    // table must not shadow the view (the round-12 asymmetry, fixed)
    val e2 = intercept[Exception](
      spark.sql(s"CREATE TABLE cattest.main.${v.split('.').last} (id BIGINT)"))
    assert(e2.getMessage.toLowerCase.contains("already exists"))
    // CTAS goes through the same createTable and must refuse too
    val e3 = intercept[Exception](
      spark.sql(s"CREATE TABLE cattest.main.${v.split('.').last} AS SELECT 1 AS x"))
    assert(e3.getMessage.toLowerCase.contains("already exists"))
    // and renames refuse to land on the other kind's name
    val t2 = freshName()
    spark.sql(s"CREATE TABLE $t2 (id BIGINT)")
    val e4 = intercept[Exception](spark.sql(
      s"ALTER TABLE $t2 RENAME TO main.${v.split('.').last}"))
    assert(e4.getMessage.toLowerCase.contains("already exists"))
    val e5 = intercept[Exception](spark.sql(
      s"ALTER VIEW $v RENAME TO main.${t.split('.').last}"))
    assert(e5.getMessage.toLowerCase.contains("already exists"))
  }

  test("CREATE OR REPLACE VIEW swaps the definition; IF NOT EXISTS is a no-op; " +
    "ALTER VIEW AS replaces the query and keeps properties") {
    val t = freshName()
    val v = freshView()
    spark.sql(s"CREATE TABLE $t (id BIGINT)")
    spark.sql(s"INSERT INTO $t SELECT id FROM range(0, 6)")
    spark.sql(s"CREATE VIEW $v AS SELECT sum(id) AS s FROM $t")
    assert(spark.sql(s"SELECT s FROM $v").head.getLong(0) == 15L)
    // IF NOT EXISTS on an existing view: definition unchanged
    spark.sql(s"CREATE VIEW IF NOT EXISTS $v AS SELECT count(*) AS s FROM $t")
    assert(spark.sql(s"SELECT s FROM $v").head.getLong(0) == 15L)
    // OR REPLACE swaps it
    spark.sql(s"CREATE OR REPLACE VIEW $v AS SELECT count(*) AS n FROM $t")
    assert(spark.sql(s"SELECT n FROM $v").head.getLong(0) == 6L)
    // ALTER VIEW AS replaces the query, properties survive
    spark.sql(s"ALTER VIEW $v SET TBLPROPERTIES ('tier' = 'silver')")
    spark.sql(s"ALTER VIEW $v AS SELECT max(id) AS m FROM $t")
    assert(spark.sql(s"SELECT m FROM $v").head.getLong(0) == 5L)
    val props = spark.sql(s"SHOW TBLPROPERTIES $v").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("tier").contains("silver"),
      "ALTER VIEW AS must keep the view's properties")
    // a plain CREATE VIEW on the existing name still refuses
    val e = intercept[Exception](
      spark.sql(s"CREATE VIEW $v AS SELECT 1 AS x"))
    assert(e.getMessage.toLowerCase.contains("already exists"))
  }

  test("view over a widened base column: re-analysis serves the CURRENT schema") {
    // the stored view schema is frozen at creation while the SQL text
    // re-analyzes at the current tip — the pinned semantics: a base
    // widen (int->bigint via ALTER COLUMN TYPE) flows THROUGH the
    // view, because resolution expands the text against the live
    // table; SELECT * views therefore track base-schema drift rather
    // than failing analysis.
    val t = freshName()
    val v = freshView()
    spark.sql(s"CREATE TABLE $t (id INT, x DOUBLE)")
    spark.sql(s"INSERT INTO $t VALUES (1, 1.5), (2, 2.5)")
    spark.sql(s"CREATE VIEW $v AS SELECT id, x FROM $t")
    assert(
      spark.sql(s"SELECT * FROM $v").schema("id").dataType ==
        org.apache.spark.sql.types.IntegerType)
    spark.sql(s"ALTER TABLE $t ALTER COLUMN id TYPE BIGINT")
    assert(
      spark.sql(s"SELECT * FROM $v").schema("id").dataType ==
        org.apache.spark.sql.types.LongType)
    assert(spark.sql(s"SELECT sum(id) FROM $v").head.getLong(0) == 3L)
    // a DROPPED base column the view names fails analysis loudly with
    // the column's name in the error — CREATE OR REPLACE is the remedy
    spark.sql(s"ALTER TABLE $t DROP COLUMN x")
    val e = intercept[Exception](spark.sql(s"SELECT * FROM $v").collect())
    assert(e.getMessage.contains("x") || e.getMessage.toLowerCase.contains("resolve"))
  }

  test("task packing: a many-small-file table scans as few packed splits " +
    "without losing a row, a deletion vector, or full parallelism") {
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (id BIGINT, v BIGINT)
         |TBLPROPERTIES ('write_mode' = 'merge-on-read')""".stripMargin)
    (0 until 24).foreach { s =>
      spark.sql(
        s"""INSERT INTO $t
           |SELECT id, id * 2 FROM range(${s * 10}, ${s * 10 + 10})""".stripMargin)
    }
    val total = SnapshotLog
      .manifest(spark, pathOf(t), SnapshotLog.versions(spark, pathOf(t)).last)
      .length
    assert(total >= 24, s"wanted many small files, saw $total")
    val df = spark.sql(s"SELECT * FROM $t")
    val parts = df.rdd.getNumPartitions
    // packed: far fewer tasks than files — but never below the
    // parallelism the byte total can feed (target shrinks to
    // total/defaultParallelism, so a small table still fans out)
    assert(parts < total, s"packing should collapse $total files, got $parts tasks")
    assert(parts >= 1 && df.count() == 240)
    assert(
      df.agg(sum("v")).head.getLong(0) == (0L until 240L).map(_ * 2).sum)
    // a MoR delete's sidecar rides its file THROUGH the packing
    spark.sql(s"DELETE FROM $t WHERE id % 10 = 3")
    val after = spark.sql(s"SELECT * FROM $t")
    assert(after.count() == 216)
    assert(!after.collect().exists(_.getLong(0) % 10 == 3))
  }

  test("runtime file pruning: a selective dim join opens only the fact " +
    "files whose key range the build side admits") {
    import graft.sources.SnapshotSqlScan
    val t = freshName()
    // sorted_by range-sorts every insert; four disjoint key slices land
    // four (sets of) files with tight disjoint custkey ranges — the
    // clustered-fact layout dynamic pruning exists for
    spark.sql(
      s"""CREATE TABLE $t (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('sorted_by' = 'k')""".stripMargin)
    (0 until 4).foreach { s =>
      spark.sql(
        s"""INSERT INTO $t
           |SELECT id, id * 10 FROM range(${s * 1000}, ${s * 1000 + 1000})""".stripMargin)
    }
    val total = SnapshotLog
      .manifest(spark, pathOf(t), SnapshotLog.versions(spark, pathOf(t)).last)
      .length
    assert(total >= 4, s"layout should have >= 4 files, saw $total")
    import spark.implicits._
    // the build side: a SELECTIVE dim covering only slice 0's keys —
    // file-backed (a LocalRelation's filter constant-folds away before
    // the pruning rule sees it, which no real dim ever hits)
    val dimDir = Files.createTempDirectory("graft_dpp_dim").toString
    (0L until 2000L by 100L).toDF("dk").write.mode("overwrite")
      .parquet(s"$dimDir/d1")
    spark.read.parquet(s"$dimDir/d1").createOrReplaceTempView("graft_dpp_dim")
    SnapshotSqlScan.lastRuntimePrune.set((0, 0))
    val joined = spark.sql(
      s"""SELECT f.k, f.v FROM $t f
         |JOIN graft_dpp_dim d ON f.k = d.dk WHERE d.dk < 1000""".stripMargin)
    val rows = joined.collect()
    assert(rows.length == 10 && rows.map(_.getLong(0)).toSet == (0L until 1000L by 100L).toSet)
    // static inference (k = dk ∧ dk < 1000 ⇒ k < 1000) already prunes
    // some files at planning; the runtime filter must exclude MORE —
    // files the static range admits but no actual build-side key hits
    val (after, before) = SnapshotSqlScan.lastRuntimePrune.get()
    assert(before >= 1 && after < before,
      s"runtime filter should have excluded files: planned $after/$before")
    // correctness twin: the pruned join equals the unfiltered recompute
    val full = spark.sql(s"SELECT k, v FROM $t").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach(r => assert(full(r.getLong(0)) == r.getLong(1)))
    // an UNADVERTISED column invites no runtime filter: join on v (not
    // the declared layout column) — no pruning, same correct rows
    SnapshotSqlScan.lastRuntimePrune.set((0, 0))
    (0L until 20000L by 1000L).toDF("dv").write.mode("overwrite")
      .parquet(s"$dimDir/d2")
    spark.read.parquet(s"$dimDir/d2").createOrReplaceTempView("graft_dpp_dim2")
    val byV = spark.sql(
      s"""SELECT f.k, f.v FROM $t f
         |JOIN graft_dpp_dim2 d ON f.v = d.dv WHERE d.dv < 10000""".stripMargin)
    assert(byV.count() == 10)
    assert(SnapshotSqlScan.lastRuntimePrune.get() == ((0, 0)),
      "no runtime filter should reach a non-layout column")
    // building a bloom index PROMOTES the column: the same join now
    // invites a runtime filter (detected from the tip manifest's _bm
    // riders — no header scan), and the rows stay exactly right
    spark.sql(
      s"CALL cattest.system.build_bloom(table => 'main.${t.split('.').last}', column => 'v')")
    SnapshotSqlScan.lastRuntimePrune.set((0, 0))
    val byV2 = spark.sql(
      s"""SELECT f.k, f.v FROM $t f
         |JOIN graft_dpp_dim2 d ON f.v = d.dv WHERE d.dv < 10000""".stripMargin)
    assert(byV2.count() == 10)
    val (a2, b2) = SnapshotSqlScan.lastRuntimePrune.get()
    assert(b2 > 0, "bloom-indexed column must be advertised for runtime filtering")
    assert(a2 <= b2)
  }

  test("runtime file pruning past 64 integer keys stays exact: a build " +
    "side of two far-apart key clusters plans only the files holding them") {
    import graft.sources.SnapshotSqlScan
    import spark.implicits._
    val t = freshName()
    spark.sql(
      s"""CREATE TABLE $t (k BIGINT, v BIGINT)
         |TBLPROPERTIES ('sorted_by' = 'k')""".stripMargin)
    (0 until 8).foreach { s =>
      spark.sql(
        s"""INSERT INTO $t
           |SELECT id, id * 10 FROM range(${s * 1000}, ${s * 1000 + 1000})""".stripMargin)
    }
    // 80 keys: 40 in slice 0 and 40 in slice 7, so the [min, max]
    // envelope of the list spans every slice
    val keys = (0L until 400L by 10L) ++ (7000L until 7400L by 10L)
    val dimDir = Files.createTempDirectory("graft_dpp_wide").toString
    keys.toDF("dk").write.mode("overwrite").parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("graft_dpp_wide")
    val q =
      s"""SELECT f.k, f.v FROM $t f
         |JOIN graft_dpp_wide d ON f.k = d.dk WHERE d.dk < 8000""".stripMargin
    SnapshotSqlScan.lastRuntimePrune.set((0, 0))
    val rows = spark.sql(q).collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    val (after, before) = SnapshotSqlScan.lastRuntimePrune.get()
    val p = pathOf(t)
    val live = SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
    val holding = live.count { f =>
      spark.read.parquet(s"$p/$f").where($"k".isin(keys: _*)).count() > 0
    }
    assert(before == live.length && holding < live.length,
      s"planned $after/$before, $holding of ${live.length} files hold a key")
    assert(after == holding, s"planned $after files, $holding hold a build key")
    // the pruned join equals the unpruned one
    val dppKey = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    spark.conf.set(dppKey, "false")
    val unpruned =
      try spark.sql(q).collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
      finally spark.conf.unset(dppKey)
    assert(rows.size == keys.size && rows == unpruned)
  }

  test("COUNT(DISTINCT) serves from a kind='distinct' MV at identity, " +
    "coarse and global grains (bitmap OR across fine keys — sums of per-key " +
    "distincts would overcount); non-distinct aggregates and other kinds " +
    "never cross-serve") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    // v=7 appears under k=1 AND k=11 (both in coarse group k%10=1):
    // the coarse distinct is 1 for that value, not 2 — the bitmap OR
    // is what makes the MV able to answer it. k=3 is all-NULL.
    spark.sql(
      s"""INSERT INTO $t VALUES
         |(1, 7), (1, 7), (1, -2), (11, 7), (11, 40000),
         |(2, 8), (3, NULL)""".stripMargin)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_dcv AS
         |SELECT k, count(DISTINCT v) AS mv_dc, count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_dcv"
    assert(SnapshotLog.tableProps(spark, mvPath)
      .get("mv_kind").contains("distinct"))
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      def noSource(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        !p.exists(n =>
          n.isInstanceOf[org.apache.spark.sql.execution.datasources
            .v2.DataSourceV2ScanRelation] ||
            n.isInstanceOf[org.apache.spark.sql.execution.datasources
              .v2.DataSourceV2Relation])
      // IDENTITY: one aggregate over the MV (buckets within a key sum)
      val id = plan(
        s"SELECT k, count(DISTINCT v) AS dc, count(*) AS n FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(id, mvPath) && noSource(id),
        "identity distinct must serve from the MV")
      assert(run(id).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
        Set((1L, 2L, 3L), (11L, 2L, 2L), (2L, 1L, 1L), (3L, 0L, 1L)))
      // COARSE: k%10 folds k=1 and k=11 together — their shared v=7
      // must count ONCE (the OR), while count(*) still sums
      val co = plan(
        s"SELECT k % 10 AS g, count(DISTINCT v) AS dc, count(*) AS n " +
          s"FROM $t GROUP BY k % 10")
      assert(MvRewrite.readsPath(co, mvPath) && noSource(co),
        "coarse distinct must serve from the MV")
      assert(run(co).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
        Set((1L, 3L, 5L), (2L, 1L, 1L), (3L, 0L, 1L)))
      // AT-SCALE plan shape: the identity serve reads the LONG
      // cardinality column and never the 4 KB bitmaps (physical
      // planning prunes the parquet ReadSchema from the plan's
      // references), while the coarse serve reads the bitmaps it ORs
      // and never the stored cardinalities — each grain touches only
      // the bytes its algebra needs
      val idPlan = run(id).queryExecution.executedPlan.toString
      assert(idPlan.contains("mv_dc") && !idPlan.contains("mv_bm"),
        s"identity distinct serve must not read bitmaps:\n$idPlan")
      val coPlan = run(co).queryExecution.executedPlan.toString
      assert(coPlan.contains("mv_bm") && !coPlan.contains("mv_dc"),
        s"coarse distinct serve must not read stored cardinalities:\n$coPlan")
      // GLOBAL: v=7 counted once across all keys
      val gl = plan(s"SELECT count(DISTINCT v) AS dc, count(*) AS n FROM $t")
      assert(MvRewrite.readsPath(gl, mvPath) && noSource(gl))
      assert(run(gl).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((4L, 7L)))
      // FILTER transplants onto the stored key
      val fl = plan(
        s"SELECT k, count(DISTINCT v) AS dc FROM $t WHERE k >= 2 GROUP BY k")
      assert(MvRewrite.readsPath(fl, mvPath) && noSource(fl))
      assert(run(fl).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((11L, 2L), (2L, 1L), (3L, 0L)))
      // BAILS: a sum over the distinct MV must fall back to the source
      // (the bucketed grain holds no sums); count(DISTINCT other-col)
      // is not the stored measure; both still answer correctly
      val sm = plan(s"SELECT k, sum(v) AS s FROM $t GROUP BY k")
      assert(!MvRewrite.readsPath(sm, mvPath),
        "sum must NOT serve from a distinct-kind MV")
      val oth = plan(s"SELECT v, count(DISTINCT k) AS dk FROM $t GROUP BY v")
      assert(!MvRewrite.readsPath(oth, mvPath),
        "count(DISTINCT non-measure) must bail")
      // ...and count(DISTINCT) never serves from a SUM-kind MV
      spark.sql(
        s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_smv AS
           |SELECT k, sum(v) AS mv_sum, count(*) AS mv_n
           |FROM $t GROUP BY k""".stripMargin)
      val viaSum = plan(
        s"SELECT k, count(DISTINCT v) AS dc FROM $t GROUP BY k")
      assert(!MvRewrite.readsPath(viaSum, s"$warehouse/main/${tn}_smv"),
        "count(DISTINCT) must never serve from a sum-kind MV")
      // STALENESS: the source moves on — no serve; REFRESH restores it.
      // The new rows add v=8 under k=1 (already distinct-counted under
      // k=2: the coarse OR keeps it at one for g=2... but k=1 is g=1).
      spark.sql(s"INSERT INTO $t VALUES (1, 8), (21, 7)")
      assert(!MvRewrite.readsPath(plan(
        s"SELECT k, count(DISTINCT v) AS dc FROM $t GROUP BY k"), mvPath),
        "a stale distinct MV must not serve")
      spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_dcv")
      val id2 = plan(
        s"SELECT k % 10 AS g, count(DISTINCT v) AS dc FROM $t GROUP BY k % 10")
      assert(MvRewrite.readsPath(id2, mvPath) && noSource(id2))
      assert(run(id2).collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 4L), (2L, 1L), (3L, 0L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("monthly distinct users serve from a DAILY distinct MV (a user " +
    "active on many days counts once per month — the query a count rollup " +
    "can never answer); created through the CALL surface") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (ts TIMESTAMP, uid BIGINT)")
    // user 100 is active on THREE June days (one monthly user, three
    // daily actives); user 200 spans June and July (counts in both)
    spark.sql(
      s"""INSERT INTO $t VALUES
         |(timestamp'2024-06-01 08:00:00', 100),
         |(timestamp'2024-06-02 09:00:00', 100),
         |(timestamp'2024-06-20 10:00:00', 100),
         |(timestamp'2024-06-02 11:00:00', 200),
         |(timestamp'2024-07-03 12:00:00', 200),
         |(timestamp'2024-07-04 13:00:00', 300)""".stripMargin)
    spark.sql(
      s"""CALL cattest.system.create_mv(source => 'main.$tn',
         |mv => 'main.${tn}_dau', key => 'day', agg => 'uid',
         |kind => 'distinct', key_expr => 'to_date(ts)')""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_dau"
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      // DAU at identity grain
      val dau = plan(
        s"SELECT to_date(ts) AS day, count(DISTINCT uid) AS dau FROM $t " +
          s"GROUP BY to_date(ts)")
      assert(MvRewrite.readsPath(dau, mvPath), "daily distinct must serve")
      assert(run(dau).collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toSet ==
        Set(("2024-06-01", 1L), ("2024-06-02", 2L), ("2024-06-20", 1L),
          ("2024-07-03", 1L), ("2024-07-04", 1L)))
      // MAU from the daily MV: June = {100,200} (100's three active
      // days OR to one), July = {200,300}
      val mau = plan(
        s"SELECT trunc(to_date(ts), 'month') AS mon, " +
          s"count(DISTINCT uid) AS mau FROM $t " +
          s"GROUP BY trunc(to_date(ts), 'month')")
      assert(MvRewrite.readsPath(mau, mvPath),
        "monthly distinct must serve from the daily MV")
      assert(run(mau).collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toSet ==
        Set(("2024-06-01", 2L), ("2024-07-01", 2L)))
      // and a day-range probe composes with the serve
      val rng = plan(
        s"SELECT count(DISTINCT uid) AS dc FROM $t " +
          s"WHERE to_date(ts) >= DATE'2024-07-01'")
      assert(MvRewrite.readsPath(rng, mvPath))
      assert(run(rng).collect().map(_.getLong(0)).toSeq == Seq(2L))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("star-schema aggregates serve from a JOIN MV: fact ⋈ dim rollup " +
    "answers GROUP BY dim-attr with both scans gone; fact-only queries and " +
    "drifted dims never serve") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val (fn, dn) = (f.split('.').last, d.split('.').last)
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(
      s"INSERT INTO $f VALUES (1, 10), (1, 5), (2, 20), (3, 1), (99, 400)")
    spark.sql(
      s"INSERT INTO $d VALUES (1, 'auto'), (2, 'auto'), (3, 'mach')")
    val mvPath = s"$warehouse/main/${fn}_jmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), pathOf(d), "fk", "pk", mvPath, "seg", "m")
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      def noSource(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        !p.exists(n =>
          n.isInstanceOf[org.apache.spark.sql.execution.datasources
            .v2.DataSourceV2ScanRelation] ||
            n.isInstanceOf[org.apache.spark.sql.execution.datasources
              .v2.DataSourceV2Relation])
      val q =
        s"SELECT seg, sum(m) AS s, count(*) AS n " +
          s"FROM $f JOIN $d ON fk = pk GROUP BY seg"
      val served = plan(q)
      assert(MvRewrite.readsPath(served, mvPath) && noSource(served),
        "the star rollup must serve with BOTH scans gone")
      assert(run(served).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("auto", 35L, 3L), ("mach", 1L, 1L)))
      // the reversed join spelling serves too
      val rev = plan(
        s"SELECT seg, sum(m) AS s FROM $d JOIN $f ON pk = fk GROUP BY seg")
      assert(MvRewrite.readsPath(rev, mvPath) && noSource(rev))
      // global over the JOIN re-aggregates (fk=99 stays excluded,
      // exactly as the join query itself excludes it)
      val gl = plan(
        s"SELECT sum(m) AS s, count(*) AS n FROM $f JOIN $d ON fk = pk")
      assert(MvRewrite.readsPath(gl, mvPath) && noSource(gl))
      assert(run(gl).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == Set((36L, 4L)))
      // a dim-attr filter transplants onto the MV key
      val fl = plan(
        s"SELECT seg, sum(m) AS s FROM $f JOIN $d ON fk = pk " +
          s"WHERE seg = 'auto' GROUP BY seg")
      assert(MvRewrite.readsPath(fl, mvPath) && noSource(fl))
      assert(run(fl).collect().map(r => (r.getString(0), r.getLong(1)))
        .toSet == Set(("auto", 35L)))
      // a measure-level filter is unanswerable from the rollup
      assert(!MvRewrite.readsPath(plan(
        s"SELECT seg, sum(m) AS s FROM $f JOIN $d ON fk = pk " +
          s"WHERE m > 5 GROUP BY seg"), mvPath),
        "a fact-side residual must bail")
      // a FACT-ONLY aggregate must NEVER serve from the join MV: the
      // inner join dropped fk=99 (400!) from every partial
      val factOnly = plan(s"SELECT sum(m) AS s FROM $f")
      assert(!MvRewrite.readsPath(factOnly, mvPath),
        "a join MV must not serve a fact-only query")
      assert(run(factOnly).collect()(0).getLong(0) == 436L)
      // a different join condition must bail
      assert(!MvRewrite.readsPath(plan(
        s"SELECT seg, sum(m) AS s FROM $f JOIN $d ON m = pk GROUP BY seg"),
        mvPath), "a different equi-join must bail")
      // dim drift: a dim commit makes the query see a NEWER dim than
      // the MV's pin — no serve, and a fact refresh cannot fix it
      // (re-materialize is the only remedy, by design)
      spark.sql(s"INSERT INTO $d VALUES (99, 'new')")
      assert(!MvRewrite.readsPath(plan(q), mvPath),
        "a drifted dim must stop the serve")
      // fact drift alone: stale until refresh, then serves again with
      // the dim STILL at the original pin? No — the dim moved above,
      // so the serve stays off; re-materialize restores it
      spark.sql(s"INSERT INTO $f VALUES (2, 7)")
      graft.sources.SnapshotLog.refreshMv(spark, mvPath)
      assert(!MvRewrite.readsPath(plan(q), mvPath),
        "refresh cannot resurrect a dim-drifted MV")
      val mv2 = s"$warehouse/main/${fn}_jmv2"
      SnapshotLog.createJoinMv(
        spark, pathOf(f), pathOf(d), "fk", "pk", mv2, "seg", "m")
      val served2 = plan(q)
      assert(MvRewrite.readsPath(served2, mv2) && noSource(served2))
      assert(run(served2).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("auto", 42L, 4L), ("mach", 1L, 1L), ("new", 400L, 1L)))
      // the kinds COMPOSE with the join: a kind='distinct' join MV
      // serves per-segment COUNT(DISTINCT) over the same star
      val mv3 = s"$warehouse/main/${fn}_jmv3"
      SnapshotLog.createJoinMv(
        spark, pathOf(f), pathOf(d), "fk", "pk", mv3, "seg", "m",
        kind = "distinct")
      val dq = plan(
        s"SELECT seg, count(DISTINCT m) AS dm FROM $f JOIN $d " +
          s"ON fk = pk GROUP BY seg")
      assert(MvRewrite.readsPath(dq, mv3) && noSource(dq),
        "distinct must serve through the join MV")
      assert(run(dq).collect().map(r => (r.getString(0), r.getLong(1)))
        .toSet == Set(("auto", 4L), ("mach", 1L), ("new", 1L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("multi-dim star + snowflake MVs serve: both joins gone, subset " +
    "and global grains re-aggregate, dim filters transplant, and " +
    "partial-star / drifted-dim / extra-predicate shapes bail") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d1 = freshName()
    val d2 = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk1 BIGINT, fk2 BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d1 (pk1 BIGINT, a1 STRING)")
    spark.sql(s"CREATE TABLE $d2 (pk2 BIGINT, a2 STRING)")
    spark.sql(
      s"INSERT INTO $f VALUES (1, 7, 10), (1, 8, 20), (2, 7, 30), " +
        "(1, 7, 40), (99, 7, 500)")
    spark.sql(s"INSERT INTO $d1 VALUES (1, 'x'), (2, 'y')")
    spark.sql(s"INSERT INTO $d2 VALUES (7, 'p'), (8, 'q')")
    val mvPath = s"$warehouse/main/${fn}_starmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), s"${pathOf(d1)},${pathOf(d2)}", "fk1,fk2",
      "pk1,pk2", mvPath, "a1,a2", "m")
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      def noSource(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        !p.exists(n =>
          n.isInstanceOf[org.apache.spark.sql.execution.datasources
            .v2.DataSourceV2ScanRelation] ||
            n.isInstanceOf[org.apache.spark.sql.execution.datasources
              .v2.DataSourceV2Relation])
      val q =
        s"SELECT a1, a2, sum(m) AS s, count(*) AS n FROM $f " +
          s"JOIN $d1 ON fk1 = pk1 JOIN $d2 ON fk2 = pk2 GROUP BY a1, a2"
      val served = plan(q)
      assert(MvRewrite.readsPath(served, mvPath) && noSource(served),
        "the 2-dim star must serve with ALL THREE scans gone")
      assert(!served.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]))
      assert(run(served).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet ==
        Set(("x", "p", 50L, 2L), ("x", "q", 20L, 1L), ("y", "p", 30L, 1L)))
      // a KEY SUBSET re-aggregates (groups are unions of MV groups)
      val sub = plan(
        s"SELECT a1, sum(m) AS s FROM $f JOIN $d1 ON fk1 = pk1 " +
          s"JOIN $d2 ON fk2 = pk2 GROUP BY a1")
      assert(MvRewrite.readsPath(sub, mvPath) && noSource(sub))
      assert(run(sub).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("x", 70L), ("y", 30L)))
      // GLOBAL over the star re-aggregates (fk1=99 stays excluded)
      val gl = plan(
        s"SELECT sum(m) AS s, count(*) AS n FROM $f " +
          s"JOIN $d1 ON fk1 = pk1 JOIN $d2 ON fk2 = pk2")
      assert(MvRewrite.readsPath(gl, mvPath) && noSource(gl))
      assert(run(gl).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == Set((100L, 4L)))
      // a dim-attr filter transplants onto the MV key
      val fl = plan(
        s"SELECT a1, sum(m) AS s FROM $f JOIN $d1 ON fk1 = pk1 " +
          s"JOIN $d2 ON fk2 = pk2 WHERE a2 = 'p' GROUP BY a1")
      assert(MvRewrite.readsPath(fl, mvPath) && noSource(fl))
      assert(run(fl).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("x", 50L), ("y", 30L)))
      // a PARTIAL star must bail (its rows never joined d2 and the
      // MV folded d2's exclusions)
      assert(!MvRewrite.readsPath(plan(
        s"SELECT a1, sum(m) AS s FROM $f JOIN $d1 ON fk1 = pk1 " +
          "GROUP BY a1"), mvPath),
        "a 1-join query must not serve from the 2-dim MV")
      // a measure-level residual must bail
      assert(!MvRewrite.readsPath(plan(
        s"SELECT a1, sum(m) AS s FROM $f JOIN $d1 ON fk1 = pk1 " +
          s"JOIN $d2 ON fk2 = pk2 WHERE m > 15 GROUP BY a1"), mvPath))
      // SNOWFLAKE: chain fact→c→n, second fk on the FIRST dim; the
      // flipped join spelling (dims first) must serve too — the
      // matcher aligns leaf/edge SETS, not the tree
      val fc = freshName()
      val cc = freshName()
      val nn = freshName()
      val fcn = fc.split('.').last
      spark.sql(s"CREATE TABLE $fc (fk BIGINT, m BIGINT)")
      spark.sql(s"CREATE TABLE $cc (cpk BIGINT, natfk BIGINT)")
      spark.sql(s"CREATE TABLE $nn (npk BIGINT, nname STRING)")
      spark.sql(s"INSERT INTO $fc VALUES (1, 5), (2, 7), (3, 11), (99, 13)")
      spark.sql(s"INSERT INTO $cc VALUES (1, 10), (2, 20), (3, 10)")
      spark.sql(s"INSERT INTO $nn VALUES (10, 'US'), (20, 'FR')")
      val sfPath = s"$warehouse/main/${fcn}_sfmv"
      SnapshotLog.createJoinMv(
        spark, pathOf(fc), s"${pathOf(cc)},${pathOf(nn)}", "fk,natfk",
        "cpk,npk", sfPath, "nname", "m")
      val sfq = plan(
        s"SELECT nname, sum(m) AS s FROM $fc JOIN $cc ON fk = cpk " +
          s"JOIN $nn ON natfk = npk GROUP BY nname")
      assert(MvRewrite.readsPath(sfq, sfPath) && noSource(sfq),
        "the snowflake chain must serve")
      assert(run(sfq).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("US", 16L), ("FR", 7L)))
      val sfRev = plan(
        s"SELECT nname, sum(m) AS s FROM $nn JOIN $cc ON natfk = npk " +
          s"JOIN $fc ON fk = cpk GROUP BY nname")
      assert(MvRewrite.readsPath(sfRev, sfPath) && noSource(sfRev),
        "the reversed snowflake spelling must serve (tree-agnostic)")
      // DIM DRIFT on the second dim stops the serve; refresh cannot
      // fix it (the fold is defined against nat@pinned)
      spark.sql(s"INSERT INTO $nn VALUES (30, 'DE')")
      assert(!MvRewrite.readsPath(plan(
        s"SELECT nname, sum(m) AS s FROM $fc JOIN $cc ON fk = cpk " +
          s"JOIN $nn ON natfk = npk GROUP BY nname"), sfPath),
        "a drifted chain dim must stop the serve")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("the DDL's star form: CREATE MATERIALIZED VIEW over a JOIN chain " +
    "declares a multi-dim MV that serves; an all-LEFT chain declares a " +
    "left star (round 17); a MIXED chain records per-edge types (round " +
    "18) — refusing only the inner-through-a-left-dim snowflake") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val c = freshName()
    val n = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $c (cpk BIGINT, natfk BIGINT)")
    spark.sql(s"CREATE TABLE $n (npk BIGINT, nname STRING)")
    spark.sql(s"INSERT INTO $f VALUES (1, 5), (2, 7), (1, 3), (9, 100)")
    spark.sql(s"INSERT INTO $c VALUES (1, 10), (2, 20)")
    spark.sql(s"INSERT INTO $n VALUES (10, 'US'), (20, 'FR')")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${fn}_ddlsf AS
         |SELECT n.nname, sum(f.m) AS mv_sum, count(*) AS mv_n
         |FROM $f f JOIN $c c ON f.fk = c.cpk
         |JOIN $n n ON c.natfk = n.npk
         |GROUP BY n.nname""".stripMargin)
    val mvPath = s"$warehouse/main/${fn}_ddlsf"
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      val q =
        s"SELECT nname, sum(m) AS s FROM $f JOIN $c ON fk = cpk " +
          s"JOIN $n ON natfk = npk GROUP BY nname"
      val served = rule(spark.sql(q).queryExecution.optimizedPlan)
      assert(MvRewrite.readsPath(served, mvPath),
        "the DDL-declared snowflake MV must serve")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, served)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("US", 8L), ("FR", 7L)))
      // a fact append folds through REFRESH and still serves
      spark.sql(s"INSERT INTO $f VALUES (2, 11)")
      spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${fn}_ddlsf")
      val served2 = rule(spark.sql(q).queryExecution.optimizedPlan)
      assert(MvRewrite.readsPath(served2, mvPath))
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, served2)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("US", 8L), ("FR", 18L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
    // a MIXED chain whose INNER edge goes THROUGH the left dim (the
    // snowflake fk is owned by c, which is LEFT-joined): the inner
    // edge would drop the NULL bucket the left edge preserved —
    // refused loudly at declaration (round 18 narrows the r17
    // all-or-nothing refusal to exactly this shape)
    val e = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${fn}_ddlbad AS
         |SELECT n.nname, sum(f.m) AS mv_sum, count(*) AS mv_n
         |FROM $f f LEFT JOIN $c c ON f.fk = c.cpk
         |JOIN $n n ON c.natfk = n.npk
         |GROUP BY n.nname""".stripMargin))
    assert(e.getMessage.contains("NULL bucket"), e.getMessage)
    // a MIXED STAR (both fks on the fact) declares per-edge types via
    // DDL and serves the same mixed spelling (round 18)
    val f2 = freshName()
    val s2 = freshName()
    val f2n = f2.split('.').last
    spark.sql(s"CREATE TABLE $f2 (fk BIGINT, nk BIGINT, m BIGINT)")
    spark.sql(
      s"INSERT INTO $f2 VALUES (1, 10, 5), (2, 10, 7), (1, 99, 3), (9, 10, 100)")
    spark.sql(s"CREATE TABLE $s2 (spk BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $s2 VALUES (1, 'a'), (2, 'b')")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${f2n}_ddlmx AS
         |SELECT s.seg, n.nname, sum(f.m) AS mv_sum, count(*) AS mv_n
         |FROM $f2 f JOIN $s2 s ON f.fk = s.spk
         |LEFT JOIN $n n ON f.nk = n.npk
         |GROUP BY s.seg, n.nname""".stripMargin)
    assert(SnapshotLog
      .tableProps(spark, pathOf(s"x.y.${f2n}_ddlmx"))
      .get("mv_join_types").contains("inner,left"))
    val mxPath = s"$warehouse/main/${f2n}_ddlmx"
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      val mq = s"SELECT seg, nname, sum(m) AS sm FROM $f2 " +
        s"JOIN $s2 ON fk = spk LEFT JOIN $n ON nk = npk " +
        s"GROUP BY seg, nname"
      val mServed = rule(spark.sql(mq).queryExecution.optimizedPlan)
      assert(MvRewrite.readsPath(mServed, mxPath),
        "the DDL-declared mixed star must serve the mixed spelling")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, mServed)
        .collect()
        .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2)))
        .toSet ==
        Set(("a", Some("US"), 5L), ("a", None, 3L), ("b", Some("US"), 7L)),
        "fk=9 dropped by the inner edge; nk=99 in the (a, NULL) bucket")
      // swapped-type spelling refuses: LEFT on the inner dim, INNER
      // on the left dim
      val swapped = s"SELECT seg, nname, sum(m) AS sm FROM $f2 " +
        s"LEFT JOIN $s2 ON fk = spk JOIN $n ON nk = npk " +
        s"GROUP BY seg, nname"
      assert(!MvRewrite.readsPath(
        rule(spark.sql(swapped).queryExecution.optimizedPlan), mxPath),
        "per-edge types must match the recording exactly")
      // a dim-side predicate on the LEFT-edge dim refuses (bucket
      // membership); on the INNER-edge dim it transplants and serves
      val leftFiltered = s"SELECT seg, nname, sum(m) AS sm FROM $f2 " +
        s"JOIN $s2 ON fk = spk " +
        s"LEFT JOIN (SELECT * FROM $n WHERE nname <> 'FR') nn " +
        s"ON nk = npk GROUP BY seg, nname"
      // the pre-join filter on the left dim must refuse AND the live
      // query must return the TRUE result (NULL bucket intact) — the
      // round-18 matcher fix: a filter above a bare leaf is the
      // LEAF's predicate, not a transplantable post-join residual
      assert(!MvRewrite.readsPath(
        rule(spark.sql(leftFiltered).queryExecution.optimizedPlan), mxPath),
        "a pre-join filter on the left dim changes the NULL buckets")
      assert(spark.sql(leftFiltered).collect()
        .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2)))
        .toSet ==
        Set(("a", Some("US"), 5L), ("a", None, 3L), ("b", Some("US"), 7L)),
        "the live query keeps the NULL bucket the filter cannot touch")
      val innerFiltered = s"SELECT seg, nname, sum(m) AS sm FROM $f2 " +
        s"JOIN (SELECT * FROM $s2 WHERE seg = 'a') ss ON fk = spk " +
        s"LEFT JOIN $n ON nk = npk GROUP BY seg, nname"
      val ifServed =
        rule(spark.sql(innerFiltered).queryExecution.optimizedPlan)
      assert(MvRewrite.readsPath(ifServed, mxPath),
        "an inner-edge dim filter transplants onto the MV")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, ifServed)
        .collect()
        .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2)))
        .toSet == Set(("a", Some("US"), 5L), ("a", None, 3L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
    // an ALL-LEFT chain declares a left snowflake (round 17): fk=9
    // lives in the (NULL) bucket, and the left query serves from it
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${fn}_ddlls AS
         |SELECT n.nname, sum(f.m) AS mv_sum, count(*) AS mv_n
         |FROM $f f LEFT JOIN $c c ON f.fk = c.cpk
         |LEFT JOIN $n n ON c.natfk = n.npk
         |GROUP BY n.nname""".stripMargin)
    val lsPath = s"$warehouse/main/${fn}_ddlls"
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      val lq = s"SELECT nname, sum(m) AS s FROM $f LEFT JOIN $c " +
        s"ON fk = cpk LEFT JOIN $n ON natfk = npk GROUP BY nname"
      val lServed = rule(spark.sql(lq).queryExecution.optimizedPlan)
      assert(MvRewrite.readsPath(lServed, lsPath),
        "the DDL-declared left snowflake MV must serve the left chain")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, lServed)
        .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet ==
        Set((Some("US"), 8L), (Some("FR"), 18L), (None, 100L)))
      // round-18 matcher fix, pinned on the ALL-LEFT star too: a
      // pre-join filter on a left dim refuses (it moves rows into the
      // NULL bucket the rollup never folded) and the live query
      // returns the truth
      val lfq = s"SELECT nname, sum(m) AS s FROM $f LEFT JOIN $c " +
        s"ON fk = cpk LEFT JOIN (SELECT * FROM $n WHERE nname <> 'FR') x " +
        s"ON natfk = npk GROUP BY nname"
      assert(!MvRewrite.readsPath(
        rule(spark.sql(lfq).queryExecution.optimizedPlan), lsPath),
        "a filtered left dim must not serve from the left star MV")
      assert(spark.sql(lfq).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1))).toSet ==
        Set((Some("US"), 8L), (None, 118L)),
        "the FR rows must move INTO the NULL bucket, not vanish")
      // an ABOVE-join filter is post-join semantics — it transplants
      // onto the stored rows and SERVES correctly. `nname IS NULL` is
      // the bucket probe itself (and, unlike an equality, is never
      // null-rejecting, so the optimizer cannot flip the left join to
      // inner at any rule position)
      val afq = s"SELECT nname, sum(m) AS s FROM $f LEFT JOIN $c " +
        s"ON fk = cpk LEFT JOIN $n ON natfk = npk " +
        s"WHERE nname IS NULL GROUP BY nname"
      val afServed = rule(spark.sql(afq).queryExecution.optimizedPlan)
      assert(MvRewrite.readsPath(afServed, lsPath),
        "a post-join dim filter must transplant and serve")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, afServed)
        .collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet ==
        Set((None, 100L)),
        "the served NULL-bucket probe must return the bucket total")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("dim refresh restores serving: a drifted dim bails with the " +
    "refresh_mv_dim remedy, the CALL folds the change, the query serves " +
    "the NEW dim state, and later fact folds compose") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(
      s"INSERT INTO $f VALUES (1, 10), (1, 5), (2, 20), (3, 1), (99, 400)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'auto'), (2, 'auto'), (3, 'mach')")
    val mvPath = s"$warehouse/main/${fn}_drmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), pathOf(d), "fk", "pk", mvPath, "seg", "m")
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      val q =
        s"SELECT seg, sum(m) AS s, count(*) AS n " +
          s"FROM $f JOIN $d ON fk = pk GROUP BY seg"
      assert(MvRewrite.readsPath(plan(q), mvPath))
      // dim churn: move pk=2 auto→mach, add pk=99 (its 400 joins in)
      spark.sql(s"UPDATE $d SET seg = 'mach' WHERE pk = 2")
      spark.sql(s"INSERT INTO $d VALUES (99, 'fresh')")
      assert(!MvRewrite.readsPath(plan(q), mvPath),
        "a drifted dim must stop the serve until the dim refresh")
      // the remedy is named in the diagnostics
      val lines = MvRewrite.explainServe(spark, spark.sql(q))
      assert(lines.exists(l => l.contains("DIM DRIFT") &&
        l.contains("refresh_mv_dim")), lines.toString)
      val pins = spark.sql(
        s"CALL cattest.system.refresh_mv_dim(mv => 'main.${fn}_drmv', " +
          s"dim => '${d.split('.').drop(1).mkString(".")}')").collect()(0)
      assert(pins.getInt(1) > pins.getInt(0))
      val served = plan(q)
      assert(MvRewrite.readsPath(served, mvPath),
        "after refresh_mv_dim the query must serve again")
      assert(run(served).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("auto", 15L, 2L), ("mach", 21L, 2L), ("fresh", 400L, 1L)))
      // a fact append + fact refresh after the dim refresh folds
      // against the NEW pin (fk=2 is 'mach' now)
      spark.sql(s"INSERT INTO $f VALUES (2, 7)")
      SnapshotLog.refreshMv(spark, mvPath)
      val served2 = plan(q)
      assert(MvRewrite.readsPath(served2, mvPath))
      assert(run(served2).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("auto", 15L, 2L), ("mach", 28L, 3L), ("fresh", 400L, 1L)))
      // describe_mv surfaces the EFFECTIVE pin beside the stale
      // create-time one (SHOW TBLPROPERTIES shows only the latter)
      val desc = spark.sql(
        s"CALL cattest.system.describe_mv(mv => 'main.${fn}_drmv')")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(desc("dim[0].created_pin") != desc("dim[0].effective_pin"),
        desc.toString)
      assert(desc("dim[0].effective_pin") == pins.getInt(1).toString)
      // HAVING and ORDER BY over a served aggregate compose: the
      // rewrite replaces the Aggregate in place, output ids intact
      val hq = plan(
        s"SELECT seg, sum(m) AS s FROM $f JOIN $d ON fk = pk " +
          s"GROUP BY seg HAVING sum(m) > 20 ORDER BY s DESC")
      assert(MvRewrite.readsPath(hq, mvPath),
        "HAVING + ORDER BY must not block the serve")
      assert(run(hq).collect().map(r => (r.getString(0), r.getLong(1)))
        .toSeq == Seq(("fresh", 400L), ("mach", 28L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("star diagnostics + CTE spelling: explain_mv_serve names the " +
    "partial-star bail; a WITH-wrapped star query still serves (CTEs " +
    "inline before the rule runs)") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d1 = freshName()
    val d2 = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk1 BIGINT, fk2 BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d1 (pk1 BIGINT, a1 STRING)")
    spark.sql(s"CREATE TABLE $d2 (pk2 BIGINT, a2 STRING)")
    spark.sql(s"INSERT INTO $f VALUES (1, 7, 10), (2, 8, 20)")
    spark.sql(s"INSERT INTO $d1 VALUES (1, 'x'), (2, 'y')")
    spark.sql(s"INSERT INTO $d2 VALUES (7, 'p'), (8, 'q')")
    val mvPath = s"$warehouse/main/${fn}_dgmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), s"${pathOf(d1)},${pathOf(d2)}", "fk1,fk2",
      "pk1,pk2", mvPath, "a1,a2", "m")
    // the partial star's bail reason surfaces through the CALL
    val lines = spark.sql(
      s"CALL cattest.system.explain_mv_serve(query => " +
        s"'SELECT a1, sum(m) AS s FROM $f JOIN $d1 ON fk1 = pk1 " +
        "GROUP BY a1')")
      .collect().map(_.getString(0)).toSeq
    assert(lines.exists(l => l.contains("2 dim(s)") &&
      l.contains("the query 1")), lines.toString)
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      // a CTE spelling of the star inlines during optimization and
      // serves exactly like the flat query
      val cte = rule(spark.sql(
        s"""WITH st AS (
           |  SELECT a1, a2, m FROM $f
           |  JOIN $d1 ON fk1 = pk1 JOIN $d2 ON fk2 = pk2)
           |SELECT a1, sum(m) AS s, count(*) AS n
           |FROM st GROUP BY a1""".stripMargin)
        .queryExecution.optimizedPlan)
      assert(MvRewrite.readsPath(cte, mvPath),
        "a CTE-wrapped star must still serve")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, cte)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("x", 10L), ("y", 20L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("list_mvs inventories every MV with kind, watermark and " +
    "freshness; staleness flips on a source commit and back on REFRESH") {
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_lmv AS
         |SELECT k, sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin)
    def row(): org.apache.spark.sql.Row =
      spark.sql("CALL cattest.system.list_mvs()")
        .filter(org.apache.spark.sql.functions.col("mv") ===
          s"main.${tn}_lmv")
        .collect() match {
        case Array(r) => r
        case other => fail(s"expected one row, got ${other.toSeq}")
      }
    val r0 = row()
    assert(r0.getString(2) == "sum" && r0.getBoolean(5), r0.toString)
    assert(r0.getInt(3) == r0.getInt(4))
    spark.sql(s"INSERT INTO $t VALUES (3, 30)")
    assert(!row().getBoolean(5), "a source commit must flip fresh=false")
    spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_lmv")
    assert(row().getBoolean(5), "REFRESH must restore fresh=true")
  }

  test("the DDL's hll shape: hll_sketch_agg(u) AS mv_hll declares the " +
    "approximate-distinct MV; approx_count_distinct serves, exact " +
    "count(DISTINCT) never does") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, u STRING)")
    spark.sql(
      s"INSERT INTO $t VALUES (1, 'u1'), (1, 'u2'), (1, 'u1'), (2, 'u3')")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_hmv AS
         |SELECT k, hll_sketch_agg(u) AS mv_hll, count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_hmv"
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      val served = plan(
        s"SELECT k, approx_count_distinct(u) AS au, count(*) AS n " +
          s"FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(served, mvPath),
        "approx_count_distinct must serve from the DDL-declared hll MV")
      // sparse-mode sketches are exact at this size
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, served)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet == Set((1L, 2L, 3L), (2L, 1L, 1L)))
      // the GLOBAL estimate unions the per-group sketches (u1 counts
      // once across groups? no — u1 only in group 1; u3 in group 2:
      // global distinct = 3)
      val gl = plan(s"SELECT approx_count_distinct(u) AS au FROM $t")
      assert(MvRewrite.readsPath(gl, mvPath))
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, gl)
        .collect()(0).getLong(0) == 3L)
      // EXACT count(DISTINCT) must never serve an approximation
      assert(!MvRewrite.readsPath(plan(
        s"SELECT k, count(DISTINCT u) AS du FROM $t GROUP BY k"), mvPath),
        "exact count(DISTINCT) must bail to the source")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("DDL expression spellings for the distinct kinds (round 18): " +
    "hll_sketch_agg(<expr>) AS mv_hll and count(DISTINCT <expr>) AS " +
    "mv_dc declare expression-measure MVs; each serves its own " +
    "aggregate and the off-convention spellings refuse") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT, d BIGINT)")
    spark.sql(
      s"INSERT INTO $t VALUES (1, 10, 1), (1, 10, 1), (1, 20, 2), (2, 30, 1)")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_hx AS
         |SELECT k, hll_sketch_agg(v + 100 * d) AS mv_hll,
         |count(*) AS mv_n FROM $t GROUP BY k""".stripMargin)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_dx AS
         |SELECT k, count(DISTINCT v % 7) AS mv_dc, count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin)
    assert(SnapshotLog.tableProps(spark, pathOf(s"x.y.${tn}_hx"))
      .get("mv_agg_expr").exists(_.replace(" ", "").contains("v+")))
    val pH = s"$warehouse/main/${tn}_hx"
    val pD = s"$warehouse/main/${tn}_dx"
    // the REFRESH re-derives both expressions over the delta
    spark.sql(s"INSERT INTO $t VALUES (2, 31, 2)")
    spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_hx")
    spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_dx")
    val rule = MvRollupRewriteRule(spark)
    // ground truth BEFORE arming the conf (SURVEY §5.6)
    val expH = spark.sql(
      s"SELECT k, count(DISTINCT v + 100 * d) AS au FROM $t GROUP BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expD = spark.sql(
      s"SELECT k, count(DISTINCT v % 7) AS du FROM $t GROUP BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      val hq = plan(
        s"SELECT k, approx_count_distinct(v + 100 * d) AS au " +
          s"FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(hq, pH),
        "the DDL hll expression must serve its approximate aggregate")
      // HLL is exact at this cardinality
      assert(run(hq).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == expH)
      val dq = plan(
        s"SELECT k, count(DISTINCT v % 7) AS du FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(dq, pD),
        "the DDL distinct expression must serve the exact count")
      assert(run(dq).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == expD)
      // cross-kind: the exact ask never serves from the sketch, the
      // approximate ask never from the bitmap of a DIFFERENT expr
      assert(!MvRewrite.readsPath(plan(
        s"SELECT k, count(DISTINCT v + 100 * d) AS du FROM $t GROUP BY k"),
        pH))
      assert(!MvRewrite.readsPath(plan(
        s"SELECT k, approx_count_distinct(v % 8) AS au FROM $t GROUP BY k"),
        pH))
    } finally spark.conf.unset(MvRewrite.ConfKey)
    // off-convention aliases refuse at CREATE
    val e1 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW ${freshName()} AS " +
        s"SELECT k, hll_sketch_agg(v + d) AS sketch, count(*) AS mv_n " +
        s"FROM $t GROUP BY k"))
    assert(e1.getMessage.contains("shapes"))
    // a non-integral distinct expression refuses, naming the remedy
    val e2 = intercept[Exception](spark.sql(
      s"CREATE MATERIALIZED VIEW ${freshName()} AS " +
        s"SELECT k, count(DISTINCT concat('p', CAST(v AS STRING))) AS mv_dc, " +
        s"count(*) AS mv_n FROM $t GROUP BY k"))
    assert(e2.getMessage.contains("hashDistinct") ||
      e2.getMessage.contains("integral"), e2.getMessage)
  }

  test("a served STAR query EXECUTES as one MV parquet scan inside " +
    "codegen: no joins, no source scans, the dim filter pushed — via " +
    "the injected rule, no manual rewrite") {
    import graft.plans.MvRewrite
    val f = freshName()
    val d1 = freshName()
    val d2 = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk1 BIGINT, fk2 BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d1 (pk1 BIGINT, a1 STRING)")
    spark.sql(s"CREATE TABLE $d2 (pk2 BIGINT, a2 STRING)")
    spark.sql(s"INSERT INTO $f VALUES (1, 7, 10), (1, 8, 20), (2, 7, 30)")
    spark.sql(s"INSERT INTO $d1 VALUES (1, 'x'), (2, 'y')")
    spark.sql(s"INSERT INTO $d2 VALUES (7, 'p'), (8, 'q')")
    val mvPath = s"$warehouse/main/${fn}_psmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), s"${pathOf(d1)},${pathOf(d2)}", "fk1,fk2",
      "pk1,pk2", mvPath, "a1,a2", "m")
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      val q = spark.sql(
        s"SELECT a1, sum(m) AS s, count(*) AS n FROM $f " +
          s"JOIN $d1 ON fk1 = pk1 JOIN $d2 ON fk2 = pk2 " +
          s"WHERE a2 = 'p' GROUP BY a1")
      assert(q.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSet == Set(("x", 10L), ("y", 30L)))
      val plan = {
        def fin(p: org.apache.spark.sql.execution.SparkPlan)
            : org.apache.spark.sql.execution.SparkPlan = p match {
          case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        fin(q.queryExecution.executedPlan).toString
      }
      val scans = plan.linesIterator.count(_.contains("Scan parquet"))
      assert(scans == 1, s"expected ONE parquet scan (the MV), got " +
        s"$scans:\n$plan")
      assert(!plan.contains("BatchScan"),
        s"no catalog source scan may survive a serve:\n$plan")
      assert(!plan.contains("Join"), s"no join may survive:\n$plan")
      assert(plan.contains("PushedFilters: [") &&
        plan.contains("EqualTo(a2,p)"),
        s"the transplanted dim filter must reach the MV scan:\n$plan")
      assert(plan.contains("*("), s"codegen spans expected:\n$plan")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("a served LEFT STAR query EXECUTES as one MV parquet scan inside " +
    "codegen with the null-tolerant filter pushed — the physical-layer " +
    "100 TB claim extends to the left kind (round 17)") {
    import graft.plans.MvRewrite
    val f = freshName()
    val d1 = freshName()
    val d2 = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk1 BIGINT, fk2 BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d1 (pk1 BIGINT, a1 STRING)")
    spark.sql(s"CREATE TABLE $d2 (pk2 BIGINT, a2 STRING)")
    spark.sql(
      s"""INSERT INTO $f VALUES (1, 7, 10), (1, 8, 20), (2, 7, 30),
         |(1, 99, 40), (99, 7, 50)""".stripMargin)
    spark.sql(s"INSERT INTO $d1 VALUES (1, 'x'), (2, 'y')")
    spark.sql(s"INSERT INTO $d2 VALUES (7, 'p'), (8, 'q')")
    val mvPath = s"$warehouse/main/${fn}_plmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), s"${pathOf(d1)},${pathOf(d2)}", "fk1,fk2",
      "pk1,pk2", mvPath, "a1,a2", "m", joinType = "left")
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      // a NULL-TOLERANT dim filter stays a left join (a null-rejecting
      // one rewrites to inner and correctly bails on type) and
      // transplants onto the MV's key columns
      val q = spark.sql(
        s"SELECT a1, a2, sum(m) AS s FROM $f " +
          s"LEFT JOIN $d1 ON fk1 = pk1 LEFT JOIN $d2 ON fk2 = pk2 " +
          s"WHERE a2 = 'p' OR a2 IS NULL GROUP BY a1, a2")
      assert(q.collect()
        .map(r => (Option(r.getString(0)), Option(r.getString(1)),
          r.getLong(2))).toSet ==
        Set(
          (Some("x"), Some("p"), 10L), (Some("y"), Some("p"), 30L),
          (Some("x"), None, 40L), (None, Some("p"), 50L)))
      val plan = {
        def fin(p: org.apache.spark.sql.execution.SparkPlan)
            : org.apache.spark.sql.execution.SparkPlan = p match {
          case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        fin(q.queryExecution.executedPlan).toString
      }
      val scans = plan.linesIterator.count(_.contains("Scan parquet"))
      assert(scans == 1, s"expected ONE parquet scan (the MV), got " +
        s"$scans:\n$plan")
      assert(!plan.contains("BatchScan"),
        s"no catalog source scan may survive a serve:\n$plan")
      assert(!plan.contains("Join"), s"no join may survive:\n$plan")
      assert(plan.contains("PushedFilters: [") && plan.contains("a2"),
        s"the transplanted null-tolerant filter must reach the MV " +
          s"scan:\n$plan")
      assert(plan.contains("*("), s"codegen spans expected:\n$plan")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("a served MIXED STAR query EXECUTES as one MV parquet scan inside " +
    "codegen with the null-tolerant filter pushed — the physical-layer " +
    "100 TB claim extends to per-edge types (round 18)") {
    import graft.plans.MvRewrite
    val f = freshName()
    val d1 = freshName()
    val d2 = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk1 BIGINT, fk2 BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d1 (pk1 BIGINT, a1 STRING)")
    spark.sql(s"CREATE TABLE $d2 (pk2 BIGINT, a2 STRING)")
    spark.sql(
      s"""INSERT INTO $f VALUES (1, 7, 10), (1, 8, 20), (2, 7, 30),
         |(1, 99, 40), (99, 7, 50)""".stripMargin)
    spark.sql(s"INSERT INTO $d1 VALUES (1, 'x'), (2, 'y')")
    spark.sql(s"INSERT INTO $d2 VALUES (7, 'p'), (8, 'q')")
    val mvPath = s"$warehouse/main/${fn}_pmmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), s"${pathOf(d1)},${pathOf(d2)}", "fk1,fk2",
      "pk1,pk2", mvPath, "a1,a2", "m", joinType = "inner,left")
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      // null-tolerant left-dim filter: transplants without flipping
      // the left edge; the inner edge drops fk1=99 as the MV folded it
      val q = spark.sql(
        s"SELECT a1, a2, sum(m) AS s FROM $f " +
          s"JOIN $d1 ON fk1 = pk1 LEFT JOIN $d2 ON fk2 = pk2 " +
          s"WHERE a2 IS NULL OR a2 = 'p' GROUP BY a1, a2")
      assert(q.collect()
        .map(r => (r.getString(0), Option(r.getString(1)), r.getLong(2)))
        .toSet ==
        Set(("x", Some("p"), 10L), ("y", Some("p"), 30L),
          ("x", None, 40L)))
      val plan = {
        def fin(p: org.apache.spark.sql.execution.SparkPlan)
            : org.apache.spark.sql.execution.SparkPlan = p match {
          case a: org.apache.spark.sql.execution.adaptive
                .AdaptiveSparkPlanExec => a.executedPlan
          case other => other
        }
        fin(q.queryExecution.executedPlan).toString
      }
      val scans = plan.linesIterator.count(_.contains("Scan parquet"))
      assert(scans == 1, s"expected ONE parquet scan (the MV), got " +
        s"$scans:\n$plan")
      assert(!plan.contains("BatchScan"),
        s"no catalog source scan may survive a serve:\n$plan")
      assert(!plan.contains("Join"), s"no join may survive:\n$plan")
      assert(plan.contains("PushedFilters: [") && plan.contains("a2"),
        s"the transplanted null-tolerant filter must reach the MV " +
          s"scan:\n$plan")
      assert(plan.contains("*("), s"codegen spans expected:\n$plan")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("historical join-MV serving: a VERSION AS OF pair (old fact, old " +
    "dim) serves from the PRE-dim-refresh MV version while the current " +
    "query serves the new state — the mvdv ledger overlays per version") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $f VALUES (1, 10), (2, 20)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'auto'), (2, 'mach')")
    val mvPath = s"$warehouse/main/${fn}_hjmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), pathOf(d), "fk", "pk", mvPath, "seg", "m")
    val factV1 = SnapshotLog.versions(spark, pathOf(f)).last
    val dimV1 = SnapshotLog.versions(spark, pathOf(d)).last
    // fact moves + fold, then the dim moves + dim refresh
    spark.sql(s"INSERT INTO $f VALUES (1, 5)")
    SnapshotLog.refreshMv(spark, mvPath)
    spark.sql(s"UPDATE $d SET seg = 'mach' WHERE pk = 1")
    SnapshotLog.refreshMvDim(spark, mvPath, pathOf(d))
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      // current pair serves the NEW dim state from the MV tip
      val cur = plan(
        s"SELECT seg, sum(m) AS s FROM $f JOIN $d ON fk = pk GROUP BY seg")
      assert(MvRewrite.readsPath(cur, mvPath))
      assert(run(cur).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("mach", 35L)))
      // the historical pair serves the OLD state from the OLD MV
      // version: fact@v1 selects the MV version whose mvv folded v1,
      // and the effective pins AT that version are the create pins
      val hist = plan(
        s"SELECT seg, sum(m) AS s FROM $f VERSION AS OF $factV1 " +
          s"JOIN $d VERSION AS OF $dimV1 ON fk = pk GROUP BY seg")
      assert(MvRewrite.readsPath(hist, mvPath),
        "the historical pair must serve from the pre-refresh MV version")
      assert(run(hist).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("auto", 10L), ("mach", 20L)))
      // a MIXED pair (old fact, NEW dim) must not serve: no MV
      // version carries that combination
      assert(!MvRewrite.readsPath(plan(
        s"SELECT seg, sum(m) AS s FROM $f VERSION AS OF $factV1 " +
          s"JOIN $d ON fk = pk GROUP BY seg"), mvPath),
        "an (old fact, new dim) pair has no matching MV version")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("join-MV measures resolve by FACT-side exprId, never by name: a " +
    "dim column named like the measure is refused at create, and an MV " +
    "predating the guard bails rather than serving the fact partial") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $f VALUES (1, 10), (1, 5), (2, 20)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'auto'), (2, 'mach')")
    val mvPath = s"$warehouse/main/${fn}_xjmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), pathOf(d), "fk", "pk", mvPath, "seg", "m")
    // simulate an MV created BEFORE the declaration-time guard (or an
    // out-of-band dim-dir swap): rebuild the dim at the SAME path with
    // the same commit count and (pk, seg) content, plus a column named
    // exactly like the fact measure. Path and pinned version both
    // match, so only the exprId gate stands between `sum(dd.m)` and a
    // silently-served fact partial.
    spark.sql(s"DROP TABLE $d")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING, m BIGINT)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'auto', 1000), (2, 'mach', 2000)")
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      // positive control: the FACT measure still serves (path + pin OK)
      val facts = plan(
        s"SELECT seg, sum(ff.m) AS s FROM $f ff JOIN $d dd " +
          s"ON ff.fk = dd.pk GROUP BY seg")
      assert(MvRewrite.readsPath(facts, mvPath),
        "the fact-side measure must still serve after the dim rebuild")
      // the DIM's same-named column must NOT be served the fact
      // partial: its exprId is dim-side, the name match alone would
      // have fired (the advisor's round-15 finding)
      val dims = plan(
        s"SELECT seg, sum(dd.m) AS s FROM $f ff JOIN $d dd " +
          s"ON ff.fk = dd.pk GROUP BY seg")
      assert(!MvRewrite.readsPath(dims, mvPath),
        "a dim-side measure attribute must bail, not serve the fact sum")
      assert(run(dims).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("auto", 2000L), ("mach", 2000L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("left-join MV: the NULL bucket serves, fact-only aggregates " +
    "re-aggregate from it, and inner/left shapes never cross-serve") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(
      s"INSERT INTO $f VALUES (1, 10), (1, 5), (2, 20), (99, 400), " +
        "(NULL, 3)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'auto'), (2, 'mach')")
    val mvPath = s"$warehouse/main/${fn}_ljmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), pathOf(d), "fk", "pk", mvPath, "seg", "m",
      joinType = "left")
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      def noScan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        !p.exists(n =>
          n.isInstanceOf[org.apache.spark.sql.execution.datasources
            .v2.DataSourceV2ScanRelation] ||
            n.isInstanceOf[org.apache.spark.sql.execution.datasources
              .v2.DataSourceV2Relation])
      // the LEFT JOIN query serves, NULL bucket included (unmatched
      // fk=99 and the NULL fk both live there)
      val lq = plan(
        s"SELECT seg, sum(m) AS s, count(*) AS n " +
          s"FROM $f LEFT JOIN $d ON fk = pk GROUP BY seg")
      assert(MvRewrite.readsPath(lq, mvPath) && noScan(lq),
        "the left-join rollup must serve")
      assert(run(lq).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
        .toSet ==
        Set((Some("auto"), 15L, 2L), (Some("mach"), 20L, 1L),
          (None, 403L, 2L)))
      // FACT-ONLY aggregates serve from the left MV — every fact row
      // is in exactly one group, so the global re-aggregation is the
      // fact total (the shape the INNER join MV must refuse)
      val fo = plan(s"SELECT sum(m) AS s, count(*) AS n FROM $f")
      assert(MvRewrite.readsPath(fo, mvPath) && noScan(fo),
        "fact-only global must serve from the left-join MV")
      assert(run(fo).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == Set((438L, 5L)))
      // an INNER query must not serve from the left MV (its NULL
      // bucket holds rows the inner query excludes)
      val iq = plan(
        s"SELECT seg, sum(m) AS s FROM $f JOIN $d ON fk = pk GROUP BY seg")
      assert(!MvRewrite.readsPath(iq, mvPath),
        "an inner query must bail from a left-join MV")
      assert(run(iq).collect().map(r => (r.getString(0), r.getLong(1)))
        .toSet == Set(("auto", 15L), ("mach", 20L)))
      // and a LEFT query must not serve from an INNER MV
      val mvInner = s"$warehouse/main/${fn}_ijmv"
      SnapshotLog.createJoinMv(
        spark, pathOf(f), pathOf(d), "fk", "pk", mvInner, "seg", "m")
      val lq2 = plan(
        s"SELECT seg, sum(m) AS s FROM $f LEFT JOIN $d ON fk = pk " +
          s"GROUP BY seg")
      assert(MvRewrite.readsPath(lq2, mvPath) &&
        !MvRewrite.readsPath(lq2, mvInner),
        "a left query must serve from the LEFT MV, never the inner one")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("mixed-grain join MV serves segment x day (identity), segment x " +
    "month (coarse), and single-member subsets; fact-only and alien " +
    "grains bail") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT, ts TIMESTAMP)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(
      s"""INSERT INTO $f VALUES
         |(1, 10, timestamp'2024-01-05 09:00:00'),
         |(1, 5,  timestamp'2024-01-05 17:00:00'),
         |(1, 3,  timestamp'2024-02-01 09:00:00'),
         |(2, 20, timestamp'2024-01-09 10:00:00'),
         |(99, 400, timestamp'2024-01-05 10:00:00')""".stripMargin)
    spark.sql(s"INSERT INTO $d VALUES (1, 'auto'), (2, 'mach')")
    val mvPath = s"$warehouse/main/${fn}_mgmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), pathOf(d), "fk", "pk", mvPath, "seg,day", "m",
      keyExpr = Some("to_date(ts)"))
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      def noScan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        !p.exists(n =>
          n.isInstanceOf[org.apache.spark.sql.execution.datasources
            .v2.DataSourceV2ScanRelation] ||
            n.isInstanceOf[org.apache.spark.sql.execution.datasources
              .v2.DataSourceV2Relation] ||
            n.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join])
      // identity: seg x day, both scans and the join gone
      val idq = plan(
        s"SELECT seg, to_date(ts) AS day, sum(m) AS s, count(*) AS n " +
          s"FROM $f JOIN $d ON fk = pk GROUP BY seg, to_date(ts)")
      assert(MvRewrite.readsPath(idq, mvPath) && noScan(idq),
        "seg x day identity must serve")
      assert(run(idq).collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2),
          r.getLong(3))).toSet ==
        Set(("auto", "2024-01-05", 15L, 2L), ("auto", "2024-02-01", 3L, 1L),
          ("mach", "2024-01-09", 20L, 1L)))
      // coarse: seg x month re-aggregates the daily join rollup
      val moq = plan(
        s"SELECT seg, trunc(to_date(ts), 'month') AS mon, sum(m) AS s " +
          s"FROM $f JOIN $d ON fk = pk GROUP BY seg, trunc(to_date(ts), 'month')")
      assert(MvRewrite.readsPath(moq, mvPath) && noScan(moq),
        "seg x month must serve coarse from the daily join MV")
      assert(run(moq).collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
        .toSet ==
        Set(("auto", "2024-01-01", 15L), ("auto", "2024-02-01", 3L),
          ("mach", "2024-01-01", 20L)))
      // subsets of the mixed grain re-aggregate too: seg alone,
      // and the derived day alone
      val segq = plan(
        s"SELECT seg, sum(m) AS s FROM $f JOIN $d ON fk = pk GROUP BY seg")
      assert(MvRewrite.readsPath(segq, mvPath) && noScan(segq))
      assert(run(segq).collect().map(r => (r.getString(0), r.getLong(1)))
        .toSet == Set(("auto", 18L), ("mach", 20L)))
      val dayq = plan(
        s"SELECT to_date(ts) AS day, count(*) AS n " +
          s"FROM $f JOIN $d ON fk = pk GROUP BY to_date(ts)")
      assert(MvRewrite.readsPath(dayq, mvPath) && noScan(dayq))
      assert(run(dayq).collect()
        .map(r => (r.getDate(0).toString, r.getLong(1))).toSet ==
        Set(("2024-01-05", 2L), ("2024-01-09", 1L), ("2024-02-01", 1L)))
      // a WEEK grain serves too — weekofyear(ts) analyzes to
      // WeekOfYear(Cast(ts AS DATE)), and a week is a union of whole
      // days, so the day-keyed rollup answers it exactly (the coarse
      // transplant substitutes the inner Cast with the stored day)
      val wkq = plan(
        s"SELECT seg, weekofyear(ts) AS wk, sum(m) AS s " +
          s"FROM $f JOIN $d ON fk = pk GROUP BY seg, weekofyear(ts)")
      assert(MvRewrite.readsPath(wkq, mvPath) && noScan(wkq))
      assert(run(wkq).collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet ==
        Set(("auto", 1, 15L), ("auto", 5, 3L), ("mach", 2, 20L)))
      // a FINER grain (hour) can never be recovered from a day rollup
      assert(!MvRewrite.readsPath(plan(
        s"SELECT seg, date_trunc('hour', ts) AS h, sum(m) AS s " +
          s"FROM $f JOIN $d ON fk = pk GROUP BY seg, date_trunc('hour', ts)"),
        mvPath), "an hour grain must bail from a day rollup")
      // fact-only stays fenced: the inner join dropped fk=99
      assert(!MvRewrite.readsPath(plan(
        s"SELECT to_date(ts) AS day, sum(m) AS s FROM $f GROUP BY " +
          s"to_date(ts)"), mvPath),
        "a fact-only aggregate must never serve from the join MV")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("expression measures: CREATE MATERIALIZED VIEW ... sum(expr) AS " +
    "mv_sum declares a derived measure; the serve rule matches the " +
    "canonicalized expression at every grain and bails on any other " +
    "expression") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, cents BIGINT, disc BIGINT)")
    spark.sql(
      s"INSERT INTO $t VALUES (1, 100, 10), (1, 50, 0), (2, 30, 50)")
    // the revenue shape, straight from the DDL
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_xemv AS
         |SELECT k, sum(cents * (100 - disc)) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_xemv"
    val props = SnapshotLog.tableProps(spark, mvPath)
    assert(props.get("mv_agg_expr").exists(_.contains("100 - disc")), props)
    // the fold maintains the DERIVED values through refresh
    spark.sql(s"INSERT INTO $t VALUES (2, 1, 0), (3, 7, 100)")
    spark.sql(s"DELETE FROM $t WHERE cents = 50")
    spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_xemv")
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      // identity grain: pure MV scan, no aggregate at all
      val q = s"SELECT k, sum(cents * (100 - disc)) AS rev, " +
        s"count(*) AS n FROM $t GROUP BY k"
      val served = plan(q)
      assert(MvRewrite.readsPath(served, mvPath),
        "the expression measure must serve at identity grain")
      assert(!served.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Aggregate]))
      assert(run(served).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet ==
        Set((1L, 9000L, 1L), (2L, 1600L, 2L), (3L, 0L, 1L)))
      // a semantically-equal different spelling serves too (the match
      // is canonical, not textual)
      assert(MvRewrite.readsPath(plan(
        s"SELECT k, sum((100 - disc) * cents) AS rev FROM $t GROUP BY k"),
        mvPath), "a commuted spelling must still match canonically")
      // global grain re-aggregates
      val gl = plan(s"SELECT sum(cents * (100 - disc)) AS rev FROM $t")
      assert(MvRewrite.readsPath(gl, mvPath))
      assert(run(gl).collect()(0).getLong(0) == 10600L)
      // a key filter transplants alongside the expression measure
      val fl = plan(
        s"SELECT k, sum(cents * (100 - disc)) AS rev FROM $t " +
          s"WHERE k >= 2 GROUP BY k")
      assert(MvRewrite.readsPath(fl, mvPath))
      assert(run(fl).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == Set((2L, 1600L), (3L, 0L)))
      // ANY other expression bails — never a near-miss serve
      val other = plan(
        s"SELECT k, sum(cents * (99 - disc)) AS rev FROM $t GROUP BY k")
      assert(!MvRewrite.readsPath(other, mvPath),
        "a different expression must bail to the source plan")
      assert(run(other).collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSet == Set((1L, 8900L), (2L, 1569L), (3L, -7L)))
      // sum over the bare column is NOT the declared expression
      assert(!MvRewrite.readsPath(plan(
        s"SELECT k, sum(cents) AS s FROM $t GROUP BY k"), mvPath))
    } finally spark.conf.unset(MvRewrite.ConfKey)
    // the CALL surface mirrors the DDL (agg_expr parameter)
    spark.sql(
      s"""CALL cattest.system.create_mv(source => 'main.$tn',
         |mv => 'main.${tn}_xemv2', key => 'k', agg => 'rev2',
         |agg_expr => 'cents * disc')""".stripMargin)
    val p2 = SnapshotLog.tableProps(spark, s"$warehouse/main/${tn}_xemv2")
    assert(p2.get("mv_agg_expr").contains("cents * disc"), p2)
  }

  test("CREATE MATERIALIZED VIEW over ONE inner join (DDL join form): " +
    "qualified columns classify into (dim keys, fact measures), refresh " +
    "folds, the serve fires; off-shape joins refuse loudly") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $f VALUES (1, 10), (2, 20), (7, 300)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'x'), (2, 'y')")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${fn}_djmv AS
         |SELECT d.seg, sum(f.m) AS mv_sum, count(*) AS mv_n
         |FROM $f f JOIN $d d ON f.fk = d.pk GROUP BY d.seg""".stripMargin)
    val mvPath = s"$warehouse/main/${fn}_djmv"
    val props = SnapshotLog.tableProps(spark, mvPath)
    assert(props.get("mv_kind").contains("sum") &&
      props.get("mv_join_fk").contains("fk") &&
      props.get("mv_join_pk").contains("pk") &&
      props.get("mv_join_dim").exists(_.endsWith(d.split('.').last)))
    // the fact moves on; REFRESH folds the enriched delta
    spark.sql(s"INSERT INTO $f VALUES (1, 5)")
    spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${fn}_djmv")
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      val q = s"SELECT seg, sum(m) AS s, count(*) AS n " +
        s"FROM $f JOIN $d ON fk = pk GROUP BY seg"
      val served = rule(spark.sql(q).queryExecution.optimizedPlan)
      assert(MvRewrite.readsPath(served, mvPath),
        "the DDL-created join MV must serve")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, served)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet == Set(("x", 15L, 2L), ("y", 20L, 1L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
    // refusals: unqualified grouping; keys from both sides; an outer
    // join; a dim-side measure
    val e1 = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW ${freshName()} AS
         |SELECT seg, sum(f.m) AS mv_sum, count(*) AS mv_n
         |FROM $f f JOIN $d d ON f.fk = d.pk GROUP BY seg""".stripMargin))
    assert(e1.getMessage.contains("qualify"))
    val e2 = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW ${freshName()} AS
         |SELECT d.seg, f.fk, sum(f.m) AS mv_sum, count(*) AS mv_n
         |FROM $f f JOIN $d d ON f.fk = d.pk
         |GROUP BY d.seg, f.fk""".stripMargin))
    assert(e2.getMessage.contains("ONE side"))
    // round 16: LEFT JOIN (fact on the left) is now a VALID form — the
    // refusals that remain are a RIGHT join and a left join whose
    // preserved side is the dim
    val e3 = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW ${freshName()} AS
         |SELECT d.seg, sum(f.m) AS mv_sum, count(*) AS mv_n
         |FROM $f f RIGHT JOIN $d d ON f.fk = d.pk GROUP BY d.seg""".stripMargin))
    assert(e3.getMessage.contains("INNER or LEFT"))
    val e3b = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW ${freshName()} AS
         |SELECT d.seg, sum(f.m) AS mv_sum, count(*) AS mv_n
         |FROM $d d LEFT JOIN $f f ON f.fk = d.pk GROUP BY d.seg""".stripMargin))
    assert(e3b.getMessage.contains("preserves the FACT side"))
    val e4 = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW ${freshName()} AS
         |SELECT d.seg, sum(d.pk) AS mv_sum, count(*) AS mv_n
         |FROM $f f JOIN $d d ON f.fk = d.pk GROUP BY d.seg""".stripMargin))
    assert(e4.getMessage.contains("unsupported aggregate") ||
      e4.getMessage.contains("shapes"))
  }

  test("explain_mv_serve answers 'why didn't my MV serve?': SERVED with " +
    "grain and versions, STALE with the REFRESH remedy, unservable output " +
    "named, untransplantable predicate named") {
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10), (2, 20)")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_xmv AS
         |SELECT k, sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin)
    def explain(q: String): Seq[String] =
      spark.sql(
        s"CALL cattest.system.explain_mv_serve(query => '${q.replace("'", "''")}')")
        .collect().map(_.getString(0)).toSeq
    val good = s"SELECT k, sum(v) AS s FROM $t GROUP BY k"
    // fresh MV, servable shape — the explain names the MV, grain, and
    // matched versions (and works with the rewrite conf OFF: an
    // explain always explains)
    val l1 = explain(good)
    assert(l1.exists(l => l.startsWith("SERVED from") &&
      l.contains(s"${tn}_xmv") && l.contains("identity")), l1.toString)
    // stale: the source moved — remedy is REFRESH
    spark.sql(s"INSERT INTO $t VALUES (3, 30)")
    val l2 = explain(good)
    assert(l2.exists(l => l.contains("STALE") &&
      l.contains("REFRESH MATERIALIZED VIEW")), l2.toString)
    spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${tn}_xmv")
    assert(explain(good).exists(_.startsWith("SERVED from")))
    // an aggregate the sum rollup cannot answer is NAMED
    val l3 = explain(s"SELECT k, avg(v) AS a FROM $t GROUP BY k")
    assert(l3.exists(l => l.contains("does not map onto the stored " +
      "partials") && l.contains("avg(")), l3.toString)
    // a measure-level predicate is NAMED as untransplantable
    val l4 = explain(
      s"SELECT k, sum(v) AS s FROM $t WHERE v > 5 GROUP BY k")
    assert(l4.exists(_.contains("does not transplant")), l4.toString)
    // a table with no MVs explains that there is nothing to serve
    val bare = freshName()
    spark.sql(s"CREATE TABLE $bare (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $bare VALUES (1, 1)")
    val l5 = explain(s"SELECT k, sum(v) AS s FROM $bare GROUP BY k")
    assert(l5.exists(_.contains("nothing a materialized view could serve")),
      l5.toString)
    // with the rewrite conf ON the rule also runs inside the query's
    // own optimization — the explain must neither double-report each
    // decision nor lose the SERVED line to an already-rewritten plan
    // (advisor, round 15)
    spark.conf.set(graft.plans.MvRewrite.ConfKey, "true")
    try {
      val l6 = explain(good)
      assert(l6.count(_.startsWith("SERVED from")) == 1, l6.toString)
    } finally spark.conf.unset(graft.plans.MvRewrite.ConfKey)
  }

  test("old-dim historical serving AFTER refresh_mv_dim: a query pinned " +
    "at (fact@watermark, dim@oldPin) serves from the PRE-refresh MV " +
    "version sharing the same mvv span — the round-16 advisor's dead " +
    "path (versionAtWatermark returned only the newest span)") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $f VALUES (1, 10), (2, 20)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'auto'), (2, 'mach')")
    val mvPath = s"$warehouse/main/${fn}_odmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), pathOf(d), "fk", "pk", mvPath, "seg", "m")
    val dimV1 = SnapshotLog.versions(spark, pathOf(d)).last
    // fact moves + fold: the MV's newest fact watermark becomes
    // factV2...
    spark.sql(s"INSERT INTO $f VALUES (1, 5)")
    SnapshotLog.refreshMv(spark, mvPath)
    val factV2 = SnapshotLog.versions(spark, pathOf(f)).last
    // ...then the dim moves and refresh_mv_dim re-commits with the
    // SAME mvv=factV2 and a bumped pin — two MV versions now share
    // one fact-watermark span, differing only in effective dim pins
    spark.sql(s"UPDATE $d SET seg = 'mach' WHERE pk = 1")
    SnapshotLog.refreshMvDim(spark, mvPath, pathOf(d))
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      // the current pair serves the NEW dim state (tip span, new pin)
      val cur = plan(
        s"SELECT seg, sum(m) AS s FROM $f JOIN $d ON fk = pk GROUP BY seg")
      assert(MvRewrite.readsPath(cur, mvPath))
      assert(run(cur).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("mach", 35L)))
      // the SAME fact watermark with the OLD dim pin must serve from
      // the pre-refresh MV version — not bail with DIM DRIFT
      val hist = plan(
        s"SELECT seg, sum(m) AS s FROM $f VERSION AS OF $factV2 " +
          s"JOIN $d VERSION AS OF $dimV1 ON fk = pk GROUP BY seg")
      assert(MvRewrite.readsPath(hist, mvPath),
        "(fact@watermark, dim@oldPin) must serve from the pre-refresh " +
          "MV version sharing the mvv span")
      assert(run(hist).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("auto", 15L), ("mach", 20L)))
      // a pin NO version ever carried still bails with the drift diag
      spark.sql(s"UPDATE $d SET seg = 'fresh' WHERE pk = 2")
      val newDimTip = SnapshotLog.versions(spark, pathOf(d)).last
      val miss = spark.sql(
        s"SELECT seg, sum(m) AS s FROM $f VERSION AS OF $factV2 " +
          s"JOIN $d VERSION AS OF $newDimTip ON fk = pk GROUP BY seg")
      assert(!MvRewrite.readsPath(
        rule(miss.queryExecution.optimizedPlan), mvPath))
      val lines = MvRewrite.explainServe(spark, miss)
      assert(lines.exists(l => l.contains("DIM DRIFT") &&
        l.contains("refresh_mv_dim")), lines.toString)
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("historical ranking under a dim-refresh STACK resolves each " +
    "candidate's size at the version the probe's dim pins actually " +
    "serve (r18 addendum-#4 probe 6): a query pinned at OLD dim pins " +
    "ranks the stacked MV by its PRE-refresh row count, not the newest " +
    "span's, so a post-refresh size blow-up cannot invert the choice") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT, ts TIMESTAMP)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    // three distinct days -> the mixed-grain competitor stores 3 rows
    spark.sql(
      s"""INSERT INTO $f VALUES
         |(1, 10, timestamp'2024-01-05 09:00:00'),
         |(2, 20, timestamp'2024-01-06 09:00:00'),
         |(3, 30, timestamp'2024-01-07 09:00:00'),
         |(4, 40, timestamp'2024-01-07 17:00:00')""".stripMargin)
    // OLD dim state: every pk in ONE segment -> the seg-only MV
    // stores 1 row at its create pins
    spark.sql(s"INSERT INTO $d VALUES (1, 'one'), (2, 'one'), " +
      s"(3, 'one'), (4, 'one')")
    val mvA = s"$warehouse/main/${fn}_stkA"
    val mvB = s"$warehouse/main/${fn}_stkB"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), pathOf(d), "fk", "pk", mvA, "seg", "m")
    SnapshotLog.createJoinMv(
      spark, pathOf(f), pathOf(d), "fk", "pk", mvB, "seg,day", "m",
      keyExpr = Some("to_date(ts)"))
    val dimV1 = SnapshotLog.versions(spark, pathOf(d)).last
    val factWm = SnapshotLog.versions(spark, pathOf(f)).last
    // the dim fans out to four segments; ONLY mvA takes the refresh —
    // its newest span version now stores 4 rows under the SAME mvv
    // watermark, while the pre-refresh version (1 row) still serves
    // the old pins. mvB keeps its create pins (3 rows).
    spark.sql(s"UPDATE $d SET seg = concat('s', cast(pk AS STRING)) " +
      s"WHERE pk > 1")
    SnapshotLog.refreshMvDim(spark, mvA, pathOf(d))
    assert(SnapshotLog.liveRowCounts(
      spark, mvA, SnapshotLog.versions(spark, mvA).last)
      .flatMap(_._2).sum == 4L, "post-refresh tip must store 4 groups")
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      // the probe pinned at OLD dim pins: both candidates serve it
      // (mvA's pre-refresh span version; mvB's subset rollup), so the
      // RANKING decides. Resolved sizes: mvA@old = 1 row < mvB = 3
      // rows — but the newest-span approximation read mvA as 4 rows
      // and handed the serve to mvB. The pins-resolved ranking must
      // pick mvA.
      val hist = plan(
        s"SELECT seg, sum(m) AS s FROM $f VERSION AS OF $factWm " +
          s"JOIN $d VERSION AS OF $dimV1 ON fk = pk GROUP BY seg")
      assert(MvRewrite.readsPath(hist, mvA),
        "old-pin probe must rank by the resolved pre-refresh size " +
          "(1 row) and serve the stacked MV")
      assert(!MvRewrite.readsPath(hist, mvB))
      assert(run(hist).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("one", 100L)))
      // control: the tip probe serves the NEW dim state — mvB's
      // stale pins bail with drift, mvA's refreshed version answers
      val cur = plan(
        s"SELECT seg, sum(m) AS s FROM $f JOIN $d ON fk = pk GROUP BY seg")
      assert(MvRewrite.readsPath(cur, mvA))
      assert(run(cur).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("one", 10L), ("s2", 20L), ("s3", 30L), ("s4", 40L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("a serve-path crash routes into the diagnostics instead of " +
    "vanishing: a poisoned mvv header makes the candidate bail with " +
    "'serve attempt crashed' while the query still runs unrewritten") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $t VALUES (1, 10), (1, 5), (2, 20)")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_pmv AS
         |SELECT k, sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY k""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_pmv"
    val rule = MvRollupRewriteRule(spark)
    val q = s"SELECT k, sum(v) AS s FROM $t GROUP BY k"
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      assert(MvRewrite.readsPath(
        rule(spark.sql(q).queryExecution.optimizedPlan), mvPath))
      // poison the registry entry: the MV's newest commit header gets
      // a non-numeric mvv — versionAtWatermark's toInt will THROW
      // inside the serve rule, the exact shape Try(...).toOption used
      // to swallow silently
      val logDir = new java.io.File(s"$mvPath/_log")
      val last = logDir.listFiles()
        .filter(_.getName.matches("v\\d+\\.commit")).sortBy(_.getName).last
      val bytes = new String(
        java.nio.file.Files.readAllBytes(last.toPath), "UTF-8")
      java.nio.file.Files.write(
        last.toPath,
        bytes.replaceAll("mvv=\\d+", "mvv=banana").getBytes("UTF-8"))
      val p = rule(spark.sql(q).queryExecution.optimizedPlan)
      assert(!MvRewrite.readsPath(p, mvPath),
        "a crashing candidate must not serve")
      // the query still answers, unrewritten
      assert(spark.sql(q).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 15L), (2L, 20L)))
      // and the crash is NAMED in the diagnostics — never silence.
      // (On a local FS the out-of-band edit trips Hadoop's CRC first
      // — ChecksumException rather than the header parser's
      // NumberFormatException; either way the class and message
      // surface instead of vanishing.)
      val lines = MvRewrite.explainServe(spark, spark.sql(q))
      assert(lines.exists(l => l.contains("serve attempt crashed") &&
        l.contains("Exception")), lines.toString)
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("cheapest-MV selection: with a daily AND a monthly MV on one " +
    "fact, the monthly query serves from the MONTHLY MV (fewer stored " +
    "rows) and the explain names the winner and the loser; the daily " +
    "query still serves from the daily MV (the monthly is inadmissible " +
    "at day grain)") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (ts TIMESTAMP, v BIGINT)")
    spark.sql(
      s"""INSERT INTO $t VALUES
         |(TIMESTAMP'2024-01-03 10:00:00', 1),
         |(TIMESTAMP'2024-01-04 11:00:00', 2),
         |(TIMESTAMP'2024-02-05 12:00:00', 4),
         |(TIMESTAMP'2024-02-05 13:00:00', 8),
         |(TIMESTAMP'2024-03-09 14:00:00', 16)""".stripMargin)
    // daily registers FIRST: the old first-match rule picked it
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_cd AS
         |SELECT to_date(ts) AS day, sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY to_date(ts)""".stripMargin)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${tn}_cm AS
         |SELECT trunc(to_date(ts), 'month') AS mon,
         |sum(v) AS mv_sum, count(*) AS mv_n
         |FROM $t GROUP BY trunc(to_date(ts), 'month')""".stripMargin)
    val dPath = s"$warehouse/main/${tn}_cd"
    val mPath = s"$warehouse/main/${tn}_cm"
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      val qm = s"SELECT trunc(to_date(ts), 'month') AS mon, " +
        s"sum(v) AS s, count(*) AS n FROM $t GROUP BY 1"
      val pm = plan(qm)
      assert(MvRewrite.readsPath(pm, mPath),
        "the monthly query must serve from the monthly MV (3 rows, " +
          "not the daily's 4)")
      assert(!MvRewrite.readsPath(pm, dPath))
      assert(run(pm).collect()
        .map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
        .toSet ==
        Set(("2024-01-01", 3L, 2L), ("2024-02-01", 12L, 2L),
          ("2024-03-01", 16L, 1L)))
      val lines = MvRewrite.explainServe(spark, spark.sql(qm))
      assert(lines.exists(l => l.contains("chose") &&
        l.contains(s"${tn}_cm") && l.contains(s"${tn}_cd")),
        lines.toString)
      // the DAY-grain query cannot be answered from the monthly
      // rollup — only the daily is admissible, and it serves
      val qd = s"SELECT to_date(ts) AS day, sum(v) AS s FROM $t GROUP BY 1"
      val pd = plan(qd)
      assert(MvRewrite.readsPath(pd, dPath) &&
        !MvRewrite.readsPath(pd, mPath))
      assert(run(pd).collect().length == 4)
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("LEFT 2-dim star serving: the NULL-bucket combinations are " +
    "first-class served groups; an INNER query never serves from the " +
    "left MV (and vice versa); a mixed inner/left tree never matches") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val da = freshName()
    val db = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (afk BIGINT, bfk BIGINT, v BIGINT)")
    spark.sql(s"CREATE TABLE $da (apk BIGINT, aat STRING)")
    spark.sql(s"CREATE TABLE $db (bpk BIGINT, bat STRING)")
    spark.sql(
      s"""INSERT INTO $f VALUES (1, 7, 10), (1, 99, 20), (99, 7, 30),
         |(99, 99, 40), (2, 8, 50)""".stripMargin)
    spark.sql(s"INSERT INTO $da VALUES (1, 'x'), (2, 'y')")
    spark.sql(s"INSERT INTO $db VALUES (7, 'p'), (8, 'q')")
    val mvPath = s"$warehouse/main/${fn}_l2mv"
    spark.sql(
      s"""CALL cattest.system.create_join_mv(fact => 'main.${fn}',
         |dim => 'main.${da.split('.').last},main.${db.split('.').last}',
         |fk => 'afk,bfk', pk => 'apk,bpk', mv => 'main.${fn}_l2mv',
         |key => 'aat,bat', agg => 'v', join_type => 'left')""".stripMargin)
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      val lq =
        s"SELECT aat, bat, sum(v) AS s, count(*) AS n FROM $f " +
          s"LEFT JOIN $da ON afk = apk LEFT JOIN $db ON bfk = bpk " +
          "GROUP BY aat, bat"
      val served = plan(lq)
      assert(MvRewrite.readsPath(served, mvPath),
        "the LEFT 2-dim star must serve from the left star MV")
      assert(!served.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]))
      assert(run(served).collect()
        .map(r => (Option(r.getString(0)), Option(r.getString(1)),
          r.getLong(2), r.getLong(3))).toSet ==
        Set(
          (Some("x"), Some("p"), 10L, 1L), (Some("x"), None, 20L, 1L),
          (None, Some("p"), 30L, 1L), (None, None, 40L, 1L),
          (Some("y"), Some("q"), 50L, 1L)),
        "all four NULL-bucket combinations must be live in the result")
      // cross-type: the INNER star never serves from the left MV —
      // its buckets hold rows the inner join drops
      val iq =
        s"SELECT aat, bat, sum(v) AS s FROM $f " +
          s"JOIN $da ON afk = apk JOIN $db ON bfk = bpk GROUP BY aat, bat"
      assert(!MvRewrite.readsPath(plan(iq), mvPath),
        "an inner star must not serve from a left star MV")
      val lines = MvRewrite.explainServe(spark, spark.sql(iq))
      // round 18: the bail names the per-edge mismatch — the inner
      // query carries no LEFT edge where the recording requires one
      assert(lines.exists(_.contains("no left join edge")), lines.toString)
      // a MIXED tree (left then inner) matches nothing
      val mq =
        s"SELECT aat, bat, sum(v) AS s FROM $f " +
          s"LEFT JOIN $da ON afk = apk JOIN $db ON bfk = bpk " +
          "GROUP BY aat, bat"
      assert(!MvRewrite.readsPath(plan(mq), mvPath),
        "a mixed inner/left tree must never match the star MV")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("count(DISTINCT <expr>) serves from the expression-measure " +
    "distinct MV by semantic equality; a DIFFERENT expression and the " +
    "bare stored name both bail") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT, d BIGINT)")
    spark.sql(
      s"""INSERT INTO $t VALUES (1, 10, 1), (1, 10, 1), (1, 20, 2),
         |(2, 30, 1), (2, 30, 2)""".stripMargin)
    spark.sql(
      s"""CALL cattest.system.create_mv(source => 'main.$tn',
         |mv => 'main.${tn}_dxmv', key => 'k', agg => 'dx',
         |kind => 'distinct', agg_expr => 'v + 100 * d')""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_dxmv"
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      val q = s"SELECT k, count(DISTINCT v + 100 * d) AS du, " +
        s"count(*) AS n FROM $t GROUP BY k"
      val served = plan(q)
      assert(MvRewrite.readsPath(served, mvPath),
        "count(DISTINCT <declared expr>) must serve from the bitmap MV")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, served)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet == Set((1L, 2L, 3L), (2L, 2L, 2L)))
      // GLOBAL re-aggregation ORs the bucket bitmaps across keys:
      // 110 and 230 repeat across groups? (110,220 | 130,230) → 4
      val gl = plan(s"SELECT count(DISTINCT v + 100 * d) AS du FROM $t")
      assert(MvRewrite.readsPath(gl, mvPath))
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, gl)
        .collect()(0).getLong(0) == 4L)
      // a DIFFERENT expression is not the declared measure
      assert(!MvRewrite.readsPath(plan(
        s"SELECT k, count(DISTINCT v + 101 * d) AS du FROM $t GROUP BY k"),
        mvPath), "a different expression must bail")
      // the bare stored name is not a source column — nothing matches
      assert(!MvRewrite.readsPath(plan(
        s"SELECT k, count(DISTINCT v) AS du FROM $t GROUP BY k"), mvPath),
        "count(DISTINCT v) is not the declared expression")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("a dim-side predicate under a LEFT probe never serves (round-17 " +
    "self-review — silent wrong answers since r16): a pre-join dim " +
    "filter moves its non-matches into the query's NULL bucket, which " +
    "the MV folded against the UNFILTERED dim; the query must answer " +
    "from the source") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $f VALUES (1, 10), (2, 20), (9, 70)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'x'), (2, 'y')")
    val mvPath = s"$warehouse/main/${fn}_lcmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), pathOf(d), "fk", "pk", mvPath, "seg", "m",
      joinType = "left")
    val q =
      s"""SELECT seg, sum(m) AS s FROM $f
         |LEFT JOIN (SELECT * FROM $d WHERE seg <> 'x') ON fk = pk
         |GROUP BY seg""".stripMargin
    // ground truth BEFORE arming the rewrite: fk=1's match is
    // filtered out pre-join, so it joins fk=9 in the NULL bucket
    val expected = spark.sql(q).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    assert(expected == Set((None, 80L), (Some("y"), 20L)))
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      val served = rule(spark.sql(q).queryExecution.optimizedPlan)
      assert(!MvRewrite.readsPath(served, mvPath),
        "the filtered-dim LEFT query must NOT serve from the left MV " +
          "(its NULL bucket reflects the unfiltered dim)")
      assert(spark.sql(q).collect()
        .map(r => (Option(r.getString(0)), r.getLong(1))).toSet == expected)
      // the UNfiltered left query still serves — the refusal is
      // surgical, not a left-serve regression
      val clean = s"SELECT seg, sum(m) AS s FROM $f " +
        s"LEFT JOIN $d ON fk = pk GROUP BY seg"
      assert(MvRewrite.readsPath(
        rule(spark.sql(clean).queryExecution.optimizedPlan), mvPath))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("hll MV precision is a create-time declaration (round 17): " +
    "hll_lgk => 14 serves a relativeSD the default sketch cannot, the " +
    "candidate gate routes the query to the capable MV, a tighter ask " +
    "than any stored sketch bails with the remedy, and describe_mv " +
    "names the precision") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, u STRING)")
    spark.sql(
      s"INSERT INTO $t VALUES (1, 'a'), (1, 'b'), (1, 'a'), (2, 'c')")
    spark.sql(
      s"""CALL cattest.system.create_mv(source => 'main.$tn',
         |mv => 'main.${tn}_h12', key => 'k', agg => 'u',
         |kind => 'hll')""".stripMargin)
    spark.sql(
      s"""CALL cattest.system.create_mv(source => 'main.$tn',
         |mv => 'main.${tn}_h14', key => 'k', agg => 'u',
         |kind => 'hll', hll_lgk => 14)""".stripMargin)
    val p12 = s"$warehouse/main/${tn}_h12"
    val p14 = s"$warehouse/main/${tn}_h14"
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      // the default ask (0.05) is answerable by both
      val loose = plan(s"SELECT k, approx_count_distinct(u) AS du " +
        s"FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(loose, p12) ||
        MvRewrite.readsPath(loose, p14))
      // 0.01 sits between the two RSEs (0.016 vs 0.0081): only the
      // lgK-14 sketch can deliver it — the candidate walk must land
      // there, not bail on the first (cheaper-but-incapable) MV
      val tight = plan(s"SELECT k, approx_count_distinct(u, 0.01) AS du " +
        s"FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(tight, p14) &&
        !MvRewrite.readsPath(tight, p12),
        "the 0.01 ask must serve from the declared lgK-14 sketch")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, tight)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 2L), (2L, 1L)))
      // tighter than ANY stored sketch: bail, naming the remedy
      val none = spark.sql(
        s"SELECT k, approx_count_distinct(u, 0.005) AS du " +
          s"FROM $t GROUP BY k")
      assert(!MvRewrite.readsPath(
        rule(none.queryExecution.optimizedPlan), p12))
      assert(!MvRewrite.readsPath(
        rule(none.queryExecution.optimizedPlan), p14))
      val lines = MvRewrite.explainServe(spark, none)
      assert(lines.exists(_.contains("higher hllLgK")), lines.toString)
      // describe_mv surfaces the declared precision
      val dm = spark.sql(
        s"CALL cattest.system.describe_mv(mv => 'main.${tn}_h14')")
        .collect().map(r => (r.getString(0), r.getString(1))).toMap
      assert(dm.get("hll_lgk").contains("14"), dm.toString)
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("hll MV over an expression measure (round 18): approx_count_" +
    "distinct(<expr>) serves from the sketch of the materialized " +
    "expression; the bail matrix holds (different expression, tighter " +
    "relativeSD, exact count(DISTINCT))") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, v BIGINT, d BIGINT)")
    spark.sql(
      s"INSERT INTO $t VALUES (1, 10, 1), (1, 10, 1), (1, 20, 2), (2, 30, 1)")
    spark.sql(
      s"""CALL cattest.system.create_mv(source => 'main.$tn',
         |mv => 'main.${tn}_hx', key => 'k', agg => 'nx',
         |kind => 'hll', agg_expr => 'v + 100 * d',
         |hll_lgk => 14)""".stripMargin)
    // the refresh re-derives the expression over the delta
    spark.sql(s"INSERT INTO $t VALUES (1, 10, 2), (2, 30, 1)")
    spark.sql(
      s"CALL cattest.system.refresh_mv(mv => 'main.${tn}_hx')")
    val px = s"$warehouse/main/${tn}_hx"
    val rule = MvRollupRewriteRule(spark)
    // ground truth BEFORE arming the conf (SURVEY §5.6)
    val expected = spark.sql(
      s"SELECT k, count(DISTINCT v + 100 * d) AS du FROM $t GROUP BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      val served = plan(
        s"SELECT k, approx_count_distinct(v + 100 * d) AS du " +
          s"FROM $t GROUP BY k")
      assert(MvRewrite.readsPath(served, px),
        "the declared-expression estimate must serve from the sketch")
      // HLL is exact at this cardinality, so the estimate equals truth
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, served)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
      // a DIFFERENT expression bails
      assert(!MvRewrite.readsPath(
        plan(s"SELECT k, approx_count_distinct(v + 101 * d) AS du " +
          s"FROM $t GROUP BY k"), px))
      // tighter than the declared lgK-14 RSE bails through the
      // expression path too
      assert(!MvRewrite.readsPath(
        plan(s"SELECT k, approx_count_distinct(v + 100 * d, 0.005) AS du " +
          s"FROM $t GROUP BY k"), px))
      // EXACT count(DISTINCT <expr>) never serves from a sketch
      assert(!MvRewrite.readsPath(
        plan(s"SELECT k, count(DISTINCT v + 100 * d) AS du " +
          s"FROM $t GROUP BY k"), px))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("multi-expression MV serving: sum(a*b), sum(c+100) and the plain " +
    "sum(v) all answer from ONE rollup, each matched to its own stored " +
    "column by semantic equality; a swapped expression bails") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val t = freshName()
    val tn = t.split('.').last
    spark.sql(s"CREATE TABLE $t (k BIGINT, a BIGINT, b BIGINT, " +
      "c BIGINT, v BIGINT)")
    spark.sql(
      s"""INSERT INTO $t VALUES (1, 2, 3, 10, 100), (1, 4, 5, 20, 200),
         |(2, 6, 7, 30, 300)""".stripMargin)
    val mvPath = s"$warehouse/main/${tn}_mxmv"
    SnapshotLog.createMv(
      spark, pathOf(t), mvPath, "k", "rev,fee,v",
      aggExprs = Map("rev" -> "a * b", "fee" -> "c + 100"))
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(q: String) = rule(spark.sql(q).queryExecution.optimizedPlan)
      val q = s"SELECT k, sum(a * b) AS r, sum(c + 100) AS f, " +
        s"sum(v) AS sv, count(*) AS n FROM $t GROUP BY k"
      val served = plan(q)
      assert(MvRewrite.readsPath(served, mvPath),
        "both expressions and the plain measure must serve from one MV")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, served)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSet ==
        Set((1L, 26L, 230L, 300L, 2L), (2L, 42L, 130L, 300L, 1L)))
      // GLOBAL re-aggregation across all three measures
      val gl = plan(s"SELECT sum(a * b) AS r, sum(c + 100) AS f, " +
        s"sum(v) AS sv FROM $t")
      assert(MvRewrite.readsPath(gl, mvPath))
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, gl)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet == Set((68L, 360L, 600L)))
      // an expression the MV never declared bails the whole query
      assert(!MvRewrite.readsPath(plan(
        s"SELECT k, sum(a * c) AS r FROM $t GROUP BY k"), mvPath),
        "an undeclared expression must bail to the source")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("join MV expression measures (round 19): sum(cents * (100 - " +
    "disc)) by a dim attribute serves from the join rollup across the " +
    "full lifecycle; the bail matrix holds (different expression, " +
    "undeclared plain measure, dim-side aggregate, fact-only global)") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, cents BIGINT, disc BIGINT)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'auto'), (2, 'mach'), (3, 'bldg')")
    spark.sql(
      s"""INSERT INTO $f VALUES (1, 100, 5), (1, 200, 7), (2, 300, 2),
         |(3, 400, 9)""".stripMargin)
    val dn = d.split('.').last
    spark.sql(
      s"""CALL cattest.system.create_join_mv(fact => 'main.$fn',
         |dim => 'main.$dn', fk => 'fk', pk => 'pk',
         |mv => 'main.${fn}_xjmv', key => 'seg', agg => 'rev',
         |agg_expr => 'cents * (100 - disc)')""".stripMargin)
    // lifecycle: append + CoW churn, then refresh (fold + recompute
    // both re-derive the expression)
    spark.sql(s"INSERT INTO $f VALUES (2, 500, 3), (3, 600, 8)")
    spark.sql(s"UPDATE $f SET cents = cents + 4 WHERE disc > 6")
    spark.sql(s"CALL cattest.system.refresh_mv(mv => 'main.${fn}_xjmv')")
    val mvPath = s"$warehouse/main/${fn}_xjmv"
    val rule = MvRollupRewriteRule(spark)
    def q(sel: String) =
      s"SELECT seg, $sel FROM $f JOIN $d ON fk = pk GROUP BY seg"
    // ground truth BEFORE arming the conf (SURVEY §5.6)
    val expected = spark.sql(
      q("sum(cents * (100 - disc)) AS r, count(*) AS n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .toSet
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(qq: String) = rule(spark.sql(qq).queryExecution.optimizedPlan)
      val served = plan(q("sum(cents * (100 - disc)) AS r, count(*) AS n"))
      assert(MvRewrite.readsPath(served, mvPath),
        "the declared fact expression must serve from the join rollup")
      assert(!served.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]),
        "served plan must carry no join")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, served)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSet == expected)
      // bail matrix: a DIFFERENT expression bails to the source
      assert(!MvRewrite.readsPath(
        plan(q("sum(cents * (99 - disc)) AS r")), mvPath),
        "an undeclared expression must bail")
      // an undeclared PLAIN measure bails (only rev is stored)
      assert(!MvRewrite.readsPath(
        plan(q("sum(cents) AS r")), mvPath),
        "an undeclared plain measure must bail")
      // an aggregate over a DIM column bails (semantic equality is by
      // exprId — the fact-resolved tree can never match a dim attr)
      assert(!MvRewrite.readsPath(
        plan(q("sum(length(seg)) AS r")), mvPath),
        "a dim-side aggregate must bail")
      // a fact-only global bails on an INNER join MV (unmatched rows
      // were dropped from every partial)
      assert(!MvRewrite.readsPath(
        plan(s"SELECT sum(cents * (100 - disc)) AS r FROM $f"), mvPath),
        "a fact-only aggregate must bail on an inner join MV")
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  /** Seeded randomized SERVE-SHAPE fuzzer (round 19, r18 verdict #3):
    * two consecutive rounds shipped a star-matcher wrong answer that
    * hand-picked bail matrices missed (r16's subset elevation, r17's
    * filter-above-a-bare-leaf transplant), so the matcher gets the
    * randomized-lifecycle treatment. Per draw: a star query shape —
    * per-edge inner/left types, a predicate placed pre-join on a dim,
    * pre-join on the fact, above the join, or on a fact column, in
    * NULL-sensitive and NULL-insensitive spellings, over groupings
    * from both-dims down to global — runs with the conf OFF (ground
    * truth) and then through the INJECTED optimizer position with the
    * conf armed. The invariant is equality-or-refusal: whatever the
    * matcher decides, the armed result must equal truth. Dim rows
    * with NULL attrs and fact rows with NULL/unmatched fks keep the
    * matched-NULL-attr vs NULL-bucket distinction live in every draw.
    * A serve counter asserts the suite is not vacuous (refusal-only).
    */
  test("serve-shape fuzzer: 120 seeded random star query shapes " +
    "(per-edge types x predicate placements x NULL spellings) all " +
    "equal conf-OFF ground truth or refuse — through the injected " +
    "optimizer position") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val rnd = new scala.util.Random(4242)
    val f = freshName()
    val dA = freshName()
    val dB = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (afk BIGINT, bfk BIGINT, v BIGINT)")
    spark.sql(s"CREATE TABLE $dA (apk BIGINT, aat STRING)")
    spark.sql(s"CREATE TABLE $dB (bpk BIGINT, bat STRING)")
    // NULL dim attrs (matched rows with NULL members) AND unmatched /
    // NULL fks (the left edges' NULL buckets) — the two shapes whose
    // confusion was exactly the r17 bug
    spark.sql(s"INSERT INTO $dA VALUES (1, 'x1'), (2, 'y1'), (3, NULL)")
    spark.sql(s"INSERT INTO $dB VALUES (10, 'p1'), (11, 'q1'), (12, NULL)")
    spark.sql(
      s"""INSERT INTO $f VALUES
         |(1, 10, 5), (1, 11, 9), (2, 11, 7), (3, 12, 70), (3, 10, 80),
         |(99, 10, 100), (2, 98, 41), (99, 98, 13),
         |(NULL, 10, 3), (1, NULL, 2), (NULL, NULL, 1)""".stripMargin)
    // one MV per edge-type combination, all at the same grain
    val combos = Seq("inner,inner", "inner,left", "left,inner", "left,left")
    val mvPaths = combos.zipWithIndex.map { case (jt, i) =>
      spark.sql(
        s"""CALL cattest.system.create_join_mv(fact => 'main.$fn',
           |dim => 'main.${dA.split('.').last},main.${dB.split('.').last}',
           |fk => 'afk,bfk', pk => 'apk,bpk',
           |mv => 'main.${fn}_fz$i', key => 'aat,bat', agg => 'v',
           |join_type => '$jt')""".stripMargin)
      s"$warehouse/main/${fn}_fz$i"
    }
    val rule = MvRollupRewriteRule(spark)
    def pred(c: String, v1: String, v2: String): String =
      rnd.nextInt(5) match {
        case 0 => s"$c = '$v1'"
        case 1 => s"$c IS NULL"
        case 2 => s"$c = '$v1' OR $c IS NULL"
        case 3 => s"coalesce($c, 'zz') <> '$v2'"
        case _ => s"$c IS NOT NULL"
      }
    var served = 0
    (1 to 120).foreach { i =>
      val tA = if (rnd.nextBoolean()) "LEFT" else "INNER"
      val tB = if (rnd.nextBoolean()) "LEFT" else "INNER"
      var factSrc = f
      var daSrc = dA
      var dbSrc = dB
      var whereCl = ""
      rnd.nextInt(7) match {
        case 0 => // no predicate
        case 1 => // pre-join predicate on dim A's attr
          daSrc = s"(SELECT * FROM $dA WHERE ${pred("aat", "x1", "y1")})"
        case 2 => // pre-join predicate on dim B's attr
          dbSrc = s"(SELECT * FROM $dB WHERE ${pred("bat", "p1", "q1")})"
        case 3 => // pre-join predicate on a dim PK
          daSrc = s"(SELECT * FROM $dA WHERE apk % 2 = ${rnd.nextInt(2)})"
        case 4 => // pre-join predicate on the FACT (non-key column)
          factSrc = s"(SELECT * FROM $f WHERE v % 5 <> ${rnd.nextInt(5)})"
        case 5 => // above-join predicate on a dim attr
          whereCl =
            if (rnd.nextBoolean())
              s"WHERE ${pred("aat", "x1", "y1")}"
            else s"WHERE ${pred("bat", "p1", "q1")}"
        case _ => // above-join predicate on a fact column
          whereCl = s"WHERE afk % 2 = ${rnd.nextInt(2)}"
      }
      val grp = rnd.nextInt(4) match {
        case 0 => Some("aat, bat")
        case 1 => Some("aat")
        case 2 => Some("bat")
        case _ => None
      }
      val sel = grp.map(g => s"$g, ").getOrElse("") +
        "sum(v) AS s, count(*) AS n"
      val q = s"SELECT $sel FROM $factSrc fz $tA JOIN $daSrc da " +
        s"ON fz.afk = da.apk $tB JOIN $dbSrc db ON fz.bfk = db.bpk " +
        whereCl + grp.map(g => s" GROUP BY $g").getOrElse("")
      def rows(): Seq[String] =
        spark.sql(q).collect().map(_.toString).sorted.toSeq
      val truth = rows() // conf OFF
      spark.conf.set(MvRewrite.ConfKey, "true")
      try {
        val armed = rows() // the INJECTED optimizer position
        assert(armed == truth,
          s"draw $i diverged under the armed matcher\nquery: $q\n" +
            s"truth: $truth\narmed: $armed")
        // coverage accounting only: did any MV serve this draw?
        val post = rule(spark.sql(q).queryExecution.optimizedPlan)
        if (mvPaths.exists(p => MvRewrite.readsPath(post, p))) served += 1
      } finally spark.conf.unset(MvRewrite.ConfKey)
    }
    assert(served >= 10,
      s"fuzzer is near-vacuous: only $served of 120 draws served")
  }

  test("expression measures reach the join and star DDL forms (round " +
    "19): sum(f.cents * (100 - f.disc)) spells a join-expr MV, " +
    "mv_sum_<name> aliases spell several in one rollup, the star form " +
    "takes them too, and dim-qualified or unqualified references " +
    "refuse at parse") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d1 = freshName()
    val d2 = freshName()
    val fn = f.split('.').last
    spark.sql(
      s"CREATE TABLE $f (fk BIGINT, nk BIGINT, cents BIGINT, disc BIGINT)")
    spark.sql(s"CREATE TABLE $d1 (pk BIGINT, seg STRING)")
    spark.sql(s"CREATE TABLE $d2 (nk2 BIGINT, nation STRING)")
    spark.sql(s"INSERT INTO $d1 VALUES (1, 'auto'), (2, 'mach')")
    spark.sql(s"INSERT INTO $d2 VALUES (7, 'de'), (8, 'fr')")
    spark.sql(
      s"""INSERT INTO $f VALUES (1, 7, 100, 5), (1, 8, 200, 7),
         |(2, 7, 300, 2), (2, 8, 400, 9)""".stripMargin)
    // multi-expression JOIN DDL: two derived measures + a plain one
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${fn}_jx1 AS
         |SELECT d.seg,
         |sum(f.cents * (100 - f.disc)) AS mv_sum_rev,
         |sum(f.cents % 7) AS mv_sum_hc,
         |sum(f.cents) AS mv_sum_cents,
         |count(*) AS mv_n
         |FROM $f f JOIN $d1 d ON f.fk = d.pk
         |GROUP BY d.seg""".stripMargin)
    // STAR DDL with a single expression measure
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${fn}_jx2 AS
         |SELECT d.seg, n.nation, sum(f.cents * (100 - f.disc)) AS mv_sum,
         |count(*) AS mv_n
         |FROM $f f JOIN $d1 d ON f.fk = d.pk
         |JOIN $d2 n ON f.nk = n.nk2
         |GROUP BY d.seg, n.nation""".stripMargin)
    // refusals: a dim-qualified reference inside the expression, and
    // an unqualified one (the join form demands the fact qualifier)
    Seq(
      "sum(f.cents * length(d.seg)) AS mv_sum",
      "sum(cents * (100 - disc)) AS mv_sum"
    ).foreach { aggSel =>
      val err = intercept[Exception](spark.sql(
        s"""CREATE MATERIALIZED VIEW cattest.main.${fn}_jxbad AS
           |SELECT d.seg, $aggSel, count(*) AS mv_n
           |FROM $f f JOIN $d1 d ON f.fk = d.pk
           |GROUP BY d.seg""".stripMargin))
      assert(err.getMessage.toLowerCase.contains("materialized view"),
        s"'$aggSel' must refuse with the shape message, got: $err")
    }
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(qq: String) = rule(spark.sql(qq).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      val p1 = plan(
        s"""SELECT seg, sum(cents * (100 - disc)) AS rev,
           |sum(cents % 7) AS hc FROM $f JOIN $d1 ON fk = pk
           |GROUP BY seg""".stripMargin)
      assert(MvRewrite.readsPath(p1, s"$warehouse/main/${fn}_jx1"))
      assert(run(p1).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet ==
        Set(("auto", 100L * 95 + 200L * 93, (100 % 7) + (200 % 7).toLong),
          ("mach", 300L * 98 + 400L * 91, (300 % 7) + (400 % 7).toLong)))
      val p2 = plan(
        s"""SELECT seg, nation, sum(cents * (100 - disc)) AS rev
           |FROM $f JOIN $d1 ON fk = pk JOIN $d2 ON nk = nk2
           |GROUP BY seg, nation""".stripMargin)
      assert(MvRewrite.readsPath(p2, s"$warehouse/main/${fn}_jx2"),
        "the star-form DDL expression measure must serve")
      assert(run(p2).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet ==
        Set(("auto", "de", 100L * 95), ("auto", "fr", 200L * 93),
          ("mach", "de", 300L * 98), ("mach", "fr", 400L * 91)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("mixed-grain join MVs reach the DDL (round 19): GROUP BY d.seg, " +
    "to_date(f.ts) declares the keyExpr member, identity and coarse " +
    "month grains serve, the star form takes a grain too, and the bail " +
    "spellings refuse at parse (grain not last, unqualified or " +
    "dim-qualified grain column)") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val d2 = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, nk BIGINT, m BIGINT, ts TIMESTAMP)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(s"CREATE TABLE $d2 (nk2 BIGINT, nation STRING)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'auto'), (2, 'mach')")
    spark.sql(s"INSERT INTO $d2 VALUES (7, 'de'), (8, 'fr')")
    spark.sql(
      s"""INSERT INTO $f VALUES
         |(1, 7, 10, timestamp'2024-01-05 09:00:00'),
         |(1, 7, 5,  timestamp'2024-01-05 17:00:00'),
         |(1, 8, 3,  timestamp'2024-02-01 09:00:00'),
         |(2, 8, 20, timestamp'2024-01-09 10:00:00')""".stripMargin)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${fn}_mg1 AS
         |SELECT d.seg, to_date(f.ts) AS day, sum(f.m) AS mv_sum,
         |count(*) AS mv_n
         |FROM $f f JOIN $d d ON f.fk = d.pk
         |GROUP BY d.seg, to_date(f.ts)""".stripMargin)
    // the star form with a month grain and an expression measure —
    // the round-19 surfaces compose in one statement
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${fn}_mg2 AS
         |SELECT d.seg, n.nation, trunc(to_date(f.ts), 'month') AS mon,
         |sum(f.m * 2) AS mv_sum, count(*) AS mv_n
         |FROM $f f JOIN $d d ON f.fk = d.pk
         |JOIN $d2 n ON f.nk = n.nk2
         |GROUP BY d.seg, n.nation, trunc(to_date(f.ts), 'month')""".stripMargin)
    // bail spellings — each must refuse at parse
    Seq(
      // grain not last
      s"""SELECT to_date(f.ts) AS day, d.seg, sum(f.m) AS mv_sum,
         |count(*) AS mv_n FROM $f f JOIN $d d ON f.fk = d.pk
         |GROUP BY to_date(f.ts), d.seg""".stripMargin,
      // unqualified grain column
      s"""SELECT d.seg, to_date(ts) AS day, sum(f.m) AS mv_sum,
         |count(*) AS mv_n FROM $f f JOIN $d d ON f.fk = d.pk
         |GROUP BY d.seg, to_date(ts)""".stripMargin,
      // dim-qualified grain column
      s"""SELECT d.seg, to_date(d.pk) AS day, sum(f.m) AS mv_sum,
         |count(*) AS mv_n FROM $f f JOIN $d d ON f.fk = d.pk
         |GROUP BY d.seg, to_date(d.pk)""".stripMargin
    ).zipWithIndex.foreach { case (sel, i) =>
      val err = intercept[Exception](spark.sql(
        s"CREATE MATERIALIZED VIEW cattest.main.${fn}_mgbad$i AS $sel"))
      assert(err.getMessage.toLowerCase.contains("materialized view"),
        s"spelling $i must refuse with the shape message, got: $err")
    }
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      def plan(qq: String) = rule(spark.sql(qq).queryExecution.optimizedPlan)
      def run(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
        org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
      // identity grain serves
      val idq = plan(
        s"""SELECT seg, to_date(ts) AS day, sum(m) AS s
           |FROM $f JOIN $d ON fk = pk
           |GROUP BY seg, to_date(ts)""".stripMargin)
      assert(MvRewrite.readsPath(idq, s"$warehouse/main/${fn}_mg1"),
        "the DDL-declared mixed grain must serve its identity")
      assert(run(idq).collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
        .toSet == Set(
        ("auto", "2024-01-05", 15L), ("auto", "2024-02-01", 3L),
        ("mach", "2024-01-09", 20L)))
      // coarse month re-aggregates the daily rollup
      val moq = plan(
        s"""SELECT seg, trunc(to_date(ts), 'month') AS mon, sum(m) AS s
           |FROM $f JOIN $d ON fk = pk
           |GROUP BY seg, trunc(to_date(ts), 'month')""".stripMargin)
      assert(MvRewrite.readsPath(moq, s"$warehouse/main/${fn}_mg1"),
        "the month grain must serve coarse from the daily DDL MV")
      // the star grain + expression measure serves
      val stq = plan(
        s"""SELECT seg, nation, trunc(to_date(ts), 'month') AS mon,
           |sum(m * 2) AS s
           |FROM $f JOIN $d ON fk = pk JOIN $d2 ON nk = nk2
           |GROUP BY seg, nation, trunc(to_date(ts), 'month')""".stripMargin)
      assert(MvRewrite.readsPath(stq, s"$warehouse/main/${fn}_mg2"),
        "the star-form DDL grain with an expression measure must serve")
      assert(run(stq).collect()
        .map(r => (r.getString(0), r.getString(1), r.getDate(2).toString,
          r.getLong(3))).toSet == Set(
        ("auto", "de", "2024-01-01", 30L), ("auto", "fr", "2024-02-01", 6L),
        ("mach", "fr", "2024-01-01", 40L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
    // the LEFT form takes a grain too: the NULL bucket crosses the
    // day grain as first-class (NULL, day) groups, maintained through
    // the fold and served (self-review probe 1, round 19)
    val fl = freshName()
    val fln = fl.split('.').last
    spark.sql(s"CREATE TABLE $fl (fk BIGINT, m BIGINT, ts TIMESTAMP)")
    spark.sql(
      s"""INSERT INTO $fl VALUES
         |(1, 10, timestamp'2024-01-05 09:00:00'),
         |(99, 7, timestamp'2024-01-05 10:00:00'),
         |(99, 3, timestamp'2024-02-01 10:00:00')""".stripMargin)
    spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${fln}_lmg AS
         |SELECT d.seg, to_date(f.ts) AS day, sum(f.m) AS mv_sum,
         |count(*) AS mv_n
         |FROM $fl f LEFT JOIN $d d ON f.fk = d.pk
         |GROUP BY d.seg, to_date(f.ts)""".stripMargin)
    spark.sql(
      s"INSERT INTO $fl VALUES (99, 5, timestamp'2024-01-05 23:00:00')")
    spark.sql(s"REFRESH MATERIALIZED VIEW cattest.main.${fln}_lmg")
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      val p = rule(spark.sql(
        s"""SELECT seg, to_date(ts) AS day, sum(m) AS s
           |FROM $fl LEFT JOIN $d ON fk = pk
           |GROUP BY seg, to_date(ts)""".stripMargin)
        .queryExecution.optimizedPlan)
      assert(MvRewrite.readsPath(p, s"$warehouse/main/${fln}_lmg"),
        "the left form's DDL grain must serve")
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
        .collect().map(r => (Option(r.getString(0)),
          r.getDate(1).toString, r.getLong(2))).toSet == Set(
        (Some("auto"), "2024-01-05", 10L), (None, "2024-01-05", 12L),
        (None, "2024-02-01", 3L)),
        "the NULL bucket must cross the day grain correctly")
    } finally spark.conf.unset(MvRewrite.ConfKey)
    // a grain alias shadowing a dim attr refuses (create-time guard)
    val gc = intercept[Exception](spark.sql(
      s"""CREATE MATERIALIZED VIEW cattest.main.${fln}_gcoll AS
         |SELECT d.seg, to_date(f.ts) AS seg, sum(f.m) AS mv_sum,
         |count(*) AS mv_n
         |FROM $fl f JOIN $d d ON f.fk = d.pk
         |GROUP BY d.seg, to_date(f.ts)""".stripMargin))
    assert(gc.getMessage.contains("exactly once"),
      s"a grain alias shadowing a dim attr must refuse: $gc")
  }

  test("hll expression measures compose with JOIN MVs (round 19): the " +
    "sketch is built over the materialized fact expression, " +
    "approx_count_distinct(<expr>) by dim attr serves from it, and a " +
    "dim-attribute reference in the expression refuses at create") {
    import graft.plans.{MvRewrite, MvRollupRewriteRule}
    val f = freshName()
    val d = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, uid BIGINT)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'auto'), (2, 'mach')")
    spark.sql(
      s"INSERT INTO $f VALUES (1, -10), (1, 10), (1, -7), (2, 20), (2, 21)")
    val mvPath = s"$warehouse/main/${fn}_jhemv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), pathOf(d), "fk", "pk", mvPath, "seg", "uidn",
      kind = "hll", aggExpr = Some("abs(uid)"))
    // a dim-attribute reference in an hll expression refuses loudly
    // at create, exactly like the sum form (its sketched values would
    // change with dim churn the fact fold can never see)
    val err = intercept[Exception] {
      SnapshotLog.createJoinMv(
        spark, pathOf(f), pathOf(d), "fk", "pk",
        s"$warehouse/main/${fn}_jhebad", "seg", "segn",
        kind = "hll", aggExpr = Some("length(seg)"))
    }
    assert(err.getMessage.toLowerCase.contains("fact"),
      s"refusal must name the fact-columns-only contract: $err")
    val rule = MvRollupRewriteRule(spark)
    spark.conf.set(MvRewrite.ConfKey, "true")
    try {
      val q = spark.sql(
        s"SELECT seg, approx_count_distinct(abs(uid)) AS du " +
          s"FROM $f JOIN $d ON fk = pk GROUP BY seg")
      val p = rule(q.queryExecution.optimizedPlan)
      assert(MvRewrite.readsPath(p, mvPath),
        "approx_count_distinct over the declared expression must " +
          "serve from the join MV's sketches")
      assert(!p.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join]))
      // abs folds {-10, 10} together: estimates are exact at these
      // cardinalities (2 distinct for auto: {10, 7}; 2 for mach)
      assert(org.apache.spark.sql.GraftPlanBridge.ofRows(spark, p)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
        Set(("auto", 2L), ("mach", 2L)))
    } finally spark.conf.unset(MvRewrite.ConfKey)
  }

  test("list_mvs: a join MV whose dim drifted reports fresh=false even " +
    "with the fact watermark at tip (and refresh_mv_dim restores it); " +
    "one corrupt table costs its row, never the inventory") {
    val f = freshName()
    val d = freshName()
    val fn = f.split('.').last
    spark.sql(s"CREATE TABLE $f (fk BIGINT, m BIGINT)")
    spark.sql(s"CREATE TABLE $d (pk BIGINT, seg STRING)")
    spark.sql(s"INSERT INTO $f VALUES (1, 10), (2, 20)")
    spark.sql(s"INSERT INTO $d VALUES (1, 'auto'), (2, 'mach')")
    val mvPath = s"$warehouse/main/${fn}_lfmv"
    SnapshotLog.createJoinMv(
      spark, pathOf(f), pathOf(d), "fk", "pk", mvPath, "seg", "m")
    def row(): org.apache.spark.sql.Row =
      spark.sql("CALL cattest.system.list_mvs()")
        .filter(org.apache.spark.sql.functions.col("mv") ===
          s"main.${fn}_lfmv")
        .collect() match {
        case Array(r) => r
        case other => fail(s"expected one row, got ${other.toSeq}")
      }
    assert(row().getBoolean(5), "fresh at create")
    // the DIM moves; the fact watermark still equals the source tip,
    // but every tip read now refuses (DIM DRIFT) — fresh must say so
    spark.sql(s"UPDATE $d SET seg = 'mach' WHERE pk = 1")
    assert(!row().getBoolean(5),
      "a drifted dim must flip fresh=false — the MV refuses tip reads")
    spark.sql(
      s"CALL cattest.system.refresh_mv_dim(mv => 'main.${fn}_lfmv', " +
        s"dim => '${d.split('.').drop(1).mkString(".")}')")
    assert(row().getBoolean(5), "refresh_mv_dim must restore fresh=true")
    // a poisoned table dir (props declare mv_source, log corrupt)
    // must not take down the whole inventory
    val bad = new java.io.File(s"$warehouse/main/zz_poisoned/_log")
    bad.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(bad, "_props").toPath,
      "mv_source=/nowhere\n".getBytes("UTF-8"))
    java.nio.file.Files.write(
      new java.io.File(bad, "vGARBAGE.commit").toPath,
      "not a commit\n".getBytes("UTF-8"))
    try {
      val rows = spark.sql("CALL cattest.system.list_mvs()").collect()
      assert(rows.exists(_.getString(0) == s"main.${fn}_lfmv"),
        "the healthy MV must survive a corrupt sibling")
      assert(!rows.exists(_.getString(0) == "main.zz_poisoned"),
        "the corrupt table costs its own row only")
    } finally {
      new java.io.File(bad, "_props").delete()
      new java.io.File(bad, "vGARBAGE.commit").delete()
      bad.delete()
      new java.io.File(s"$warehouse/main/zz_poisoned").delete()
    }
  }
}
