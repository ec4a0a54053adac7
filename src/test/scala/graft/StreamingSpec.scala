package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.Event
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp

/** True Structured Streaming semantics that the batch oracle cannot
  * check (SURVEY.md §2.10): watermark lateness drop, session-window
  * merge, stateful dedup, and custom keyed state. */
class StreamingSpec extends SparkTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ev(
      id: Long,
      t: String,
      user: Long = 1L,
      typ: String = "click",
      v: Double = 1.0
  ): Event = Event(id, ts(t), user, typ, v)

  test("watermark drops late events from closed tumbling windows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = StreamOps
      .tumblingCounts(ms.toDF)
      .writeStream
      .format("memory")
      .queryName("wm_tumbling")
      .outputMode("append")
      .start()
    try {
      ms.addData(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:10:00"))
      q.processAllAvailable()
      // advance event time far past the window; watermark updates at
      // batch end, emission happens on the following batch
      ms.addData(ev(3, "2024-01-01 12:30:00"))
      q.processAllAvailable()
      ms.addData(ev(4, "2024-01-01 12:40:00"))
      q.processAllAvailable()
      // late arrival for the already-closed 10:00 window must be dropped
      ms.addData(ev(5, "2024-01-01 10:20:00"))
      q.processAllAvailable()
      ms.addData(ev(6, "2024-01-01 12:50:00"))
      q.processAllAvailable()
      val rows = spark
        .table("wm_tumbling")
        .filter($"ws" === ts("2024-01-01 10:00:00"))
        .collect()
      assert(rows.length == 1, s"expected one closed 10:00 window, got ${rows.toSeq}")
      assert(rows.head.getAs[Long]("cnt") == 2, "late event must not be counted")
    } finally q.stop()
  }

  test("chained pane aggregates emit exact sliding windows (multi-stateful)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = StreamOps
      .slidingByPanes(ms.toDF)
      .writeStream
      .format("memory")
      .queryName("pane_sliding")
      .outputMode("append")
      .start()
    try {
      ms.addData(
        ev(1, "2024-01-01 10:05:00"),
        ev(2, "2024-01-01 10:10:00"),
        ev(3, "2024-01-01 10:20:00"),
        ev(4, "2024-01-01 10:50:00")
      )
      q.processAllAvailable()
      // march the watermark well past 11:00 so every sliding window
      // covering the 10:xx events closes through BOTH stateful operators
      ms.addData(ev(5, "2024-01-01 13:00:00")); q.processAllAvailable()
      ms.addData(ev(6, "2024-01-01 13:10:00")); q.processAllAvailable()
      ms.addData(ev(7, "2024-01-01 13:20:00")); q.processAllAvailable()
      ms.addData(ev(8, "2024-01-01 13:30:00")); q.processAllAvailable()
      val got = spark
        .table("pane_sliding")
        .collect()
        .map(r => r.getTimestamp(0) -> r.getAs[Long]("cnt"))
        .toMap
      // [10:00,11:00) sees all four events; [09:30,10:30) only the first three
      assert(got.get(ts("2024-01-01 10:00:00")).contains(4L), got.toString)
      assert(got.get(ts("2024-01-01 09:30:00")).contains(3L), got.toString)
    } finally q.stop()
  }

  test("session windows merge events within gap and emit on close") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = StreamOps
      .sessionAgg(ms.toDF)
      .writeStream
      .format("memory")
      .queryName("wm_session")
      .outputMode("append")
      .start()
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00"),
        ev(2, "2024-01-01 10:20:00"),
        ev(3, "2024-01-01 10:40:00"), // gaps < 30m: one session
        ev(4, "2024-01-01 11:30:00")  // 50m gap: new session
      )
      q.processAllAvailable()
      ms.addData(ev(5, "2024-01-01 14:00:00"))
      q.processAllAvailable()
      ms.addData(ev(6, "2024-01-01 14:10:00"))
      q.processAllAvailable()
      val sessions = spark
        .table("wm_session")
        .orderBy("session_start")
        .collect()
        .map(r =>
          (
            r.getAs[Timestamp]("session_start"),
            r.getAs[Timestamp]("session_end"),
            r.getAs[Long]("cnt")
          )
        )
        .toSeq
      assert(
        sessions.contains(
          (ts("2024-01-01 10:00:00"), ts("2024-01-01 11:10:00"), 3L)
        ),
        s"3-event merged session missing: $sessions"
      )
      assert(
        sessions.contains(
          (ts("2024-01-01 11:30:00"), ts("2024-01-01 12:00:00"), 1L)
        ),
        s"singleton session missing: $sessions"
      )
    } finally q.stop()
  }

  test("stateful dropDuplicates suppresses repeated event ids") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = StreamOps
      .dedupEvents(ms.toDF)
      .writeStream
      .format("memory")
      .queryName("wm_dedup")
      .outputMode("append")
      .start()
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00"), ev(1, "2024-01-01 10:01:00"))
      q.processAllAvailable()
      ms.addData(ev(1, "2024-01-01 10:02:00"), ev(2, "2024-01-01 10:03:00"))
      q.processAllAvailable()
      val ids = spark.table("wm_dedup").collect().map(_.getAs[Long]("event_id")).toSeq
      assert(ids.sorted == Seq(1L, 2L), s"expected exactly ids 1,2; got $ids")
    } finally q.stop()
  }

  test("exactly-once foreachBatch sink: crash after write + restart replays without dupes or loss") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-eos").toString
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    val ms = MemoryStream[Event]
    // batch 0: three events (users 1,1,2) — commits cleanly
    val q1 = StreamOps.exactlyOnceSink(ms.toDF, out, ckpt, failAfterWriteAt = Some(1))
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", user = 1),
        ev(2, "2024-01-01 10:01:00", user = 1),
        ev(3, "2024-01-01 10:02:00", user = 2)
      )
      q1.processAllAvailable()
      // batch 1: the injected crash fires AFTER the sink write and
      // BEFORE the offset commit — the at-least-once duplication window
      ms.addData(
        ev(4, "2024-01-01 10:03:00", user = 1),
        ev(5, "2024-01-01 10:04:00", user = 2)
      )
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      assert(e.getMessage.contains("injected crash"), e.getMessage)
      // the crash window is real: batch 1's output is already on disk
      assert(
        new java.io.File(s"$out/batch_id=1").exists(),
        "batch 1 must be written before the crash for the replay to matter"
      )
    } finally q1.stop()
    // restart from the checkpoint: batch 1 replays with the SAME
    // batchId and overwrites its own partition — no dupes, no loss
    val q2 = StreamOps.exactlyOnceSink(ms.toDF, out, ckpt)
    try {
      q2.processAllAvailable()
      ms.addData(ev(6, "2024-01-01 10:05:00", user = 3))
      q2.processAllAvailable()
      val totals = StreamOps
        .readExactlyOnce(spark, out)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(totals == Map(1L -> ((3L, 3.0)), 2L -> ((2L, 2.0)), 3L -> ((1L, 1.0))), totals)
      // and the replayed batch holds exactly one partial per user
      val b1 = spark.read.parquet(out).filter($"batch_id" === 1).collect()
      assert(b1.length == 2, s"replay must overwrite, not append: ${b1.toSeq}")
    } finally q2.stop()
  }

  test("snapshot-table streaming sink: crash between commit and offset replays into the same version") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.sources.SnapshotLog
    val base = java.nio.file.Files.createTempDirectory("graft-snapstream").toString
    val table = s"$base/t"
    val ckpt = s"$base/ckpt"
    val ms = MemoryStream[Event]
    val q1 = StreamOps.snapshotSink(ms.toDF, table, ckpt, failAfterCommitAt = Some(1))
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", user = 1))
      q1.processAllAvailable()
      ms.addData(ev(2, "2024-01-01 10:01:00", user = 2))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q1.processAllAvailable()
      }
      assert(e.getMessage.contains("injected crash"), e.getMessage)
      // the crash window is real: batch 1's snapshot commit landed
      assert(SnapshotLog.versions(spark, table) == Seq(1, 2))
    } finally q1.stop()
    // restart from the checkpoint: batch 1 replays with the same id and
    // must resolve to its EXISTING version — not commit a duplicate
    val q2 = StreamOps.snapshotSink(ms.toDF, table, ckpt)
    try {
      q2.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 10:02:00", user = 3))
      q2.processAllAvailable()
      assert(
        SnapshotLog.versions(spark, table) == Seq(1, 2, 3),
        "replayed batch must not create a fourth version"
      )
      val ids = SnapshotLog.read(spark, table)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(ids == Set(1L, 2L, 3L), s"no dupes, no loss: $ids")
      val scope = StreamOps.snapshotTxnScope(ckpt)
      assert(SnapshotLog.committedTxn(spark, table, s"$scope-batch-1").contains(2))
    } finally q2.stop()
  }

  test("snapshot sink txn ids are checkpoint-scoped: a second lineage never skips its commits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.sources.SnapshotLog
    val base = java.nio.file.Files.createTempDirectory("graft-snapscope").toString
    val table = s"$base/t"
    // query 1, checkpoint A: its batch 0 commits v1
    val msA = MemoryStream[Event]
    val qA = StreamOps.snapshotSink(msA.toDF, table, s"$base/ckptA")
    try {
      msA.addData(ev(1, "2024-01-01 10:00:00", user = 1))
      qA.processAllAvailable()
    } finally qA.stop()
    assert(SnapshotLog.versions(spark, table) == Seq(1))
    // query 2, checkpoint B (a DIFFERENT lineage whose batchIds also
    // start at 0 — the unscoped-token data-loss case): its batch 0 must
    // COMMIT, not replay lineage A's batch-0 txn
    val msB = MemoryStream[Event]
    val qB = StreamOps.snapshotSink(msB.toDF, table, s"$base/ckptB")
    try {
      msB.addData(ev(2, "2024-01-01 10:01:00", user = 2))
      qB.processAllAvailable()
    } finally qB.stop()
    assert(
      SnapshotLog.versions(spark, table) == Seq(1, 2),
      "second lineage's batch 0 must land its own commit"
    )
    val ids = SnapshotLog.read(spark, table)
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L), s"both lineages' rows must be visible: $ids")
  }

  test("change feed consumes a streamed snapshot table incrementally") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.sources.SnapshotLog
    val base = java.nio.file.Files.createTempDirectory("graft-snapcdf").toString
    val table = s"$base/t"
    val ms = MemoryStream[Event]
    val q = StreamOps.snapshotSink(ms.toDF, table, s"$base/ckpt")
    try {
      ms.addData(ev(1, "2024-01-01 10:00:00", user = 1))
      q.processAllAvailable()
      ms.addData(ev(2, "2024-01-01 10:01:00", user = 2),
        ev(3, "2024-01-01 10:02:00", user = 2))
      q.processAllAvailable()
      ms.addData(ev(4, "2024-01-01 10:03:00", user = 3))
      q.processAllAvailable()
    } finally q.stop()
    assert(SnapshotLog.versions(spark, table) == Seq(1, 2, 3))
    def inserts(a: Int, b: Int): Set[(Long, Int)] =
      SnapshotLog.readChanges(spark, table, a, b)
        .filter($"change_type" === "insert")
        .select("event_id", "commit_version")
        .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    // each micro-batch surfaces exactly once, tagged with its version —
    // the incremental feeder an MV-maintenance consumer polls with
    // (lastSeen, latest]
    assert(inserts(1, 2) == Set((2L, 2), (3L, 2)))
    assert(inserts(2, 3) == Set((4L, 3)))
    // consecutive polls compose to the full range: nothing lost or doubled
    assert(inserts(1, 2) ++ inserts(2, 3) == inserts(1, 3))
    // appends never emit deletes
    assert(SnapshotLog.readChanges(spark, table, 1, 3)
      .filter($"change_type" === "delete").count() == 0)
  }

  test("streaming file sink writes closed windows with checkpointing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-sink").toString
    val ms = MemoryStream[Event]
    val q = StreamOps
      .tumblingCounts(ms.toDF)
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode("append")
      .start()
    try {
      ms.addData(ev(1, "2024-01-01 10:05:00"), ev(2, "2024-01-01 10:40:00"))
      q.processAllAvailable()
      ms.addData(ev(3, "2024-01-01 12:30:00"))
      q.processAllAvailable()
      ms.addData(ev(4, "2024-01-01 12:45:00"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$dir/out")
      val rows = out.filter($"ws" === ts("2024-01-01 10:00:00")).collect()
      assert(rows.length == 1 && rows.head.getAs[Long]("cnt") == 2, rows.toSeq.toString)
    } finally q.stop()
  }

  test("stream-stream join matches purchases to prior clicks within the hour") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = StreamOps
      .purchaseClickJoin(purchases.toDF, clicks.toDF)
      .writeStream
      .format("memory")
      .queryName("ss_join")
      .outputMode("append")
      .start()
    try {
      clicks.addData(
        ev(10, "2024-01-01 09:30:00"), // within the hour
        ev(11, "2024-01-01 08:00:00"), // too old
        ev(12, "2024-01-01 10:10:00", user = 2) // other user
      )
      purchases.addData(ev(1, "2024-01-01 10:00:00", typ = "purchase"))
      q.processAllAvailable()
      val got = spark
        .table("ss_join")
        .collect()
        .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("c_id")))
        .toSet
      assert(got == Set((1L, 10L)), s"got $got")
    } finally q.stop()
  }

  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def withStateProvider(provider: String)(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, provider)
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("TTL'd ValueState forgets cold keys: suppress within the window, re-emit after expiry") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withStateProvider(rocksProvider) {
      val ms = MemoryStream[Event]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ttl").toString
      // TTL sized with a wide margin over per-run query-startup cost
      // (~5s each; the clock starts at the state WRITE, not batch end,
      // and the in-window assertion runs a whole query-start later)
      // one single-batch query per step: under TimeMode.ProcessingTime
      // every batch schedules a successor to advance the TTL clock, so
      // a long-lived query (and even AvailableNow) never terminates —
      // Trigger.Once processes exactly one batch, commits state, and
      // stops; the TTL clock keeps running across restarts via the
      // checkpointed expiry timestamps
      // the memory sink can't recover from a checkpoint — use the
      // (recoverable) parquet file sink and read the cumulative output
      val out = java.nio.file.Files.createTempDirectory("graft-ttl-out").toString
      def runOnce(): Set[Long] = {
        val q = StreamOps
          .firstSeenWithTtl(ms.toDS(), java.time.Duration.ofSeconds(30))
          .writeStream
          .format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.Once())
          .start()
        q.awaitTermination()
        spark.read.parquet(out).collect().map(_.getLong(1)).toSet
      }
      ms.addData(ev(1, "2024-01-01 10:00:00", user = 7))
      assert(runOnce() == Set(1L))
      // duplicate key well inside the TTL window: suppressed
      ms.addData(ev(2, "2024-01-01 10:00:05", user = 7))
      assert(runOnce() == Set(1L), "in-window duplicate must be suppressed")
      // let the processing-time TTL lapse, then the same key re-emits
      Thread.sleep(35000)
      ms.addData(ev(3, "2024-01-01 10:00:10", user = 7))
      assert(runOnce() == Set(1L, 3L), "expired key must re-emit")
    }
  }

  test("streaming EWMA recursion is exact across batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withStateProvider(rocksProvider) {
      val series = Seq(10.0, 20.0, 5.0, 40.0, 2.5, 17.0)
      val events = series.zipWithIndex.map { case (v, i) =>
        ev(i + 1L, f"2024-01-01 10:00:${i}%02d", user = 7, v = v)
      }
      // driver-side reference fold (first value seeds the state)
      val expect = series.tail
        .scanLeft(series.head)((y, x) => 0.5 * x + 0.5 * y)
      def run(batches: Seq[Seq[Event]], name: String): Seq[Double] = {
        val ms = MemoryStream[Event]
        val ckpt = java.nio.file.Files.createTempDirectory(s"graft-ewma-$name").toString
        val q = StreamOps
          .ewmaByUser(ms.toDS())
          .writeStream
          .format("memory")
          .queryName(s"ewma_$name")
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .start()
        batches.foreach { b => ms.addData(b); q.processAllAvailable() }
        q.stop()
        spark
          .table(s"ewma_$name")
          .collect()
          .map(r => r.getLong(1) -> r.getDouble(2))
          .sortBy(_._1)
          .map(_._2)
          .toSeq
      }
      val oneBatch = run(Seq(events), "one")
      val threeBatches = run(Seq(events.take(2), events.slice(2, 5), events.drop(5)), "three")
      assert(oneBatch == expect, s"single-batch fold diverged: $oneBatch vs $expect")
      assert(
        threeBatches == expect,
        "state carried across batches must reproduce the identical trajectory"
      )
    }
  }

  test("streaming CUSUM matches the batch prefix-min identity and carries S across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withStateProvider(rocksProvider) {
      val target = 10.0
      val series = Seq(12.0, 9.0, 15.0, 4.0, 4.0, 30.0, 11.0)
      val events = series.zipWithIndex.map { case (v, i) =>
        ev(i + 1L, f"2024-01-01 10:00:${i}%02d", user = 3, v = v)
      }
      // the recursion the processor runs...
      val recursion = series
        .scanLeft(0.0)((s, x) => math.max(0.0, s + (x - target)))
        .tail
      // ...and the identity ts_cusum computes in batch: both must agree
      val prefix = series.map(_ - target).scanLeft(0.0)(_ + _).tail
      val identity = prefix.zipWithIndex.map { case (p, i) =>
        p - math.min(prefix.take(i + 1).min, 0.0)
      }
      assert(
        recursion.zip(identity).forall { case (a, b) => math.abs(a - b) < 1e-12 },
        "the test's own identity must match the recursion"
      )
      val ms = MemoryStream[Event]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-cusum").toString
      val q = StreamOps
        .cusumByUser(ms.toDS(), target, threshold = 8.0)
        .writeStream
        .format("memory")
        .queryName("cusum_stream")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      Seq(events.take(3), events.slice(3, 6), events.drop(6)).foreach { b =>
        ms.addData(b); q.processAllAvailable()
      }
      q.stop()
      val got = spark
        .table("cusum_stream")
        .collect()
        .map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
        .sortBy(_._1)
      assert(got.map(_._2).toSeq == recursion, s"${got.toSeq} vs $recursion")
      assert(got.map(_._3).toSeq == recursion.map(_ > 8.0))
    }
  }

  test("transformWithState on RocksDB tracks purchases since last error") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withStateProvider(rocksProvider) {
      val ms = MemoryStream[Event]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-tws").toString
      val q = StreamOps
        .purchasesSinceErrorTws(ms.toDS())
        .writeStream
        .format("memory")
        .queryName("tws_state")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      try {
        ms.addData(
          ev(1, "2024-01-01 10:00:00", typ = "purchase"),
          ev(2, "2024-01-01 10:01:00", typ = "purchase")
        )
        q.processAllAvailable()
        ms.addData(
          ev(3, "2024-01-01 10:02:00", typ = "error"),
          ev(4, "2024-01-01 10:03:00", typ = "purchase")
        )
        q.processAllAvailable()
        val got = spark
          .table("tws_state")
          .collect()
          .map(r => (r.getAs[Long]("event_id"), r.getAs[Int]("n_purch")))
          .toMap
        assert(
          got == Map(1L -> 1, 2L -> 2, 3L -> 0, 4L -> 1),
          s"state sequence wrong: $got"
        )
      } finally q.stop()
    }
  }

  test("event-time timers close idle sessions via handleExpiredTimer (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withStateProvider(rocksProvider) {
      val ms = MemoryStream[Event]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-timer").toString
      val q = StreamOps
        .sessionByTimer(ms.toDS())
        .writeStream
        .format("memory")
        .queryName("timer_sessions")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      try {
        ms.addData(
          ev(1, "2024-01-01 10:00:00", user = 1, v = 2.0),
          ev(2, "2024-01-01 10:10:00", user = 1, v = 3.0)
        )
        q.processAllAvailable()
        // nothing emits while the session is open
        assert(spark.table("timer_sessions").isEmpty, "session emitted early")
        // push the watermark past 10:10 + 30min via another user's event
        ms.addData(ev(3, "2024-01-01 12:00:00", user = 2, v = 1.0))
        q.processAllAvailable()
        ms.addData(ev(4, "2024-01-01 12:05:00", user = 2, v = 1.0))
        q.processAllAvailable()
        val got = spark
          .table("timer_sessions")
          .collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"), r.getAs[Double]("sum_val")))
        assert(
          got.contains((1L, 2L, 5.0)),
          s"user 1 session not closed by timer: ${got.toSeq}"
        )
      } finally q.stop()
    }
  }

  test("RocksDB state soak: per-key state exact over 100 users × 10 batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withStateProvider(rocksProvider) {
      val ms = MemoryStream[Event]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-soak").toString
      val q = StreamOps
        .purchasesSinceErrorTws(ms.toDS())
        .writeStream
        .format("memory")
        .queryName("tws_soak")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      try {
        // deterministic LCG event mix: ~1/8 errors, ~1/2 purchases
        var id = 0L
        val expected = scala.collection.mutable.Map.empty[Long, Int]
        for (batch <- 0 until 10) {
          val events = (0 until 1000).map { i =>
            id += 1
            val user = (id * 2654435761L % 100).abs
            val r = (id * 1103515245L + 12345L) % 8
            val typ =
              if (r == 0) "error" else if (r < 5) "purchase" else "click"
            ev(id, f"2024-01-01 ${10 + batch}%02d:00:00", user = user, typ = typ)
          }
          ms.addData(events: _*)
          q.processAllAvailable()
        }
        // replay the same mix through a plain scala fold per user
        id = 0L
        val perUser = scala.collection.mutable.Map.empty[Long, Int].withDefaultValue(0)
        val wantFinal = scala.collection.mutable.Map.empty[Long, Int]
        for (_ <- 0 until 10; _ <- 0 until 1000) {
          id += 1
          val user = (id * 2654435761L % 100).abs
          val r = (id * 1103515245L + 12345L) % 8
          if (r == 0) perUser(user) = 0
          else if (r < 5) perUser(user) = perUser(user) + 1
          wantFinal(id) = perUser(user)
        }
        val got = spark
          .table("tws_soak")
          .collect()
          .map(r => r.getAs[Long]("event_id") -> r.getAs[Int]("n_purch"))
          .toMap
        assert(got.size == 10000, s"expected 10000 outputs, got ${got.size}")
        val bad = got.collect { case (k, v) if wantFinal(k) != v => (k, v, wantFinal(k)) }
        assert(bad.isEmpty, s"state drift on ${bad.size} events, e.g. ${bad.take(3)}")
      } finally q.stop()
    }
  }

  test("left-outer stream join null-extends only after both watermarks pass") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = StreamOps
      .purchaseClickLeftJoin(purchases.toDF, clicks.toDF)
      .writeStream
      .format("memory")
      .queryName("ss_left_join")
      .outputMode("append")
      .start()
    try {
      clicks.addData(ev(10, "2024-01-01 09:30:00", user = 1))
      purchases.addData(
        ev(1, "2024-01-01 10:00:00", user = 1, typ = "purchase"),
        ev(2, "2024-01-01 10:05:00", user = 3, typ = "purchase") // no click
      )
      q.processAllAvailable()
      val inner = spark
        .table("ss_left_join")
        .collect()
        .map(r => (r.getAs[Long]("p_id"), Option(r.getAs[java.lang.Long]("c_id"))))
        .toSet
      assert(inner.contains((1L, Some(10L))), s"inner match missing: $inner")
      assert(
        !inner.exists(_._1 == 2L),
        "unmatched purchase emitted before the watermark closed its window"
      )
      // advance BOTH watermarks (the join watermark is their minimum)
      clicks.addData(ev(90, "2024-01-01 13:00:00", user = 9))
      purchases.addData(ev(91, "2024-01-01 13:00:00", user = 9, typ = "purchase"))
      q.processAllAvailable()
      clicks.addData(ev(92, "2024-01-01 13:10:00", user = 9))
      purchases.addData(ev(93, "2024-01-01 13:10:00", user = 9, typ = "purchase"))
      q.processAllAvailable()
      val all = spark
        .table("ss_left_join")
        .collect()
        .map(r => (r.getAs[Long]("p_id"), Option(r.getAs[java.lang.Long]("c_id"))))
        .toSet
      assert(
        all.contains((2L, None)),
        s"null-extended row for the unmatched purchase missing: $all"
      )
    } finally q.stop()
  }

  test("transformWithState timer join matches the built-in left-outer join (RocksDB)") {
    twsJoin("tws_join")
  }

  test("transformWithState timer join compiles its state-row projections (CODEGEN_ONLY)") {
    // a state row class Spark's generated code cannot reach fails here
    // instead of falling back to the interpreted projection
    withConf(spark, "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY")(twsJoin("tws_join_codegen"))
  }

  /** The left-outer scenario of the built-in stream-stream join, run
    * through `purchaseClickJoinTws` into memory table `name`. */
  private def twsJoin(name: String): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withStateProvider(rocksProvider) {
      val purchases = MemoryStream[Event]
      val clicks = MemoryStream[Event]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-twsj").toString
      val q = StreamOps
        .purchaseClickJoinTws(purchases.toDF, clicks.toDF)
        .writeStream
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      try {
        def results() = spark
          .table(name)
          .collect()
          .map { r =>
            val c = r.getAs[AnyRef]("c_id")
            (r.getAs[Long]("p_id"), Option(c).map(_.asInstanceOf[Long]))
          }
          .toSet
        // same scenario the built-in left-outer test pins down
        clicks.addData(ev(10, "2024-01-01 09:30:00", user = 1))
        purchases.addData(
          ev(1, "2024-01-01 10:00:00", user = 1, typ = "purchase"),
          ev(2, "2024-01-01 10:05:00", user = 3, typ = "purchase") // no click
        )
        q.processAllAvailable()
        assert(results().contains((1L, Some(10L))), s"inner match missing: ${results()}")
        assert(
          !results().exists(_._1 == 2L),
          "unmatched purchase emitted before its timer expired"
        )
        // out-of-order arrival: the click shows up AFTER its purchase
        purchases.addData(ev(3, "2024-01-01 10:10:00", user = 5, typ = "purchase"))
        q.processAllAvailable()
        clicks.addData(ev(30, "2024-01-01 10:08:00", user = 5))
        q.processAllAvailable()
        assert(results().contains((3L, Some(30L))), s"late click not matched: ${results()}")
        // advance the watermark well past every purchase's timer
        clicks.addData(ev(90, "2024-01-01 13:00:00", user = 9))
        purchases.addData(ev(91, "2024-01-01 13:00:00", user = 9, typ = "purchase"))
        q.processAllAvailable()
        clicks.addData(ev(92, "2024-01-01 13:30:00", user = 9))
        purchases.addData(ev(93, "2024-01-01 13:30:00", user = 9, typ = "purchase"))
        q.processAllAvailable()
        assert(
          results().contains((2L, None)),
          s"null-extended row for the unmatched purchase missing: ${results()}"
        )
        assert(
          !results().contains((3L, None)) && !results().contains((1L, None)),
          s"matched purchase also null-extended: ${results()}"
        )
      } finally q.stop()
    }
  }

  test("streaming funnel advances stages incrementally on RocksDB state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withStateProvider(rocksProvider) {
      val ms = MemoryStream[Event]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-funnel").toString
      val q = StreamOps
        .funnelStages(ms.toDS())
        .writeStream
        .format("memory")
        .queryName("funnel")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      try {
        // batch 1: user 1 signs up then clicks; a click BEFORE any
        // signup (user 2) must not advance anything
        ms.addData(
          ev(1, "2024-01-01 10:00:00", user = 1, typ = "signup"),
          ev(2, "2024-01-01 10:05:00", user = 1, typ = "click"),
          ev(3, "2024-01-01 10:00:00", user = 2, typ = "click")
        )
        q.processAllAvailable()
        // batch 2: user 1 purchases (stage 3); a second click must not
        // re-emit stage 2; user 2 finally signs up (stage 1)
        ms.addData(
          ev(4, "2024-01-01 10:10:00", user = 1, typ = "click"),
          ev(5, "2024-01-01 10:12:00", user = 1, typ = "purchase"),
          ev(6, "2024-01-01 10:11:00", user = 2, typ = "signup")
        )
        q.processAllAvailable()
        val got = spark
          .table("funnel")
          .collect()
          .map(r =>
            (
              r.getAs[Long]("user_id"),
              r.getAs[Int]("stage"),
              r.getAs[Long]("event_id")
            )
          )
          .toSet
        assert(
          got == Set((1L, 1, 1L), (1L, 2, 2L), (1L, 3, 5L), (2L, 1, 6L)),
          s"stage transitions wrong: $got"
        )
      } finally q.stop()
    }
  }

  test("streaming retention emits one hit per (user, day) via MapState (RocksDB)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withStateProvider(rocksProvider) {
      val ms = MemoryStream[Event]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-ret").toString
      val q = StreamOps
        .retentionHits(ms.toDS())
        .writeStream
        .format("memory")
        .queryName("retention")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .start()
      try {
        ms.addData(
          ev(1, "2024-01-01 09:00:00", user = 1), // cohort day
          ev(2, "2024-01-01 18:00:00", user = 1), // same day: no new hit
          ev(3, "2024-01-02 09:00:00", user = 1) // offset 1
        )
        q.processAllAvailable()
        ms.addData(
          ev(4, "2024-01-02 10:00:00", user = 1), // offset 1 again: dedup'd
          ev(5, "2024-01-04 09:00:00", user = 1), // offset 3
          ev(6, "2024-01-03 09:00:00", user = 2) // second cohort
        )
        q.processAllAvailable()
        val got = spark
          .table("retention")
          .collect()
          .map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("day_offset")))
          .toSet
        assert(
          got == Set((1L, 0), (1L, 1), (1L, 3), (2L, 0)),
          s"retention hits wrong: $got"
        )
      } finally q.stop()
    }
  }

  test("flatMapGroupsWithState tracks purchases since last error") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[Event]
    val q = StreamOps
      .purchasesSinceError(ms.toDS())
      .writeStream
      .format("memory")
      .queryName("wm_state")
      .outputMode("append")
      .start()
    try {
      ms.addData(
        ev(1, "2024-01-01 10:00:00", typ = "purchase"),
        ev(2, "2024-01-01 10:01:00", typ = "purchase")
      )
      q.processAllAvailable()
      ms.addData(
        ev(3, "2024-01-01 10:02:00", typ = "error"),
        ev(4, "2024-01-01 10:03:00", typ = "purchase")
      )
      q.processAllAvailable()
      val got = spark
        .table("wm_state")
        .collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Int]("n_purch")))
        .toMap
      assert(
        got == Map(1L -> 1, 2L -> 2, 3L -> 0, 4L -> 1),
        s"state sequence wrong: $got"
      )
    } finally q.stop()
  }

  test("streaming per-window top-k: batch-split invariant, agrees with exact ranking") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withStateProvider(rocksProvider) {
      // two hourly windows; user event counts w1: u1=3 u2=2 u3=1 u4=1,
      // w2: u2=2 u5=1 — exact while capacity (32) is not binding
      val w1 = Seq(
        ev(1, "2024-01-01 10:00:01", user = 1), ev(2, "2024-01-01 10:10:00", user = 1),
        ev(3, "2024-01-01 10:20:00", user = 1), ev(4, "2024-01-01 10:05:00", user = 2),
        ev(5, "2024-01-01 10:15:00", user = 2), ev(6, "2024-01-01 10:25:00", user = 3),
        ev(7, "2024-01-01 10:35:00", user = 4)
      )
      val w2 = Seq(
        ev(8, "2024-01-01 11:00:01", user = 2), ev(9, "2024-01-01 11:30:00", user = 2),
        ev(10, "2024-01-01 11:40:00", user = 5)
      )
      val all = w1 ++ w2
      // expected final top-3 per window: (ws hour, user, cnt, rn)
      def truth(events: Seq[Event]): Set[(Long, Long, Long, Int)] =
        events
          .groupBy(e => (e.ts.getTime - Math.floorMod(e.ts.getTime, 3600000L), e.user_id))
          .map { case ((ws, u), es) => (ws, u, es.size.toLong) }
          .toSeq
          .groupBy(_._1)
          .flatMap { case (_, rows) =>
            rows.sortBy { case (_, u, c) => (-c, u) }.take(3).zipWithIndex.map {
              case ((ws, u, c), i) => (ws, u, c, i + 1)
            }
          }
          .toSet
      def run(batches: Seq[Seq[Event]], name: String): Set[(Long, Long, Long, Int)] = {
        val ms = MemoryStream[Event]
        val ckpt = java.nio.file.Files.createTempDirectory(s"graft-topk-$name").toString
        val q = StreamOps
          .topkByWindow(ms.toDS())
          .writeStream
          .format("memory")
          .queryName(s"topk_$name")
          .option("checkpointLocation", ckpt)
          .outputMode("update")
          .start()
        var before = 0
        batches.foreach { b =>
          before = spark.table(s"topk_$name").count().toInt
          ms.addData(b)
          q.processAllAvailable()
        }
        val rows = spark.table(s"topk_$name").collect()
        q.stop()
        // the LAST batch touches every window, so its emission (rows
        // appended after `before`) is the final snapshot for all keys
        rows
          .drop(before)
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
          .toSet
      }
      val expect = truth(all)
      // final batch mixes both windows so every key re-emits its snapshot
      val oneShot = run(Seq(all), "one")
      val split = run(
        Seq(w1.take(3), w1.drop(3) ++ w2.take(1), w2.drop(1) :+ ev(11, "2024-01-01 10:55:00", user = 9)),
        "split"
      )
      assert(oneShot == expect, s"single-batch top-k diverged: $oneShot vs $expect")
      val expectSplit = truth(all :+ ev(11, "2024-01-01 10:55:00", user = 9))
      assert(split == expectSplit, s"split-batch top-k diverged: $split vs $expectSplit")
    }
  }

  test("top-k serving table: per-window snapshot upsert, cold windows untouched") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withStateProvider(rocksProvider) {
      val base = java.nio.file.Files.createTempDirectory("graft-topk-serve").toString
      val out = s"$base/out"
      val ms = MemoryStream[Event]
      val q = StreamOps.topkServeSink(ms.toDS(), out, s"$base/ckpt")
      val w1 = 1704103200000L // 2024-01-01 10:00 UTC
      val w2 = w1 + 3600000L
      try {
        // batch 0: window 1 only — u1=2, u2=1
        ms.addData(
          ev(1, "2024-01-01 10:00:01", user = 1),
          ev(2, "2024-01-01 10:10:00", user = 1),
          ev(3, "2024-01-01 10:20:00", user = 2)
        )
        q.processAllAvailable()
        val snap1 = StreamOps
          .readTopkServe(spark, out)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        assert(snap1.toSeq == Seq((w1, 1L, 2L, 1), (w1, 2L, 1L, 2)), snap1.toSeq)
        val w1Files = new java.io.File(s"$out/ws_epoch_ms=$w1")
          .listFiles()
          .map(_.getName)
          .toSet
        // batch 1: window 2 only — the w1 partition must NOT be rewritten
        ms.addData(
          ev(4, "2024-01-01 11:05:00", user = 5),
          ev(5, "2024-01-01 11:15:00", user = 5)
        )
        q.processAllAvailable()
        assert(
          new java.io.File(s"$out/ws_epoch_ms=$w1").listFiles().map(_.getName).toSet == w1Files,
          "cold window partition was rewritten"
        )
        // batch 2: window 1 again — its snapshot is REPLACED (u2 overtakes)
        ms.addData(
          ev(6, "2024-01-01 10:40:00", user = 2),
          ev(7, "2024-01-01 10:50:00", user = 2)
        )
        q.processAllAvailable()
        val fin = StreamOps
          .readTopkServe(spark, out)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        assert(
          fin.toSeq == Seq(
            (w1, 2L, 3L, 1),
            (w1, 1L, 2L, 2),
            (w2, 5L, 2L, 1)
          ),
          s"serving table must hold replaced snapshots: ${fin.toSeq}"
        )
      } finally q.stop()
    }
  }

  test("streaming ANN serve answers probes from the staged index, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-ann-serve").toString
    val out = s"$base/out"
    val ms = MemoryStream[Long]
    val q = StreamOps.annServeStream(ms.toDS(), sf0001, out, s"$base/ckpt")
    try {
      ms.addData(0L)
      q.processAllAvailable()
      // the streamed answer for probe 0 IS the batch sim_pq_adc result
      val batch0 = sim.Similarity
        .queries("sim_pq_adc")(spark, sf0001)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
        .toSeq
      def served(pid: Long) = spark.read
        .parquet(out)
        .filter(col("pid") === pid)
        .orderBy("adist", "vec_id")
        .collect()
        .map(r => (r.getLong(r.fieldIndex("vec_id")), r.getDouble(r.fieldIndex("adist"))))
        .toSeq
      assert(served(0L) == batch0, s"${served(0L)} vs $batch0")
      // second batch adds probes 1 and 2; probe 0's partition persists
      ms.addData(1L, 2L)
      q.processAllAvailable()
      assert(served(0L) == batch0, "earlier probe's answer must persist")
      val batch12 = sim.Similarity
        .adcServeBatch(
          spark,
          sf0001,
          graft.Tables
            .embeddings(spark, sf0001)
            .filter(col("vec_id").isin(1L, 2L))
            .select(col("vec_id").as("pid"), col("embedding").as("pe"))
        )
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      val servedBoth = spark.read
        .parquet(out)
        .filter(col("pid") =!= 0L)
        // partition-directory inference types pid as INT; normalize
        .select(col("pid").cast("long"), col("vec_id"), col("adist"))
        .orderBy("pid", "adist", "vec_id")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      assert(servedBoth == batch12, s"$servedBoth vs $batch12")
    } finally q.stop()
  }

  test("AvailableNow ingestion drains only new files per run, exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val src = s"$base/src"
    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    def feed(ids: Seq[Long], file: String): Unit = {
      // the file source lists top-level FILES; stage the dir-shaped
      // write and promote its part file to $src/<file>.parquet
      val stage = s"$base/stage_$file"
      ids.toDF("id").coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage)
        .listFiles()
        .find(_.getName.endsWith(".parquet"))
        .get
      new java.io.File(src).mkdirs()
      java.nio.file.Files.move(
        part.toPath,
        java.nio.file.Paths.get(s"$src/$file.parquet")
      )
    }
    val schema = org.apache.spark.sql.types.StructType(
      Seq(org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))
    )
    feed(Seq(1L, 2L, 3L), "a")
    feed(Seq(4L, 5L), "b")
    // run 1: two files drain in BOUNDED batches (maxFilesPerTrigger=1)
    // and the query stops on its own
    StreamOps.ingestAvailableNow(spark, src, out, ckpt, schema)
    def ingested() =
      spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
    assert(ingested() == Seq(1L, 2L, 3L, 4L, 5L))
    // run 2 with nothing new: a no-op, no dupes
    StreamOps.ingestAvailableNow(spark, src, out, ckpt, schema)
    assert(ingested() == Seq(1L, 2L, 3L, 4L, 5L))
    // a new file lands; run 3 picks up ONLY it
    feed(Seq(6L, 7L), "c")
    StreamOps.ingestAvailableNow(spark, src, out, ckpt, schema)
    assert(ingested() == Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L))
    val files = new java.io.File(out)
      .listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files >= 3, "bounded batches must produce incremental sink files")
  }

  test("streaming top-k Space-Saving cap: heavy hitter survives eviction pressure") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    withStateProvider(rocksProvider) {
      // capacity 2, three distinct users: the heavy user (5 events)
      // must hold rank 1 even after evictions; the evicting newcomer
      // inherits min+1 (Space-Saving overestimate, bounded by the min)
      val events = Seq(
        ev(1, "2024-01-01 10:00:01", user = 1), ev(2, "2024-01-01 10:01:00", user = 1),
        ev(3, "2024-01-01 10:02:00", user = 1), ev(4, "2024-01-01 10:03:00", user = 2),
        ev(5, "2024-01-01 10:04:00", user = 1), ev(6, "2024-01-01 10:05:00", user = 3),
        ev(7, "2024-01-01 10:06:00", user = 1)
      )
      val ms = MemoryStream[Event]
      val ckpt = java.nio.file.Files.createTempDirectory("graft-topk-cap").toString
      val q = StreamOps
        .topkByWindow(ms.toDS(), k = 2, capacity = 2)
        .writeStream
        .format("memory")
        .queryName("topk_cap")
        .option("checkpointLocation", ckpt)
        .outputMode("update")
        .start()
      try {
        ms.addData(events)
        q.processAllAvailable()
        val rows = spark
          .table("topk_cap")
          .collect()
          .map(r => (r.getLong(1), r.getLong(2), r.getInt(3)))
          .sortBy(_._3)
        assert(rows.length == 2)
        assert(rows(0) == ((1L, 5L, 1)), s"heavy hitter lost under cap: ${rows.toSeq}")
        // u3 evicted u2 (count 1) and inherited 1+1=2 — the documented
        // Space-Saving overestimate
        assert(rows(1) == ((3L, 2L, 2)), s"eviction inheritance wrong: ${rows.toSeq}")
      } finally q.stop()
    }
  }

  test("incremental MV maintenance: delta segments == batch rollup, compaction preserves, stream resumes after compaction") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.StreamOps.Fact
    val base = java.nio.file.Files.createTempDirectory("graft-ivm").toString
    val out = s"$base/mv"
    val ckpt = s"$base/ckpt"
    def facts(seed: Int, n: Int): Seq[Fact] =
      (0 until n).map { i =>
        Fact(
          flag = Seq("A", "N", "R")((seed + i) % 3),
          status = Seq("F", "O")((seed + i) % 2),
          ship = f"1998-09-${(seed + i) % 4 + 1}%02d",
          qty = ((seed * 7 + i * 3) % 50 + 1).toDouble
        )
      }
    val b1 = facts(0, 40)
    val b2 = facts(5, 40)
    val b3 = facts(11, 40)
    def expected(rows: Seq[Fact]) =
      rows.toDS
        .groupBy("flag", "status", "ship")
        .agg(
          org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)).as("cnt"),
          org.apache.spark.sql.functions.sum("qty").as("sum_qty"),
          org.apache.spark.sql.functions.min("qty").as("min_qty"),
          org.apache.spark.sql.functions.max("qty").as("max_qty")
        )
        .collect()
        .map(r => r.getString(0) + r.getString(1) + r.getString(2) ->
          ((r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
        .toMap
    def served() =
      StreamOps
        .readMvMaintained(spark, out)
        .collect()
        .map(r => r.getString(0) + r.getString(1) + r.getString(2) ->
          ((r.getLong(3), r.getDouble(4), r.getDouble(5), r.getDouble(6))))
        .toMap
    def segments() =
      new java.io.File(out)
        .listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("batch_id="))
        .map(_.getName)
        .sorted
        .toSeq
    val ms = MemoryStream[Fact]
    val q1 = StreamOps.mvMaintainSink(ms.toDS(), out, ckpt)
    try {
      ms.addData(b1: _*); q1.processAllAvailable()
      ms.addData(b2: _*); q1.processAllAvailable()
    } finally q1.stop()
    // two delta segments, and serving them equals the batch rollup
    assert(segments() == Seq("batch_id=0", "batch_id=1"), segments())
    assert(served() == expected(b1 ++ b2))
    // compaction: one base segment, same served view
    StreamOps.mvCompact(spark, out)
    assert(segments() == Seq("batch_id=-1"), segments())
    assert(served() == expected(b1 ++ b2))
    // restart from the same checkpoint: fresh deltas land AFTER the
    // base (the batch counter never rewinds), view stays exact
    val q2 = StreamOps.mvMaintainSink(ms.toDS(), out, ckpt)
    try {
      ms.addData(b3: _*); q2.processAllAvailable()
    } finally q2.stop()
    assert(segments() == Seq("batch_id=-1", "batch_id=2"), segments())
    assert(served() == expected(b1 ++ b2 ++ b3))
  }

  test("snapshot streaming source: versions as offsets, restart exactly-once, compaction silent, change commits loud") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val base = java.nio.file.Files.createTempDirectory("graft-snapsrc").toString
    val table = s"$base/t"
    val ckpt = s"$base/ckpt"
    def stream(extra: (String, String)*) = {
      val r0 = spark.readStream.format("graft.sources.GraftSnapshotSource")
      extra.foldLeft(r0) { case (r, (k, v)) => r.option(k, v) }.load(table)
    }
    // foreachBatch (fault-tolerant, unlike the memory sink, so the
    // SAME checkpoint survives restarts) draining into a per-query
    // buffer
    def start(buf: scala.collection.mutable.Set[Long], extra: (String, String)*) =
      stream(extra: _*).writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          buf.synchronized {
            buf ++= df.select("id").collect().map(_.getLong(0))
          }: Unit
        }
        .option("checkpointLocation", ckpt)
        .start()
    SnapshotLog.commit(spark, table, (1L to 5L).toDF("id"))
    SnapshotLog.commit(spark, table, (6L to 9L).toDF("id"))
    val got1 = scala.collection.mutable.Set[Long]()
    val q1 = start(got1)
    try {
      q1.processAllAvailable()
      assert(got1.toSet == (1L to 9L).toSet, "initial batch serves both versions")
      // a new append flows incrementally; an interleaved compaction
      // contributes NOTHING (its rows were already delivered)
      SnapshotLog.commit(spark, table, (10L to 12L).toDF("id"))
      SnapshotLog.compact(spark, table,
        smallerThanBytes = Long.MaxValue, filesOut = Some(1))
      q1.processAllAvailable()
      assert(got1.toSet == (1L to 12L).toSet,
        "append delivered once; compaction delivered nothing")
    } finally q1.stop()
    // offline append, restart from the SAME checkpoint with a fresh
    // buffer: only the new version arrives — exactly-once across restarts
    SnapshotLog.commit(spark, table, (13L to 15L).toDF("id"))
    val got2 = scala.collection.mutable.Set[Long]()
    val q2 = start(got2)
    try {
      q2.processAllAvailable()
      assert(got2.toSet == (13L to 15L).toSet,
        "restart must resume at the checkpointed version, not replay")
    } finally q2.stop()
    // an in-place change (CoW delete) breaks an insert-only stream
    // LOUDLY by default...
    SnapshotLog.deleteWhere(spark, table, "id", 2, 3)
    val got3 = scala.collection.mutable.Set[Long]()
    val q3 = start(got3)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable(); q3.awaitTermination()
    }
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("skipChangeCommits")) ||
        mentions(t.getCause))
    assert(mentions(err), s"failure must name the remedy: ${err.getMessage}")
    // ...and is deliberately skipped with skipChangeCommits=true; the
    // next append flows normally
    SnapshotLog.commit(spark, table, (16L to 17L).toDF("id"))
    val got4 = scala.collection.mutable.Set[Long]()
    val q4 = start(got4, "skipChangeCommits" -> "true")
    try {
      q4.processAllAvailable()
      assert(got4.toSet == (16L to 17L).toSet,
        "change commit skipped, later append delivered")
    } finally q4.stop()
  }

  test("snapshot streaming CDF: deletes stream tagged, compaction silent, restart exactly-once") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val base = java.nio.file.Files.createTempDirectory("graft-snapcdfs").toString
    val table = s"$base/t"
    val ckpt = s"$base/ckpt"
    val got = scala.collection.mutable.Set[(Long, String, Int)]()
    def start() = spark.readStream
      .format("graft.sources.GraftSnapshotSource")
      .option("readChangeFeed", "true")
      .load(table)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= df.select("id", "change_type", "commit_version")
            .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
        }: Unit
      }
      .option("checkpointLocation", ckpt)
      .start()
    SnapshotLog.commit(spark, table, (1L to 6L).toDF("id")
      .repartitionByRange(2, org.apache.spark.sql.functions.col("id")))
    val q1 = start()
    try {
      q1.processAllAvailable()
      assert(got.toSet == (1L to 6L).map((_, "insert", 1)).toSet)
      // a CoW delete flows as tagged delete+reinsert of the touched
      // file's rows — NO loud failure in CDF mode
      SnapshotLog.deleteWhere(spark, table, "id", 2, 2)
      q1.processAllAvailable()
      val v2 = got.toSet.filter(_._3 == 2)
      assert(v2.filter(_._2 == "delete").map(_._1) == Set(1L, 2L, 3L),
        s"touched file's rows stream as deletes: $v2")
      assert(v2.filter(_._2 == "insert").map(_._1) == Set(1L, 3L),
        s"survivors re-insert: $v2")
      // compaction is silent in CDF mode too
      SnapshotLog.compact(spark, table,
        smallerThanBytes = Long.MaxValue, filesOut = Some(1))
      q1.processAllAvailable()
      assert(!got.exists(_._3 == 3), "datachange=false emits no CDF rows")
    } finally q1.stop()
    // offline append; restart from the same checkpoint delivers ONLY it
    SnapshotLog.commit(spark, table, Seq(10L).toDF("id"))
    got.clear()
    val q2 = start()
    try {
      q2.processAllAvailable()
      assert(got.toSet == Set((10L, "insert", 4)),
        s"restart resumes at the checkpointed version: $got")
    } finally q2.stop()
  }

  test("streaming CDF refuses a change commit whose removed files predate the retention horizon") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val base = java.nio.file.Files.createTempDirectory("graft-cdfexp").toString
    val table = s"$base/t"
    SnapshotLog.commit(spark, table, (1L to 5L).toDF("id").coalesce(1))   // v1
    SnapshotLog.commit(spark, table, (6L to 9L).toDF("id").coalesce(1))   // v2
    SnapshotLog.deleteWhere(spark, table, "id", 2, 3)                      // v3: removes a v1 file
    SnapshotLog.commit(spark, table, (10L to 12L).toDF("id").coalesce(1)) // v4
    // horizon = v3: the file v3 removed was referenced only by expired
    // versions — its content is gone
    SnapshotLog.expire(spark, table, keepLast = 2)
    val q = spark.readStream.format("graft.sources.GraftSnapshotSource")
      .option("readChangeFeed", "true")
      .option("startingVersion", "2")
      .load(table)
      .writeStream
      .foreachBatch((_: org.apache.spark.sql.DataFrame, _: Long) => (): Unit)
      .option("checkpointLocation", s"$base/ckpt")
      .start()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination()
    }
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("retention horizon")) ||
        mentions(t.getCause))
    assert(mentions(err), s"CDF over expired removals must be loud: ${err.getMessage}")
  }

  test("snapshot streaming source: maxFilesPerTrigger paces the backlog; AvailableNow drains and stops") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val base = java.nio.file.Files.createTempDirectory("graft-snaprate").toString
    val table = s"$base/t"
    // a 4-commit backlog, one file each (the restart-after-a-gap shape
    // that must NOT become one giant micro-batch at 100 TB)
    (0 until 4).foreach(i =>
      SnapshotLog.commit(spark, table,
        (i * 10L until i * 10L + 5L).toDF("id").coalesce(1)))
    val batches = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = spark.readStream
      .format("graft.sources.GraftSnapshotSource")
      .option("maxFilesPerTrigger", "1")
      .load(table)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.synchronized {
          batches(id) = df.select("id").collect().map(_.getLong(0)).toSet
        }: Unit
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // AvailableNow pins the goalpost at start, drains it in rate-limited
    // batches, then terminates on its own
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    assert(batches.size >= 4,
      s"4 one-file commits under maxFilesPerTrigger=1 need >=4 batches, got ${batches.size}")
    assert(batches.values.reduce(_ ++ _) ==
      (0 until 4).flatMap(i => i * 10L until i * 10L + 5L).toSet,
      "paced delivery must still be exactly-once over the whole backlog")
  }

  test("snapshot streaming source: maxBytesPerTrigger prices versions from _sz riders") {
    import spark.implicits._
    import graft.sources.SnapshotLog
    val base = java.nio.file.Files.createTempDirectory("graft-snapbytes").toString
    val table = s"$base/t"
    (0 until 4).foreach(i =>
      SnapshotLog.commit(spark, table,
        (i * 10L until i * 10L + 5L).toDF("id").coalesce(1)))
    // each one-file commit is a few hundred bytes; a 1-byte budget
    // forces one version per batch (always-at-least-one keeps the
    // stream from stalling on commits larger than the cap)
    val batches = scala.collection.mutable.Map[Long, Set[Long]]()
    val q = spark.readStream
      .format("graft.sources.GraftSnapshotSource")
      .option("maxBytesPerTrigger", "1")
      .load(table)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches.synchronized {
          batches(id) = df.select("id").collect().map(_.getLong(0)).toSet
        }: Unit
      }
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000), "AvailableNow query must self-terminate")
    assert(batches.size >= 4,
      s"4 commits under a 1-byte budget need >=4 batches, got ${batches.size}")
    assert(batches.values.reduce(_ ++ _) ==
      (0 until 4).flatMap(i => i * 10L until i * 10L + 5L).toSet,
      "byte-paced delivery must still be exactly-once")
    // a generous budget admits the backlog in fewer batches
    val batches2 = scala.collection.mutable.Map[Long, Int]()
    val q2 = spark.readStream
      .format("graft.sources.GraftSnapshotSource")
      .option("maxBytesPerTrigger", (10L << 20).toString)
      .load(table)
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
        batches2.synchronized { batches2(id) = df.count().toInt }: Unit
      }
      .option("checkpointLocation", s"$base/ckpt2")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q2.awaitTermination(120000))
    assert(batches2.values.sum == 20, "all rows in the generous-budget run")
    assert(batches2.count(_._2 > 0) <= 1,
      s"a 10 MB budget should admit the whole tiny backlog at once: $batches2")
  }
}
