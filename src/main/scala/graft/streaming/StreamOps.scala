package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{
  GroupState,
  GroupStateTimeout,
  ListState,
  MapState,
  OutputMode,
  StatefulProcessor,
  TTLConfig,
  TimeMode,
  TimerValues,
  ValueState
}
import org.apache.spark.sql.{DataFrame, Dataset}

/** §2.10 True Structured Streaming forms (SURVEY.md).
  *
  * These transforms are source-agnostic: production wires them to
  * readStream (kafka/files); StreamingSpec drives them through
  * MemoryStream to prove watermark, session-merge, and state
  * semantics. The batch-checkable twins live in
  * graft.operators.StreamingBatch and share the same window
  * expressions.
  */
object StreamOps {

  /** Canonical event record for the streaming surface. */
  case class Event(
      event_id: Long,
      ts: java.sql.Timestamp,
      user_id: Long,
      event_type: String,
      value: Double
  )

  /** Output of the purchases-since-last-error stateful op. */
  case class PurchaseState(event_id: Long, user_id: Long, n_purch: Int)

  /** 1h tumbling count+sum per event type; 10-minute watermark drops
    * late rows and bounds window state. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum("value").as("sum_val"))
      .select(
        col("window.start").as("ws"),
        col("event_type"),
        col("cnt"),
        col("sum_val")
      )

  /** Sliding 1h/15m windows as CHAINED stateful aggregates — the
    * streaming twin of the batch pane rollup (StreamingBatch.
    * streamSliding): a 15-minute tumbling pane aggregate feeds a
    * second windowed aggregate keyed on the sliding windows containing
    * each pane (`window_time` re-exposes a window's event time, the
    * Spark 3.5+ multiple-stateful-operator pattern). Per-event state is
    * pane-granular, and only the (tiny) pane stream pays the 4×
    * sliding fan-out — the streaming analogue of the batch plan's
    * map-side-combine-then-expand. Exactness vs the one-shot sliding
    * aggregate is asserted in StreamingSpec. */
  def slidingByPanes(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("pc"), sum("value").as("pv"))
      .groupBy(
        window(window_time(col("window")), "1 hour", "15 minutes").as("w"),
        col("event_type")
      )
      .agg(sum("pc").as("cnt"), sum("pv").as("sum_val"))
      .select(
        col("w.start").as("ws"),
        col("event_type"),
        col("cnt"),
        col("sum_val")
      )

  /** Session windows (30-minute gap) per user with watermark-bounded
    * state — sessions merge as events arrive and emit on close. */
  def sessionAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"),
        col("cnt")
      )

  /** Stateful dedup on event_id within the watermark horizon. */
  def dedupEvents(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes").dropDuplicates(Seq("event_id"))

  /** Exactly-once file sink: foreachBatch writes each micro-batch's
    * per-user partial aggregate into a `batch_id=<N>` parquet partition
    * with DYNAMIC partition overwrite. foreachBatch is at-least-once —
    * a crash after the sink write but before the offset commit replays
    * the batch — but Spark guarantees the replayed batch carries the
    * SAME batchId, so the rewrite lands on the same partition and the
    * sink output is exactly-once end to end. `failAfterWriteAt`
    * injects precisely that crash window once (write completes, then
    * the batch function throws, so the offset never commits);
    * StreamingSpec restarts from the checkpoint and proves no dupes
    * and no loss. Readers total the partials with
    * `readExactlyOnce`. */
  def exactlyOnceSink(
      events: DataFrame,
      outDir: String,
      checkpointDir: String,
      failAfterWriteAt: Option[Long] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"), sum("value").as("v"))
          .withColumn("batch_id", lit(batchId))
          .write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
        if (failAfterWriteAt.contains(batchId) && !tripped.getAndSet(true))
          throw new RuntimeException(
            s"injected crash after sink write, before offset commit (batch $batchId)"
          )
      }
      .start()
  }

  /** Streaming ingestion into the TRANSACTIONAL snapshot table (round
    * 10): each micro-batch commits through
    * [[graft.sources.SnapshotLog.commit]] with the stable
    * foreachBatch batchId as its request's txn id, so the crash window between
    * snapshot commit and offset commit — where an at-least-once runner
    * re-delivers the batch — replays into the SAME version instead of a
    * duplicate commit. This is [[exactlyOnceSink]]'s idempotence
    * contract upgraded from a partition-overwrite layout to a table
    * format: every committed version additionally stays time-travel
    * readable. `failAfterCommitAt` injects the crash exactly inside
    * that window (once), for the restart test.
    *
    * The idempotency token is SCOPED, not the bare batchId (the Delta
    * (txnAppId, txnVersion) posture): batchIds are only meaningful
    * within one checkpoint lineage, so a second query writing the same
    * table — or the same query restarted against a FRESH checkpoint,
    * whose batchIds restart at 0 — must not see the first lineage's
    * `batch-N` in the log and silently skip its own commit (that is
    * data loss, not deduplication). The default scope tag hashes the
    * checkpoint location, which is exactly the unit a batchId sequence
    * belongs to; pass `appId` to override with an explicit stable id. */
  def snapshotSink(
      events: DataFrame,
      table: String,
      checkpointDir: String,
      failAfterCommitAt: Option[Long] = None,
      appId: Option[String] = None
  ): org.apache.spark.sql.streaming.StreamingQuery = {
    val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val scope = appId.getOrElse(snapshotTxnScope(checkpointDir))
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        import graft.sources.SnapshotLog.{CommitData, CommitRequest}
        graft.sources.SnapshotLog.commit(
          batch.sparkSession, table,
          CommitRequest(CommitData.Frame(batch), txnId = Some(s"$scope-batch-$batchId")))
        if (failAfterCommitAt.contains(batchId) && !tripped.getAndSet(true))
          throw new RuntimeException(
            s"injected crash after snapshot commit, before offset commit (batch $batchId)"
          )
      }
      .start()
  }

  /** Deterministic per-checkpoint scope tag for [[snapshotSink]]'s txn
    * ids — stable across restarts FROM that checkpoint (replay dedup
    * keeps working), distinct across checkpoints (no cross-query or
    * fresh-checkpoint token collision). Package-visible so tests can
    * predict tokens. */
  private[graft] def snapshotTxnScope(checkpointDir: String): String =
    java.security.MessageDigest
      .getInstance("SHA-1")
      .digest(checkpointDir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4)
      .map("%02x".format(_))
      .mkString("q", "", "")

  /** Read-back totals for [[exactlyOnceSink]]'s partial-aggregate
    * layout: sum the per-batch partials per user. */
  def readExactlyOnce(
      spark: org.apache.spark.sql.SparkSession,
      outDir: String
  ): DataFrame =
    spark.read
      .parquet(outDir)
      .groupBy("user_id")
      .agg(sum("n").cast("long").as("n_events"), sum("v").as("sum_val"))

  /** Stream-stream inner join: each purchase joined to clicks by the
    * same user within the preceding hour. Watermarks on both sides let
    * Spark bound the join state (a side can discard buffered rows once
    * the other side's watermark passes the time-range condition). */
  def purchaseClickJoin(purchases: DataFrame, clicks: DataFrame): DataFrame = {
    val p = purchases
      .withWatermark("ts", "10 minutes")
      .select(
        col("event_id").as("p_id"),
        col("user_id").as("p_user"),
        col("ts").as("p_ts")
      )
    val c = clicks
      .withWatermark("ts", "10 minutes")
      .select(
        col("event_id").as("c_id"),
        col("user_id").as("c_user"),
        col("ts").as("c_ts")
      )
    p.join(
      c,
      expr(
        "p_user = c_user AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 1 HOUR"
      )
    )
  }

  /** `transformWithState` processor — the Spark 4 replacement API for
    * flatMapGroupsWithState, same purchases-since-last-error semantics
    * as `purchasesSinceError` below. Typed `ValueState` comes from the
    * processor handle instead of a GroupState argument; the API runs
    * only on the RocksDB state store provider (StreamingSpec exercises
    * exactly that, proving the disk-backed store the in-memory default
    * can't represent — the configuration that holds state at 100 TB). */
  class PurchasesSinceErrorProcessor
      extends StatefulProcessor[Long, Event, PurchaseState] {
    @transient private var nState: ValueState[Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      nState = getHandle
        .getValueState[Int]("n_purch", Encoders.scalaInt, TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: TimerValues
    ): Iterator[PurchaseState] = {
      var n = if (nState.exists()) nState.get() else 0
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
        e.event_type match {
          case "error"    => n = 0
          case "purchase" => n += 1
          case _          => ()
        }
        PurchaseState(e.event_id, user, n)
      }
      nState.update(n)
      out.iterator
    }
  }

  case class EwmaPoint(user_id: Long, event_id: Long, ewma: Double)

  /** Streaming EWMA — the TRUE infinite-horizon recursion
    * `y = α·x + (1−α)·y_prev`, one ValueState read-modify-write per
    * event. The batch twin (operators.EventAnalytics ts_ewma) ships
    * the closed FINITE-horizon form precisely because batch has no
    * per-key sequential state at scale; streaming owns exactly that
    * state, so here the recursion is the natural — and O(1)-per-event
    * — shape. Events are folded in (ts, event_id) order within each
    * batch, and the carried state makes the fold exact across batch
    * boundaries (StreamingSpec feeds the same series in one batch and
    * split across three, and asserts bit-identical trajectories vs a
    * driver-side fold). */
  /** MEMORY BOUND (round-8 advice): `rows.toSeq.sortBy` here and in
    * CusumProcessor materializes one key's rows for ONE micro-batch —
    * bounded by per-key batch arrival rate, not by stream length (state
    * carries only the scalar between batches). The recursions are
    * order-sensitive, and rows within a micro-batch arrive unordered,
    * so the sort is semantically required; a production deployment
    * bounds the per-key batch via source admission control
    * (maxOffsetsPerTrigger and partition-count × batch-interval), not
    * inside the processor. A key whose single-batch volume outgrows
    * executor memory needs a pre-aggregated source, not a lazy fold —
    * laziness cannot reorder. */
  class EwmaProcessor(alpha: Double)
      extends StatefulProcessor[Long, Event, EwmaPoint] {
    @transient private var prev: ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      prev = getHandle
        .getValueState[Double]("ewma", Encoders.scalaDouble, TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: TimerValues
    ): Iterator[EwmaPoint] = {
      var hasPrev = prev.exists()
      var y = if (hasPrev) prev.get() else 0.0
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
        y = if (hasPrev) alpha * e.value + (1.0 - alpha) * y else e.value
        hasPrev = true
        EwmaPoint(user, e.event_id, y)
      }
      prev.update(y)
      out.iterator
    }
  }

  /** Per-user streaming EWMA trajectory (α = 0.5). */
  def ewmaByUser(events: Dataset[Event], alpha: Double = 0.5): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new EwmaProcessor(alpha),
        // no timers, no TTL => TimeMode.None: under ProcessingTime the
        // runtime schedules an empty successor batch after EVERY batch
        // to advance the clock, so the query is never idle and
        // processAllAvailable() can block indefinitely (same lesson as
        // TtlDedupProcessor, from the other side)
        TimeMode.None(),
        OutputMode.Append()
      )
  }

  case class CusumPoint(user_id: Long, event_id: Long, cusum: Double, breach: Boolean)

  /** Streaming CUSUM — the sequential `S = max(0, S + (x − target))`
    * recursion verbatim, one ValueState per key. The batch twin
    * (ts_cusum) rewrites this through the prefix-sum/running-min
    * identity because batch has no per-key scan state; streaming holds
    * S directly, so drift detection emits in-flight, per event, with
    * O(1) state per key — the online change-detector a monitoring
    * pipeline actually deploys. `target`/`threshold` come from a batch
    * calibration pass (broadcast config), not from the stream. */
  class CusumProcessor(target: Double, threshold: Double)
      extends StatefulProcessor[Long, Event, CusumPoint] {
    @transient private var s: ValueState[Double] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      s = getHandle
        .getValueState[Double]("cusum", Encoders.scalaDouble, TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: TimerValues
    ): Iterator[CusumPoint] = {
      var cur = if (s.exists()) s.get() else 0.0
      val out = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
        cur = math.max(0.0, cur + (e.value - target))
        CusumPoint(user, e.event_id, cur, cur > threshold)
      }
      s.update(cur)
      out.iterator
    }
  }

  /** Per-user streaming CUSUM trajectory against a calibrated target. */
  def cusumByUser(
      events: Dataset[Event],
      target: Double,
      threshold: Double
  ): Dataset[CusumPoint] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new CusumProcessor(target, threshold),
        TimeMode.None(), // see ewmaByUser: ProcessingTime never idles
        OutputMode.Append()
      )
  }

  /** Per-user session summary emitted by TIMER, not by incoming data:
    * each batch refreshes the state and re-arms an event-time timer at
    * last-event + gap; when the WATERMARK passes it, handleExpiredTimer
    * emits the closed session and clears state. This is the
    * timeout-driven emission pattern (idle-session close, TTL flush)
    * that flatMapGroupsWithState could only approximate — and the
    * state+timers live in RocksDB, so a keyspace of any size holds. */
  case class SessionSummary(user_id: Long, n_events: Long, sum_val: Double)
  case class SessBuf(n: Long, sum: Double, maxTs: Long)

  class SessionTimeoutProcessor(gapMs: Long)
      extends StatefulProcessor[Long, Event, SessionSummary] {
    @transient private var buf: ValueState[SessBuf] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle
        .getValueState[SessBuf]("sess", Encoders.product[SessBuf], TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: TimerValues
    ): Iterator[SessionSummary] = {
      var b = if (buf.exists()) buf.get() else SessBuf(0L, 0.0, Long.MinValue)
      var oldTimer = if (b.maxTs != Long.MinValue) b.maxTs + gapMs else -1L
      rows.foreach { e =>
        b = SessBuf(b.n + 1, b.sum + e.value, math.max(b.maxTs, e.ts.getTime))
      }
      buf.update(b)
      if (oldTimer > 0) getHandle.deleteTimer(oldTimer)
      getHandle.registerTimer(b.maxTs + gapMs)
      Iterator.empty
    }

    override def handleExpiredTimer(
        user: Long,
        timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo
    ): Iterator[SessionSummary] = {
      val b = buf.get()
      buf.clear()
      Iterator.single(SessionSummary(user, b.n, b.sum))
    }
  }

  /** Timer-closed 30-minute sessions over the event stream. */
  def sessionByTimer(events: Dataset[Event]): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .groupByKey(_.user_id)
      .transformWithState(
        new SessionTimeoutProcessor(30L * 60 * 1000),
        TimeMode.EventTime(),
        OutputMode.Append()
      )
  }

  /** One row of the per-window top-k serving output. */
  case class TopkRow(ws_epoch_ms: Long, user_id: Long, cnt: Long, rn: Int)

  /** Streaming per-window top-k under a SPACE-SAVING cap — the
    * streaming twin of the batch stream_topk key (whose TopKPerGroup
    * partial-heap shuffle is the batch analogue of exactly this
    * bounded state). Keyed by window start; MapState holds at most
    * `capacity` (user → count) entries. Within capacity the counts
    * are exact; past it the new user EVICTS the current minimum and
    * inherits its count + 1 — the classic Space-Saving guarantee
    * (count overestimates bounded by the evicted minimum; any user
    * with true count > N/capacity is retained). That is the state
    * bound that lets a 100 TB stream serve per-window leaderboards
    * without per-user state growing with the keyspace. Emits the
    * current top-`k` after every batch (update-style serving); a
    * window's ranking refines as batches arrive, state carries across
    * batches, and StreamingSpec proves batch-split invariance and
    * agreement with the batch key when the cap is not binding. */
  class TopkProcessor(k: Int, capacity: Int)
      extends StatefulProcessor[Long, Event, TopkRow] {
    @transient private var counts: MapState[Long, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[Long, Long](
        "counts",
        Encoders.scalaLong,
        Encoders.scalaLong,
        TTLConfig.NONE
      )

    override def handleInputRows(
        ws: Long,
        rows: Iterator[Event],
        timerValues: TimerValues
    ): Iterator[TopkRow] = {
      // fold this batch's arrivals into a local copy of the bounded
      // summary (capacity entries — O(1) per key), then write it back
      val m = scala.collection.mutable.Map.empty[Long, Long]
      counts.iterator().foreach { p => m(p._1) = p._2 }
      rows.foreach { e =>
        m.get(e.user_id) match {
          case Some(c) => m(e.user_id) = c + 1
          case None if m.size < capacity => m(e.user_id) = 1L
          case None =>
            // Space-Saving eviction: replace the minimum, inherit its count
            val (mu, mc) = m.minBy { case (u, c) => (c, u) }
            m.remove(mu)
            counts.removeKey(mu)
            m(e.user_id) = mc + 1
        }
      }
      m.foreach { case (u, c) => counts.updateValue(u, c) }
      m.toSeq
        .sortBy { case (u, c) => (-c, u) }
        .take(k)
        .iterator
        .zipWithIndex
        .map { case ((u, c), i) => TopkRow(ws, u, c, i + 1) }
    }
  }

  /** Per-hourly-window top-k users by event count (see TopkProcessor). */
  def topkByWindow(
      events: Dataset[Event],
      k: Int = 3,
      capacity: Int = 32
  ): Dataset[TopkRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => e.ts.getTime - Math.floorMod(e.ts.getTime, 3600000L))
      .transformWithState(
        new TopkProcessor(k, capacity),
        TimeMode.None(),
        OutputMode.Update()
      )
  }

  /** SERVE the streaming top-k from a stored table — the streaming
    * half of the round-8 staging architecture (the batch half is
    * Stage.table; this is its continuously-refreshed sibling). Each
    * micro-batch, [[TopkProcessor]] re-emits the COMPLETE current
    * top-k of every window it touched, so the foreachBatch upsert is a
    * per-window snapshot replace: dynamic partition overwrite on the
    * window key swaps exactly the touched windows' partitions and
    * leaves cold windows untouched. Readers always see a full, point-
    * in-time leaderboard per window partition — the classic serving-
    * table contract (and the same idempotent-replay protocol as
    * [[exactlyOnceSink]]: a replayed batch regenerates the same
    * snapshots from the same state version and overwrites in place).
    * At 100 TB: state is O(windows × capacity), each refresh writes
    * k·|touched windows| rows, and the serving table is a plain
    * partitioned parquet scan for any consumer. */
  def topkServeSink(
      events: Dataset[Event],
      outDir: String,
      checkpointDir: String,
      k: Int = 3,
      capacity: Int = 32
  ): org.apache.spark.sql.streaming.StreamingQuery =
    topkByWindow(events, k, capacity).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[TopkRow], _: Long) =>
        batch.write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ws_epoch_ms")
          .parquet(outDir)
      }
      .start()

  /** Current leaderboard read-back for [[topkServeSink]]'s layout. */
  def readTopkServe(
      spark: org.apache.spark.sql.SparkSession,
      outDir: String
  ): DataFrame =
    spark.read
      .parquet(outDir)
      .select("ws_epoch_ms", "user_id", "cnt", "rn")
      .orderBy("ws_epoch_ms", "rn")

  /** STREAMING ANN serving: a stream of probe ids answered from the
    * STAGED PQ index — the query-side half of the round-8 index
    * lifecycle (build → refresh → serve), now with probes arriving
    * continuously instead of as a batch argument. Each micro-batch
    * fetches its probes' vectors (a broadcast-sized lookup), runs the
    * same [[graft.sim.Similarity.adcServeBatch]] dataflow every batch
    * key uses — stored code bytes scanned once per batch, float
    * vectors touched only for probes and the 16-row codebook — and
    * upserts each probe's top-10 into a `pid`-partitioned serving
    * table (dynamic overwrite: re-probing replaces that probe's
    * answer, idempotent on replay). At 100 TB the per-batch cost is
    * one code-table scan amortized over the batch's probes; state
    * lives entirely in the staged index and the serving table, so the
    * stream itself is stateless. */
  def annServeStream(
      probeIds: Dataset[Long],
      dir: String,
      outDir: String,
      checkpointDir: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    probeIds.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Long], _: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val probes = graft.Tables
            .embeddings(spark, dir)
            .join(broadcast(batch.toDF("pid")), col("vec_id") === col("pid"))
            .select(col("pid"), col("embedding").as("pe"))
          graft.sim.Similarity
            .adcServeBatch(spark, dir, probes)
            .write
            .mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("pid")
            .parquet(outDir)
        }
      }
      .start()

  /** Incremental file ingestion on `Trigger.AvailableNow` — the
    * scheduled-batch posture of a production feed: each invocation
    * drains everything NEW under `srcDir` since the checkpoint's file
    * log, writes it through an exactly-once file sink, and STOPS (no
    * resident query). Re-running is the catch-up: already-ingested
    * files are never re-read (the checkpoint's seen-file log is the
    * state), new files flow through in bounded batches
    * (`maxFilesPerTrigger` paces memory at any backlog size — a
    * 100 TB backlog drains as many bounded batches, not one giant
    * one). This is the missing middle between a one-shot batch read
    * and an always-on stream: cron-able, restartable, no dupes. */
  def ingestAvailableNow(
      spark: org.apache.spark.sql.SparkSession,
      srcDir: String,
      outDir: String,
      checkpointDir: String,
      schema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Int = 1
  ): Unit = {
    val q = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(srcDir)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Fact record for the incremental-view-maintenance surface —
    * lineitem's MV-relevant slice (graft.operators.Aggregates
    * .aggRollupMv's grain and measures). */
  case class Fact(flag: String, status: String, ship: String, qty: Double)

  /** INCREMENTAL VIEW MAINTENANCE for the rollup MV — the streaming
    * half of agg_rollup_mv's lifecycle (the index analogue: build →
    * maintain → serve). Each micro-batch reduces to its PARTIAL
    * aggregates at the MV grain and lands them as a `batch_id=<id>`
    * delta segment via dynamic partition overwrite — the
    * [[exactlyOnceSink]] idempotence contract, so a crash-replayed
    * batch overwrites its own segment instead of double-counting.
    * Serving re-aggregates the segments ([[readMvMaintained]]), which
    * is EXACT because every MV aggregate is reassociation-safe
    * (cnt/sum/min/max — the same decomposability rule
    * MvRollupRewriteRule enforces); fact rows are touched exactly once,
    * at ingestion. [[mvCompact]] is the segment-merge maintenance every
    * delta architecture schedules: it folds all segments into one base
    * segment (batch_id=-1) so serve cost stays O(grain), and a
    * restarted stream keeps appending fresh segments after it — the
    * checkpoint's batch counter never goes backwards, so base and
    * delta ids can't collide. Run compaction with the stream stopped:
    * the one batch that may replay after restart must still find its
    * own segment to overwrite, not a base that already absorbed it. */
  def mvMaintainSink(
      facts: Dataset[Fact],
      outDir: String,
      checkpointDir: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    facts.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Fact], batchId: Long) =>
        batch
          .groupBy("flag", "status", "ship")
          .agg(
            count(lit(1)).as("cnt"),
            sum("qty").as("sum_qty"),
            min("qty").as("min_qty"),
            max("qty").as("max_qty")
          )
          .withColumn("batch_id", lit(batchId))
          .write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(outDir)
      }
      .start()

  /** Serve the maintained view: merge the delta segments' partials at
    * the MV grain — sum-of-counts, sum-of-sums, min-of-mins,
    * max-of-maxes. */
  def readMvMaintained(
      spark: org.apache.spark.sql.SparkSession,
      outDir: String
  ): DataFrame =
    spark.read
      .parquet(outDir)
      .groupBy("flag", "status", "ship")
      .agg(
        sum("cnt").cast("long").as("cnt"),
        sum("sum_qty").as("sum_qty"),
        min("min_qty").as("min_qty"),
        max("max_qty").as("max_qty")
      )

  /** Fold every delta segment into one base segment (batch_id = -1).
    * The merged frame is staged to a sibling directory first — the
    * overwrite would otherwise truncate its own lazy input. */
  def mvCompact(
      spark: org.apache.spark.sql.SparkSession,
      outDir: String
  ): Unit = {
    val tmp = s"$outDir.compact_tmp"
    readMvMaintained(spark, outDir)
      .withColumn("batch_id", lit(-1L))
      .write
      .mode("overwrite")
      .parquet(tmp)
    spark.read
      .parquet(tmp)
      .write
      .mode("overwrite")
      .partitionBy("batch_id")
      .parquet(outDir)
    // best-effort tmp cleanup; a leftover tmp dir is invisible to reads
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(tmp))
  }

  /** purchasesSinceError on the Spark 4 `transformWithState` API. */
  def purchasesSinceErrorTws(events: Dataset[Event]): Dataset[PurchaseState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new PurchasesSinceErrorProcessor,
        TimeMode.None(),
        OutputMode.Append()
      )
  }

  /** First-seen record per key. */
  case class FirstSeen(user_id: Long, event_id: Long)

  /** TTL-bounded stateful dedup: a keyed ValueState carrying a
    * processing-time TTL — the state-size bound for UNBOUNDED key
    * spaces (content hashes, URLs) where watermark-based cleanup does
    * not apply because keys never stop being valid, they just go cold.
    * Only the first event per key within the TTL window emits; once
    * the TTL lapses the store forgets the key (RocksDB compaction
    * reclaims it) and the next arrival emits again. This is the
    * suppression-window shape (alert dedup, crawl revisit policy) and
    * the reason a 100 TB keyspace doesn't grow state without bound. */
  class TtlDedupProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, Event, FirstSeen] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle
        .getValueState[Boolean]("seen", Encoders.scalaBoolean, TTLConfig(ttl))

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: TimerValues
    ): Iterator[FirstSeen] = {
      // an expired entry is invisible to exists() — same as absent
      if (seen.exists()) Iterator.empty
      else {
        val first = rows.toSeq.minBy(e => (e.ts.getTime, e.event_id))
        seen.update(true)
        Iterator.single(FirstSeen(user, first.event_id))
      }
    }
  }

  /** First event per user within a processing-time TTL window. */
  def firstSeenWithTtl(
      events: Dataset[Event],
      ttl: java.time.Duration
  ): Dataset[FirstSeen] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new TtlDedupProcessor(ttl),
        TimeMode.ProcessingTime(),
        OutputMode.Append()
      )
  }

  /** A user's funnel progress: stage 1 = signup seen, 2 = click after
    * the signup, 3 = purchase after that click. */
  case class FunnelStage(user_id: Long, stage: Int, event_id: Long)

  /** Streaming funnel tracker — the incremental twin of the batch
    * ts_funnel (operators.EventAnalytics): per-user ValueState holds
    * the furthest stage reached; each arriving event (processed in
    * event-time order within the batch) can only ADVANCE the stage, and
    * every advance emits one row carrying the event that caused it. On
    * a 1000-executor run the state is one Int per user in RocksDB and
    * the stream shuffles once on user_id — funnel conversion without
    * ever re-scanning history. */
  class FunnelProcessor
      extends StatefulProcessor[Long, Event, FunnelStage] {
    @transient private var stage: ValueState[Int] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      stage = getHandle
        .getValueState[Int]("stage", Encoders.scalaInt, TTLConfig.NONE)

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: TimerValues
    ): Iterator[FunnelStage] = {
      var s = if (stage.exists()) stage.get() else 0
      val out = rows.toSeq
        .sortBy(e => (e.ts.getTime, e.event_id))
        .flatMap { e =>
          val advanced = (s, e.event_type) match {
            case (0, "signup")   => true
            case (1, "click")    => true
            case (2, "purchase") => true
            case _               => false
          }
          if (advanced) { s += 1; Some(FunnelStage(user, s, e.event_id)) }
          else None
        }
      stage.update(s)
      out.iterator
    }
  }

  /** One first-activity-per-day retention hit. */
  case class RetentionHit(user_id: Long, cohort_epoch_day: Int, day_offset: Int)

  /** Streaming cohort retention — the incremental twin of the batch
    * ts_retention: per user, ValueState pins the cohort day at first
    * sight and MapState records which day offsets have already been
    * emitted, so each (user, day) contributes exactly one hit no matter
    * how many events arrive. MapState is the right shape because the
    * offset set is unbounded-but-sparse per key — a ListState would
    * scan linearly and a ValueState would rewrite the whole set per
    * event; RocksDB stores each offset as its own key. Note the
    * semantic difference from batch: the cohort is the FIRST-SEEN day
    * in arrival order, which equals the batch min-day whenever the
    * stream respects event-time order per user (watermark-bounded
    * disorder can pin a later cohort; the batch twin is the audit). */
  class RetentionProcessor
      extends StatefulProcessor[Long, Event, RetentionHit] {
    @transient private var cohort: ValueState[Int] = _
    @transient private var seen: MapState[Int, Boolean] = _

    private def epochDay(e: Event): Int =
      math.floorDiv(e.ts.getTime, 86400000L).toInt

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      cohort = getHandle
        .getValueState[Int]("cohort", Encoders.scalaInt, TTLConfig.NONE)
      seen = getHandle.getMapState[Int, Boolean](
        "seen",
        Encoders.scalaInt,
        Encoders.scalaBoolean,
        TTLConfig.NONE
      )
    }

    override def handleInputRows(
        user: Long,
        rows: Iterator[Event],
        timerValues: TimerValues
    ): Iterator[RetentionHit] = {
      val out = scala.collection.mutable.ListBuffer.empty[RetentionHit]
      rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        val day = epochDay(e)
        if (!cohort.exists()) cohort.update(day)
        val off = day - cohort.get()
        if (off >= 0 && !seen.containsKey(off)) {
          seen.updateValue(off, true)
          out += RetentionHit(user, cohort.get(), off)
        }
      }
      out.iterator
    }
  }

  /** First-activity-per-day retention hits over the live stream. */
  def retentionHits(events: Dataset[Event]): Dataset[RetentionHit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new RetentionProcessor,
        TimeMode.None(),
        OutputMode.Append()
      )
  }

  /** Funnel stage transitions over the live event stream. */
  def funnelStages(events: Dataset[Event]): Dataset[FunnelStage] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(
        new FunnelProcessor,
        TimeMode.None(),
        OutputMode.Append()
      )
  }

  /** LEFT OUTER stream-stream join: inner matches emit immediately;
    * an unmatched purchase's null-extended row emits only once BOTH
    * watermarks guarantee no qualifying click can still arrive — the
    * outer-emission semantics StreamingSpec pins down. */
  def purchaseClickLeftJoin(
      purchases: DataFrame,
      clicks: DataFrame
  ): DataFrame = {
    val p = purchases
      .withWatermark("ts", "10 minutes")
      .select(
        col("event_id").as("p_id"),
        col("user_id").as("p_user"),
        col("ts").as("p_ts")
      )
    val c = clicks
      .withWatermark("ts", "10 minutes")
      .select(
        col("event_id").as("c_id"),
        col("user_id").as("c_user"),
        col("ts").as("c_ts")
      )
    p.join(
      c,
      expr(
        "p_user = c_user AND c_ts <= p_ts AND c_ts >= p_ts - INTERVAL 1 HOUR"
      ),
      "left_outer"
    )
  }

  /** Row of either join side, tagged; the TWS join keys by user_id. */
  case class SideRow(side: String, id: Long, user_id: Long, ts: java.sql.Timestamp)

  /** TWS join output: c_id is None for a watermark-closed unmatched
    * purchase (left-outer null extension). */
  case class JoinOut(p_id: Long, user_id: Long, c_id: Option[Long])

  /** State rows of the TWS join: a pending purchase and a buffered
    * click. Public like the rows above, so the projections Spark
    * generates for their encoders can reach their accessors. */
  case class PendP(id: Long, tsMs: Long, matched: Boolean)
  case class BufC(id: Long, tsMs: Long)

  /** The stream-stream interval LEFT OUTER join rebuilt on
    * `transformWithState` + event-time TIMERS (SURVEY §8 / round-3
    * handoff): both sides union into one keyed stream; clicks buffer in
    * `ListState`, purchases match buffered clicks (and vice versa for
    * out-of-order arrival — each qualifying pair is seen exactly once,
    * at whichever side arrives second), and every purchase arms a timer
    * at its own event time. When the WATERMARK passes that timer no
    * qualifying click can still arrive (the condition needs
    * c_ts ≤ p_ts), so `handleExpiredTimer` emits the null-extended row
    * and prunes state — the exact outer-emission semantics of the
    * built-in join (asserted equal in StreamingSpec), but with the
    * buffering, matching, and timeout policy as USER code, which is
    * what lets a custom operator depart from built-in semantics (e.g.
    * top-1-match or TTL'd buffers) without leaving RocksDB-backed
    * state. */
  class IntervalJoinProcessor(windowMs: Long)
      extends StatefulProcessor[Long, SideRow, JoinOut] {
    @transient private var clicks: ListState[BufC] = _
    @transient private var pend: ListState[PendP] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      clicks = getHandle
        .getListState[BufC]("clicks", Encoders.product[BufC], TTLConfig.NONE)
      pend = getHandle
        .getListState[PendP]("pend", Encoders.product[PendP], TTLConfig.NONE)
    }

    override def handleInputRows(
        user: Long,
        rows: Iterator[SideRow],
        timerValues: TimerValues
    ): Iterator[JoinOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[JoinOut]
      var cs = clicks.get().toArray
      var ps = pend.get().toArray
      rows.toSeq.sortBy(r => (r.ts.getTime, r.id)).foreach { r =>
        val t = r.ts.getTime
        if (r.side == "click") {
          ps = ps.map { p =>
            if (t <= p.tsMs && t >= p.tsMs - windowMs) {
              out += JoinOut(p.id, user, Some(r.id))
              p.copy(matched = true)
            } else p
          }
          cs = cs :+ BufC(r.id, t)
        } else {
          var matched = false
          cs.foreach { c =>
            if (c.tsMs <= t && c.tsMs >= t - windowMs) {
              out += JoinOut(r.id, user, Some(c.id))
              matched = true
            }
          }
          ps = ps :+ PendP(r.id, t, matched)
          getHandle.registerTimer(t)
        }
      }
      clicks.clear(); if (cs.nonEmpty) clicks.put(cs)
      pend.clear(); if (ps.nonEmpty) pend.put(ps)
      out.iterator
    }

    override def handleExpiredTimer(
        user: Long,
        timerValues: TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo
    ): Iterator[JoinOut] = {
      val t = expiredTimerInfo.getExpiryTimeInMs()
      val (due, keep) = pend.get().toArray.partition(_.tsMs <= t)
      val cs = clicks.get().toArray.filter(_.tsMs >= t - windowMs)
      pend.clear(); if (keep.nonEmpty) pend.put(keep)
      clicks.clear(); if (cs.nonEmpty) clicks.put(cs)
      due.iterator.filterNot(_.matched).map(p => JoinOut(p.id, user, None))
    }
  }

  /** Left-outer purchase⋈click (1 h window) through the timer
    * processor; same shape as [[purchaseClickLeftJoin]]. */
  def purchaseClickJoinTws(
      purchases: DataFrame,
      clicks: DataFrame
  ): Dataset[JoinOut] = {
    val session = purchases.sparkSession
    import session.implicits._
    val p = purchases.select(
      lit("purchase").as("side"),
      col("event_id").as("id"),
      col("user_id"),
      col("ts")
    )
    val c = clicks.select(
      lit("click").as("side"),
      col("event_id").as("id"),
      col("user_id"),
      col("ts")
    )
    p.unionByName(c)
      .withWatermark("ts", "10 minutes")
      .as[SideRow]
      .groupByKey(_.user_id)
      .transformWithState(
        new IntervalJoinProcessor(60L * 60 * 1000),
        TimeMode.EventTime(),
        OutputMode.Append()
      )
  }

  /** Custom keyed state: purchases since the user's last error —
    * the streaming twin of StreamingBatch.streamStatefulCustom. */
  def purchasesSinceError(events: Dataset[Event]): Dataset[PurchaseState] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (user: Long, it: Iterator[Event], state: GroupState[Int]) => {
          var n = state.getOption.getOrElse(0)
          val out = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).map { e =>
            e.event_type match {
              case "error"    => n = 0
              case "purchase" => n += 1
              case _          => ()
            }
            PurchaseState(e.event_id, user, n)
          }
          state.update(n)
          out.iterator
        }
      )
  }
}
