package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{ManifestEntry, SnapshotLog}

/** Round-11 merge-on-read deletion vectors (sources/SnapshotLog):
  * position-delete sidecars instead of file rewrites — the storage
  * contract (no data bytes move), read-side subtraction everywhere
  * (plain reads, pruned reads, CoW rewrites, compaction, the change
  * feed, streaming), metadata exactness, and retention hygiene. */
class MorSpec extends SparkTestBase {

  private def freshTable(): String =
    Files.createTempDirectory("graft_mor").toString + "/t"

  private def ids(table: String, v: Option[Int] = None): Set[Long] =
    SnapshotLog.read(spark, table, v)
      .select("id").collect().map(_.getLong(0)).toSet

  /** Three range-sharded appends of id 0..29 (files carry tight
    * stats). */
  private def shardedTable(): String = {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, t, (0L to 9L).toDF("id"))
    SnapshotLog.commit(spark, t, (10L to 19L).toDF("id"))
    SnapshotLog.commit(spark, t, (20L to 29L).toDF("id"))
    t
  }

  test("MoR delete kills rows without touching a data file") {
    val t = shardedTable()
    val filesBefore = SnapshotLog.manifest(spark, t, 3).toSet
    val (v, amended, untouched) = SnapshotLog.deleteWhereMoR(spark, t, "id", 12, 17)
    assert(v == 4)
    assert(amended.nonEmpty && untouched.nonEmpty)
    // zero rewrites: the live file NAMES are identical
    assert(SnapshotLog.manifest(spark, t, v).toSet == filesBefore)
    assert(ids(t) == ((0L to 11L) ++ (18L to 29L)).toSet)
    // pre-delete snapshot stays exact (its entries carry no DV)
    assert(ids(t, Some(3)) == (0L to 29L).toSet)
  }

  test("a column physically named _dv keeps its footer stats through a MoR " +
    "delete, so a range probe on it still skips files") {
    import spark.implicits._
    val t = freshTable()
    Seq(0L to 9L, 10L to 19L, 20L to 29L).foreach(r =>
      SnapshotLog.commit(spark, t, r.map(i => (i, i * 10)).toDF("id", "_dv").coalesce(1)))
    val (v, amended, _) = SnapshotLog.deleteWhereMoR(spark, t, "id", 2, 4)
    val Seq(entry) = SnapshotLog.manifestEntries(spark, t, v).filter(e => amended.contains(e.name))
    assert(entry.dv.isDefined && entry.line.contains("_dv=l:0:90"),
      s"the amended entry lost the _dv column's stats: $entry")
    val (kept, total) = SnapshotLog.prunedFiles(spark, t, "_dv", 150, 160, Some(v))
    assert(total == 3 && kept.size == 1, s"the _dv probe must skip 2 of 3 files: $kept")
    assert(SnapshotLog.readPruned(spark, t, "_dv", 0, 60)
      .select("id").as[Long].collect().toSet == Set(0L, 1L, 5L, 6L))
  }

  test("snapshot reads of DV'd files issue ZERO driver-side sidecar reads") {
    // Per-partition DV application: three files each carrying a DV —
    // reading the table must load every sidecar inside scan tasks
    // (DvSidecarLookup), never on the driver. The positions-with-DV
    // path (MoR update's read side) gets the same guarantee.
    val t = shardedTable()
    SnapshotLog.deleteWhereMoR(spark, t, "id", 2, 4)
    SnapshotLog.deleteWhereMoR(spark, t, "id", 12, 14)
    SnapshotLog.deleteWhereMoR(spark, t, "id", 22, 24)
    SnapshotLog.driverDvReads.set(0)
    assert(ids(t) == ((0L to 29L).toSet -- Set(2L, 3L, 4L, 12L, 13L, 14L, 22L, 23L, 24L)))
    assert(SnapshotLog.driverDvReads.get() == 0,
      "plain snapshot read materialized a deletion vector on the driver")
    SnapshotLog.driverDvReads.set(0)
    val (_, amended, appended) = SnapshotLog.updateWhereMoR(
      spark, t, "id", 0, 29, df => df.withColumn("id", col("id") + 100L))
    assert(amended.nonEmpty && appended.nonEmpty)
    assert(SnapshotLog.driverDvReads.get() == 0,
      "MoR update's read side materialized a deletion vector on the driver")
    // the change feed too: DV amendment deltas diff inside scan tasks
    SnapshotLog.driverDvReads.set(0)
    val feed = SnapshotLog.readChanges(spark, t, 3, SnapshotLog.versions(spark, t).last)
    assert(feed.where(col("change_type") === "delete").count() > 0)
    assert(SnapshotLog.driverDvReads.get() == 0,
      "readChanges materialized a deletion vector on the driver")
  }

  test("a delete no file admits, or matching no rows, burns no version") {
    val t = shardedTable()
    val (v1, a1, _) = SnapshotLog.deleteWhereMoR(spark, t, "id", 1000, 2000)
    assert(v1 == 3 && a1.isEmpty)
    assert(SnapshotLog.versions(spark, t) == Seq(1, 2, 3))
  }

  test("repeated MoR deletes union into a fresh sidecar; old versions keep theirs") {
    val t = shardedTable()
    SnapshotLog.deleteWhereMoR(spark, t, "id", 12, 13)
    SnapshotLog.deleteWhereMoR(spark, t, "id", 15, 16)
    assert(ids(t) == ((0L to 29L).toSet -- Set(12L, 13L, 15L, 16L)))
    // the first delete's snapshot still sees 15 and 16
    assert(ids(t, Some(4)) == ((0L to 29L).toSet -- Set(12L, 13L)))
  }

  test("MoR and CoW deletes agree row-for-row") {
    import spark.implicits._
    val mor = shardedTable()
    val cow = shardedTable()
    SnapshotLog.deleteWhereMoR(spark, mor, "id", 7, 23)
    SnapshotLog.deleteWhere(spark, cow, "id", 7, 23)
    assert(ids(mor) == ids(cow))
    val _ = (0L to 0L).toDF("id") // keep implicits used
  }

  test("pruned reads subtract the DV on kept files") {
    val t = shardedTable()
    SnapshotLog.deleteWhereMoR(spark, t, "id", 12, 14)
    val got = SnapshotLog.readPruned(spark, t, "id", 10, 19)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got == ((10L to 19L).toSet -- Set(12L, 13L, 14L)))
  }

  test("metadataCount stays exact under DVs; metadataRange refuses") {
    val t = shardedTable()
    assert(SnapshotLog.metadataCount(spark, t).contains(30L))
    assert(SnapshotLog.metadataRange(spark, t, "id").contains((0L, 29L)))
    SnapshotLog.deleteWhereMoR(spark, t, "id", 25, 29)
    assert(SnapshotLog.metadataCount(spark, t).contains(25L))
    // the extremum (29) is dead — exactness is gone, refuse not guess
    assert(SnapshotLog.metadataRange(spark, t, "id").isEmpty)
    // pre-delete version still answers exactly
    assert(SnapshotLog.metadataCount(spark, t, Some(3)).contains(30L))
    assert(SnapshotLog.metadataRange(spark, t, "id", Some(3)).contains((0L, 29L)))
  }

  test("OPTIMIZE materializes DVs: rider gone, rows preserved, feed silent") {
    val t = shardedTable()
    SnapshotLog.deleteWhereMoR(spark, t, "id", 12, 17)
    val before = ids(t)
    val (cv, rewritten, _) = SnapshotLog.compact(spark, t)
    assert(rewritten.nonEmpty)
    assert(ids(t) == before)
    // exactness restored once no live file carries a DV
    assert(SnapshotLog.metadataRange(spark, t, "id").contains((0L, 29L)))
    assert(SnapshotLog.metadataCount(spark, t).contains(24L))
    // layout-only: the change feed is silent across the compaction
    assert(SnapshotLog.readChanges(spark, t, cv - 1, cv).isEmpty)
  }

  test("CoW delete and merge on DV'd files never resurrect dead rows") {
    import spark.implicits._
    val t = shardedTable()
    SnapshotLog.deleteWhereMoR(spark, t, "id", 12, 13)
    // CoW-delete a range in the same file; 12/13 must stay dead
    SnapshotLog.deleteWhere(spark, t, "id", 15, 16)
    assert(ids(t) == ((0L to 29L).toSet -- Set(12L, 13L, 15L, 16L)))
    val changeKeys = Seq(18L).toDF("id")
    SnapshotLog.mergeCoW(
      spark, t, "id", changeKeys,
      base => base.withColumn("id", when(col("id") === 18, 180L).otherwise(col("id"))))
    assert(ids(t) == ((0L to 29L).toSet -- Set(12L, 13L, 15L, 16L, 18L)) + 180L)
  }

  test("readChanges emits exactly the newly-dead rows as deletes") {
    val t = shardedTable()
    SnapshotLog.deleteWhereMoR(spark, t, "id", 12, 14) // v4
    SnapshotLog.deleteWhereMoR(spark, t, "id", 13, 16) // v5: delta 15,16
    val c4 = SnapshotLog.readChanges(spark, t, 3, 4)
      .select("id", "change_type").collect()
    assert(c4.forall(_.getString(1) == "delete"))
    assert(c4.map(_.getLong(0)).toSet == Set(12L, 13L, 14L))
    val c5 = SnapshotLog.readChanges(spark, t, 4, 5)
      .select("id", "change_type").collect()
    assert(c5.map(_.getLong(0)).toSet == Set(15L, 16L))
    // range composition still holds
    val c45 = SnapshotLog.readChanges(spark, t, 3, 5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(c45 == Set(12L, 13L, 14L, 15L, 16L))
  }

  test("a removed DV'd file's already-dead rows are not re-deleted by the feed") {
    import spark.implicits._
    val t = shardedTable()
    SnapshotLog.deleteWhereMoR(spark, t, "id", 12, 13) // v4
    SnapshotLog.commit(spark, t, (100L to 102L).toDF("id"), overwrite = true) // v5
    val dels = SnapshotLog.readChanges(spark, t, 4, 5)
      .where(col("change_type") === "delete")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(dels == ((0L to 29L).toSet -- Set(12L, 13L)))
  }

  test("insert-only stream goes loud on a DV commit; skipChangeCommits skips it") {
    import spark.implicits._
    val t = shardedTable()
    SnapshotLog.deleteWhereMoR(spark, t, "id", 12, 13)
    SnapshotLog.commit(spark, t, (30L to 31L).toDF("id"))
    def run(skip: Boolean): Either[Throwable, Set[Long]] = {
      val ckpt = Files.createTempDirectory("graft_mor_ckpt").toString
      val sink = s"mor_sink_${if (skip) "skip" else "loud"}"
      try {
        val q = spark.readStream
          .format("graft.sources.GraftSnapshotSource")
          .option("skipChangeCommits", skip.toString)
          .load(t)
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(60000)
        Right(spark.table(sink).select("id").collect().map(_.getLong(0)).toSet)
      } catch { case e: Throwable => Left(e) }
    }
    val loud = run(skip = false)
    assert(loud.isLeft)
    assert(loud.left.exists(e =>
      Option(e.getMessage).exists(_.contains("skipChangeCommits")) ||
        Option(e.getCause).flatMap(c => Option(c.getMessage))
          .exists(_.contains("skipChangeCommits"))))
    val skipped = run(skip = true)
    assert(skipped == Right((0L to 31L).toSet)) // DV version skipped whole
  }

  test("streaming CDF delivers the DV delta as tagged deletes, matching batch") {
    import spark.implicits._
    val t = shardedTable()
    SnapshotLog.deleteWhereMoR(spark, t, "id", 12, 14) // v4
    SnapshotLog.commit(spark, t, (30L to 31L).toDF("id")) // v5
    val ckpt = Files.createTempDirectory("graft_mor_cdf").toString
    val q = spark.readStream
      .format("graft.sources.GraftSnapshotSource")
      .option("readChangeFeed", "true")
      .load(t)
      .writeStream.format("memory").queryName("mor_cdf_sink")
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val got = spark.table("mor_cdf_sink")
      .where(col("commit_version") === 4)
      .select("id", "change_type").collect()
    assert(got.forall(_.getString(1) == "delete"))
    assert(got.map(_.getLong(0)).toSet == Set(12L, 13L, 14L))
    val batch = SnapshotLog.readChanges(spark, t, 3, 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(batch == got.map(_.getLong(0)).toSet)
  }

  test("MoR update: DV in place + appended new rows, one atomic commit") {
    val t = shardedTable()
    val before = SnapshotLog.manifest(spark, t, 3).toSet
    val (v, amended, appended) = SnapshotLog.updateWhereMoR(
      spark, t, "id", 12, 14,
      df => df.withColumn("id", col("id") + 1000L))
    assert(v == 4 && amended.nonEmpty && appended.nonEmpty)
    // old files all survive by name; only new files appear
    val after = SnapshotLog.manifest(spark, t, v).toSet
    assert(before.subsetOf(after))
    assert((after -- before) == appended.toSet)
    assert(ids(t) == ((0L to 29L).toSet -- Set(12L, 13L, 14L)) ++ Set(1012L, 1013L, 1014L))
    // live count invariant: dead == appended
    assert(SnapshotLog.metadataCount(spark, t).contains(30L))
    // pre-update snapshot intact
    assert(ids(t, Some(3)) == (0L to 29L).toSet)
  }

  test("MoR update selects through existing DVs: dead rows cannot double-update") {
    val t = shardedTable()
    SnapshotLog.deleteWhereMoR(spark, t, "id", 13, 13)
    SnapshotLog.updateWhereMoR(
      spark, t, "id", 12, 14, df => df.withColumn("id", col("id") + 1000L))
    // 13 was dead before the update — it must not resurrect as 1013
    assert(ids(t) == ((0L to 29L).toSet -- Set(12L, 13L, 14L)) ++ Set(1012L, 1014L))
  }

  test("MoR update no-ops burn no version") {
    val t = shardedTable()
    val (v, a, n) = SnapshotLog.updateWhereMoR(
      spark, t, "id", 500, 600, df => df)
    assert(v == 3 && a.isEmpty && n.isEmpty)
  }

  test("vacuum keeps referenced sidecars, reclaims orphaned ones; expire reclaims dead ones") {
    import spark.implicits._
    val t = shardedTable()
    SnapshotLog.deleteWhereMoR(spark, t, "id", 12, 13)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // plant an orphan sidecar (a crashed MoR delete) — vacuum keys on
    // reference + mtime, not content
    val orphanOut = fs.create(
      new org.apache.hadoop.fs.Path(s"$t/_dv/dv-orphan.bin"), true)
    try orphanOut.write(Array[Byte](0)) finally orphanOut.close()
    val swept = SnapshotLog.vacuum(spark, t, olderThanMs = 0)
    assert(swept.contains("_dv/dv-orphan.bin"))
    assert(ids(t) == ((0L to 29L).toSet -- Set(12L, 13L))) // referenced DV intact
    // compact (materializes), then expire history: the DV referenced
    // only by expired versions goes with them
    SnapshotLog.compact(spark, t)
    val dvBefore = fs.listStatus(new org.apache.hadoop.fs.Path(s"$t/_dv"))
      .count(_.getPath.getName.endsWith(".bin"))
    assert(dvBefore == 1)
    val expired = SnapshotLog.expire(spark, t, keepLast = 1)
    assert(expired.exists(_.startsWith("_dv/")))
    assert(ids(t) == ((0L to 29L).toSet -- Set(12L, 13L)))
  }

  /** A deletion-vector sidecar in the documented format: magic
    * "GDV1", the position count, the sorted positions. */
  private def writeDv(path: String, positions: Seq[Long]): Unit = {
    val p = java.nio.file.Paths.get(path)
    Files.createDirectories(p.getParent)
    val out = new java.io.DataOutputStream(Files.newOutputStream(p))
    try {
      out.writeInt(0x47445631)
      out.writeInt(positions.size)
      positions.foreach(out.writeLong)
    } finally out.close()
  }

  test("a DV amendment read at version v is refused once another MoR " +
    "delete amended the same file: the newer delete's rows stay deleted") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, t, (0L to 9L).toDF("id").coalesce(1))
    val v = SnapshotLog.versions(spark, t).last
    val Seq(read) = SnapshotLog.manifestEntries(spark, t, v)
    // the stale request: the DV it read at v (none) united with its own
    // position 0 (id 0)
    writeDv(s"$t/_dv/dv-stale.bin", Seq(0L))
    val stale = SnapshotLog.CommitRequest(
      SnapshotLog.CommitData.Entries(Nil, SnapshotLog.tableSchema(spark, t, v).get),
      amendments = Seq(read -> ManifestEntry.parse(s"${read.line};_dv=v:dv-stale.bin;_dvc=c:1")))
    val (v1, amended, _) = SnapshotLog.deleteWhereMoR(spark, t, "id", 5, 6)
    assert(v1 == v + 1 && amended.size == 1)
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.commit(spark, t, stale)
    }
    assert(SnapshotLog.versions(spark, t).last == v1)
    assert(ids(t) == (0L to 9L).toSet -- Set(5L, 6L))
  }

  test("concurrent MoR deletes on one file: every delete that returned a " +
    "version stays applied, every other one is refused") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, t, (0L to 79L).toDF("id").coalesce(1))
    val results = new java.util.concurrent.ConcurrentHashMap[Int, Either[Throwable, Int]]()
    val threads = (0 until 8).map { i =>
      new Thread(() => {
        val r =
          try Right(SnapshotLog.deleteWhereMoR(spark, t, "id", i * 10L, i * 10L + 4)._1)
          catch { case e: Throwable => Left(e) }
        results.put(i, r)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val won = (0 until 8).filter(i => results.get(i).isRight)
    (0 until 8).filterNot(won.contains).foreach { i =>
      results.get(i) match {
        case Left(_: java.util.ConcurrentModificationException) => ()
        case other => fail(s"thread $i neither committed nor conflicted: $other")
      }
    }
    assert(won.nonEmpty)
    val dead = won.flatMap(i => (i * 10L) to (i * 10L + 4)).toSet
    assert(ids(t) == (0L to 79L).toSet -- dead)
  }

  test("a copy-on-write rewrite that read a file before a MoR delete " +
    "amended it is refused: the delete's rows stay deleted") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(spark, t, (0L to 9L).toDF("id").coalesce(1))
    intercept[java.util.ConcurrentModificationException] {
      SnapshotLog.mergeCoW(spark, t, "id", Seq(3L).toDF("k"), base => {
        // lands between the rewrite's read and its commit
        SnapshotLog.deleteWhereMoR(spark, t, "id", 7, 8)
        base.filter(col("id") =!= 3)
      })
    }
    assert(ids(t) == (0L to 9L).toSet -- Set(7L, 8L))
  }

  test("MoR update on a table with a renamed column writes its new rows " +
    "under the physical names: the renamed column keeps its values") {
    import spark.implicits._
    val t = freshTable()
    SnapshotLog.commit(
      spark, t, (0L to 9L).map(i => (i, i * 10)).toDF("id", "w").coalesce(1))
    SnapshotLog.renameColumn(spark, t, "w", "w2")
    SnapshotLog.updateWhereMoR(spark, t, "id", 3, 4, _.withColumn("id", col("id") + 100))
    val got = SnapshotLog.read(spark, t).collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    val want = (0L to 9L).filterNot(Set(3L, 4L)).map(i => (i, Some(i * 10))) ++
      Seq((103L, Some(30L)), (104L, Some(40L)))
    assert(got == want.toSet)
  }
}
