package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.plans.MvRewrite
import graft.sources.SnapshotLog

/** Lakehouse write and read traffic on the snapshot catalog `graft_cat`.
  *
  * Tables: two sf0.01 lineitem tables, one copy-on-write and one
  * merge-on-read, each key-clustered into 16 files; a materialized-view
  * rollup over the copy-on-write one, which the time-travel reads and
  * MV-eligible aggregates also target; and a clustered vector corpus 5x
  * the size of the graded sf0.1 `embeddings` table. MV rewriting is on, as a
  * serving deployment sets it.
  *
  * The closed loop (one client) runs cycles with a fixed mix of writes
  * (INSERT batches, key-range UPDATE and DELETE, MERGE upserts part
  * matched and part new, MV refresh, an OPTIMIZE closing the cycle) and
  * reads (range SELECTs at 0.1 % to 10 % selectivity, point SELECTs,
  * VERSION AS OF reads, MV-eligible aggregates of which some must bail,
  * cosine top-k with literal and by-id probes). Writes put the time into the
  * SnapshotLog commit path and SnapshotCatalog row-level DML; reads into
  * scan pruning, MvRewrite and the top-k path.
  *
  * Every output is checked against the harness's own model: checksums for
  * table reads (at any version), the same query with rewriting off for MV
  * aggregates, and an exact brute-force top-k for the corpus. */
final class Lakehouse(seed: Long) extends Workload {
  import Lakehouse._

  private val rng = new Rng(seed).fork("lakehouse")
  private val salt = rng.between(0, 999999)
  private val cow = "lake.li_cow"
  private val mor = "lake.li_mor"
  private val tables = IndexedSeq(cow, mor)
  private val mv = "lake.li_cow_mv"
  private val vecs = "lake.vecs"
  private var spark: SparkSession = _
  private var dir: String = _
  private val paths = mutable.Map[String, String]()
  private val models = mutable.Map[String, LakeModel]()
  /** Model of the copy-on-write table at its last `KeptVersions` versions. */
  private val history = mutable.LinkedHashMap[Int, LakeModel]()
  private var corpus: Array[Float] = _
  private var opIndex = 0
  private val kindCount = mutable.Map[String, Int]()
  private var nextOrder = 0L

  private val schedule = new Schedule(rng, Mix, Last)
  val cycleLength: Int = Mix.map(_._2).sum + Last.size
  val classes: Seq[String] = Mix.map(_._1) ++ Last
  def dataDirs: Seq[String] = Seq(s"$dir/warehouse")

  // traced-run readings
  private var commits0 = 0
  private val versionsMs, manifestMs, bailMs, topkRowsRead = mutable.ArrayBuffer[Double]()
  private var dmls, filesRewritten, bytesWritten, rowsChanged = 0L
  private var filesKept, filesTotal, scanRowsRead, scanRowsReturned = 0L
  private var mvServed, mvOps, annFired, topkOps = 0L
  private val lastManifest = mutable.Map[String, Set[String]]()

  def setup(spark: SparkSession, dir: String): Unit = {
    this.spark = spark
    this.dir = dir
    history.clear()
    val rows = Lake.Orders * Lake.Lines
    tables.foreach { t =>
      val props = if (t == mor) "TBLPROPERTIES ('write_mode' = 'merge-on-read')" else ""
      paths(t) = Lake.create(spark, t, rows, salt, props)
      models(t) = LakeModel.load(rows, salt)
    }
    nextOrder = Lake.Orders
    remember()
    spark.sql(
      s"""CREATE MATERIALIZED VIEW graft_cat.$mv AS
         |SELECT l_returnflag, l_linestatus, sum(l_quantity) AS mv_sum, count(*) AS mv_n
         |FROM graft_cat.$cow GROUP BY l_returnflag, l_linestatus""".stripMargin)
    corpus = Corpus.generate(salt)
    spark.sql(s"CREATE TABLE graft_cat.$vecs (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)")
    Corpus.frame(spark, corpus).writeTo(s"graft_cat.$vecs").append()
    spark.conf.set(MvRewrite.ConfKey, "true")
    commits0 = tables.map(t => SnapshotLog.versions(spark, paths(t)).last).sum
    tables.foreach(t => lastManifest(t) = manifest(t))
  }

  private[perfbench] def model(t: String): LakeModel = models(t)

  /** Records the copy-on-write table's current version for time travel. */
  private def remember(): Unit = {
    history(SnapshotLog.versions(spark, paths(cow)).last) = models(cow).copy()
    while (history.size > KeptVersions) history.remove(history.head._1)
  }

  private def manifest(t: String): Set[String] =
    SnapshotLog.manifest(spark, paths(t), SnapshotLog.versions(spark, paths(t)).last).toSet

  def next(): Op = opOf(schedule.next())

  val warmCycles = 1

  private def opOf(kind: String): Op = {
    opIndex += 1
    // each kind alternates between the two tables, so every run writes
    // the same amount to each; `n` also spreads the seeded parameters of a
    // kind evenly over each cycle, so that two seeds read the same amount
    val n = kindCount.updateWith(kind)(c => Some(c.getOrElse(0) + 1)).get
    val t = tables(n % 2)
    val m = models(t)
    kind match {
      case "insert" =>
        val lo = nextOrder * Lake.Lines
        val hi = (nextOrder + 100) * Lake.Lines
        val s = rng.between(0, 999999)
        nextOrder += 100
        dml("insert", t, Seq(s"INSERT INTO graft_cat.$t ${Lake.rowsSql(lo, hi, s)}"), hi - lo) { m =>
          (lo until hi).foreach(i => m.set(i.toInt, Lake.qty(i, s)))
        }
      case "update" =>
        val (a, b) = range(50, m)
        val d = 1 + rng.nextInt(3)
        dml("update", t, Seq(
          s"UPDATE graft_cat.$t SET l_quantity = l_quantity + $d WHERE l_orderkey >= $a AND l_orderkey < $b"),
          m.rowRange(a, b).count(m.get(_) > 0)) { m =>
          m.rowRange(a, b).foreach(i => if (m.get(i) > 0) m.set(i, m.get(i) + d))
        }
      case "delete" =>
        val (a, b) = range(25, m)
        dml("delete", t, Seq(s"DELETE FROM graft_cat.$t WHERE l_orderkey >= $a AND l_orderkey < $b"),
          m.rowRange(a, b).count(m.get(_) > 0)) { m => m.rowRange(a, b).foreach(i => m.set(i, 0)) }
      case "merge" =>
        val (a, b) = range(50, m)
        val matched = (a * Lake.Lines, b * Lake.Lines)
        val fresh = (nextOrder * Lake.Lines, (nextOrder + 25) * Lake.Lines)
        nextOrder = fresh._2 / Lake.Lines
        val s = rng.between(0, 999999)
        val view = s"merge_src_$opIndex"
        dml("merge", t, Seq(
          s"CREATE OR REPLACE TEMP VIEW $view AS ${Lake.rowsSql(matched._1, matched._2, s)} " +
            s"UNION ALL ${Lake.rowsSql(fresh._1, fresh._2, s)}",
          s"""MERGE INTO graft_cat.$t USING $view s
             |ON graft_cat.$t.l_orderkey = s.l_orderkey AND graft_cat.$t.l_linenumber = s.l_linenumber
             |WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
          s"DROP VIEW $view"),
          (matched._2 - matched._1) + (fresh._2 - fresh._1)) { m =>
          (matched._1 until matched._2).foreach(i => m.set(i.toInt, Lake.qty(i, s)))
          (fresh._1 until fresh._2).foreach(i => m.set(i.toInt, Lake.qty(i, s)))
        }
      case "optimize" =>
        dml("optimize", t, Seq(s"CALL graft_cat.system.optimize('$t')"), 0)(_ => ())
      case "refresh" =>
        val want = models(cow).checksum
        val sql = s"REFRESH MATERIALIZED VIEW graft_cat.$mv"
        new Op("refresh", sql, () => {
          spark.sql(sql)
          () => {
            val r = spark.sql(s"SELECT sum(mv_n), CAST(sum(mv_sum) AS BIGINT) FROM graft_cat.$mv").head()
            r.getLong(0) == want(0) && r.getLong(1) == want(2)
          }
        }, _ => probeCommit(mv, "refresh", 0))
      case "verify" =>
        val want = m.checksum
        val sql = Lake.checksumSql(s"graft_cat.$t")
        new Op("verify", sql, () => {
          val got = Lake.checksumOf(spark, sql)
          () => got == want
        })
      case "scan" =>
        // selectivity log-uniform from 0.1 % to 10 % of the orders, one
        // draw from each of the cycle's equal slices of that range
        val slice = (n % ScansPerCycle + rng.nextDouble()) / ScansPerCycle
        val (a, b) = range(math.max(1L, (m.orders * math.pow(10, -3 + 2 * slice)).toLong), m)
        val want = m.checksum(m.rowRange(a, b))
        val sql = Lake.checksumSql(s"graft_cat.$t", s"l_orderkey >= $a AND l_orderkey < $b")
        new Op("scan", sql, () => {
          val got = Lake.checksumOf(spark, sql)
          () => got == want
        }, tr => {
          val (kept, total) = SnapshotLog.prunedFiles(spark, paths(t), "l_orderkey", a, b - 1)
          filesKept += kept.size; filesTotal += total
          tr.foreach { x => scanRowsRead += x.rowsRead; scanRowsReturned += want.head }
        })
      case "point" =>
        val k = rng.between(0, m.orders - 1)
        val want = m.rowRange(k, k + 1).filter(m.get(_) > 0).map(i => s"${i % Lake.Lines + 1}:${m.get(i)}").sorted
        val sql = s"SELECT l_linenumber, CAST(l_quantity AS BIGINT) FROM graft_cat.$t WHERE l_orderkey = $k"
        new Op("point", sql, () => {
          val got = spark.sql(sql).collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}").toSeq.sorted
          () => got == want
        }, tr => tr.foreach { x => scanRowsRead += x.rowsRead; scanRowsReturned += want.size })
      case "time_travel" =>
        val (v, vm) = history.toIndexedSeq(rng.nextInt(history.size))
        val (a, b) = range(Lake.Orders / 100, vm)
        val want = vm.checksum(vm.rowRange(a, b))
        val sql = Lake.checksumSql(s"graft_cat.$cow VERSION AS OF $v", s"l_orderkey >= $a AND l_orderkey < $b")
        new Op("time_travel", sql, () => {
          val got = Lake.checksumOf(spark, sql)
          () => got == want
        })
      case "mv" =>
        // two servable shapes for each one that must bail
        val (servable, bails) = mvShapes(rng.pick(Gen.Flags), 5 + rng.nextInt(40))
        val q = rng.pick(if (n % 3 == 0) bails else servable)
        new Op("mv", q, () => {
          val got = sortedRows(q)
          () => got == withoutRewrite(sortedRows(q))
        }, tr => {
          mvOps += 1
          if (MvRewrite.readsPath(spark.sql(q).queryExecution.optimizedPlan, Lake.path(spark, mv))) mvServed += 1
          else tr.foreach(bailMs += _.wallMs)
        })
      case "topk" =>
        val (probeSql, probe) =
          if (n % 4 == 0) {
            val id = rng.nextInt(CorpusRows)
            (s"(SELECT embedding FROM graft_cat.$vecs WHERE vec_id = $id)", corpus.slice(id * Dim, (id + 1) * Dim))
          } else {
            val cell = Corpus.centers(salt)(rng.nextInt(Cells))
            // components are multiples of 1/256, exact as SQL literals
            val p = cell.map(x => math.round((x + rng.gaussian() * 0.3) * 256).toFloat / 256f)
            (p.map(x => s"CAST(${java.math.BigDecimal.valueOf(x.toDouble).toPlainString} AS FLOAT)")
              .mkString("array(", ", ", ")"), p)
          }
        val sql = s"SELECT vec_id FROM graft_cat.$vecs ORDER BY cosine_sim(embedding, $probeSql) DESC, vec_id LIMIT $K"
        new Op("topk", sql, () => {
          val got = spark.sql(sql).collect().map(_.getLong(0)).toSeq
          () => got == Corpus.bruteTopK(corpus, probe, K)
        }, tr => {
          topkOps += 1
          if (spark.sql(sql).queryExecution.optimizedPlan.toString.contains("centroid")) annFired += 1
          tr.foreach(topkRowsRead += _.rowsRead)
        })
    }
  }

  private def range(width: Long, m: LakeModel): (Long, Long) = {
    val a = rng.between(0, math.max(0L, m.orders - width))
    (a, a + width)
  }

  /** A commit op; the model moves when the op is drawn, and the check
    * records the copy-on-write table's new version for time travel. */
  private def dml(kind: String, t: String, sql: Seq[String], changed: Long)(applyModel: LakeModel => Unit): Op = {
    applyModel(models(t))
    new Op(kind, sql.mkString("; "), () => {
      sql.foreach(spark.sql)
      () => { if (t == cow) remember(); true }
    }, _ => probeCommit(t, kind, changed))
  }

  /** Traced run: times the public metadata calls a reader makes after a
    * commit, and diffs the manifest to see what a DML rewrote. */
  private def probeCommit(t: String, kind: String, changed: Long): Unit = {
    val p = if (t == mv) Lake.path(spark, mv) else paths(t)
    val t0 = System.nanoTime()
    val v = SnapshotLog.versions(spark, p).last
    val t1 = System.nanoTime()
    val files = SnapshotLog.manifest(spark, p, v).toSet
    versionsMs += (t1 - t0) / 1e6
    manifestMs += (System.nanoTime() - t1) / 1e6
    if (t != mv) {
      if (kind != "optimize") {
        val before = lastManifest(t)
        dmls += 1
        filesRewritten += (before -- files).size
        bytesWritten += (files -- before).toSeq.map(f => new java.io.File(s"$p/$f").length).sum
        rowsChanged += changed
      }
      lastManifest(t) = files
    }
  }

  private def sortedRows(q: String): Seq[String] = spark.sql(q).collect().map(_.mkString("|")).toSeq.sorted

  private def withoutRewrite[T](f: => T): T = {
    spark.conf.set(MvRewrite.ConfKey, "false")
    try f finally spark.conf.set(MvRewrite.ConfKey, "true")
  }

  /** MV-eligible aggregates over the copy-on-write table: shapes the MV
    * can serve, and shapes it cannot. */
  private def mvShapes(flag: String, q: Int): (IndexedSeq[String], IndexedSeq[String]) = {
    val t = s"graft_cat.$cow"
    (IndexedSeq(
      s"SELECT l_returnflag, l_linestatus, sum(l_quantity) AS s, count(*) AS n FROM $t GROUP BY l_returnflag, l_linestatus",
      s"SELECT l_returnflag, sum(l_quantity) AS s, count(*) AS n FROM $t GROUP BY l_returnflag",
      s"SELECT l_linestatus, sum(l_quantity) AS s FROM $t WHERE l_returnflag = '$flag' GROUP BY l_linestatus",
      s"SELECT sum(l_quantity) AS s, count(*) AS n FROM $t WHERE l_returnflag = '$flag'"),
    // avg is not stored, and a filter on the measure needs the rows the
    // MV rolled up
    IndexedSeq(
      s"SELECT l_returnflag, avg(l_quantity) AS a FROM $t GROUP BY l_returnflag",
      s"SELECT l_returnflag, sum(l_quantity) AS s FROM $t WHERE l_quantity > $q GROUP BY l_returnflag"))
  }

  override def finalCheck(): Boolean =
    tables.forall(t => Lake.checksumOf(spark, Lake.checksumSql(s"graft_cat.$t")) == models(t).checksum)

  override def layers(traces: Seq[OpTrace], ops: Seq[(String, Double)]): Map[String, Double] = {
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def decile(xs: Seq[Double], last: Boolean): Double = {
      val k = math.max(1, xs.size / 10)
      Stats.median((if (last) xs.takeRight(k) else xs.take(k)).toIndexedSeq)
    }
    val (logFiles, logBytes) = Lake.logUsage(s"$dir/warehouse")
    Map(
      "SnapshotLog.commits" -> (tables.map(t => SnapshotLog.versions(spark, paths(t)).last).sum - commits0).toDouble,
      "SnapshotLog.log_files" -> logFiles.toDouble,
      "SnapshotLog.log_bytes" -> logBytes.toDouble,
      "SnapshotLog.versions_ms_first" -> decile(versionsMs.toSeq, last = false),
      "SnapshotLog.versions_ms_last" -> decile(versionsMs.toSeq, last = true),
      "SnapshotLog.manifest_ms_first" -> decile(manifestMs.toSeq, last = false),
      "SnapshotLog.manifest_ms_last" -> decile(manifestMs.toSeq, last = true),
      "SnapshotCatalog.files_selected_ratio" -> ratio(filesKept, filesTotal),
      "SnapshotCatalog.rows_read_per_row_returned" -> ratio(scanRowsRead, scanRowsReturned),
      "SnapshotCatalog.files_rewritten_per_dml" -> ratio(filesRewritten, dmls),
      "SnapshotCatalog.bytes_written_per_row_changed" -> ratio(bytesWritten, rowsChanged),
      "MvRewrite.served_ratio" -> ratio(mvServed, mvOps),
      "MvRewrite.bail_ms" -> ratio(bailMs.sum, bailMs.size),
      "AnnRewrite.fired_ratio" -> ratio(annFired, topkOps),
      "sim.rows_scored_per_query" -> ratio(topkRowsRead.sum, topkRowsRead.size))
  }
}

object Lakehouse {
  /** One cycle of the closed loop: 10 writes and 35 reads. Reads are the
    * cheap majority, so the median falls well inside their latencies. */
  val Mix: Seq[(String, Int)] = Seq(
    "insert" -> 2, "update" -> 2, "delete" -> 2, "merge" -> 1, "refresh" -> 1, "verify" -> 1,
    "scan" -> 14, "point" -> 8, "time_travel" -> 6, "mv" -> 3, "topk" -> 4)
  /** Maintenance closes every cycle. A compaction rewrites its table into
    * fewer, larger files, which every later copy-on-write DML then
    * rewrites whole; at a random place in the cycle it made the bytes a
    * cycle writes differ by a quarter between seeds. */
  val Last: Seq[String] = Seq("optimize")
  val ScansPerCycle: Int = Mix.toMap.apply("scan")
  val KeptVersions = 32
  val CorpusRows = 10000
  val Dim = 64
  val Cells = 32
  val K = 10
}

/** The clustered vector corpus: `CorpusRows` vectors of `Dim` floats in
  * `Cells` labelled cells, and the exact brute-force top-k the engine's
  * answers are checked against. */
object Corpus {
  import Lakehouse._

  def centers(salt: Long): Array[Array[Double]] = {
    val r = new Rng(salt).fork("centers")
    Array.fill(Cells)(Array.fill(Dim)(r.gaussian()))
  }

  /** Row-major `CorpusRows x Dim`; row i lies in cell `i % Cells`. */
  def generate(salt: Long): Array[Float] = {
    val c = centers(salt)
    val r = new Rng(salt).fork("corpus")
    val out = new Array[Float](CorpusRows * Dim)
    var i = 0
    while (i < out.length) {
      out(i) = (c((i / Dim) % Cells)(i % Dim) + r.gaussian() * 0.3).toFloat
      i += 1
    }
    out
  }

  def frame(spark: SparkSession, corpus: Array[Float]) = {
    val schema = StructType(Seq(StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val rows = (0 until CorpusRows).map(i => Row(i.toLong, corpus.slice(i * Dim, (i + 1) * Dim).toSeq, i % Cells))
    spark.createDataFrame(rows.asJava, schema).repartition(4)
  }

  /** Exact top-k by the engine's cosine (sequential double accumulation),
    * ties broken on vec_id. */
  def bruteTopK(corpus: Array[Float], probe: Array[Float], k: Int): Seq[Long] = {
    var ny = 0.0
    probe.foreach(y => ny += y.toDouble * y)
    val scored = (0 until CorpusRows).map { r =>
      var dot, nx = 0.0
      var j = 0
      while (j < Dim) {
        val x = corpus(r * Dim + j).toDouble
        dot += x * probe(j); nx += x * x
        j += 1
      }
      (dot / (math.sqrt(nx) * math.sqrt(ny)), r.toLong)
    }
    scored.sortBy { case (c, id) => (-c, id) }.take(k).map(_._2)
  }
}
