package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimestampLogicalTypeAnnotation, TimeUnit}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{SnapshotCatalog, SnapshotLog}

/** The snapshot format's data files: every write path lands ZSTD column
  * chunks and INT64 TIMESTAMP(MICROS) timestamps. Each test runs one
  * path and reads the footer of every parquet file it added to the
  * table directories (`_log`, `_staging` and the `_dv` sidecars are
  * subdirectories, so never counted). A table of SNAPPY files written
  * with the earlier settings keeps reading, time-travelling, feeding
  * changes and compacting like an all-SNAPPY twin. */
class DataFileFormatSpec extends SparkTestBase {

  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_fmt_wh").toString
    spark.conf.set("spark.sql.catalog.fmttest", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.fmttest.warehouse", w)
    w
  }
  private def pathOf(name: String): String = s"$warehouse/main/$name"
  private def sql(s: String): DataFrame = spark.sql(s)

  private val base = java.sql.Timestamp.valueOf("2024-06-01 00:00:00").getTime / 1000

  /** `id, ts, v, s` rows for ids `[lo, hi)`: one column of each kind. */
  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(
      col("id"),
      timestamp_seconds(lit(base) + col("id") * 3600).as("ts"),
      (col("id") * 1.5).as("v"),
      concat(lit("s"), (col("id") % 7).cast("string")).as("s"))

  private def createTable(name: String, clauses: String = ""): String = {
    val _ = warehouse
    sql(s"CREATE TABLE fmttest.main.$name (id BIGINT, ts TIMESTAMP, v DOUBLE, s STRING) $clauses")
    s"fmttest.main.$name"
  }

  private def parquetIn(dir: String): Set[String] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getPath).toSet

  private def codecs(file: String): Set[CompressionCodecName] = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), spark.sessionState.newHadoopConf()))
    try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala).map(_.getCodec).toSet
    finally r.close()
  }

  /** Every column chunk of `file` is ZSTD, and each of `tsCols` (the
    * rest may hold no timestamp) is INT64 TIMESTAMP(MICROS). */
  private def assertFormat(file: String, tsCols: Set[String]): Unit = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), spark.sessionState.newHadoopConf()))
    try {
      val footer = r.getFooter
      val chunks = footer.getBlocks.asScala.flatMap(_.getColumns.asScala)
      assert(chunks.nonEmpty, s"$file holds no column chunk")
      chunks.foreach(c =>
        assert(c.getCodec == CompressionCodecName.ZSTD, s"$file ${c.getPath}: ${c.getCodec}"))
      val fields = footer.getFileMetaData.getSchema.getFields.asScala
        .map(f => f.getName -> f.asPrimitiveType).toMap
      fields.foreach { case (n, t) =>
        assert(t.getPrimitiveTypeName != PrimitiveTypeName.INT96, s"$file $n is INT96")
        val isTs = t.getLogicalTypeAnnotation.isInstanceOf[TimestampLogicalTypeAnnotation]
        assert(isTs == tsCols(n), s"$file $n: ${t.getLogicalTypeAnnotation}")
      }
      tsCols.foreach { n =>
        val t = fields(n)
        val ann = t.getLogicalTypeAnnotation.asInstanceOf[TimestampLogicalTypeAnnotation]
        assert(t.getPrimitiveTypeName == PrimitiveTypeName.INT64 && ann.getUnit == TimeUnit.MICROS,
          s"$file $n: $t")
      }
    } finally r.close()
  }

  /** Runs `body`, checks every parquet file it added under `dirs` and
    * returns how many there were. */
  private def landed(dirs: String*)(body: => Any): Int = landedTs(Set("ts"), dirs: _*)(body)

  private def landedTs(tsCols: Set[String], dirs: String*)(body: => Any): Int = {
    def all = dirs.flatMap(parquetIn).toSet
    val before = all
    val _ = body
    val added = all -- before
    added.foreach(assertFormat(_, tsCols))
    added.size
  }

  /** Lands `df` as one parquet file Spark's writer writes under
    * `confs` in table `name`'s directory, and commits it. */
  private def landCommit(name: String, df: DataFrame, confs: (String, String)*): Unit = {
    val stage = Files.createTempDirectory("graft_fmt_land").toString + "/o"
    withConf(spark, confs: _*)(df.coalesce(1).write.parquet(stage))
    val part = new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
    val landedName = s"part-landed-${java.util.UUID.randomUUID.toString.take(8)}.parquet"
    assert(part.renameTo(new java.io.File(s"${pathOf(name)}/$landedName")))
    val _ = SnapshotLog.commit(
      spark, pathOf(name),
      SnapshotLog.CommitRequest(SnapshotLog.CommitData.landed(Seq(landedName), df.schema)))
  }

  /** `SELECT _file, _pos, *` of table `name` through the catalog, at
    * `version` or the tip, equals `SnapshotLog.read`'s rows row for
    * row, each at the file and position Spark's own parquet reader
    * finds its unique key `k` at. Returns the row count. */
  private def catalogMatchesLog(name: String, version: Option[Int]): Int = {
    val p = pathOf(name)
    val v = version.getOrElse(SnapshotLog.versions(spark, p).last)
    val pos = SnapshotLog.manifest(spark, p, v).flatMap { f =>
      spark.read.parquet(s"$p/$f")
        .select(col("_metadata.file_name"), col("_metadata.row_index"), col("k").cast("long"))
        .collect().map(r => r.getLong(2) -> ((r.getString(0), r.getLong(1))))
    }.toMap
    val at = version.fold("")(x => s" VERSION AS OF $x")
    val got = sql(s"SELECT _file, _pos, * FROM fmttest.main.$name$at")
      .collect().map(_.mkString("|")).sorted.toSeq
    val want = SnapshotLog.read(spark, p, version).collect().map { r =>
      val (file, row) = pos(r.get(r.fieldIndex("k")).toString.toLong)
      (Seq(file, row) ++ r.toSeq).mkString("|")
    }.sorted.toSeq
    assert(got == want, s"$name$at")
    got.size
  }

  /** SQL INSERT of `rows(lo, hi)` into `t`. */
  private def insert(t: String, lo: Long, hi: Long): Unit = {
    rows(lo, hi).createOrReplaceTempView("fmt_src")
    val _ = sql(s"INSERT INTO $t SELECT * FROM fmt_src")
  }

  test("SQL INSERT lands ZSTD files: plain, partition_by and bucketed") {
    val plain = createTable("ins_plain")
    assert(landed(pathOf("ins_plain"))(insert(plain, 0, 300)) > 0)
    val parted = createTable("ins_part", "PARTITIONED BY (days(ts))")
    assert(landed(pathOf("ins_part"))(insert(parted, 0, 300)) > 1)
    val bucketed = createTable("ins_bkt", "PARTITIONED BY (bucket(4, id))")
    assert(landed(pathOf("ins_bkt"))(insert(bucketed, 0, 300)) > 1)
    assert(sql(s"SELECT count(*) FROM $bucketed").head.getLong(0) == 300L)
  }

  test("a CHECK-quarantined row lands a ZSTD file in the dead-letter table") {
    val t = createTable("quar",
      "TBLPROPERTIES ('check' = 'v >= 0', 'check_mode' = 'quarantine')")
    val q = pathOf("quar") + "_quarantine"
    rows(0, 50).union(rows(50, 51).withColumn("v", lit(-1.0)))
      .createOrReplaceTempView("fmt_quar_src")
    val n = landed(pathOf("quar"), q)(sql(s"INSERT INTO $t SELECT * FROM fmt_quar_src"))
    assert(n >= 2 && parquetIn(q).size == 1)
    assert(sql(s"SELECT id FROM ${t}_quarantine").collect().map(_.getLong(0)).toSeq == Seq(50L))
  }

  test("copy-on-write UPDATE, DELETE and MERGE land ZSTD files") {
    val t = createTable("cow")
    insert(t, 0, 400)
    val p = pathOf("cow")
    assert(landed(p)(sql(s"UPDATE $t SET v = v + 1 WHERE id % 5 = 0")) > 0)
    assert(landed(p)(sql(s"DELETE FROM $t WHERE id % 7 = 0")) > 0)
    rows(390, 420).createOrReplaceTempView("fmt_merge_src")
    assert(landed(p)(sql(
      s"""MERGE INTO $t t USING fmt_merge_src m ON t.id = m.id
         |WHEN MATCHED THEN UPDATE SET v = m.v * 2
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)) > 0)
    assert(sql(s"SELECT count(*) FROM $t").head.getLong(0) ==
      (0L until 420L).count(i => i >= 390 || i % 7 != 0))
  }

  test("merge-on-read DELETE lands only a deletion vector; UPDATE's new rows land ZSTD") {
    val t = createTable("mor", "TBLPROPERTIES ('write_mode' = 'merge-on-read')")
    insert(t, 0, 400)
    val p = pathOf("mor")
    assert(landed(p)(sql(s"DELETE FROM $t WHERE id % 9 = 0")) == 0)
    assert(Option(new java.io.File(s"$p/_dv").listFiles()).exists(_.nonEmpty))
    assert(landed(p)(sql(s"UPDATE $t SET v = -v WHERE id < 40")) > 0)
    assert(sql(s"SELECT count(*) FROM $t WHERE v < 0").head.getLong(0) ==
      (1L until 40L).count(_ % 9 != 0))
  }

  test("OPTIMIZE lands ZSTD files: key-ordered and concat") {
    val keyed = createTable("opt_keyed", "TBLPROPERTIES ('sorted_by' = 'id')")
    (0 until 4).foreach(i => insert(keyed, i * 100L, i * 100L + 100L))
    assert(landed(pathOf("opt_keyed"))(
      sql("CALL fmttest.system.optimize(table => 'main.opt_keyed', files_out => 2)").collect()) == 2)
    // every file spans every id slice: clustered on no column
    val _ = createTable("opt_concat")
    (0 until 4).foreach(i =>
      SnapshotLog.commit(spark, pathOf("opt_concat"), rows(0, 400).where(col("id") % 4 === i).coalesce(1)))
    assert(landed(pathOf("opt_concat"))(
      sql("CALL fmttest.system.optimize(table => 'main.opt_concat', files_out => 2)").collect()) == 2)
    assert(sql("SELECT count(*) FROM fmttest.main.opt_concat").head.getLong(0) == 400L)
  }

  test("CREATE and REFRESH MATERIALIZED VIEW land ZSTD files") {
    val _ = warehouse
    val t = "fmttest.main.mv_src"
    sql(s"CREATE TABLE $t (k BIGINT, v BIGINT)")
    sql(s"INSERT INTO $t SELECT id % 10, id FROM range(0, 200)")
    val mv = pathOf("mv_src_mv")
    assert(landedTs(Set.empty, mv)(sql(
      s"""CREATE MATERIALIZED VIEW fmttest.main.mv_src_mv AS
         |SELECT k, sum(v) AS mv_sum, count(*) AS mv_n FROM $t GROUP BY k""".stripMargin)) > 0)
    sql(s"INSERT INTO $t SELECT id % 10, id FROM range(200, 260)")
    assert(landedTs(Set.empty, mv)(sql("REFRESH MATERIALIZED VIEW fmttest.main.mv_src_mv")) > 0)
    assert(sql("SELECT sum(mv_n) FROM fmttest.main.mv_src_mv").head.getLong(0) == 260L)
  }

  test("one streaming-sink epoch lands ZSTD files") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = createTable("stream")
    val ms = MemoryStream[Long]
    val ckpt = Files.createTempDirectory("graft_fmt_ckpt").toString
    val n = landed(pathOf("stream")) {
      val q = ms.toDF()
        .select(col("value").as("id"),
          timestamp_seconds(lit(base) + col("value")).as("ts"),
          col("value").cast("double").as("v"), lit("x").as("s"))
        .writeStream.option("checkpointLocation", ckpt).toTable(t)
      try {
        ms.addData(0L until 100L: _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    assert(n > 0 && sql(s"SELECT count(*) FROM $t").head.getLong(0) == 100L)
  }

  test("SnapshotLog.commit and commitBucketed land ZSTD files with INT64 timestamps") {
    val plain = Files.createTempDirectory("graft_fmt_commit").toString + "/t"
    assert(landed(plain)(SnapshotLog.commit(spark, plain, rows(0, 200))) > 0)
    val bkt = Files.createTempDirectory("graft_fmt_bkt").toString + "/t"
    assert(landed(bkt)(SnapshotLog.commit(
      spark, bkt,
      SnapshotLog.CommitRequest(
        SnapshotLog.CommitData.Frame(rows(0, 200)), buckets = Some(("id", 4))))) == 4)
    assert(SnapshotLog.read(spark, bkt).count() == 200L)
  }

  test("SNAPPY files from before plus ZSTD appends: reads, VERSION AS OF, " +
    "readChanges and OPTIMIZE equal an all-SNAPPY twin; after OPTIMIZE the " +
    "tip lists only ZSTD files") {
    val mixed = createTable("mixed")
    val twin = createTable("twin")
    /** Lands `df` as one SNAPPY file the way the engine wrote data files
      * before ZSTD (INT64 timestamps), and commits it. */
    def snappyCommit(name: String, df: DataFrame): Unit = {
      val stage = Files.createTempDirectory("graft_fmt_snappy").toString + "/o"
      val tsKey = "spark.sql.parquet.outputTimestampType"
      spark.conf.set(tsKey, "TIMESTAMP_MICROS")
      try df.coalesce(1).write.option("compression", "snappy").parquet(stage)
      finally spark.conf.unset(tsKey)
      val part = new java.io.File(stage).listFiles().filter(_.getName.endsWith(".parquet")).head
      val landedName = s"part-snappy-${java.util.UUID.randomUUID.toString.take(8)}.parquet"
      assert(part.renameTo(new java.io.File(s"${pathOf(name)}/$landedName")))
      val _ = SnapshotLog.commit(
        spark, pathOf(name),
        SnapshotLog.CommitRequest(SnapshotLog.CommitData.landed(Seq(landedName), df.schema)))
    }
    Seq("mixed", "twin").foreach { n =>
      snappyCommit(n, rows(0, 150))
      snappyCommit(n, rows(150, 300))
    }
    SnapshotLog.commit(spark, pathOf("mixed"), rows(300, 450))
    SnapshotLog.commit(spark, pathOf("mixed"), rows(450, 500))
    snappyCommit("twin", rows(300, 450))
    snappyCommit("twin", rows(450, 500))

    def tipCodecs(name: String): Set[CompressionCodecName] = {
      val p = pathOf(name)
      SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
        .flatMap(f => codecs(s"$p/$f")).toSet
    }
    assert(tipCodecs("mixed") == Set(CompressionCodecName.SNAPPY, CompressionCodecName.ZSTD))
    assert(tipCodecs("twin") == Set(CompressionCodecName.SNAPPY))

    def same(a: DataFrame, b: DataFrame): Unit = {
      def sorted(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
      val (x, y) = (sorted(a), sorted(b))
      assert(x.nonEmpty && x == y)
    }
    val vs = SnapshotLog.versions(spark, pathOf("mixed"))
    assert(vs == SnapshotLog.versions(spark, pathOf("twin")))
    same(sql(s"SELECT * FROM $mixed"), sql(s"SELECT * FROM $twin"))
    same(SnapshotLog.read(spark, pathOf("mixed")), SnapshotLog.read(spark, pathOf("twin")))
    vs.drop(1).foreach(v =>
      same(sql(s"SELECT * FROM $mixed VERSION AS OF $v"), sql(s"SELECT * FROM $twin VERSION AS OF $v")))
    same(SnapshotLog.readChanges(spark, pathOf("mixed"), vs(1), vs.last),
      SnapshotLog.readChanges(spark, pathOf("twin"), vs(1), vs.last))
    Seq("mixed", "twin").foreach(n =>
      sql(s"CALL fmttest.system.optimize(table => 'main.$n', files_out => 2)").collect())
    same(sql(s"SELECT * FROM $mixed"), sql(s"SELECT * FROM $twin"))
    assert(tipCodecs("mixed") == Set(CompressionCodecName.ZSTD))
    assert(tipCodecs("twin") == Set(CompressionCodecName.ZSTD))
  }

  test("DECIMAL, SMALLINT, TINYINT, STRUCT, MAP and ARRAY<STRING> columns INSERT " +
    "through the catalog and read back as SnapshotLog.read has them; SMALLINT range " +
    "filters and MIN/MAX/COUNT agree") {
    val name = "wide_types"
    val _ = warehouse
    def cols(sm: String, ti: String) = Seq(
      "id AS k",
      "CAST(id * 1.25 AS DECIMAL(12, 3)) AS d",
      s"CAST($sm AS SMALLINT) AS sm",
      s"CAST($ti AS TINYINT) AS ti",
      "IF(id % 7 = 0, NULL, named_struct('a', CAST(id AS INT), 'b', concat('s', id))) AS st",
      "IF(id % 5 = 0, NULL, map('x', id, 'y', id * 2)) AS m",
      "IF(id % 6 = 0, NULL, array(concat('a', id), NULL, 'z')) AS a")
    SnapshotLog.commit(spark, pathOf(name),
      spark.range(0, 60).selectExpr(cols("id * 300", "id - 30"): _*))
    sql(s"INSERT INTO fmttest.main.$name SELECT " +
      cols("id * 250 - 30000", "id - 90").mkString(", ") + " FROM range(60, 120)")
    assert(SnapshotLog.versions(spark, pathOf(name)).size == 2)
    assert(catalogMatchesLog(name, None) == 120)
    val log = SnapshotLog.read(spark, pathOf(name))
    log.createOrReplaceTempView("wide_types_log")
    Seq("", "WHERE sm BETWEEN -12000 AND 9000", "WHERE sm > 300", "WHERE sm < 0").foreach { where =>
      val q = "SELECT count(*), min(sm), max(sm), count(sm), sum(sm) FROM"
      val got = sql(s"$q fmttest.main.$name $where").head.toSeq
      assert(got == sql(s"$q wide_types_log $where").head.toSeq, where)
      assert(got.head.asInstanceOf[Long] > 0, where)
    }
  }

  test("catalog writes are never calendar-rebased: a pre-1582 DATE and TIMESTAMP " +
    "INSERTed under datetimeRebaseModeInWrite=LEGACY read back as written") {
    val _ = warehouse
    val t = "fmttest.main.old_dates"
    sql(s"CREATE TABLE $t (k BIGINT, d DATE, ts TIMESTAMP)")
    withConf(spark, "spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY")(
      sql(s"""INSERT INTO $t VALUES
             |(1, DATE'1000-01-01', TIMESTAMP'1000-01-01 12:00:00'),
             |(2, DATE'1582-10-01', TIMESTAMP'1500-06-30 23:59:59')""".stripMargin))
    val want = Seq("1|1000-01-01|1000-01-01 12:00:00", "2|1582-10-01|1500-06-30 23:59:59")
    def asText(df: DataFrame): Seq[String] =
      df.selectExpr("k", "CAST(d AS STRING)", "CAST(ts AS STRING)")
        .collect().map(_.mkString("|")).sorted.toSeq
    assert(asText(spark.table(t)) == want)
    assert(asText(SnapshotLog.read(spark, pathOf("old_dates"))) == want)
  }

  test("catalog scans equal SnapshotLog.read with _file and _pos at every version: " +
    "widened INT and FLOAT files, an INT96 file, array<float> with null elements, " +
    "an existence default, a renamed column and merge-on-read deletes") {
    val _ = warehouse
    def t(name: String) = s"fmttest.main.$name"
    def insert(name: String, lo: Long, hi: Long, select: String): Unit = {
      val _ = sql(s"INSERT INTO ${t(name)} SELECT $select FROM range($lo, $hi)")
    }
    val cases: Seq[(String, () => Unit)] = Seq(
      "widened_int" -> { () =>
        sql(s"CREATE TABLE ${t("widened_int")} (k INT, v INT)")
        insert("widened_int", 0, 100, "CAST(id AS INT), CAST(id % 9 AS INT)")
        sql(s"ALTER TABLE ${t("widened_int")} ALTER COLUMN k TYPE BIGINT")
        insert("widened_int", 100, 200, "id + 5000000000, CAST(id % 9 AS INT)")
      },
      "widened_float" -> { () =>
        sql(s"CREATE TABLE ${t("widened_float")} (k BIGINT, f FLOAT)")
        insert("widened_float", 0, 100, "id, CAST(id / 3.0 AS FLOAT)")
        sql(s"ALTER TABLE ${t("widened_float")} ALTER COLUMN f TYPE DOUBLE")
        insert("widened_float", 100, 200, "id, id / 3.0")
      },
      "int96" -> { () =>
        sql(s"CREATE TABLE ${t("int96")} (k BIGINT, ts TIMESTAMP)")
        landCommit("int96",
          spark.range(0, 100).select(col("id").as("k"),
            timestamp_seconds(lit(base) + col("id") * 3601).as("ts")),
          "spark.sql.parquet.outputTimestampType" -> "INT96")
        insert("int96", 100, 200, s"id, timestamp_seconds($base + id * 3601)")
      },
      "float_array" -> { () =>
        sql(s"CREATE TABLE ${t("float_array")} (k BIGINT, a ARRAY<FLOAT>)")
        val select = "id, IF(id % 4 = 0, NULL, array(CAST(id AS FLOAT), NULL, CAST(id / 8.0 AS FLOAT)))"
        insert("float_array", 0, 100, select)
        insert("float_array", 100, 200, select)
      },
      "exists_default" -> { () =>
        sql(s"CREATE TABLE ${t("exists_default")} (k BIGINT)")
        insert("exists_default", 0, 100, "id")
        sql(s"ALTER TABLE ${t("exists_default")} ADD COLUMN d INT DEFAULT 7")
        insert("exists_default", 100, 200, "id, CAST(id % 3 AS INT)")
      },
      "renamed" -> { () =>
        sql(s"CREATE TABLE ${t("renamed")} (k BIGINT, a BIGINT, s STRING)")
        insert("renamed", 0, 100, "id, id * 2, concat('s', id)")
        sql(s"ALTER TABLE ${t("renamed")} RENAME COLUMN a TO c")
        insert("renamed", 100, 200, "id, id * 2, concat('s', id)")
      },
      "mor_deleted" -> { () =>
        sql(s"CREATE TABLE ${t("mor_deleted")} (k BIGINT, v INT) " +
          "TBLPROPERTIES ('write_mode' = 'merge-on-read')")
        insert("mor_deleted", 0, 300, "id, CAST(id % 11 AS INT)")
        sql(s"DELETE FROM ${t("mor_deleted")} WHERE k % 3 = 0")
        insert("mor_deleted", 300, 400, "id, CAST(id % 11 AS INT)")
        sql(s"DELETE FROM ${t("mor_deleted")} WHERE k > 350 OR v = 4")
      })
    cases.foreach { case (name, build) =>
      build()
      val p = pathOf(name)
      val versions = SnapshotLog.versions(spark, p)
        .filter(v => SnapshotLog.manifest(spark, p, v).nonEmpty)
      assert(versions.size >= 2, name)
      assert(catalogMatchesLog(name, None) > 0, name)
      versions.foreach(v => catalogMatchesLog(name, Some(v)))
    }
  }

  test("a 60k-row compacted file holds pages of at most 8,192 rows: a point " +
    "read on it decodes one page") {
    val t = createTable("paged", "TBLPROPERTIES ('sorted_by' = 'id')")
    (0 until 6).foreach(i =>
      SnapshotLog.commit(spark, pathOf("paged"), rows(i * 10000L, i * 10000L + 10000L).coalesce(1)))
    sql("CALL fmttest.system.optimize(table => 'main.paged')").collect()
    val p = pathOf("paged")
    val files = SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
    assert(files.size == 1, files.toString)
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(s"$p/${files.head}"), spark.sessionState.newHadoopConf()))
    try {
      assert(r.getRecordCount == 60000L)
      val chunks = r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
      chunks.groupBy(_.getPath).foreach { case (c, cs) =>
        val pages = cs.map(r.readOffsetIndex(_).getPageCount).sum
        assert(pages >= 60000 / graft.sources.DataFiles.PageRows, s"$c: $pages pages")
      }
    } finally r.close()
    val df = sql(s"SELECT id, v FROM $t WHERE id = 31234")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(31234L))
    val plans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val decoded = plans.collect(df.queryExecution.executedPlan) {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.metrics("rowsDecoded").value
    }.sum
    assert(decoded > 0 && decoded <= graft.sources.DataFiles.PageRows, s"decoded $decoded rows")
  }
}
