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
    assert(landed(bkt)(SnapshotLog.commitBucketed(spark, bkt, rows(0, 200), "id", 4)) == 4)
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
      val _ = SnapshotLog.commitLanded(spark, pathOf(name), Seq(landedName), df.schema)
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
}
