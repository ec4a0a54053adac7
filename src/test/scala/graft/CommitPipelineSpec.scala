package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.sources.{SnapshotCatalog, SnapshotLog}

/** The manifest bytes of every commit shape, pinned. Each test runs a
  * fixed sequence on tiny seeded tables and compares every
  * `_log/v*.commit` file (header line plus entry lines) to expected
  * text. Only names that are random by design are normalized: the job
  * id in `part-<id>-…` names, the task id and suffix of the SQL
  * writers' `part-sql-…` names, and the DV sidecar UUIDs, each
  * numbered in order of first appearance. Every header token, stats
  * rider, byte size and row count is compared verbatim — DESCRIBE
  * HISTORY reads the action word, and readers resolve the riders. */
class CommitPipelineSpec extends SparkTestBase {

  private lazy val root: String =
    Files.createTempDirectory("graft_pipeline").toString

  private lazy val warehouse: String = {
    val w = s"$root/wh"
    spark.conf.set("spark.sql.catalog.cpl", classOf[SnapshotCatalog].getName)
    spark.conf.set("spark.sql.catalog.cpl.warehouse", w)
    w
  }

  private def b64(s: String): String =
    java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(s.getBytes(UTF_8))

  /** `id, v = id * 2` for ids `[lo, hi)`, in one file. */
  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id"), (col("id") * 2).as("v")).coalesce(1)

  private val renumbered = Seq(
    "part-([0-9a-f]{8})-".r -> ((n: Int) => s"part-J$n-"),
    "part-sql-([0-9]+)-[0-9]+-(b[0-9]+-)?([0-9a-f]{8})\\.parquet".r -> ((n: Int) => s"S$n"),
    "dv-([0-9a-f-]{12})\\.bin".r -> ((n: Int) => s"dv-D$n.bin"))

  /** Every commit file of `table` in version order, random names
    * numbered in order of first appearance. */
  private def logText(table: String): String = {
    val raw = SnapshotLog.versions(spark, table).map { v =>
      val p = Paths.get(s"$table/_log/v${"%08d".format(v)}.commit")
      s"# v$v\n" + new String(Files.readAllBytes(p), UTF_8)
    }.mkString
    renumbered.foldLeft(raw) { case (text, (re, name)) =>
      val ids = re.findAllMatchIn(text).map(_.matched).distinct.zipWithIndex.toMap
      re.replaceAllIn(text, m => {
        val fresh = name(ids(m.matched) + 1)
        // the SQL writers' partition id and bucket stay visible
        if (m.matched.startsWith("part-sql-"))
          scala.util.matching.Regex.quoteReplacement(
            s"part-sql-${m.group(1)}-${Option(m.group(2)).getOrElse("")}$fresh.parquet")
        else scala.util.matching.Regex.quoteReplacement(fresh)
      })
    }
  }

  /** `table`'s log equals the golden text recorded under `name`. */
  private def check(name: String, table: String): Unit = {
    val actual = logText(table)
    assert(actual == golden(name), s"\n--- $name, actual:\n$actual\n--- expected:\n${golden(name)}")
  }

  test("append deltas, the 10th-version checkpoint and overwrite") {
    val t = s"$root/app"
    (1 to 10).foreach(i => SnapshotLog.commit(spark, t, rows(i * 10L, i * 10L + 2)))
    SnapshotLog.commit(spark, t, rows(500, 503), overwrite = true)
    check("app", t)
  }

  test("copy-on-write replace, txn replay, compaction, watermark, DV " +
    "amendment, bloom, restore and clone") {
    import spark.implicits._
    val t = s"$root/dml"
    SnapshotLog.commit(spark, t, rows(0, 10))
    SnapshotLog.commit(spark, t, rows(10, 20))
    SnapshotLog.deleteWhere(spark, t, "id", 3, 4)
    val (vTxn, _, _) = SnapshotLog.deleteWhere(spark, t, "id", 12, 12, Some("tx-1"))
    assert(SnapshotLog.deleteWhere(spark, t, "id", 13, 13, Some("tx-1"))._1 == vTxn)
    SnapshotLog.compact(spark, t)
    SnapshotLog.mergeCoW(
      spark, t, "id", Seq(5L).toDF("id"), _.filter(col("id") =!= 5),
      extraHeader = "idxv=7")
    SnapshotLog.deleteWhereMoR(spark, t, "id", 15, 16)
    SnapshotLog.buildBloomIndex(spark, t, "id")
    SnapshotLog.restore(spark, t, 7)
    SnapshotLog.cloneTable(spark, t, s"$root/dml_clone", Some(7))
    check("dml", t)
    check("dml_clone", s"$root/dml_clone")
  }

  test("statsfill, ingest, alter, publish and the MV fold") {
    import spark.implicits._
    val sf = s"$root/sf"
    SnapshotLog.commit(spark, sf, rows(0, 5))
    SnapshotLog.commit(spark, sf, rows(5, 9))
    (1 to 2).foreach { v =>
      val cp = Paths.get(s"$sf/_log/v${"%08d".format(v)}.commit")
      val stripped = new String(Files.readAllBytes(cp), UTF_8).linesIterator.map { l =>
        if (!l.contains("\t")) l
        else {
          val Array(name, suffix) = l.split("\t", 2)
          val kept = suffix.split(';')
            .filterNot(x => x.startsWith("_sz=") || x.startsWith("_rc=")).mkString(";")
          if (kept.isEmpty) name else s"$name\t$kept"
        }
      }.mkString("", "\n", "\n")
      Files.write(cp, stripped.getBytes(UTF_8))
      Files.deleteIfExists(cp.getParent.resolve("." + cp.getFileName + ".crc"))
    }
    assert(SnapshotLog.backfillStats(spark, sf) == 2)
    check("sf", sf)

    val ing = s"$root/ing"
    SnapshotLog.commit(spark, ing, rows(0, 2))
    val src = Files.createDirectories(Paths.get(s"$root/ing_src"))
    Files.write(src.resolve("a.json"), "{\"id\":7,\"v\":14}\n".getBytes(UTF_8))
    Files.write(src.resolve("b.json"), "{\"id\":8,\"v\":16}\n".getBytes(UTF_8))
    assert(SnapshotLog.ingest(spark, ing, src.toString, "json")._2 == 2)
    check("ing", ing)

    val alt = s"$root/alt"
    SnapshotLog.commit(
      spark, alt,
      spark.range(0, 3).select(
        col("id"), col("id").cast("int").as("n"), (col("id") + 1).as("w")).coalesce(1))
    SnapshotLog.renameColumn(spark, alt, "w", "w2")
    SnapshotLog.dropColumn(spark, alt, "w2")
    SnapshotLog.widenColumn(spark, alt, "n", LongType)
    check("alt", alt)

    val pub = s"$root/pub"
    SnapshotLog.commit(spark, pub, rows(0, 3))
    val br = SnapshotLog.branchCreate(spark, pub, "b1")
    SnapshotLog.commit(spark, br, rows(3, 5))
    SnapshotLog.publish(spark, pub, "b1")
    check("pub", pub)

    val mvSrc = s"$root/mvsrc"
    val mv = s"$root/mv"
    SnapshotLog.commit(
      spark, mvSrc, Seq((1L, 10L), (2L, 20L), (1L, 5L)).toDF("k", "x").coalesce(1))
    SnapshotLog.createMv(spark, mvSrc, mv, "k", "x")
    SnapshotLog.commit(spark, mvSrc, Seq((2L, 1L), (3L, 3L)).toDF("k", "x").coalesce(1))
    SnapshotLog.refreshMv(spark, mv)
    check("mv", mv)
  }

  test("SQL catalog: bucketed insert, merge-on-read delta and the " +
    "metadata-only DELETE") {
    val _ = warehouse
    spark.sql(
      "CREATE TABLE cpl.main.bk (id BIGINT, v BIGINT) PARTITIONED BY (bucket(2, id))")
    spark.sql("INSERT INTO cpl.main.bk SELECT id, id * 2 FROM range(0, 6)")
    check("bk", s"$warehouse/main/bk")

    spark.sql(
      "CREATE TABLE cpl.main.mor (id BIGINT, v BIGINT) " +
        "TBLPROPERTIES ('write_mode' = 'merge-on-read')")
    spark.sql("INSERT INTO cpl.main.mor SELECT /*+ COALESCE(1) */ id, id FROM range(0, 6)")
    spark.sql("UPDATE cpl.main.mor SET v = -1 WHERE id = 2")
    check("mor", s"$warehouse/main/mor")

    spark.sql("CREATE TABLE cpl.main.md (id BIGINT)")
    spark.sql("INSERT INTO cpl.main.md SELECT /*+ COALESCE(1) */ id FROM range(0, 10)")
    spark.sql("INSERT INTO cpl.main.md SELECT /*+ COALESCE(1) */ id FROM range(10, 20)")
    spark.sql("DELETE FROM cpl.main.md WHERE id < 10")
    assert(spark.sql("SELECT count(*) FROM cpl.main.md").head().getLong(0) == 10)
    check("md", s"$warehouse/main/md")
  }

  // schema JSON of the golden commits, as their headers spell it (base64url)
  private val schema1 = b64("""{"type":"struct","fields":[{"name":"id","type":"long","nullable":false,"metadata":{}},{"name":"v","type":"long","nullable":false,"metadata":{}}]}""")
  private val schema2 = b64("""{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}},{"name":"v","type":"long","nullable":true,"metadata":{}}]}""")
  private val schema3 = b64("""{"type":"struct","fields":[{"name":"id","type":"long","nullable":false,"metadata":{}},{"name":"n","type":"integer","nullable":false,"metadata":{}},{"name":"w","type":"long","nullable":false,"metadata":{}}]}""")
  private val schema4 = b64("""{"type":"struct","fields":[{"name":"id","type":"long","nullable":false,"metadata":{"graftPhys":"id"}},{"name":"n","type":"integer","nullable":false,"metadata":{"graftPhys":"n"}},{"name":"w2","type":"long","nullable":false,"metadata":{"graftPhys":"w"}}]}""")
  private val schema5 = b64("""{"type":"struct","fields":[{"name":"id","type":"long","nullable":false,"metadata":{"graftPhys":"id"}},{"name":"n","type":"integer","nullable":false,"metadata":{"graftPhys":"n"}}]}""")
  private val schema6 = b64("""{"type":"struct","fields":[{"name":"id","type":"long","nullable":false,"metadata":{"graftPhys":"id"}},{"name":"n","type":"long","nullable":false,"metadata":{"graftPhys":"n"}}]}""")
  private val schema7 = b64("""{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{}},{"name":"mv_sum","type":"long","nullable":true,"metadata":{}},{"name":"mv_n","type":"long","nullable":false,"metadata":{}}]}""")
  private val schema9 = b64("""{"type":"struct","fields":[{"name":"id","type":"long","nullable":true,"metadata":{}}]}""")

  private lazy val golden: Map[String, String] = {
    val T = "\t"
    Map(
      "app" -> s"""|# v1
        |append schema=${schema1}
        |part-J1-0.parquet${T}_sz=z:747;_rc=r:2;id=l:10:11;v=l:20:22
        |# v2
        |append parent=1 schema=${schema1}
        |part-J2-0.parquet${T}_sz=z:747;_rc=r:2;id=l:20:21;v=l:40:42
        |# v3
        |append parent=2 schema=${schema1}
        |part-J3-0.parquet${T}_sz=z:747;_rc=r:2;id=l:30:31;v=l:60:62
        |# v4
        |append parent=3 schema=${schema1}
        |part-J4-0.parquet${T}_sz=z:747;_rc=r:2;id=l:40:41;v=l:80:82
        |# v5
        |append parent=4 schema=${schema1}
        |part-J5-0.parquet${T}_sz=z:746;_rc=r:2;id=l:50:51;v=l:100:102
        |# v6
        |append parent=5 schema=${schema1}
        |part-J6-0.parquet${T}_sz=z:747;_rc=r:2;id=l:60:61;v=l:120:122
        |# v7
        |append parent=6 schema=${schema1}
        |part-J7-0.parquet${T}_sz=z:747;_rc=r:2;id=l:70:71;v=l:140:142
        |# v8
        |append parent=7 schema=${schema1}
        |part-J8-0.parquet${T}_sz=z:747;_rc=r:2;id=l:80:81;v=l:160:162
        |# v9
        |append parent=8 schema=${schema1}
        |part-J9-0.parquet${T}_sz=z:746;_rc=r:2;id=l:90:91;v=l:180:182
        |# v10
        |append schema=${schema1}
        |part-J1-0.parquet${T}_sz=z:747;_rc=r:2;id=l:10:11;v=l:20:22
        |part-J2-0.parquet${T}_sz=z:747;_rc=r:2;id=l:20:21;v=l:40:42
        |part-J3-0.parquet${T}_sz=z:747;_rc=r:2;id=l:30:31;v=l:60:62
        |part-J4-0.parquet${T}_sz=z:747;_rc=r:2;id=l:40:41;v=l:80:82
        |part-J5-0.parquet${T}_sz=z:746;_rc=r:2;id=l:50:51;v=l:100:102
        |part-J6-0.parquet${T}_sz=z:747;_rc=r:2;id=l:60:61;v=l:120:122
        |part-J7-0.parquet${T}_sz=z:747;_rc=r:2;id=l:70:71;v=l:140:142
        |part-J8-0.parquet${T}_sz=z:747;_rc=r:2;id=l:80:81;v=l:160:162
        |part-J9-0.parquet${T}_sz=z:746;_rc=r:2;id=l:90:91;v=l:180:182
        |part-J10-0.parquet${T}_sz=z:747;_rc=r:2;id=l:100:101;v=l:200:202
        |# v11
        |overwrite schema=${schema1}
        |part-J11-0.parquet${T}_sz=z:755;_rc=r:3;id=l:500:502;v=l:1000:1004
        |""".stripMargin,
      "dml" -> s"""|# v1
        |append schema=${schema1}
        |part-J1-0.parquet${T}_sz=z:791;_rc=r:10;id=l:0:9;v=l:0:18
        |# v2
        |append parent=1 schema=${schema1}
        |part-J2-0.parquet${T}_sz=z:791;_rc=r:10;id=l:10:19;v=l:20:38
        |# v3
        |replace parent=2 schema=${schema2}
        |-part-J1-0.parquet
        |part-J3-0.parquet${T}_sz=z:808;_rc=r:8;id=l:0:9;v=l:0:18
        |# v4
        |replace parent=3 txn=tx-1 schema=${schema2}
        |-part-J2-0.parquet
        |part-J4-0.parquet${T}_sz=z:807;_rc=r:9;id=l:10:19;v=l:20:38
        |# v5
        |replace parent=4 datachange=false schema=${schema2}
        |-part-J3-0.parquet
        |-part-J4-0.parquet
        |part-J5-0.parquet${T}_sz=z:876;_rc=r:17;id=l:0:19;v=l:0:38
        |# v6
        |replace parent=5 idxv=7 schema=${schema2}
        |-part-J5-0.parquet
        |part-J6-0.parquet${T}_sz=z:869;_rc=r:16;id=l:0:19;v=l:0:38
        |# v7
        |replace parent=6 schema=${schema2}
        |-part-J6-0.parquet
        |part-J6-0.parquet${T}_sz=z:869;_rc=r:16;id=l:0:19;v=l:0:38;_dv=v:dv-D1.bin;_dvc=c:2
        |# v8
        |replace parent=7 datachange=false bloom=aWQ schema=${schema2}
        |-part-J6-0.parquet
        |part-J6-0.parquet${T}_sz=z:869;_rc=r:16;id=l:0:19;v=l:0:38;_dv=v:dv-D1.bin;_dvc=c:2;_bmaWQ=b:AAAAAAAAAAAAEAAAAAAAAAAAAAAAAAAAAAAAAgAAAAAEAAAEAAAAAAAAAQAAAAAAAAAQAAAAAgAAAAAAAQgAAAAAAIAAAAAIAUAAAAAACAAAAAAAAAAAAAAAAAAAAAAAAAAAAAgAAAAAAAAAAAAAAAAAAAACAAAAACAAAAAAAAAAAAABAAAAAAAAAAAAAAAAAAAAQAAAAAAEAAAAAAAAAAAAgAAAAAAAAAAAAAAAAAIAAAAAIAAAAAAAAAAAAAAAAAAAAAAJAAgAACAABAAAQAAAAAAAAAAgAIAAAAAAAAAAAAAAAAAAAAAAAAIAAAAAAAAAAABAAAAAARAAAAAAAgAAAAAAgAAAgAAAAAAAAASEBAAAAAAAAAAAAAAAAAAAAAAAAAQAQgAAAAAAAAAAAABAAAAgAAABAAAAAAAgAAAAAAAAAAAAAABAAAAAAAAAAKAAAAAAAgAAAAAQEAAAAgAAABAAAgCAAAAAAAQAAAAAABAAAAAAAAAAAAABAAAAACBAAAAAAAAAAAAAAAAAgQAAAAAAAAAAAAAABAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAggAAAAAAAAAIAQAAAAAAAAAAAAAAAAAAEABAAAAAAAAAQAAAAAAAABAAIAAAAAAAAAAAAAAAAEgAAAEAAAAAAAAAAAAAAAAAACA
        |# v9
        |overwrite restore=7 schema=${schema2}
        |part-J6-0.parquet${T}_sz=z:869;_rc=r:16;id=l:0:19;v=l:0:38;_dv=v:dv-D1.bin;_dvc=c:2
        |""".stripMargin,
      "dml_clone" -> s"""|# v1
        |overwrite clone=${b64(s"$root/dml@7")} schema=${schema2}
        |$root/dml/part-J1-0.parquet${T}_sz=z:869;_rc=r:16;id=l:0:19;v=l:0:38;_dv=v:$root/dml/_dv/dv-D1.bin;_dvc=c:2
        |""".stripMargin,
      "sf" -> s"""|# v1
        |append schema=${schema1}
        |part-J1-0.parquet${T}id=l:0:4;v=l:0:8
        |# v2
        |append parent=1 schema=${schema1}
        |part-J2-0.parquet${T}id=l:5:8;v=l:10:16
        |# v3
        |replace parent=2 datachange=false statsfill schema=${schema1}
        |-part-J1-0.parquet
        |-part-J2-0.parquet
        |part-J1-0.parquet${T}id=l:0:4;v=l:0:8;_sz=z:761;_rc=r:5
        |part-J2-0.parquet${T}id=l:5:8;v=l:10:16;_sz=z:757;_rc=r:4
        |""".stripMargin,
      "ing" -> s"""|# v1
        |append schema=${schema1}
        |part-J1-0.parquet${T}_sz=z:747;_rc=r:2;id=l:0:1;v=l:0:2
        |# v2
        |append parent=1 txn=ingest-d55c3a1d1fd523ea1e01f920 ingest=YS5qc29uCmIuanNvbg schema=${schema2}
        |part-J2-0.parquet${T}_sz=z:743;_rc=r:1;id=l:7:7;v=l:14:14
        |part-J2-1.parquet${T}_sz=z:742;_rc=r:1;id=l:8:8;v=l:16:16
        |""".stripMargin,
      "alt" -> s"""|# v1
        |append schema=${schema3}
        |part-J1-0.parquet${T}_sz=z:982;_rc=r:3;id=l:0:2;n=i:0:2;w=l:1:3
        |# v2
        |overwrite datachange=false alter=rename-dz53Mg schema=${schema4}
        |part-J1-0.parquet${T}_sz=z:982;_rc=r:3;id=l:0:2;n=i:0:2;w=l:1:3
        |# v3
        |overwrite datachange=false alter=drop-dzI schema=${schema5}
        |part-J1-0.parquet${T}_sz=z:982;_rc=r:3;id=l:0:2;n=i:0:2;w=l:1:3
        |# v4
        |overwrite datachange=false alter=widen-bj5iaWdpbnQ schema=${schema6}
        |part-J1-0.parquet${T}_sz=z:982;_rc=r:3;id=l:0:2;n=i:0:2;w=l:1:3
        |""".stripMargin,
      "pub" -> s"""|# v1
        |append schema=${schema1}
        |part-J1-0.parquet${T}_sz=z:755;_rc=r:3;id=l:0:2;v=l:0:4
        |# v2
        |overwrite publish=YjFAMg schema=${schema1}
        |part-J1-0.parquet${T}_sz=z:755;_rc=r:3;id=l:0:2;v=l:0:4
        |part-J2-0.parquet${T}_sz=z:747;_rc=r:2;id=l:3:4;v=l:6:8
        |""".stripMargin,
      "mv" -> s"""|# v1
        |append mvv=1 mvfp=2:7568958322190333200 schema=${schema7}
        |part-J1-0.parquet${T}_sz=z:1033;_rc=r:2;k=l:1:2;mv_n=l:1:2;mv_sum=l:15:20
        |# v2
        |overwrite mvv=2 mvfp=3:-3086988087082559907 schema=${schema7}
        |part-J2-0.parquet${T}_sz=z:1088;_rc=r:3;k=l:1:3;mv_n=l:1:2;mv_sum=l:3:21
        |""".stripMargin,
      "bk" -> s"""|# v1
        |append buckets=aWQ6Mg schema=${schema2}
        |# v2
        |append parent=1 buckets=aWQ6Mg schema=${schema2}
        |part-sql-0-b0-S1.parquet${T}_sz=z:527;_rc=r:3;id=l:0:4;v=l:0:8;_bk=k:0
        |part-sql-0-b1-S2.parquet${T}_sz=z:527;_rc=r:3;id=l:1:5;v=l:2:10;_bk=k:1
        |""".stripMargin,
      "mor" -> s"""|# v1
        |append schema=${schema2}
        |# v2
        |append parent=1 schema=${schema2}
        |part-sql-0-S1.parquet${T}_sz=z:541;_rc=r:6;id=l:0:5;v=l:0:5
        |# v3
        |replace parent=2 schema=${schema2}
        |-part-sql-0-S1.parquet
        |part-sql-0-S1.parquet${T}_sz=z:541;_rc=r:6;id=l:0:5;v=l:0:5;_dv=v:dv-D1.bin;_dvc=c:1
        |part-sql-0-S2.parquet${T}_sz=z:510;_rc=r:1;id=l:2:2;v=l:-1:-1
        |""".stripMargin,
      "md" -> s"""|# v1
        |append schema=${schema9}
        |# v2
        |append parent=1 schema=${schema9}
        |part-sql-0-S1.parquet${T}_sz=z:347;_rc=r:10;id=l:0:9
        |# v3
        |append parent=2 schema=${schema9}
        |part-sql-0-S2.parquet${T}_sz=z:347;_rc=r:10;id=l:10:19
        |# v4
        |replace parent=3 schema=${schema9}
        |-part-sql-0-S1.parquet
        |""".stripMargin
    )
  }
}
