package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** Round-10 loader hardening (VERDICT r9 #5 + ADVICE r9): every
  * timestamp-bearing table loader dispatches on the parquet FOOTER
  * annotation, so a driver testdata regeneration that flips the
  * physical encoding (as happened to `events.ts` before round 9)
  * cannot break green keys — and an encoding we cannot identify fails
  * LOUDLY at load instead of producing off-by-1000 values downstream.
  */
class TablesSpec extends SparkTestBase {

  private def tsSchema(ann: Option[LogicalTypeAnnotation]): MessageType = {
    val base = Types.optional(INT64)
    val ts = ann.fold(base)(base.as).named("ts")
    Types.buildMessage().addField(ts).addField(
      Types.optional(INT64).named("v")
    ).named("m")
  }

  /** Writes a 3-row single-column-pair file with `ts` encoded per `ann`. */
  private def writeFixture(ann: Option[LogicalTypeAnnotation], vals: Seq[Long]): String = {
    val dir = Files.createTempDirectory("graft_tables_spec").toString
    val file = s"$dir/fixture.parquet"
    val schema = tsSchema(ann)
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new HPath(file), spark.sessionState.newHadoopConf()))
      .withType(schema)
      .build()
    val f = new SimpleGroupFactory(schema)
    try vals.zipWithIndex.foreach { case (v, i) =>
      w.write(f.newGroup().append("ts", v).append("v", i.toLong))
    } finally w.close()
    file
  }

  // 2024-03-01T12:34:56.123456789 UTC, in ns and µs
  private val ns = 1709296496123456789L
  private val us = ns / 1000

  test("TIMESTAMP(NANOS) generation loads with µs truncation") {
    val file = writeFixture(
      Some(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.NANOS)),
      Seq(ns, ns + 210, ns + 211) // ...789ns: +210 stays in-µs, +211 crosses
    )
    val df = Tables.loadWithTs(spark, file, "ts", TimestampType)
    assert(df.schema("ts").dataType == TimestampType)
    val got = df.orderBy("v").collect().map(_.getTimestamp(0).getTime)
    // ms-grain equality plus the µs grain via DuckDB-identical long math
    val micros = df
      .selectExpr("unix_micros(ts) AS m")
      .orderBy("m")
      .collect()
      .map(_.getLong(0))
    assert(micros.toSeq == Seq(us, us, us + 1), micros.toSeq)
    assert(got.forall(_ == us / 1000), got.toSeq)
  }

  test("TIMESTAMP(MICROS) generation loads natively, coerced to the declared type") {
    val file = writeFixture(
      Some(LogicalTypeAnnotation.timestampType(false, LogicalTypeAnnotation.TimeUnit.MICROS)),
      Seq(us, us + 1, us + 2)
    )
    val ltz = Tables.loadWithTs(spark, file, "ts", TimestampType)
    assert(ltz.schema("ts").dataType == TimestampType)
    val ntz = Tables.loadWithTs(spark, file, "ts", TimestampNTZType)
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    // same instants under the UTC pin, both routes
    val a = ltz.selectExpr("unix_micros(ts) AS m").orderBy("m").collect().map(_.getLong(0))
    assert(a.toSeq == Seq(us, us + 1, us + 2), a.toSeq)
  }

  test("annotation-free INT64 ts fails loudly instead of guessing the unit") {
    val file = writeFixture(None, Seq(us, us + 1, us + 2))
    val e = intercept[IllegalStateException] {
      Tables.loadWithTs(spark, file, "ts", TimestampType).collect()
    }
    assert(e.getMessage.contains("no TIMESTAMP annotation"), e.getMessage)
    assert(e.getMessage.contains("LongType"), e.getMessage)
  }

  test("current-generation loaders land on their pinned downstream types") {
    assert(Tables.events(spark, sf0001).schema("ts").dataType == TimestampType)
    assert(Tables.lineitem(spark, sf0001).schema("l_shipdate").dataType == TimestampNTZType)
    assert(Tables.orders(spark, sf0001).schema("o_orderdate").dataType == TimestampNTZType)
    // and the values survive the no-op coercion byte-identically
    val d = Tables.orders(spark, sf0001)
      .selectExpr("max(unix_micros(cast(o_orderdate AS timestamp))) AS m")
      .collect()(0).getLong(0)
    val raw = spark.read.parquet(s"$sf0001/orders.parquet")
      .selectExpr("max(unix_micros(cast(o_orderdate AS timestamp))) AS m")
      .collect()(0).getLong(0)
    assert(d == raw)
  }

  // graft.withConf: the one save/set/restore of session confs
  private val confA = "spark.graft.test.with_conf_a"
  private val confB = "spark.graft.test.with_conf_b"

  private def cleanConf(body: => Unit): Unit =
    try body
    finally Seq(confA, confB).foreach(spark.conf.unset)

  test("withConf sets the value for the body and restores a previously set value") {
    cleanConf {
      spark.conf.set(confA, "old")
      assert(withConf(spark, confA -> "new")(spark.conf.get(confA)) == "new")
      assert(spark.conf.getOption(confA).contains("old"))
    }
  }

  test("withConf unsets a previously absent key again") {
    cleanConf {
      assert(withConf(spark, confA -> "new")(spark.conf.get(confA)) == "new")
      assert(spark.conf.getOption(confA).isEmpty)
    }
  }

  test("withConf restores set and absent keys when the body throws; the exception propagates") {
    cleanConf {
      spark.conf.set(confA, "old")
      val boom = new IllegalStateException("boom")
      val thrown = intercept[IllegalStateException] {
        withConf(spark, confA -> "new", confB -> "new")(throw boom)
      }
      assert(thrown eq boom)
      assert(spark.conf.getOption(confA).contains("old"))
      assert(spark.conf.getOption(confB).isEmpty)
    }
  }

  test("withConf with two keys sets both and restores both") {
    cleanConf {
      spark.conf.set(confA, "a0")
      spark.conf.set(confB, "b0")
      val seen = withConf(spark, confA -> "a1", confB -> "b1") {
        (spark.conf.get(confA), spark.conf.get(confB))
      }
      assert(seen == (("a1", "b1")))
      assert(spark.conf.getOption(confA).contains("a0"))
      assert(spark.conf.getOption(confB).contains("b0"))
    }
  }
}
