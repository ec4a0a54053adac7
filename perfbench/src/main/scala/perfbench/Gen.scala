package perfbench

import java.io.File
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generators for every input the benchmark feeds the engine.
  * Nothing is read from outside the run: the TPC-H-shaped fixture tables
  * follow the schemas and value ranges of the repository's graded test
  * data (FIXTURES.md), but their values come from the seed. */
object Gen {
  private val Day = 86400000L
  private def ts(ms: Long) = new Timestamp(ms)
  private def money(x: Double): Double = math.round(x * 100.0) / 100.0
  private val Epoch1995 = java.time.LocalDate.of(1995, 1, 1).toEpochDay * Day
  private val Epoch2024 = java.time.LocalDate.of(2024, 1, 1).toEpochDay * Day

  val Flags = IndexedSeq("A", "N", "R")
  val Statuses = IndexedSeq("O", "F")
  private val Segments = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
  private val PartTypes = IndexedSeq("MEDIUM", "PROMO", "ECONOMY", "SMALL", "STANDARD", "LARGE")
  private val PartWords = IndexedSeq("anvil", "blue", "bolt", "cold", "gear", "gizmo", "hot", "large",
    "new", "old", "plate", "red", "ring", "rod", "small", "widget")
  private val Priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = IndexedSeq("signup", "click", "view", "purchase", "error")
  private val Langs = IndexedSeq("en", "en", "fr", "es", "zh", "de")
  private val DocWords = IndexedSeq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** Row counts of the fixture tables at scale factor `sf` (FIXTURES.md). */
  def fixtureRows(sf: Double): Map[String, Int] = {
    def n(base: Double) = math.max(1, math.round(base * sf).toInt)
    Map("region" -> 5, "nation" -> 25, "supplier" -> n(10000), "customer" -> n(150000),
      "part" -> n(200000), "orders" -> n(1500000), "lineitem" -> n(6000000),
      "events" -> n(1000000), "documents" -> math.max(500, n(50000)),
      "embeddings" -> math.max(500, n(20000)))
  }

  private def fixtureTable(name: String, rows: Map[String, Int], rng: Rng): (StructType, Seq[Row]) = {
    val n = rows(name)
    def f(c: String, t: DataType) = StructField(c, t, nullable = true)
    name match {
      case "region" =>
        (StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
          Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (r, i) => Row(i, r) })
      case "nation" =>
        (StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType), f("n_regionkey", IntegerType))),
          (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
      case "supplier" =>
        (StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType), f("s_nationkey", IntegerType),
          f("s_acctbal", DoubleType))),
          (0 until n).map(i => Row(i.toLong, f"Supplier#$i%09d", rng.nextInt(25),
            money(-999.99 + rng.nextDouble() * 10999.0))))
      case "customer" =>
        (StructType(Seq(f("c_custkey", LongType), f("c_name", StringType), f("c_nationkey", IntegerType),
          f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
          (0 until n).map(i => Row(i.toLong, f"Customer#$i%09d", rng.nextInt(25),
            money(-999.99 + rng.nextDouble() * 10999.0), rng.pick(Segments))))
      case "part" =>
        (StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
          f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))),
          (0 until n).map(i => Row(i.toLong, s"${rng.pick(PartWords)} ${rng.pick(PartWords)}",
            s"Brand#${1 + rng.nextInt(25)}", rng.pick(PartTypes), 1 + rng.nextInt(50),
            money(900.0 + (i % 1000) * 0.1))))
      case "orders" =>
        val span = java.time.LocalDate.of(2001, 8, 1).toEpochDay * Day - Epoch1995
        (StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType), f("o_orderstatus", StringType),
          f("o_totalprice", DoubleType), f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
          (0 until n).map(i => Row(i.toLong, rng.nextInt(rows("customer")).toLong,
            rng.pick(IndexedSeq("P", "O", "F")), money(1000.0 + rng.nextDouble() * 499000.0),
            ts(Epoch1995 + rng.nextInt((span / Day).toInt + 1) * Day), rng.pick(Priorities))))
      case "lineitem" =>
        (lineitemSchema, (0 until n).map { _ =>
          val qty = (1 + rng.nextInt(50)).toDouble
          Row(rng.nextInt(rows("orders")).toLong, rng.nextInt(rows("part")).toLong,
            rng.nextInt(rows("supplier")).toLong, 1 + rng.nextInt(7), qty,
            money(qty * (900.0 + rng.nextDouble() * 1300.0)), rng.nextInt(11) / 100.0,
            rng.nextInt(9) / 100.0, rng.pick(Flags), rng.pick(Statuses),
            ts(Epoch1995 + (1 + rng.nextInt(2498)) * Day))
        })
      case "events" =>
        val users = math.min(150, rows("customer"))
        val gap = 30L * Day / n
        var t = Epoch2024
        (StructType(Seq(f("event_id", LongType), f("ts", TimestampType), f("user_id", LongType),
          f("event_type", StringType), f("value", DoubleType), f("props", StringType))),
          (0 until n).map { i =>
            t += 1 + (rng.nextDouble() * 2 * gap).toLong
            Row(i.toLong, ts(t), rng.nextInt(users).toLong, rng.pick(EventTypes),
              money(0.01 + rng.nextDouble() * 490.0), s"""{"k": ${rng.nextInt(100)}}""")
          })
      case "documents" =>
        (StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
          f("source", StringType), f("n_chars", LongType))),
          (0 until n).map { i =>
            val text = Seq.fill(10 + rng.nextInt(90))(rng.pick(DocWords)).mkString(" ")
            Row(i.toLong, text, rng.pick(Langs), s"src${rng.nextInt(20)}", text.length.toLong)
          })
      case "embeddings" =>
        val centers = Array.fill(10)(Array.fill(64)(rng.gaussian()))
        (StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType, containsNull = true)),
          f("label", IntegerType))),
          (0 until n).map { i =>
            val label = rng.nextInt(10)
            val v = centers(label).map(_ + rng.gaussian() * 0.6)
            val norm = math.sqrt(v.map(x => x * x).sum)
            Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
          })
    }
  }

  val lineitemSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  val FixtureTables: Seq[String] = Seq("region", "nation", "supplier", "customer", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Writes every fixture table as one parquet file `<dir>/<name>.parquet`,
    * the layout the engine's table loaders read. */
  def writeFixtures(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val rows = fixtureRows(sf)
    val rng = new Rng(seed)
    FixtureTables.foreach { name =>
      val (schema, data) = fixtureTable(name, rows, rng.fork(name))
      writeSingleParquet(spark, schema, data, s"$dir/$name.parquet")
    }
  }

  def writeSingleParquet(spark: SparkSession, schema: StructType, data: Seq[Row], path: String): Unit = {
    val tmp = s"$path.tmp"
    spark.createDataFrame(data.asJava, schema).coalesce(1).write.parquet(tmp)
    val part = new File(tmp).listFiles().find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    if (!part.renameTo(new File(path))) sys.error(s"cannot move $part to $path")
    Files.deleteTree(new File(tmp))
  }

  /** Canonical bytes of every fixture table, for the determinism test. */
  def fixtureDigest(sf: Double, seed: Long): String = {
    val rows = fixtureRows(sf)
    val rng = new Rng(seed)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    FixtureTables.foreach { name =>
      fixtureTable(name, rows, rng.fork(name))._2.foreach(r => md.update(r.mkString("|").getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

object Files {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (file count, total bytes) of every regular file under `f`. */
  def usage(f: File): (Long, Long) =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(usage)
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    else if (f.isFile) (1L, f.length) else (0L, 0L)
}
