package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** The lineitem-shaped table both lakehouse workloads write and read, and
  * the harness's own model of it.
  *
  * Row `i` has `l_orderkey = i / 4` and `l_linenumber = i % 4 + 1`, so
  * `(l_orderkey, l_linenumber)` is a unique key and every op addresses
  * rows by key range. All other columns are pure functions of `i` and a
  * seed-drawn salt, in SQL (`rowsSql`) for the engine and nowhere else:
  * the model only tracks what the checksum reads, the quantity of every
  * live row. Quantities are small integers held in a double column, so
  * every sum is exact and order-independent. */
object Lake {
  val Lines = 4
  /** sf0.01 lineitem: 15,000 orders of 4 lines. */
  val Orders = 15000
  val Files = 16

  def qty(i: Long, salt: Long): Int = java.lang.Math.floorMod(i * 31 + salt, 50L).toInt + 1

  private def exprs(salt: Long): String =
    s"""id DIV $Lines AS l_orderkey,
       |pmod(id * 7919 + $salt, 20000) AS l_partkey,
       |pmod(id * 104729 + $salt, 1000) AS l_suppkey,
       |CAST(pmod(id, $Lines) + 1 AS INT) AS l_linenumber,
       |CAST(pmod(id * 31 + $salt, 50) + 1 AS DOUBLE) AS l_quantity,
       |round((pmod(id * 31 + $salt, 50) + 1) * (900.0 + pmod(id * 7919 + $salt, 1000) * 0.1), 2) AS l_extendedprice,
       |pmod(id * 13 + $salt, 11) / 100.0 AS l_discount,
       |pmod(id * 17 + $salt, 9) / 100.0 AS l_tax,
       |element_at(array('A', 'N', 'R'), CAST(pmod(id * 7 + $salt, 3) + 1 AS INT)) AS l_returnflag,
       |element_at(array('O', 'F'), CAST(pmod(id + $salt, 2) + 1 AS INT)) AS l_linestatus,
       |timestamp_seconds(788918400 + pmod(id * 9973 + $salt, 2498) * 86400) AS l_shipdate""".stripMargin

  /** Rows `lo until hi` as a SELECT over `range`. */
  def rowsSql(lo: Long, hi: Long, salt: Long): String = s"SELECT ${exprs(salt)} FROM range($lo, $hi)"

  val Columns =
    """l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, l_quantity DOUBLE,
      |l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING,
      |l_shipdate TIMESTAMP""".stripMargin

  /** Creates `table` and loads `rows` rows into it, key-clustered into
    * `Files` files. Returns the table's directory. */
  def create(spark: SparkSession, table: String, rows: Long, salt: Long, props: String = ""): String = {
    spark.sql(s"CREATE TABLE graft_cat.$table ($Columns) $props")
    spark.sql(rowsSql(0, rows, salt))
      .repartitionByRange(Files, org.apache.spark.sql.functions.col("l_orderkey"))
      .sortWithinPartitions("l_orderkey", "l_linenumber")
      .writeTo(s"graft_cat.$table").append()
    path(spark, table)
  }

  def path(spark: SparkSession, table: String): String =
    spark.conf.get("spark.sql.catalog.graft_cat.warehouse") + "/" + table.replace('.', '/')

  /** count, sum of (row index + 1), sum of quantity, quantity weighted by
    * `l_orderkey % 7 + 1`: moves when a row appears, vanishes, or changes
    * quantity, or when a change lands on the wrong row. */
  def checksumSql(from: String, where: String = "true"): String =
    s"""SELECT count(*), coalesce(sum(l_orderkey * $Lines + l_linenumber), 0),
       |coalesce(sum(CAST(l_quantity AS BIGINT)), 0),
       |coalesce(sum(CAST(l_quantity AS BIGINT) * (l_orderkey % 7 + 1)), 0)
       |FROM $from WHERE $where""".stripMargin

  def checksumOf(spark: SparkSession, sql: String): Seq[Long] = {
    val r = spark.sql(sql).head()
    (0 until 4).map(r.getLong)
  }

  def logUsage(dir: String): (Long, Long) = {
    def logs(f: File): Seq[File] =
      if (!f.isDirectory) Nil
      else if (f.getName == "_log") Seq(f)
      else Option(f.listFiles()).toSeq.flatten.flatMap(logs)
    logs(new File(dir)).map(perfbench.Files.usage).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}

/** Quantity of every row index, 0 for a row that is absent. */
final class LakeModel private (private var q: Array[Int], private var n: Int) {
  def copy(): LakeModel = new LakeModel(java.util.Arrays.copyOf(q, n), n)

  def orders: Long = n / Lake.Lines
  def get(i: Int): Int = if (i < n) q(i) else 0

  def set(i: Int, v: Int): Unit = {
    if (i >= q.length) q = java.util.Arrays.copyOf(q, math.max(i + 1, q.length * 2))
    q(i) = v
    n = math.max(n, i + 1)
  }

  /** Live rows of orders [lo, hi). */
  def rowRange(lo: Long, hi: Long): Range =
    (math.min(lo, orders) * Lake.Lines).toInt until (math.min(hi, orders) * Lake.Lines).toInt

  def checksum(rs: Range): Seq[Long] = {
    var c, k, s, w = 0L
    rs.foreach { i =>
      val v = q(i)
      if (v > 0) { c += 1; k += i + 1; s += v; w += v.toLong * ((i / Lake.Lines) % 7 + 1) }
    }
    Seq(c, k, s, w)
  }

  def checksum: Seq[Long] = checksum(0 until n)
}

object LakeModel {
  def load(rows: Int, salt: Long): LakeModel = {
    val q = Array.tabulate(rows)(i => Lake.qty(i, salt))
    new LakeModel(q, rows)
  }
}
