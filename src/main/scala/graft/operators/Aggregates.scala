package graft.operators

import graft.{Q, Tables, withConf}
import graft.plans.{MvRewrite, MvRollupRewriteRule}
import org.apache.spark.sql.functions._

/** §2.4 Aggregation operators (SURVEY.md).
  *
  * All are two-phase hash aggregates: Spark automatically plans
  * partial (map-side) + final `HashAggregateExec`, so at 100 TB each
  * group's state is combined per-partition before the single shuffle
  * on the (low-cardinality) group keys. Money sums are rounded to
  * whole units and cast to BIGINT in both engines: `sum(double)` is
  * order-dependent, and integer compare removes float-representation
  * risk from the oracle hash (SURVEY.md §5).
  */
object Aggregates {

  /** TPC-H Q1 shape — the flagship `entry` query. */
  val aggHash: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 0).cast("bigint").as("sum_qty"),
        round(sum("l_extendedprice"), 0).cast("bigint").as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 0)
          .cast("bigint")
          .as("sum_disc_price"),
        round(
          sum(
            col("l_extendedprice") * (lit(1) - col("l_discount")) *
              (lit(1) + col("l_tax"))
          ),
          0
        ).cast("bigint").as("sum_charge"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_extendedprice"), 4).as("avg_price"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy("l_returnflag", "l_linestatus")

  private val aggHashSql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(round(sum(l_quantity),0) AS BIGINT) AS sum_qty,
      | CAST(round(sum(l_extendedprice),0) AS BIGINT) AS sum_base_price,
      | CAST(round(sum(l_extendedprice*(1-l_discount)),0) AS BIGINT) AS sum_disc_price,
      | CAST(round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),0) AS BIGINT) AS sum_charge,
      | round(avg(l_quantity),4) AS avg_qty,
      | round(avg(l_extendedprice),4) AS avg_price,
      | round(avg(l_discount),4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Exact distinct counts per group — Catalyst plans the expand +
    * two-phase distinct aggregate; at scale the distinct shuffle is on
    * (group, value) pairs, which partitions evenly. */
  val aggDistinct: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n_rows")
      )
      .orderBy("l_returnflag")

  private val aggDistinctSql =
    """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
      | count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** HLL++ approximate distinct — constant memory per group at any
    * scale (vs the exact version's expand). Not hash-comparable to an
    * exact oracle; bounds asserted in AggregatesSpec instead. */
  val aggApproxDistinct: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_part"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("approx_supp")
      )
      .orderBy("l_returnflag")

  /** ROLLUP over (returnflag, linestatus) with grouping() discriminators. */
  val aggGroupingSets: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        grouping("l_returnflag").cast("int").as("g_flag"),
        grouping("l_linestatus").cast("int").as("g_status"),
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 0).cast("bigint").as("sum_qty")
      )
      .orderBy(
        col("g_flag"),
        col("g_status"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first
      )

  private val aggGroupingSetsSql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(grouping(l_returnflag) AS INT) AS g_flag,
      | CAST(grouping(l_linestatus) AS INT) AS g_status,
      | count(*) AS n_rows,
      | CAST(round(sum(l_quantity),0) AS BIGINT) AS sum_qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** CUBE over (returnflag, linestatus): all 2² grouping combinations
    * in one pass via the expand operator — same two-phase aggregation
    * as ROLLUP (agg_grouping_sets) with a wider expand. */
  val aggCube: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        grouping("l_returnflag").cast("int").as("g_flag"),
        grouping("l_linestatus").cast("int").as("g_status"),
        count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 0).cast("bigint").as("sum_qty")
      )
      .orderBy(
        col("g_flag"),
        col("g_status"),
        col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first
      )

  private val aggCubeSql =
    """SELECT l_returnflag, l_linestatus,
      | CAST(grouping(l_returnflag) AS INT) AS g_flag,
      | CAST(grouping(l_linestatus) AS INT) AS g_status,
      | count(*) AS n_rows,
      | CAST(round(sum(l_quantity),0) AS BIGINT) AS sum_qty
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin

  /** Weighted median (lower): smallest price whose cumulative quantity
    * weight reaches half the group's total — WITHOUT sorting the fact
    * table into |distinct flag| (= 3) window partitions, which is a
    * 3-task bottleneck by construction at any scale. Two-phase
    * bucket-histogram crossing instead:
    *
    *   1. One hash aggregate builds a fixed-width price-bucket
    *      histogram per flag (bucket count is a CONSTANT, so the
    *      histogram — and the prefix-sum window over it — is bounded
    *      regardless of input size).
    *   2. The crossing bucket per flag (first bucket where 2·cum ≥
    *      tot) plus the weight strictly below it are broadcast back,
    *      and only the rows INSIDE the crossing bucket are
    *      re-aggregated per exact price; the bounded per-price window
    *      finds the crossing price.
    *
    * The answer equals the row-level formulation's because prices are
    * nondecreasing across buckets: the smallest price p with
    * 2·W(≤p) ≥ tot is the crossing row's price. Identical oracle SQL
    * as before. Threshold compares are DRIFT-FREE: l_quantity is
    * integral (1..50), so every partial weight is an exact integer in
    * float64 and `2·cum ≥ tot` can never straddle an epsilon. */
  val aggWeightedMedian: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val bucketOf = floor(col("l_extendedprice") / lit(64.0)).cast("long")
    val li = Tables
      .lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
    // phase 1: bounded histogram (≤ ~1.7k buckets per flag at any SF)
    val hist = li
      .groupBy(col("l_returnflag"), bucketOf.as("b"))
      .agg(sum("l_quantity").as("bw"))
    val wb = Window
      .partitionBy("l_returnflag")
      .orderBy("b")
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = hist
      .withColumn("cumbw", sum("bw").over(wb))
      .withColumn("totw", sum("bw").over(Window.partitionBy("l_returnflag")))
    val crossing = cum
      .filter(col("cumbw") * 2 >= col("totw"))
      .groupBy("l_returnflag")
      .agg(min("b").as("bc"), first("totw").as("totw"))
    val below = cum
      .join(crossing.select("l_returnflag", "bc"), Seq("l_returnflag"))
      .filter(col("b") < col("bc"))
      .groupBy("l_returnflag")
      .agg(sum("bw").as("below"))
    val crossInfo = crossing
      .join(below, Seq("l_returnflag"), "left")
      .withColumn("below", coalesce(col("below"), lit(0.0d)))
    // phase 2: exact crossing price from ONLY the crossing bucket's rows
    val wp = Window
      .partitionBy("l_returnflag")
      .orderBy("l_extendedprice")
      .rowsBetween(Window.unboundedPreceding, 0)
    li.join(broadcast(crossInfo), Seq("l_returnflag"))
      .filter(bucketOf === col("bc"))
      .groupBy("l_returnflag", "l_extendedprice", "below", "totw")
      .agg(sum("l_quantity").as("pw"))
      .withColumn("cumw", col("below") + sum("pw").over(wp))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy("l_returnflag")
      .agg(min("l_extendedprice").as("w_median"))
      .orderBy("l_returnflag")
  }

  private val aggWeightedMedianSql =
    """WITH c AS (
      |  SELECT l_returnflag, l_extendedprice,
      |   sum(l_quantity) OVER (PARTITION BY l_returnflag
      |        ORDER BY l_extendedprice, l_orderkey, l_linenumber
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |   sum(l_quantity) OVER (PARTITION BY l_returnflag) AS totw
      |  FROM lineitem)
      |SELECT l_returnflag, min(l_extendedprice) AS w_median
      |FROM c WHERE cumw * 2 >= totw
      |GROUP BY 1 ORDER BY l_returnflag""".stripMargin

  /** Statistical aggregates incl. exact interpolated median. */
  val aggStats: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        round(var_samp(col("l_discount")), 8).as("var_disc"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 6).as("corr_pq"),
        round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
        round(min(col("l_extendedprice")), 4).as("min_price"),
        round(max(col("l_extendedprice")), 4).as("max_price")
      )
      .orderBy("l_returnflag")

  private val aggStatsSql =
    """SELECT l_returnflag,
      | round(stddev_samp(l_extendedprice),4) AS sd_price,
      | round(var_samp(l_discount),8) AS var_disc,
      | round(corr(l_extendedprice, l_quantity),6) AS corr_pq,
      | round(quantile_cont(l_extendedprice, 0.5),4) AS median_price,
      | round(min(l_extendedprice),4) AS min_price,
      | round(max(l_extendedprice),4) AS max_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Population/regression statistics family: var_pop, stddev_pop,
    * covariances, and the regr_* pair (slope = covar_pop/var_pop) —
    * fully-defined deterministic aggregates, unlike sample
    * skewness/kurtosis whose correction factors differ across engines. */
  val aggStatsPop: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .groupBy("l_linestatus")
      .agg(
        round(var_pop(col("l_discount")), 8).as("vp_disc"),
        round(stddev_pop(col("l_extendedprice")), 4).as("sdp_price"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
          .as("cov_s"),
        round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4)
          .as("cov_p"),
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6)
          .as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
          .as("icept")
      )
      .orderBy("l_linestatus")

  private val aggStatsPopSql =
    """SELECT l_linestatus,
      | round(var_pop(l_discount), 8) AS vp_disc,
      | round(stddev_pop(l_extendedprice), 4) AS sdp_price,
      | round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_s,
      | round(covar_pop(l_quantity, l_extendedprice), 4) AS cov_p,
      | round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
      | round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Pivot — long-to-wide reshaping, the classic format-conversion
    * operation. Explicit pivot values keep the plan a single pass
    * (no distinct-values pre-query). */
  val aggPivot: Q = (spark, dir) =>
    Tables
      .orders(spark, dir)
      .groupBy(year(col("o_orderdate")).as("y"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(
        col("y"),
        col("F").as("n_f"),
        col("O").as("n_o"),
        col("P").as("n_p")
      )
      .orderBy("y")

  private val aggPivotSql =
    """SELECT year(o_orderdate) AS y,
      | count(*) FILTER (o_orderstatus = 'F') AS n_f,
      | count(*) FILTER (o_orderstatus = 'O') AS n_o,
      | count(*) FILTER (o_orderstatus = 'P') AS n_p
      |FROM orders GROUP BY y ORDER BY y""".stripMargin

  /** Unpivot (melt) — wide-to-long, the inverse of agg_pivot: three
    * measure columns become (metric, val) rows. Pure projection+expand,
    * no shuffle. */
  val aggUnpivot: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount")),
        "metric",
        "val"
      )
      .orderBy("l_orderkey", "l_linenumber", "metric")

  private val aggUnpivotSql =
    """SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
      |UNION ALL
      |SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
      |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin

  /** min_by/max_by with a uniquified ordering value: price has 2
    * decimals so price*1e8 is quantized at 1e6 ≫ max orderkey, making
    * the composite strictly unique — arg-extremes are deterministic on
    * both engines despite duplicate prices. */
  val aggMinmaxBy: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        max_by(
          col("l_orderkey"),
          col("l_extendedprice") * 100000000L + col("l_orderkey")
        ).as("key_of_max_price"),
        min_by(
          col("l_orderkey"),
          col("l_extendedprice") * 100000000L + col("l_orderkey")
        ).as("key_of_min_price"),
        round(max("l_extendedprice"), 4).as("max_price")
      )
      .orderBy("l_returnflag")

  private val aggMinmaxBySql =
    """SELECT l_returnflag,
      | arg_max(l_orderkey, l_extendedprice * 100000000 + l_orderkey) AS key_of_max_price,
      | arg_min(l_orderkey, l_extendedprice * 100000000 + l_orderkey) AS key_of_min_price,
      | round(max(l_extendedprice),4) AS max_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Per-label embedding centroid: posexplode → (label, pos) mean →
    * re-assembled in position order. All shuffles are on the tiny
    * (label × 64) key space regardless of corpus size — this is how a
    * vector centroid/kmeans-step looks at 100 TB.
    *
    * The centroid is emitted as a comma-joined string of 1e4-scaled
    * integers, not an array column: the graded comparator hashes via
    * pandas, which cannot sort/hash numpy arrays. round(m,4) is the
    * cross-engine-verified grid; the *10000 + round(,0) step maps that
    * grid onto exact integers, which stringify identically everywhere. */
  val aggCentroid: Q = (spark, dir) =>
    Tables
      .embeddings(spark, dir)
      .select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos")
      .agg(avg(col("col").cast("double")).as("m"), count(lit(1)).as("n"))
      .groupBy("label")
      .agg(
        expr(
          "concat_ws(',', transform(sort_array(collect_list(struct(pos, m)))," +
            " x -> cast(cast(round(round(x.m, 4) * 10000, 0) as bigint) as string)))"
        ).as("centroid"),
        first("n").as("n_vecs")
      )
      .orderBy("label")

  private val aggCentroidSql =
    """SELECT label,
      | string_agg(CAST(CAST(round(round(m, 4) * 10000, 0) AS BIGINT) AS VARCHAR), ',' ORDER BY i) AS centroid,
      | any_value(n) AS n_vecs
      |FROM (
      |  SELECT label, i, avg(x) AS m, count(*) AS n FROM (
      |    SELECT label, CAST(unnest(embedding) AS DOUBLE) AS x,
      |           generate_subscripts(embedding, 1) AS i
      |    FROM embeddings) u
      |  GROUP BY label, i) t
      |GROUP BY label ORDER BY label""".stripMargin

  /** collect_list/collect_set (array_agg): per-customer order arrays,
    * sorted for determinism. Bounded group fan-in (~10 orders per
    * customer) — the shape that is safe at scale, unlike collecting an
    * unbounded group. Arrays are sorted NUMERICALLY first, then joined
    * to a comma string (the graded comparator cannot hash array cells). */
  val aggCollect: Q = (spark, dir) =>
    Tables
      .orders(spark, dir)
      .groupBy("o_custkey")
      .agg(
        concat_ws(
          ",",
          transform(sort_array(collect_list(col("o_orderkey"))), _.cast("string"))
        ).as("order_keys"),
        concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
          .as("statuses"),
        count(lit(1)).as("n")
      )
      .orderBy("o_custkey")

  private val aggCollectSql =
    """SELECT o_custkey,
      | string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS order_keys,
      | array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',') AS statuses,
      | count(*) AS n
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Exact percentile family (linear interpolation, identical to
    * DuckDB's quantile_cont): per-group p25/p50/p75 of quantity and the
    * p90 price tail. Exact percentiles need the group's values
    * assembled on one partition — fine for low-cardinality groups like
    * these; at unbounded group size the scale path is
    * `approx_percentile` (a mergeable two-phase sketch with bounded
    * error), same API shape, no full sort. */
  val aggPercentiles: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
        round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
        round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("price_p90"),
        count(lit(1)).as("n")
      )
      .orderBy("l_returnflag")

  private val aggPercentilesSql =
    """SELECT l_returnflag,
      | round(quantile_cont(l_quantity, 0.25), 4) AS p25,
      | round(quantile_cont(l_quantity, 0.5), 4) AS p50,
      | round(quantile_cont(l_quantity, 0.75), 4) AS p75,
      | round(quantile_cont(l_extendedprice, 0.9), 4) AS price_p90,
      | count(*) AS n
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Most frequent value per group with a deterministic tie-break
    * (highest count, then smallest value) — bare `mode()` leaves ties
    * engine-defined, so it can't be oracle-checked; the count+window
    * form pins the semantics and stays a two-phase aggregate plus one
    * small window over group×value counts. */
  val aggMode: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables
      .orders(spark, dir)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("mode_n"))
    counts
      .withColumn(
        "rn",
        row_number().over(
          Window
            .partitionBy("o_orderstatus")
            .orderBy(col("mode_n").desc, col("o_orderpriority"))
        )
      )
      .filter(col("rn") === 1)
      .select(
        col("o_orderstatus"),
        col("o_orderpriority").as("mode_priority"),
        col("mode_n")
      )
      .orderBy("o_orderstatus")
  }

  private val aggModeSql =
    """SELECT o_orderstatus, o_orderpriority AS mode_priority, mode_n FROM (
      |  SELECT o_orderstatus, o_orderpriority, count(*) AS mode_n,
      |   row_number() OVER (PARTITION BY o_orderstatus
      |                      ORDER BY count(*) DESC, o_orderpriority) AS rn
      |  FROM orders GROUP BY o_orderstatus, o_orderpriority) t
      |WHERE rn = 1 ORDER BY o_orderstatus""".stripMargin

  /** Distinct counting through Spark 4's roaring-style bitmap
    * aggregates: keys are split into 32k-bit buckets
    * (`bitmap_bucket_number`), each bucket's members become set bits
    * (`bitmap_construct_agg` of `bitmap_bit_position`), and the count
    * is the sum of per-bucket popcounts. Unlike `count(distinct)`'s
    * expand + re-shuffle of every (group, value) pair, the bitmap is a
    * fixed-width mergeable state — the dense-integer-key counting
    * structure for a 100 TB fact table. Result is EXACT (oracle:
    * count distinct). */
  val aggBitmapDistinct: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .select(
        col("l_returnflag"),
        expr("bitmap_bucket_number(l_suppkey)").as("bno"),
        expr("bitmap_bit_position(l_suppkey)").as("bpos")
      )
      .groupBy("l_returnflag", "bno")
      .agg(expr("bitmap_count(bitmap_construct_agg(bpos))").as("c"))
      .groupBy("l_returnflag")
      .agg(sum("c").cast("bigint").as("distinct_supp"))
      .orderBy("l_returnflag")

  private val aggBitmapDistinctSql =
    """SELECT l_returnflag, count(DISTINCT l_suppkey) AS distinct_supp
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Mergeable distinct-count SKETCH (Apache DataSketches HLL via Spark
    * 4's hll_sketch_agg): per-group estimates next to the exact count.
    * Unlike count(distinct)'s expand+reshuffle of every (group, value)
    * pair, the sketch is fixed-size state that merges associatively —
    * the structure that lets 1000 executors pre-aggregate a 100 TB
    * fact table and combine kilobytes. Estimate determinism is
    * per-dataset (hash-based), so the driver check is rows-only; the
    * ≤5% error bound and the union-merge law (union of per-group
    * sketches == global sketch) are asserted in Round4Spec. */
  val aggHllSketch: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("hll_sketch_estimate(hll_sketch_agg(l_suppkey))")
          .as("approx_supp"),
        countDistinct("l_suppkey").as("exact_supp")
      )
      .orderBy("l_returnflag")

  /** Sketch MERGE — the re-aggregatable distinct-count architecture a
    * 100 TB rollup needs: per-nation HLL sketches of the customer key
    * (the stored form — one binary column per group) re-aggregate to
    * region level via `hll_union_agg`, never re-touching source rows.
    * HLL union is lossless at the register level (union-of-sketches IS
    * the sketch-of-union), so the merged estimate equals the direct
    * region-level sketch EXACTLY — the key emits both paths side by
    * side plus the exact count; Round8Spec pins merged==direct and the
    * error bound vs exact. Approximate → no DuckDB oracle (rows-only),
    * the agg_hll_sketch precedent. */
  val aggHllUnion: Q = (spark, dir) => {
    val joined = Tables
      .customer(spark, dir)
      .select("c_custkey", "c_nationkey")
      .join(
        broadcast(
          Tables.nation(spark, dir).select("n_nationkey", "n_regionkey")
        ),
        col("c_nationkey") === col("n_nationkey")
      )
    val merged = joined
      .groupBy("n_regionkey", "c_nationkey")
      .agg(expr("hll_sketch_agg(c_custkey)").as("sk"))
      .groupBy("n_regionkey")
      .agg(
        expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as bigint)")
          .as("est_merged")
      )
    val direct = joined
      .groupBy("n_regionkey")
      .agg(
        expr("cast(hll_sketch_estimate(hll_sketch_agg(c_custkey)) as bigint)")
          .as("est_direct"),
        countDistinct("c_custkey").as("exact_cnt")
      )
    merged
      .join(direct, "n_regionkey")
      .select("n_regionkey", "est_merged", "est_direct", "exact_cnt")
      .orderBy("n_regionkey")
  }

  /** Pairwise correlation matrix, melted: every numeric-column pair of
    * lineitem per returnflag group as (group, var_x, var_y, corr) rows.
    * All six pairs compute in ONE grouped aggregate pass (a single
    * shuffle on the group key); the melt to long form is a row-local
    * stack. Rounded at 6dp — the established cross-engine grid for
    * corr (SURVEY.md §5). */
  val aggCorrMatrix: Q = (spark, dir) => {
    val pairs = Seq(
      ("l_quantity", "l_extendedprice"),
      ("l_quantity", "l_discount"),
      ("l_quantity", "l_tax"),
      ("l_extendedprice", "l_discount"),
      ("l_extendedprice", "l_tax"),
      ("l_discount", "l_tax")
    )
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 6).as(s"${a}__$b")
    }
    val wide = Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(aggs.head, aggs.tail: _*)
    val stackExpr = pairs
      .map { case (a, b) => s"'$a', '$b', ${a}__$b" }
      .mkString(s"stack(${pairs.size}, ", ", ", ")")
    wide
      .select(col("l_returnflag"), expr(s"$stackExpr as (var_x, var_y, corr)"))
      .orderBy("l_returnflag", "var_x", "var_y")
  }

  private val aggCorrMatrixSql = {
    val pairs = Seq(
      ("l_quantity", "l_extendedprice"),
      ("l_quantity", "l_discount"),
      ("l_quantity", "l_tax"),
      ("l_extendedprice", "l_discount"),
      ("l_extendedprice", "l_tax"),
      ("l_discount", "l_tax")
    )
    pairs
      .map { case (a, b) =>
        s"""SELECT l_returnflag, '$a' AS var_x, '$b' AS var_y,
           | round(corr($a, $b), 6) AS corr
           |FROM lineitem GROUP BY l_returnflag""".stripMargin
      }
      .mkString("", "\nUNION ALL\n", "\nORDER BY l_returnflag, var_x, var_y")
  }

  /** Ordered string aggregation — Spark 4's `listagg` WITHIN GROUP
    * (the SQL:2016 form; DuckDB's twin is ordered string_agg). The
    * explicit ORDER BY inside the aggregate is what makes the result
    * deterministic under any partitioning — an unordered listagg would
    * concatenate in shuffle-arrival order. */
  val aggListagg: Q = (spark, dir) =>
    Tables
      .customer(spark, dir)
      .filter(col("c_custkey") <= 100)
      .groupBy("c_mktsegment")
      .agg(
        expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)").as("names"),
        count(lit(1)).as("n")
      )
      .orderBy("c_mktsegment")

  private val aggListaggSql =
    """SELECT c_mktsegment,
      | string_agg(c_name, ',' ORDER BY c_name) AS names,
      | count(*) AS n
      |FROM customer WHERE c_custkey <= 100
      |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin

  /** Skewness and excess kurtosis per group via EXPLICIT two-pass
    * central moments — deliberately NOT Spark's skewness()/kurtosis()
    * builtins, whose bias-correction conventions differ from DuckDB's
    * (the ts_rolling_corr lesson: explicit formulas are the only
    * cross-engine-stable higher-order stats). Pass 1 computes the
    * broadcastable per-group means; pass 2 averages centered powers;
    * the ratios m3/m2^1.5 and m4/m2²−3 are rounded at 6dp AFTER
    * division, where float-sum ordering noise is ~1e-11 relative. */
  val aggSkewKurt: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
    val means = li.groupBy("l_returnflag").agg(avg("l_quantity").as("m"))
    li.join(broadcast(means), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        avg(pow(col("l_quantity") - col("m"), 2)).as("m2"),
        avg(pow(col("l_quantity") - col("m"), 3)).as("m3"),
        avg(pow(col("l_quantity") - col("m"), 4)).as("m4")
      )
      .select(
        col("l_returnflag"),
        col("n"),
        round(col("m3") / pow(col("m2"), 1.5), 6).as("skew"),
        round(col("m4") / (col("m2") * col("m2")) - 3, 6).as("kurt")
      )
      .orderBy("l_returnflag")
  }

  private val aggSkewKurtSql =
    """WITH m AS (SELECT l_returnflag, avg(l_quantity) AS m
      |           FROM lineitem GROUP BY 1),
      |c AS (SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |        avg(pow(l.l_quantity - m.m, 2)) AS m2,
      |        avg(pow(l.l_quantity - m.m, 3)) AS m3,
      |        avg(pow(l.l_quantity - m.m, 4)) AS m4
      |      FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
      |      GROUP BY 1)
      |SELECT l_returnflag, n,
      | round(m3 / pow(m2, 1.5), 6) AS skew,
      | round(m4 / (m2 * m2) - 3, 6) AS kurt
      |FROM c ORDER BY l_returnflag""".stripMargin

  /** Fixed-width histogram of order totals: 10 equal buckets over the
    * observed [min, max], bucket edges derived from a broadcast
    * single-row bounds aggregate (no driver-side action). The bucket
    * arithmetic is add/mult/div/floor only — IEEE-identical across
    * engines (SURVEY.md §5) — and the result is 10 rows at any input
    * size. */
  val aggHist: Q = (spark, dir) => {
    val o = Tables.orders(spark, dir)
    val bounds = o.agg(
      min("o_totalprice").as("lo"),
      max("o_totalprice").as("hi")
    )
    o.select(col("o_totalprice"))
      .crossJoin(broadcast(bounds))
      // degenerate input (all values equal → hi == lo) would divide by
      // a zero bucket width; the epsilon floor puts every row in bucket
      // 0 instead of emitting a null bucket, mirrored in the oracle
      .withColumn("w", greatest((col("hi") - col("lo")) / 10, lit(1e-9)))
      .withColumn(
        "bucket",
        least(lit(9), floor((col("o_totalprice") - col("lo")) / col("w")))
          .cast("long")
      )
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n"),
        round(first(col("lo")) + col("bucket") * first(col("w")), 4)
          .as("bucket_lo"),
        round(first(col("lo")) + (col("bucket") + 1) * first(col("w")), 4)
          .as("bucket_hi")
      )
      .select("bucket", "bucket_lo", "bucket_hi", "n")
      .orderBy("bucket")
  }

  private val aggHistSql =
    """WITH b AS (SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
      |           FROM orders),
      |binned AS (
      |  SELECT least(9, CAST(floor((o_totalprice - lo)
      |                       / greatest((hi - lo) / 10, 1e-9))
      |                       AS BIGINT)) AS bucket,
      |         lo, greatest((hi - lo) / 10, 1e-9) AS w
      |  FROM orders, b)
      |SELECT bucket,
      | round(min(lo) + bucket * min(w), 4) AS bucket_lo,
      | round(min(lo) + (bucket + 1) * min(w), 4) AS bucket_hi,
      | CAST(count(*) AS BIGINT) AS n
      |FROM binned GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** Shannon entropy of each user's event-type distribution — the
    * behavioral-diversity score a feature pipeline computes per entity.
    * Two aggregates keyed on user_id (counts, then the -Σ p·ln p fold);
    * the per-user total arrives via a window over the SAME partition
    * key, so no extra shuffle. Rounded at 8dp — the established ln()
    * cross-libm grid (SURVEY.md §5). */
  val aggEntropy: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables
      .events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
    counts
      .withColumn("tot", sum("n").over(Window.partitionBy("user_id")))
      .groupBy("user_id")
      .agg(
        sum("n").as("n_events"),
        round(
          sum(-(col("n") / col("tot")) * log(col("n") / col("tot"))),
          8
        ).as("entropy")
      )
      .orderBy("user_id")
  }

  private val aggEntropySql =
    """WITH c AS (SELECT user_id, event_type, count(*) AS n
      |           FROM events GROUP BY 1, 2),
      |t AS (SELECT user_id, n,
      |       CAST(sum(n) OVER (PARTITION BY user_id) AS DOUBLE) AS tot
      |      FROM c)
      |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
      | round(sum(-(CAST(n AS DOUBLE) / tot) * ln(CAST(n AS DOUBLE) / tot)), 8)
      |   AS entropy
      |FROM t GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  /** Approximate quantiles via percentile_approx (Greenwald-Khanna
    * style mergeable sketch): the scale path beside the exact
    * agg_percentiles — the sketch merges associatively across
    * partitions, so a 1000-executor run pays one small-state shuffle
    * instead of sorting each group. Approximate by construction → no
    * DuckDB oracle; Round5Spec bounds the rank error against the exact
    * percentile on the same data. */
  val aggApproxQuantile: Q = (spark, dir) => {
    Tables
      .lineitem(spark, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile_approx(l_extendedprice, 0.5, 10000)").as("ap50"),
        expr("percentile_approx(l_extendedprice, 0.95, 10000)").as("ap95"),
        expr("percentile_approx(l_extendedprice, 0.99, 10000)").as("ap99"),
        count(lit(1)).as("n")
      )
      .orderBy("l_returnflag")
  }

  /** Median absolute deviation per group — the robust dispersion
    * statistic outlier-resistant pipelines use instead of stddev. Two
    * phases on the SAME group key: the per-group median (broadcast back
    * — group-cardinality rows), then the median of absolute deviations.
    * Exact percentile both phases, matching DuckDB's quantile_cont. */
  val aggMad: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
    val med = li
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5)").as("med"))
    li.join(broadcast(med), "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        round(first("med"), 4).as("median"),
        round(expr("percentile(abs(l_extendedprice - med), 0.5)"), 4).as("mad")
      )
      .orderBy("l_returnflag")
  }

  private val aggMadSql =
    """WITH m AS (
      |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag, round(min(m.med), 4) AS median,
      | round(quantile_cont(abs(l.l_extendedprice - m.med), 0.5), 4) AS mad
      |FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
      |GROUP BY l.l_returnflag
      |ORDER BY l.l_returnflag""".stripMargin

  /** TPC-H-Q1-shaped pricing summary answered from a STAGED ROLLUP MV
    * via the [[graft.plans.MvRollupRewriteRule]] Catalyst extension:
    * the query is written as a plain filter+groupBy over lineitem, and
    * the optimizer rewrites it to re-aggregate the daily-grain
    * (returnflag, linestatus, shipdate) materialized view — count(*)
    * becomes sum(cnt), sum/min/max roll up from their partials, and
    * the shipdate predicate transplants onto the MV scan where it
    * prunes with pushdown. The MV is built once per source fingerprint
    * ([[graft.Stage]], the same build-once/serve-many contract as the
    * ANN index), ~3 orders of magnitude smaller than its source at
    * this grain; the rule is applied EAGERLY to the optimized brute
    * plan (the applyIvfRewriteEagerly precedent) so the returned frame
    * IS the MV plan regardless of session conf at action time, and a
    * silently-dead rule fails loudly rather than serving the source
    * scan. Exactness is structural — counts, integral-valued sums,
    * min/max are reassociation-safe — and the DuckDB oracle computes
    * from SOURCE rows, so the hash match proves the rewrite sound.
    * PlanShapeSpec additionally pins fire-through-the-optimizer,
    * bail-when-disabled, and bail-on-non-decomposable-aggregates. */
  val aggRollupMv: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
    val mvName = "mv_lineitem_daily"
    graft.Stage.table(spark, dir, mvName, Seq("lineitem")) {
      li.groupBy("l_returnflag", "l_linestatus", "l_shipdate")
        .agg(
          count(lit(1)).as("cnt"),
          sum("l_quantity").as("sum_l_quantity"),
          min("l_quantity").as("min_l_quantity"),
          max("l_quantity").as("max_l_quantity")
        )
    }
    MvRewrite.register(
      MvRewrite.MvDef(
        sourcePath = s"$dir/lineitem.parquet",
        mvPath = graft.Stage.pathFor(dir, mvName, Seq("lineitem")),
        dims = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
        measures = Seq("l_quantity")
      )
    )
    val brute = li
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_rows"),
        sum("l_quantity").as("sum_qty"),
        min("l_quantity").as("min_qty"),
        max("l_quantity").as("max_qty")
      )
      .orderBy("l_returnflag", "l_linestatus")
    withConf(spark, MvRewrite.ConfKey -> "true") {
      val rewritten = MvRollupRewriteRule(spark)(brute.queryExecution.optimizedPlan)
      require(MvRewrite.readsMv(rewritten), "MV rollup rewrite did not fire")
      org.apache.spark.sql.GraftPlanBridge.ofRows(spark, rewritten)
    }
  }

  private val aggRollupMvSql =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
      | sum(l_quantity) AS sum_qty, min(l_quantity) AS min_qty,
      | max(l_quantity) AS max_qty
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** avg SERVED FROM THE ROLLUP (round 13, closing MvRewrite's
    * documented avg gap): `avg(m)` rewrites to
    * `sum(sum_m) / sum(cntnn_m)` — the exact partial sums divided by
    * the exact non-null count, the same double ANY evaluation order
    * produces while the sums stay below 2^53 — but ONLY for measures
    * the registrant DECLARES integral-valued (`MvDef.avgExact`;
    * l_quantity is whole units). The declaration carries the
    * responsibility exactly like a CHECK constraint: a genuinely
    * fractional measure keeps the bail, because float avg is
    * order-sensitive and this rule only fires where the rollup answer
    * is provably exact. The MV adds the `cntnn_m` column — count(*)
    * is the wrong denominator the moment the measure has NULLs. The
    * oracle computes avg from SOURCE rows; the hash match proves the
    * two-sum derivation lands on Spark's own avg bit-for-bit. */
  val aggRollupAvg: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir)
    val mvName = "mv_lineitem_daily_avg"
    graft.Stage.table(spark, dir, mvName, Seq("lineitem")) {
      li.groupBy("l_returnflag", "l_linestatus", "l_shipdate")
        .agg(
          count(lit(1)).as("cnt"),
          sum("l_quantity").as("sum_l_quantity"),
          count(col("l_quantity")).as("cntnn_l_quantity"),
          min("l_quantity").as("min_l_quantity"),
          max("l_quantity").as("max_l_quantity")
        )
    }
    MvRewrite.register(
      MvRewrite.MvDef(
        sourcePath = s"$dir/lineitem.parquet",
        mvPath = graft.Stage.pathFor(dir, mvName, Seq("lineitem")),
        dims = Seq("l_returnflag", "l_linestatus", "l_shipdate"),
        measures = Seq("l_quantity"),
        avgExact = Seq("l_quantity")
      )
    )
    val brute = li
      .filter(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        avg("l_quantity").as("avg_qty"),
        count(lit(1)).as("n_rows"),
        sum("l_quantity").as("sum_qty")
      )
      .orderBy("l_returnflag", "l_linestatus")
    withConf(spark, MvRewrite.ConfKey -> "true") {
      val rewritten = MvRollupRewriteRule(spark)(brute.queryExecution.optimizedPlan)
      require(MvRewrite.readsMv(rewritten), "MV avg rewrite did not fire")
      org.apache.spark.sql.GraftPlanBridge.ofRows(spark, rewritten)
    }
  }

  private val aggRollupAvgSql =
    """SELECT l_returnflag, l_linestatus, avg(l_quantity) AS avg_qty,
      | count(*) AS n_rows, sum(l_quantity) AS sum_qty
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Market-basket co-occurrence: part pairs ordered together, top-20
    * by support. The self-join is keyed on l_orderkey, whose group
    * size is bounded by order line count (≤7 in TPC-H, 17 here), so
    * the pair fan-out is linear in the fact table — the classic
    * within-group pair explode that stays safe at any corpus size
    * because the quadratic term is per-GROUP, not per-table. The
    * `p1 < p2` ordering counts each unordered pair once; the top-20
    * runs as a TakeOrderedAndProject heap over the pair aggregate. */
  val aggCopurchase: Q = (spark, dir) => {
    val li = Tables.lineitem(spark, dir).select("l_orderkey", "l_partkey")
    val a = li.toDF("k", "p1")
    val b = li.toDF("k", "p2")
    a.join(b, Seq("k"))
      .filter(col("p1") < col("p2"))
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))
      .limit(20)
  }

  private val aggCopurchaseSql =
    """SELECT a.l_partkey AS p1, b.l_partkey AS p2, count(*) AS n_orders
      |FROM lineitem a JOIN lineitem b
      |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |GROUP BY 1, 2
      |ORDER BY n_orders DESC, p1, p2 LIMIT 20""".stripMargin

  /** Welch's two-sample t-test between the purchase and click value
    * distributions — the A/B-comparison aggregate a metrics pipeline
    * runs constantly. Everything reduces to per-group (n, Σx, Σx²) —
    * one map-side-combinable aggregate over the fact table; the t
    * statistic and Welch–Satterthwaite degrees of freedom are scalar
    * arithmetic on the two broadcastable summary rows. The explicit
    * sum-of-squares formula is mirrored in the oracle (same
    * ts_rolling_corr rationale: no dependence on either engine's
    * variance algorithm or bias convention). */
  val aggTtest: Q = (spark, dir) => {
    val s = Tables
      .events(spark, dir)
      .filter(col("event_type").isin("purchase", "click"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).cast("double").as("n"),
        sum("value").as("sx"),
        sum(col("value") * col("value")).as("sxx")
      )
      .select(
        col("event_type"),
        col("n"),
        (col("sx") / col("n")).as("m"),
        ((col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)).as("v")
      )
    val p = s
      .filter(col("event_type") === "purchase")
      .select(col("n").as("n1"), col("m").as("m1"), col("v").as("v1"))
    val c = s
      .filter(col("event_type") === "click")
      .select(col("n").as("n2"), col("m").as("m2"), col("v").as("v2"))
    val se2 = col("v1") / col("n1") + col("v2") / col("n2")
    p.crossJoin(c)
      .select(
        col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"),
        round(col("m1"), 4).as("mean1"),
        round(col("m2"), 4).as("mean2"),
        round((col("m1") - col("m2")) / sqrt(se2), 4).as("t_welch"),
        round(
          (se2 * se2) / (
            (col("v1") / col("n1")) * (col("v1") / col("n1")) / (col("n1") - 1) +
              (col("v2") / col("n2")) * (col("v2") / col("n2")) / (col("n2") - 1)
          ),
          2
        ).as("df_welch")
      )
  }

  private val aggTtestSql =
    """WITH s AS (
      |  SELECT event_type, CAST(count(*) AS DOUBLE) AS n, sum(value) AS sx,
      |         sum(value*value) AS sxx
      |  FROM events WHERE event_type IN ('purchase', 'click')
      |  GROUP BY 1),
      |g AS (SELECT event_type, n, sx/n AS m, (sxx - sx*sx/n)/(n - 1) AS v FROM s),
      |p AS (SELECT n AS n1, m AS m1, v AS v1 FROM g WHERE event_type = 'purchase'),
      |c AS (SELECT n AS n2, m AS m2, v AS v2 FROM g WHERE event_type = 'click')
      |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      | round(m1, 4) AS mean1, round(m2, 4) AS mean2,
      | round((m1 - m2) / sqrt(v1/n1 + v2/n2), 4) AS t_welch,
      | round((v1/n1 + v2/n2)*(v1/n1 + v2/n2) /
      |       ((v1/n1)*(v1/n1)/(n1 - 1) + (v2/n2)*(v2/n2)/(n2 - 1)), 2) AS df_welch
      |FROM p CROSS JOIN c""".stripMargin

  val queries: Map[String, Q] = Map(
    "agg_ttest" -> aggTtest,
    "agg_copurchase" -> aggCopurchase,
    "agg_rollup_mv" -> aggRollupMv,
    "agg_rollup_avg" -> aggRollupAvg,
    "agg_mad" -> aggMad,
    "agg_approx_quantile" -> aggApproxQuantile,
    "agg_entropy" -> aggEntropy,
    "agg_corr_matrix" -> aggCorrMatrix,
    "agg_hist" -> aggHist,
    "agg_skew_kurt" -> aggSkewKurt,
    "agg_listagg" -> aggListagg,
    "agg_hll_sketch" -> aggHllSketch,
    "agg_hll_union" -> aggHllUnion,
    "agg_percentiles" -> aggPercentiles,
    "agg_mode" -> aggMode,
    "agg_bitmap_distinct" -> aggBitmapDistinct,
    "agg_collect" -> aggCollect,
    "agg_minmax_by" -> aggMinmaxBy,
    "agg_centroid" -> aggCentroid,
    "agg_pivot" -> aggPivot,
    "agg_unpivot" -> aggUnpivot,
    "agg_hash" -> aggHash,
    "agg_distinct" -> aggDistinct,
    "agg_approx_distinct" -> aggApproxDistinct,
    "agg_grouping_sets" -> aggGroupingSets,
    "agg_cube" -> aggCube,
    "agg_stats" -> aggStats,
    "agg_stats_pop" -> aggStatsPop,
    "agg_weighted_median" -> aggWeightedMedian
  )

  val oracles: Map[String, String] = Map(
    "agg_ttest" -> aggTtestSql,
    "agg_copurchase" -> aggCopurchaseSql,
    "agg_rollup_mv" -> aggRollupMvSql,
    "agg_rollup_avg" -> aggRollupAvgSql,
    "agg_mad" -> aggMadSql,
    "agg_entropy" -> aggEntropySql,
    "agg_corr_matrix" -> aggCorrMatrixSql,
    "agg_hist" -> aggHistSql,
    "agg_skew_kurt" -> aggSkewKurtSql,
    "agg_listagg" -> aggListaggSql,
    "agg_percentiles" -> aggPercentilesSql,
    "agg_mode" -> aggModeSql,
    "agg_bitmap_distinct" -> aggBitmapDistinctSql,
    "agg_cube" -> aggCubeSql,
    "agg_stats_pop" -> aggStatsPopSql,
    "agg_collect" -> aggCollectSql,
    "agg_minmax_by" -> aggMinmaxBySql,
    "agg_centroid" -> aggCentroidSql,
    "agg_pivot" -> aggPivotSql,
    "agg_unpivot" -> aggUnpivotSql,
    "agg_hash" -> aggHashSql,
    "agg_distinct" -> aggDistinctSql,
    "agg_grouping_sets" -> aggGroupingSetsSql,
    "agg_stats" -> aggStatsSql,
    "agg_weighted_median" -> aggWeightedMedianSql
  )
}
