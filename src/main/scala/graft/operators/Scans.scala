package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** §2.1 Scans, sources, sinks (SURVEY.md), and the lakehouse SQL
  * surface of the snapshot catalog.
  *
  * Format-conversion entry/exit points. The CSV/JSON sources
  * round-trip a graded table through the format under test with an
  * explicit schema (schema-on-read), so the DuckDB oracle can check
  * them against the original parquet. The snapshot keys drive the
  * table format and its `graft_cat` SQL catalog: commits, time
  * travel, DML, layout and skipping, schema evolution, pushdowns.
  * All writes go to the JVM temp dir or the catalog's warehouse,
  * never into the graded data. The materialized-view lifecycle keys
  * live in [[MvKeys]], which shares the fixtures below.
  */
object Scans {

  private[operators] def tmp(name: String) =
    s"${sys.props("java.io.tmpdir")}/graft_io/$name"

  /** orders as `(o_orderkey, o_custkey, cents)` — the price in whole
    * cents, so sums stay exact long math — plus any `extra` columns
    * after them. */
  private[operators] def ordersCents(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      extra: org.apache.spark.sql.Column*
  ): org.apache.spark.sql.DataFrame =
    Tables
      .orders(spark, dir)
      .select(Seq(
        col("o_orderkey"),
        col("o_custkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents")) ++ extra: _*)

  /** events as `(event_id, ts, v)`, v the value in whole hundredths. */
  private[operators] def eventsV(
      spark: org.apache.spark.sql.SparkSession,
      dir: String
  ): org.apache.spark.sql.DataFrame =
    Tables
      .events(spark, dir)
      .select(
        col("event_id"),
        col("ts"),
        round(col("value") * 100).cast("long").as("v"))

  /** Run independent bail-matrix PROBES concurrently (optimization
    * round 20, guide §2.6 "overlap independent jobs", applied to
    * driver-side Catalyst work): a §5.6 bail matrix is N independent
    * parse/analyze/optimize passes over variant spellings of the
    * served query, each ~0.5 s of RuleExecutor, serialized only
    * because the driver called them sequentially. Each probe still
    * runs IN FULL and its `require` still gates the key — the matrix
    * stays exercised; only the wall-clock serialization between
    * probes is removed. Planning is thread-safe here: QueryExecution
    * phases run under `SparkSession.withActive`, the rewrite rule
    * reads conf through its captured session, and the serve-miss
    * diag sink is a ThreadLocal. The first failure rethrows
    * verbatim. */
  private[operators] def parProbes(probes: (() => Unit)*): Unit =
    if (probes.size <= 1) probes.foreach(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(probes.size)
      try {
        val fs = probes.map(p =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = p()
          }))
        fs.foreach(f =>
          try f.get()
          catch {
            case e: java.util.concurrent.ExecutionException => throw e.getCause
          })
      } finally pool.shutdown()
    }

  /** Full table scan with a stable total order. */
  val scanParquet: Q = (spark, dir) =>
    Tables.lineitem(spark, dir).orderBy("l_orderkey", "l_linenumber")

  /** Column-pruned, predicate-pushed scan: Catalyst pushes both the
    * projection and the filter into the parquet reader (visible as
    * PushedFilters/ReadSchema in the formatted plan — asserted in
    * PlanShapeSpec). */
  val scanPruned: Q = (spark, dir) =>
    Tables
      .lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")
      .filter(
        expr("l_shipdate < TIMESTAMP '1997-01-01'") &&
          col("l_extendedprice") > 20000
      )
      .orderBy("l_orderkey", "l_linenumber")

  private val nationSchema = StructType(
    Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)
    )
  )

  /** CSV round-trip with explicit schema-on-read. */
  val sourceCsv: Q = (spark, dir) => {
    val path = tmp("nation_csv")
    Tables
      .nation(spark, dir)
      .coalesce(1)
      .write
      .mode("overwrite")
      .option("header", "true")
      .csv(path)
    spark.read
      .schema(nationSchema)
      .option("header", "true")
      .csv(path)
      .orderBy("n_nationkey")
  }

  private val customerSchema = StructType(
    Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)
    )
  )

  /** JSON-lines round-trip; doubles survive exactly via shortest
    * round-trip rendering. */
  val sourceJson: Q = (spark, dir) => {
    val path = tmp("customer_json")
    Tables.customer(spark, dir).coalesce(4).write.mode("overwrite").json(path)
    spark.read
      .schema(customerSchema)
      .json(path)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
      .orderBy("c_custkey")
  }

  /** ORC round-trip — the other columnar lake format Spark reads
    * natively (same pushdown/pruning machinery as parquet). */
  val sourceOrc: Q = (spark, dir) => {
    val path = tmp("supplier_orc")
    Tables.supplier(spark, dir).write.mode("overwrite").orc(path)
    spark.read.orc(path).orderBy("s_suppkey")
  }

  /** Parquet sink round-trip (filter → write → re-read). */
  val sinkParquet: Q = (spark, dir) => {
    val path = tmp("lineitem_hi_qty")
    Tables
      .lineitem(spark, dir)
      .filter(col("l_quantity") > 45)
      .write
      .mode("overwrite")
      .parquet(path)
    spark.read
      .parquet(path)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Partitioned sink + pruned re-read: the filter on the partition
    * column prunes directories, not rows — the 100 TB layout pattern. */
  val sinkPartitioned: Q = (spark, dir) => {
    val path = tmp("orders_by_status")
    Tables
      .orders(spark, dir)
      .write
      .mode("overwrite")
      .partitionBy("o_orderstatus")
      .parquet(path)
    spark.read
      .parquet(path)
      .filter(col("o_orderstatus") === "O")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Fixed-width flat-file round trip — the mainframe-feed format a
    * data-integration tool meets first: nation serialized as padded
    * fixed-offset lines (key 4 | name 12 | region 4), written as plain
    * text, read back with `spark.read.text` and re-parsed by column
    * offsets. The oracle reads the original table, so the check is
    * byte-exact round-trip fidelity through the weakest format there
    * is. Parsing is substring/trim/cast — one codegen'd map pass, no
    * shuffle beyond the final presentation sort. */
  val sourceFixedWidth: Q = (spark, dir) => {
    val path = tmp("nation_fixed_width")
    Tables
      .nation(spark, dir)
      // lpad/rpad silently TRUNCATE over-width values — a fixed-width
      // serializer must fail loudly instead of corrupting the feed.
      // assert_true returns NULL on success and throws on violation,
      // so the filter keeps every valid row while refusing to write a
      // corrupted one (and, living in a Filter, it cannot be pruned
      // away with an unused projection column).
      .filter(
        expr(
          "assert_true(length(cast(n_nationkey as string)) <= 4" +
            " and length(n_name) <= 12" +
            " and length(cast(n_regionkey as string)) <= 4," +
            " 'fixed-width field overflow') is null"
        )
      )
      .select(
        concat(
          lpad(col("n_nationkey").cast("string"), 4, "0"),
          rpad(col("n_name"), 12, " "),
          lpad(col("n_regionkey").cast("string"), 4, "0")
        ).as("value")
      )
      .write
      .mode("overwrite")
      .text(path)
    spark.read
      .text(path)
      .select(
        substring(col("value"), 1, 4).cast("long").as("n_nationkey"),
        trim(substring(col("value"), 5, 12)).as("n_name"),
        substring(col("value"), 17, 4).cast("long").as("n_regionkey")
      )
      .orderBy("n_nationkey")
  }

  /** Exactly-once sink protocol, batch-checkable form: each "micro-
    * batch" writes its PARTIAL aggregate into a `batch_id=<N>`
    * partition with dynamic partition overwrite, so replaying a batch
    * (the crash-between-sink-write-and-offset-commit window where an
    * at-least-once sink duplicates) overwrites its own partition
    * instead of appending — idempotence keyed by Spark's stable
    * foreachBatch batchId. Batch 1 is deliberately applied TWICE here;
    * the read-back total still equals the plain aggregate, which is
    * exactly what the oracle checks. The true streaming form (injected
    * mid-stream crash + checkpoint restart on a real foreachBatch
    * query) is proven in StreamingSpec; this key gates the sink
    * protocol's arithmetic end to end. */
  val sinkExactlyOnce: Q = (spark, dir) => {
    val path = tmp("events_eos")
    val ev = Tables.events(spark, dir)
    def writeBatch(id: Int): Unit =
      ev.filter(col("event_id") % 2 === id)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("value").as("v"))
        .withColumn("batch_id", lit(id))
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    writeBatch(0)
    writeBatch(1)
    writeBatch(1) // replay: same partition overwritten, no dupes
    spark.read
      .parquet(path)
      .groupBy("user_id")
      .agg(
        sum("n").cast("long").as("n_events"),
        round(sum("v"), 4).as("sum_val")
      )
      .orderBy("user_id")
  }

  /** Schema evolution on read: two batches of one feed written with
    * different schemas (a column added in v2), unified by parquet
    * mergeSchema — missing columns null-fill, the read-side half of
    * the schema-drift posture (etl_schema_drift is the in-memory
    * half). */
  val sourceMergeSchema: Q = (spark, dir) => {
    val path = tmp("orders_evolving")
    val o = Tables.orders(spark, dir)
    o.filter(col("o_orderkey") % 2 === 0)
      .select("o_orderkey", "o_totalprice")
      .write
      .mode("overwrite")
      .parquet(s"$path/v=1")
    o.filter(col("o_orderkey") % 2 === 1)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .write
      .mode("overwrite")
      .parquet(s"$path/v=2")
    spark.read
      .option("mergeSchema", "true")
      .parquet(path)
      .select("o_orderkey", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** Small-files compaction: re-write the table at a target file count
    * (repartition before write) and read it back — the maintenance op
    * that keeps 100 TB layouts scannable (a scan's task count follows
    * the file layout; thousands of tiny files throttle every reader).
    * Content identity is the oracle; the file-count contract is
    * asserted in PipelineOpsSpec. */
  val etlCompact: Q = (spark, dir) => {
    val path = tmp("documents_compact")
    Tables
      .documents(spark, dir)
      .select("doc_id", "lang", "n_chars")
      .repartition(2)
      .write
      .mode("overwrite")
      .parquet(path)
    spark.read.parquet(path).orderBy("doc_id")
  }

  /** Codec-controlled sink: zstd-compressed parquet round-trip (snappy
    * is the default; zstd trades CPU for the ~30% smaller footprint
    * that matters at 100 TB of cold storage). Content identity is the
    * oracle; the codec is verified from the data-file names in
    * PipelineOpsSpec. */
  val sinkCodec: Q = (spark, dir) => {
    val path = tmp("lineitem_zstd")
    Tables
      .lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .write
      .mode("overwrite")
      .option("compression", "zstd")
      .parquet(path)
    spark.read.parquet(path).orderBy("l_orderkey", "l_linenumber")
  }

  /** CSV round-trip sink: write with header + explicit null marker +
    * the default ISO timestamp format, read back with an explicit schema
    * (inference would widen types) — the lossy-format contract a
    * format-conversion engine must pin down. Timestamps survive the
    * default writer/parser pair; doubles survive exactly because CSV writes the shortest
    * round-trippable decimal. Oracle = the original table, so the
    * round-trip itself is the assertion. */
  val sinkCsv: Q = (spark, dir) => {
    val path = tmp("orders_csv")
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write
      .mode("overwrite")
      .option("header", "true")
      .option("nullValue", "\\N")
      .csv(path)
    spark.read
      .schema(
        "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
          "o_totalprice DOUBLE, o_orderdate TIMESTAMP"
      )
      .option("header", "true")
      .option("nullValue", "\\N")
      .csv(path)
      .orderBy("o_orderkey")
  }

  /** JSON sink round-trip: write line-delimited JSON, read it back with
    * an explicit schema (schema-on-read, no inference pass over the
    * files) — the lossy-format twin of sink_csv for the JSON side.
    * Doubles survive via full-precision serialization; the timestamp
    * column round-trips through ISO-8601. */
  /** XML source round-trip (round 8): Spark 4 ships the previously
    * external spark-xml as a NATIVE format (`format("xml")`, rowTag
    * option), so XML joins csv/json/orc in the format-conversion
    * surface. Same shape as [[sinkJson]]: write a graded table as XML,
    * read it back with an explicit schema (schema-on-read — XML has no
    * types), oracle checks against the ORIGINAL table, so the gate is
    * round-trip fidelity including double precision and string
    * escaping (&amp;-class entities round-trip by the format's own
    * encoder). */
  val sourceXml: Q = (spark, dir) => {
    val path = tmp("customer_xml")
    Tables
      .customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .write
      .mode("overwrite")
      .option("rowTag", "cust")
      .format("xml")
      .save(path)
    spark.read
      .schema(
        "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING"
      )
      .option("rowTag", "cust")
      .format("xml")
      .load(path)
      .orderBy("c_custkey")
  }

  /** JDBC source end to end (round 12): the environment finally
    * carries a JDBC database — Derby ships in /opt/spark/jars and its
    * embedded driver is a complete in-process SQL engine — so the
    * long-standing environment-blocked gap closes with Spark's OWN
    * connector, not a stub. Write path: `format("jdbc")` batched
    * INSERTs (`batchsize`), explicit `createTableColumnTypes` so
    * strings land as VARCHAR (Derby's dialect default CLOB cannot be
    * compared or grouped). Read path: PARTITIONED parallel extraction —
    * `partitionColumn`/`lowerBound`/`upperBound`/`numPartitions=8`
    * turn the scan into 8 range-predicated queries fetched by 8 tasks
    * (`fetchsize` bounds each cursor) — plus the `c_acctbal > 0`
    * filter compiled into each query's WHERE clause (JdbcSpec pins
    * PushedFilters in the scan metadata and the 8-partition shape).
    * At 100 TB the same options are the extraction contract against a
    * server-mode RDBMS: parallelism = numPartitions, transfer bounded
    * by pushdown; only the URL changes. Oracle recomputes the
    * filtered projection from the original parquet, so the gate is
    * round-trip fidelity THROUGH the database including double
    * precision and negative-balance boundary rows. */
  val sourceJdbc: Q = (spark, dir) => {
    import graft.sources.DerbyJdbc
    val db = tmp("derby_customer_db")
    DerbyJdbc.fresh(db)
    val c = Tables
      .customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
    c.write
      .format("jdbc")
      .option("url", DerbyJdbc.url(db))
      .option("driver", DerbyJdbc.Driver)
      .option("dbtable", "CUSTOMER")
      .option("batchsize", "1000")
      .option(
        "createTableColumnTypes",
        "c_name VARCHAR(64), c_mktsegment VARCHAR(16)")
      .mode("overwrite")
      .save()
    // partition bounds from footer stats (guide §1.2): `c` is an
    // unfiltered projection of customer, so the base column's exact
    // footer min/max answer without the extra full-scan job
    val lo = Tables.minLong(spark, dir, "customer", "c_custkey")
    val hi = Tables.maxLong(spark, dir, "customer", "c_custkey")
    spark.read
      .format("jdbc")
      .option("url", DerbyJdbc.url(db))
      .option("driver", DerbyJdbc.Driver)
      .option("dbtable", "CUSTOMER")
      .option("partitionColumn", "c_custkey")
      .option("lowerBound", lo.toString)
      .option("upperBound", hi.toString)
      .option("numPartitions", "8")
      .option("fetchsize", "1000")
      .load()
      .filter(col("c_acctbal") > 0)
      .orderBy("c_custkey")
  }

  /** JDBC aggregate pushdown through the DSv2 catalog (round 12):
    * the same embedded-Derby database mounted as a Spark catalog
    * (`JDBCTableCatalog`, `pushDownAggregate=true`), then a GROUP BY
    * over `derby_src.APP.ORDERS` whose COUNT/SUM/MAX compile into the
    * remote query — the database aggregates, Spark receives one row
    * per group instead of the table (JdbcSpec pins PushedAggregates
    * and PushedGroupByExpressions in the scan description). This is
    * the transfer-bounding shape for warehouse offload at scale:
    * rows-over-the-wire is O(groups), not O(data). The ROUND and the
    * BIGINT cast sit ABOVE the pushed aggregate on the Spark side, so
    * remote numeric width differences can never leak into the gate.
    * Oracle recomputes the same GROUP BY from the original parquet. */
  val sourceJdbcPushdown: Q = (spark, dir) => {
    import graft.sources.DerbyJdbc
    val db = tmp("derby_orders_db")
    DerbyJdbc.fresh(db)
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .write
      .format("jdbc")
      .option("url", DerbyJdbc.url(db))
      .option("driver", DerbyJdbc.Driver)
      .option("dbtable", "ORDERS")
      .option("batchsize", "1000")
      .option("createTableColumnTypes", "o_orderstatus VARCHAR(4)")
      .mode("overwrite")
      .save()
    spark.conf.set(
      "spark.sql.catalog.derby_src",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    spark.conf.set("spark.sql.catalog.derby_src.url", DerbyJdbc.url(db))
    spark.conf.set("spark.sql.catalog.derby_src.driver", DerbyJdbc.Driver)
    spark.conf.set("spark.sql.catalog.derby_src.pushDownAggregate", "true")
    spark.sql(
      """SELECT o_orderstatus,
        |       CAST(COUNT(*) AS BIGINT) AS n_orders,
        |       ROUND(SUM(o_totalprice), 2) AS sum_price,
        |       MAX(o_orderkey) AS max_key
        |FROM derby_src.APP.ORDERS
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin)
  }

  /** Custom DataSource V2 connector end to end (round 8): orders
    * serialized as pipe-delimited flat files, read back through
    * [[graft.sources.GraftTblSource]] — a full TableProvider/Scan/
    * PartitionReader stack with REAL column pruning and filter
    * pushdown (`SupportsPushDownRequiredColumns` /
    * `SupportsPushDownFilters`): the status/price predicates are
    * evaluated inside the partition reader against the parsed line and
    * never surface as a Filter node, and the pruned read schema skips
    * the fields the query doesn't touch. 8 files → 8 input partitions
    * here; files beyond `split_bytes` (default
    * `spark.sql.files.maxPartitionBytes`) further split into byte
    * ranges with line-boundary ownership (round 10, Round10Spec), so a
    * feed of a few giant files no longer collapses to a few tasks. The
    * oracle
    * reads the ORIGINAL table with the same predicate, so the gate is
    * round-trip fidelity THROUGH the connector including the pushed
    * evaluation. PlanShapeSpec pins the scan description's
    * PushedFilters/ReadSchema and the absence of a residual Filter. */
  val sourceDsv2: Q = (spark, dir) => {
    val path = tmp("orders_graft_tbl")
    Tables
      .orders(spark, dir)
      .select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority"
      )
      .repartition(8)
      .select(
        concat_ws(
          "|",
          col("o_orderkey"),
          col("o_custkey"),
          col("o_orderstatus"),
          col("o_totalprice"),
          col("o_orderpriority")
        ).as("value")
      )
      .write
      .mode("overwrite")
      .text(path)
    spark.read
      .format("graft.sources.GraftTblSource")
      .schema(
        "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING," +
          " o_totalprice DOUBLE, o_orderpriority STRING"
      )
      .load(path)
      .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 150000.0)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Malformed-record quarantine (round 8): the PERMISSIVE read mode
    * every feed ingestion needs — a corrupted CSV batch (every
    * o_orderkey % 97 = 0 row serialized as a wrong-field-count line)
    * read with an explicit `_corrupt_record` column: good rows parse
    * normally, bad rows surface with their RAW LINE in the corrupt
    * column and nulls elsewhere, and NOTHING is silently dropped — the
    * audit aggregate proves every source row landed in exactly one of
    * the two buckets. FAILFAST would kill the job on row one;
    * DROPMALFORMED would lose rows invisibly; this is the posture that
    * scales: parse errors are data, routed to quarantine with full
    * provenance. One scan, one 2-group aggregate at any size.
    *
    * MEASURED SEMANTICS NOTE: corruption must live in a field the
    * query REQUIRES. Spark's CSV parser prunes to required columns
    * (`spark.sql.csv.parser.columnPruning.enabled`, on by default),
    * and under pruning a wrong-TOKEN-COUNT line is not malformed —
    * missing fields null-pad silently (first attempt here corrupted
    * the line shape and got 15000 rows with zero corrupt flags). What
    * is always malformed is a required field whose PARSE fails, so the
    * injector writes an unparseable totalprice and the aggregate
    * requires that column. This is the connector-documented behavior
    * ("corrupt records can be different based on required fields"),
    * pinned here so the trap stays visible. */
  val sourceCsvCorrupt: Q = (spark, dir) => {
    val path = tmp("orders_corrupt_csv")
    Tables
      .orders(spark, dir)
      .select(
        when(
          col("o_orderkey") % 97 === 0,
          concat_ws(
            ",",
            col("o_orderkey"),
            col("o_custkey"),
            col("o_orderstatus"),
            lit("NOT_A_NUMBER")
          )
        ).otherwise(
            concat_ws(
              ",",
              col("o_orderkey"),
              col("o_custkey"),
              col("o_orderstatus"),
              col("o_totalprice")
            )
          )
          .as("value")
      )
      .write
      .mode("overwrite")
      .text(path)
    spark.read
      .schema(
        "o_orderkey LONG, o_custkey LONG, o_orderstatus STRING," +
          " o_totalprice DOUBLE, _corrupt_record STRING"
      )
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)
      .groupBy(col("_corrupt_record").isNotNull.as("is_bad"))
      .agg(
        count(lit(1)).as("n"),
        round(sum(coalesce(col("o_totalprice"), lit(0.0))), 2)
          .as("sum_price")
      )
      .orderBy("is_bad")
  }

  /** The WRITE half of the custom connector (round 8): orders pushed
    * THROUGH [[graft.sources.GraftTblSource]]'s DataWriter/BatchWrite
    * stack — per-task-attempt temp files, driver-side rename-commit
    * (exactly one winner per partition), truncate-on-overwrite. TWO
    * generations are written: a full decoy, then the real filtered set
    * with a different partition count — so the read-back proves the
    * truncate dropped every file of the superseded generation (stale
    * files would surface as extra rows and fail the oracle's row
    * count). A null field round-trips via the empty-field marker
    * (format limitation shared with CSV's emptyValue: a non-null empty
    * string is indistinguishable from null). */
  val sinkDsv2: Q = (spark, dir) => {
    val path = tmp("orders_graft_tbl_sink")
    val fmt = "graft.sources.GraftTblSource"
    val base = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey"),
        col("o_custkey"),
        when(col("o_custkey") % 50 === 0, lit(null))
          .otherwise(col("o_orderpriority"))
          .as("prio"),
        col("o_totalprice")
      )
    base.write.format(fmt).mode("overwrite").save(path)
    base
      .filter(col("o_orderkey") % 3 === 0)
      .repartition(5)
      .write
      .format(fmt)
      .mode("overwrite")
      .save(path)
    spark.read
      .format(fmt)
      .schema(
        "o_orderkey LONG, o_custkey LONG, prio STRING, o_totalprice DOUBLE"
      )
      .load(path)
      .orderBy("o_orderkey")
  }

  val sinkJson: Q = (spark, dir) => {
    val path = tmp("customer_json")
    Tables
      .customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_mktsegment")
      .write
      .mode("overwrite")
      .json(path)
    spark.read
      .schema(
        "c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE, c_mktsegment STRING"
      )
      .json(path)
      .orderBy("c_custkey")
  }

  /** Raw-file ingestion via the `binaryFile` data source — Spark's
    * native path for bringing media/blob files into a DataFrame as
    * (path, modificationTime, length, content: binary). The corpus is
    * materialized as a text file first, then re-read as opaque bytes
    * and summarized; at scale this is the one-file-per-task pattern a
    * multimodal pipeline starts from (maxPartitionBytes governs file
    * grouping; no row-splitting inside a blob). Output is
    * path-independent (counts and byte totals only) so it is
    * oracle-checkable against the source table. */
  val sourceBinaryfile: Q = (spark, dir) => {
    val path = tmp("docs_binary")
    Tables
      .documents(spark, dir)
      .orderBy("doc_id")
      .select("text")
      .coalesce(1)
      .write
      .mode("overwrite")
      .text(path)
    spark.read
      .format("binaryFile")
      .option("pathGlobFilter", "*.txt")
      .load(path)
      .agg(
        count(lit(1)).as("n_files"),
        sum(length(col("content"))).cast("long").as("total_bytes")
      )
  }

  /** Shard-partitioned corpus export + manifest: the size-budgeted
    * shard assignment (etl_shard_assign) feeds a
    * `partitionBy(lang, shard)` parquet write — the layout a training
    * job consumes shard-by-shard — and the returned DataFrame is the
    * per-shard MANIFEST (doc count, char total, id range) computed
    * from the read-back files, i.e. it verifies what actually landed
    * on disk. At 100 TB the manifest is the unit of work-tracking:
    * bounded by shard count, never by corpus size. */
  val sinkManifest: Q = (spark, dir) => {
    val path = tmp("docs_sharded")
    Etl
      .etlShardAssign(spark, dir)
      .write
      .mode("overwrite")
      .partitionBy("lang", "shard")
      .parquet(path)
    spark.read
      .parquet(path)
      .groupBy("lang", "shard")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").cast("long").as("shard_chars"),
        min("doc_id").as("first_doc"),
        max("doc_id").as("last_doc")
      )
      .withColumn("shard", col("shard").cast("long"))
      .orderBy("lang", "shard")
  }

  private val sinkManifestSql =
    """WITH s AS (
      |  SELECT doc_id, lang, n_chars,
      |   (CAST(sum(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1)
      |     // 20000 AS shard
      |  FROM documents)
      |SELECT lang, shard, CAST(count(*) AS BIGINT) AS n_docs,
      | CAST(sum(n_chars) AS BIGINT) AS shard_chars,
      | min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM s GROUP BY 1, 2 ORDER BY lang, shard""".stripMargin

  /** Generated date-spine dimension: a gap-free calendar spanning the
    * fact table's date range, with the attributes reporting joins key
    * on (ISO week, weekday, quarter, month end). Generation is
    * `sequence` + `explode` from a one-row min/max aggregate — no
    * driver-side loop, and the spine is bounded by days-of-history at
    * any fact-table size. The standard gap-fill companion: left-join
    * facts onto the spine so absent days surface as nulls. */
  val sourceDatespine: Q = (spark, dir) => {
    val span = Tables
      .orders(spark, dir)
      .agg(
        to_date(min("o_orderdate")).as("lo"),
        to_date(max("o_orderdate")).as("hi")
      )
    span
      .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
      .select(
        col("day"),
        year(col("day")).as("y"),
        month(col("day")).as("m"),
        dayofmonth(col("day")).as("dom"),
        weekday(col("day")).as("wd"),
        weekofyear(col("day")).as("woy"),
        quarter(col("day")).as("q"),
        last_day(col("day")).as("month_end"),
        (weekday(col("day")) >= 5).as("is_weekend")
      )
      .orderBy("day")
  }

  private val sourceDatespineSql =
    """WITH span AS (
      |  SELECT CAST(min(o_orderdate) AS DATE) AS lo,
      |         CAST(max(o_orderdate) AS DATE) AS hi
      |  FROM orders),
      |d AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
      |      FROM span)
      |SELECT day, year(day) AS y, month(day) AS m, day(day) AS dom,
      | isodow(day) - 1 AS wd, weekofyear(day) AS woy, quarter(day) AS q,
      | last_day(day) AS month_end, isodow(day) - 1 >= 5 AS is_weekend
      |FROM d ORDER BY day""".stripMargin

  /** Catalog statistics collection — the ANALYZE story (round 8, the
    * r7 verdict's missing-gap #3). Registers the source parquet as an
    * external catalog table (metadata only, nothing written), runs
    * `ANALYZE TABLE … COMPUTE STATISTICS FOR COLUMNS`, and reports the
    * catalog's view of the data: per column, the table row count, null
    * count, and exact min/max (Spark computes these in one aggregate
    * pass; ndv is HLL-approximate so it is deliberately NOT emitted —
    * the emitted fields are exact and oracle-checkable). The point is
    * not the report: once a table carries ANALYZE stats and
    * `spark.sql.cbo.enabled` is on, every size-gated cost decision in
    * the engine — including AnnIvfRewrite's `auto` mode, which reads
    * `plan.stats.sizeInBytes` — sees selectivity-refined estimates
    * instead of raw file sizes (Round8Spec pins the gate flipping on
    * exactly this). At 100 TB that is the difference between "the
    * filtered corpus looks like the whole table" and a per-predicate
    * row-count estimate. The table name embeds the source fingerprint
    * ([[graft.Stage.fp]]) so a changed input maps to a fresh identity
    * and can never serve stale stats. */
  val statsAnalyze: Q = (spark, dir) => {
    Tables.lineitem(spark, dir) // pins session TZ; validates the source
    val tbl = s"graft_stats_lineitem_${graft.Stage.fp(dir, Seq("lineitem"))}"
    spark.sql(
      s"CREATE TABLE IF NOT EXISTS $tbl USING parquet LOCATION '$dir/lineitem.parquet'"
    )
    spark.sql(
      s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR COLUMNS " +
        "l_orderkey, l_quantity, l_extendedprice, l_discount"
    )
    val st = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(tbl))
      .stats
      .get
    val n = st.rowCount.get.toLong
    val rows = st.colStats.toSeq.map { case (c, cs) =>
      (
        c,
        n,
        cs.nullCount.map(_.toLong).getOrElse(0L),
        cs.min.get.toDouble,
        cs.max.get.toDouble
      )
    }
    import spark.implicits._
    rows
      .toDF("col_name", "n_rows", "null_cnt", "min_val", "max_val")
      .withColumn("min_val", round(col("min_val"), 2))
      .withColumn("max_val", round(col("max_val"), 2))
      .orderBy("col_name")
  }

  private val statsAnalyzeSql = {
    def one(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         | count(*) - count($c) AS null_cnt,
         | round(CAST(min($c) AS DOUBLE), 2) AS min_val,
         | round(CAST(max($c) AS DOUBLE), 2) AS max_val FROM lineitem""".stripMargin
    Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount")
      .map(one)
      .mkString("", "\nUNION ALL ", "\nORDER BY col_name")
  }

  /** Transactional snapshot-commit table (round 10): the storage half
    * of a table format, implemented from scratch on atomic rename —
    * see [[graft.sources.SnapshotLog]]. Two appended batches commit;
    * a third batch LANDS ITS DATA FILES but crashes before its
    * manifest (stageOnly) — the snapshot read must serve exactly the
    * two committed batches, proving readers resolve the manifest and
    * never the directory listing. The oracle recomputes both batches
    * from the source table, so the gate is commit-protocol visibility
    * plus round-trip fidelity. Concurrency (the optimistic version
    * race) and vacuum are pinned in SnapshotSpec. */
  val sinkSnapshotCommit: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 3 === 0))
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 3 === 1))
    // crashed writer: files land, manifest never does — must stay invisible
    SnapshotLog.stageOnly(spark, table, o.filter(col("o_orderkey") % 3 === 2))
    SnapshotLog.read(spark, table).orderBy("o_orderkey")
  }

  /** Snapshot-isolated time travel over the same log (round 10): v1/v2
    * append, v3 OVERWRITES — reading version 2 still serves the
    * pre-overwrite table while the latest read serves only v3's rows,
    * both from one result (version-tagged union) so a single hash
    * proves overwrite semantics AND old-snapshot isolation at once. */
  val sourceTimeTravel: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_tt")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 3 === 0))
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 3 === 1))
    SnapshotLog.commit(
      spark,
      table,
      o.filter(col("o_orderkey") % 3 === 2),
      overwrite = true
    )
    SnapshotLog
      .read(spark, table, Some(2))
      .withColumn("asof_version", lit(2))
      .union(
        SnapshotLog.read(spark, table).withColumn("asof_version", lit(3))
      )
      .orderBy("asof_version", "o_orderkey")
  }

  /** File-level data skipping from manifest stats (round 10): commits
    * land with per-file INT64/DOUBLE min/max lifted from the parquet
    * footer (metadata-only), and a range read resolves the manifest,
    * drops every provably-disjoint file, and row-filters the rest —
    * the table-format half of partition pruning, effective whenever
    * batches arrive key-clustered (range shards, time-ordered
    * ingestion). Three RANGE-sharded appends here; the [c1+1, c2]
    * probe touches only the middle batch's files (skip count pinned in
    * SnapshotSpec; the result is layout-independent, so the oracle is
    * the plain range SELECT). The single-row max() action mirrors the
    * accepted bounded two-phase pattern — it sizes the shards, it does
    * not iterate data. */
  val scanSnapshotPruned: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_rng")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") <= c1))
    SnapshotLog.commit(
      spark,
      table,
      o.filter(col("o_orderkey") > c1 && col("o_orderkey") <= c2)
    )
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") > c2))
    SnapshotLog
      .readPruned(spark, table, "o_orderkey", c1 + 1, c2)
      .orderBy("o_orderkey")
  }

  /** Registers the snapshot SQL catalog once per session (the catalog
    * instance is cached by Spark's CatalogManager at first use, so the
    * warehouse is a deterministic per-JVM path all keys share). A
    * session that registered `graft_cat` itself keeps its own
    * warehouse — resolve table paths with [[warehousePath]]. */
  private[operators] def sqlCatalog(spark: org.apache.spark.sql.SparkSession): String = {
    val cat = "graft_cat"
    if (spark.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      spark.conf
        .set(s"spark.sql.catalog.$cat", classOf[graft.sources.SnapshotCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp("sql_warehouse"))
    }
    cat
  }

  /** Directory of catalog table `main.<name>`, under the warehouse
    * the session's `graft_cat` is configured with — the resolution
    * [[graft.sources.SnapshotCatalog]] makes. */
  private[operators] def warehousePath(
      spark: org.apache.spark.sql.SparkSession,
      name: String
  ): String =
    s"${spark.conf.get(s"spark.sql.catalog.${sqlCatalog(spark)}.warehouse")}/main/$name"

  /** SQL SELECT over the snapshot catalog (round 11 late): the table
    * lands as three range-sharded appends through the commit protocol,
    * and the query reads it purely through `spark.sql` against
    * [[graft.sources.SnapshotCatalog]] — the pushed range predicate
    * drives manifest-stats file skipping at PLANNING time (only the
    * middle shard's files become input partitions; pinned in
    * CatalogSpec via the scan's files=k/n description), and the scan
    * reports EXACT row/byte statistics from the manifest riders to
    * Catalyst. The oracle recomputes the same aggregate from the source
    * table, so the hash proves fidelity THROUGH catalog resolution,
    * the executor-side parquet reader, and the pruning path. */
  val sqlSnapshotSelect: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val cat = sqlCatalog(spark)
    val table = warehousePath(spark, "orders_sqlsel")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") <= c1))
    SnapshotLog.commit(
      spark,
      table,
      o.filter(col("o_orderkey") > c1 && col("o_orderkey") <= c2)
    )
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") > c2))
    spark.sql(
      s"""SELECT o_custkey, count(*) AS cnt,
         |       CAST(round(sum(o_totalprice), 0) AS BIGINT) AS total
         |FROM $cat.main.orders_sqlsel
         |WHERE o_orderkey > $c1 AND o_orderkey <= $c2
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin
    )
  }

  /** SQL DDL + DML end-to-end (round 11 late): CREATE TABLE, two
    * INSERT INTO appends, INSERT OVERWRITE — every statement through
    * `spark.sql`, every write through the catalog's DSv2 task writers
    * landing attempt-unique parquet committed by manifest. The final
    * read must serve exactly the OVERWRITE's rows: a duplicated append
    * file, a lost truncate, or a visible loser attempt all break the
    * hash. */
  val sqlSnapshotInsert: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_sqlins"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_sql_orders_src")
    spark.sql(
      s"CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_sql_orders_src WHERE o_orderkey % 3 = 0")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_sql_orders_src WHERE o_orderkey % 3 = 1")
    spark.sql(
      s"INSERT OVERWRITE $t SELECT * FROM graft_sql_orders_src WHERE o_orderkey % 3 = 2")
    spark.sql(s"SELECT * FROM $t ORDER BY o_orderkey")
  }

  /** CTAS through the catalog (round 11 late): CREATE TABLE AS SELECT
    * materializes an aggregate into a snapshot table (v1 schema-only
    * commit + v2 data append under the hood), read back via SQL. */
  val sqlSnapshotCtas: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_ctas"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_sql_orders_src")
    spark.sql(
      s"""CREATE TABLE $t AS
         |SELECT o_custkey, count(*) AS cnt,
         |       CAST(round(sum(o_totalprice), 0) AS BIGINT) AS total
         |FROM graft_sql_orders_src GROUP BY o_custkey""".stripMargin
    )
    spark.sql(s"SELECT * FROM $t ORDER BY o_custkey")
  }

  /** SQL time travel (round 11 late): the all-SQL twin of
    * source_time_travel — appends at v2/v3, INSERT OVERWRITE at v4,
    * and one result unioning `VERSION AS OF 3` with the latest read so
    * a single hash proves overwrite semantics AND old-snapshot
    * isolation through the SQL surface. */
  val sqlSnapshotTimeTravel: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_sqltt"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_sql_orders_src")
    spark.sql(
      s"CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_sql_orders_src WHERE o_orderkey % 3 = 0")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_sql_orders_src WHERE o_orderkey % 3 = 1")
    spark.sql(
      s"INSERT OVERWRITE $t SELECT * FROM graft_sql_orders_src WHERE o_orderkey % 3 = 2")
    spark.sql(
      s"""SELECT *, 3 AS asof_version FROM $t VERSION AS OF 3
         |UNION ALL
         |SELECT *, 4 AS asof_version FROM $t
         |ORDER BY asof_version, o_orderkey""".stripMargin
    )
  }

  /** Catalog views end-to-end (round 13, gating the round-12
    * ViewCatalog): CREATE VIEW through `spark.sql` stores the
    * definition as TEXT in the catalog's `_views` metadata, and the
    * SECOND insert lands in the base table AFTER the view exists — the
    * final read through the view must therefore see BOTH batches,
    * proving the definition re-analyzes at the base table's current
    * tip (a frozen plan or materialized copy would serve only batch
    * one and break the hash). A view-over-view layered on top proves
    * nested resolution through the same path. The oracle recomputes
    * from the full source table. Lifecycle pins (create/load/alter/
    * rename/drop/SHOW VIEWS/shadow guards both directions) live in
    * CatalogSpec. */
  val sqlView: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_vwbase"
    spark.sql(s"DROP VIEW IF EXISTS $cat.main.orders_vw2")
    spark.sql(s"DROP VIEW IF EXISTS $cat.main.orders_vw")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_sql_orders_src")
    spark.sql(
      s"CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_sql_orders_src WHERE o_orderkey % 2 = 0")
    // DECIMAL sum: exact and order-independent — the two inserts land
    // the rows in a different order than the oracle's single scan, and
    // a DOUBLE sum's last-ulp drift would flip round() at .5
    spark.sql(
      s"""CREATE VIEW $cat.main.orders_vw AS
         |SELECT o_custkey, count(*) AS cnt,
         |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18, 2))), 0) AS BIGINT) AS total
         |FROM $t GROUP BY o_custkey""".stripMargin)
    spark.sql(
      s"""CREATE VIEW $cat.main.orders_vw2 AS
         |SELECT * FROM $cat.main.orders_vw WHERE cnt > 0""".stripMargin)
    // this batch lands AFTER both views exist: text re-analysis means
    // the read below must include it
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_sql_orders_src WHERE o_orderkey % 2 = 1")
    spark.sql(s"SELECT * FROM $cat.main.orders_vw2 ORDER BY o_custkey")
  }

  /** Transactional MERGE INTO, FILE-GRANULAR copy-on-write (round 11,
    * upgrading the round-10 full-overwrite): the table lands as three
    * range-sharded appends (key-clustered files with manifest stats),
    * the change set's keys select via [[graft.sources.SnapshotLog
    * .touchedFiles]] exactly the files whose stats admit a changed key,
    * only THOSE are rewritten through etl_merge's join dataflow, and
    * every untouched file carries into the new manifest by reference
    * (a `replace` delta commit) — a merge touching 0.1 % of a 100 TB
    * table now rewrites 0.1 % of it, not 100 %. The table keeps the
    * MERGE-invariant schema (custkey, name, acctbal, op), op starting
    * at 'keep': untouched files' rows are, by the skipping invariant,
    * precisely the rows the oracle classifies 'keep'. Pre-merge state
    * stays time-travel readable; the shard-granularity pin (untouched
    * file NAMES surviving into the new manifest) lives in SnapshotSpec.
    * Shares etl_merge's oracle verbatim, so the CoW path is proven
    * row-identical to the full-table dataflow. */
  val etlMergeSnapshot: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("customer_snapshot_merge")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val c = Tables
      .customer(spark, dir)
      .select(
        col("c_custkey").as("custkey"),
        col("c_name").as("name"),
        // oracle rounds every surviving balance; rounding at ingestion
        // keeps untouched (carried-by-reference) rows bit-identical
        round(col("c_acctbal"), 2).as("acctbal"),
        lit("keep").as("op")
      )
    // `custkey` is c_custkey renamed through a pure projection: the
    // base column's footer max answers identically (guide §1.2)
    val maxK = Tables.maxLong(spark, dir, "customer", "c_custkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    SnapshotLog.commit(spark, table, c.filter(col("custkey") <= c1))
    SnapshotLog.commit(
      spark,
      table,
      c.filter(col("custkey") > c1 && col("custkey") <= c2)
    )
    SnapshotLog.commit(spark, table, c.filter(col("custkey") > c2))
    // MERGE INTO table USING changes: source-derived change set, keys
    // drive file selection, dataflow runs on the admitted subset only
    val changes = Etl.customerChanges(Tables.customer(spark, dir))
    SnapshotLog.mergeCoW(
      spark,
      table,
      "custkey",
      changes.select("m_custkey"),
      base =>
        Etl.applyMergeChanges(
          base.select(
            col("custkey").as("c_custkey"),
            col("name").as("c_name"),
            col("acctbal").as("c_acctbal")
          ),
          changes
        )
    )
    SnapshotLog.read(spark, table).orderBy("custkey")
  }

  /** Change-data feed over the snapshot log (round 11): an append then
    * an overwrite, read back as row-level changes — the appended files
    * surface as `insert` at v2; the overwrite as delete-all + insert-all
    * at v3. File-granular CDC (O(changed files) IO, no snapshot diff),
    * the incremental feeder for MV maintenance; composition over
    * consecutive ranges and the CoW-replace diff are pinned in
    * SnapshotSpec/StreamingSpec. The oracle recomputes every change row
    * from the source table. */
  val sourceChanges: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_cdf")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 3 === 0))
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 3 === 1))
    SnapshotLog.commit(
      spark,
      table,
      o.filter(col("o_orderkey") % 3 === 2),
      overwrite = true
    )
    SnapshotLog
      .readChanges(spark, table, 1, 3)
      .orderBy("commit_version", "change_type", "o_orderkey")
  }

  /** Snapshot-table OPTIMIZE (round 11): eight micro-batch appends —
    * the small-file accretion every streaming ingestion and CoW merge
    * produces — then [[graft.sources.SnapshotLog.compact]] bin-packs
    * all of them into one file as a data-preserving `replace` commit.
    * At 100 TB un-compacted tables pay per-file open latency and
    * footer reads on every query; compaction is the maintenance op
    * that keeps the file count O(size/target), and because it commits
    * `datachange=false` the change feed is provably silent across it
    * (checked inline — the rows did not change, only their layout).
    * The read-back after compaction must be byte-identical to the
    * pre-compaction table, so the oracle is the plain source scan. */
  val sinkSnapshotCompact: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_opt")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    (0 to 7).foreach(i =>
      SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 8 === i))
    )
    val v0 = SnapshotLog.versions(spark, table).last
    val before = SnapshotLog.manifest(spark, table, v0).size
    val (v1, rewritten, carried) = SnapshotLog.compact(
      spark,
      table,
      smallerThanBytes = Long.MaxValue,
      filesOut = Some(1)
    )
    val after = SnapshotLog.manifest(spark, table, v1).size
    require(
      after < before && rewritten.size == before && carried.isEmpty,
      s"compaction must shrink the manifest: $before -> $after"
    )
    require(
      SnapshotLog.readChanges(spark, table, v0, v1).isEmpty,
      "a data-preserving rewrite must be invisible to the change feed"
    )
    SnapshotLog.read(spark, table).orderBy("o_orderkey")
  }

  /** Clustering rewrite driving file skipping (round 11): four
    * MODULO-sharded appends give every file a key range spanning the
    * whole table — manifest stats can prune nothing (checked inline).
    * `compact(sortBy = o_orderkey)` then range-clusters the rewrite,
    * so the new files carry tight disjoint footer ranges and the same
    * probe skips most of them (also checked inline) — the OPTIMIZE
    * ZORDER posture: at 100 TB, clustering is what turns footer stats
    * from dead weight into partition-pruning-grade file skipping for
    * ingestion orders that arrive unclustered. Skipping can only
    * exclude provably-disjoint files, so the result is
    * layout-independent and the oracle is the plain range SELECT. */
  val scanClusterPruned: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_cluster")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    // round-robin repartition inside each batch: the parquet scan's
    // splits are orderkey-contiguous, so without it every landed file
    // would accidentally arrive range-clustered and there'd be nothing
    // for the rewrite to fix
    (0 to 3).foreach(i =>
      SnapshotLog.commit(
        spark,
        table,
        o.filter(col("o_orderkey") % 4 === i).repartition(2)
      )
    )
    val (keptBefore, totalBefore) =
      SnapshotLog.prunedFiles(spark, table, "o_orderkey", c1 + 1, c2)
    require(
      keptBefore.size == totalBefore,
      "modulo-sharded layout must admit every file"
    )
    SnapshotLog.compact(
      spark,
      table,
      smallerThanBytes = Long.MaxValue,
      sortBy = Seq("o_orderkey"),
      filesOut = Some(6)
    )
    val (keptAfter, totalAfter) =
      SnapshotLog.prunedFiles(spark, table, "o_orderkey", c1 + 1, c2)
    require(
      keptAfter.size < totalAfter,
      s"clustered layout must skip files: kept ${keptAfter.size} of $totalAfter"
    )
    SnapshotLog.readPruned(spark, table, "o_orderkey", c1 + 1, c2)
      .orderBy("o_orderkey")
  }

  /** STRING-KEY Z-ORDER (round 12): the r11 verdict's #2 — equi-depth
    * z-order cuts came from approxQuantile, which rejects STRING
    * columns, yet string keys (doc source, lang, URL host) are the
    * natural clustering keys of a text corpus and the manifest already
    * carries short-string footer stats that prune after the rewrite.
    * [[graft.functions.ZCurve]] now ranks string columns by cuts from
    * a bounded seeded sample (sorted driver-side), so a (host, key)
    * z-cluster bounds every file in BOTH dimensions. Same inline
    * prune-flip contract as scan_zorder_pruned: after clustering from
    * round-robin arrival, a single-column range probe on EACH of the
    * string and the numeric key independently skips files. Result is
    * layout-independent by the skipping invariant; the oracle
    * recomputes the host derivation and range from the source. */
  val scanZorderString: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_zstr")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey"),
        concat(lit("C"), lpad((col("o_custkey") % 100).cast("string"), 3, "0"))
          .as("host"),
        col("o_totalprice"))
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    // round-robin batches: unclustered arrival order in both keys
    (0 to 3).foreach(i =>
      SnapshotLog.commit(
        spark, table, o.filter(col("o_orderkey") % 4 === i).repartition(2)))
    SnapshotLog.compact(
      spark, table,
      smallerThanBytes = Long.MaxValue,
      filesOut = Some(16),
      zorderBy = Seq("host", "o_orderkey"))
    val (keptS, totalS) = SnapshotLog
      .prunedFilesString(spark, table, "host", "C020", "C040")
    val (keptK, totalK) = SnapshotLog
      .prunedFiles(spark, table, "o_orderkey", maxK / 3 + 1, 2 * (maxK / 3))
    require(
      keptS.size < totalS && keptK.size < totalK,
      s"string z-order must prune on BOTH dimensions: host ${keptS.size}/$totalS, " +
        s"orderkey ${keptK.size}/$totalK")
    SnapshotLog
      .readPrunedString(spark, table, "host", "C020", "C040")
      .orderBy("o_orderkey")
  }

  /** Z-ORDER clustering rewrite (round 11): lexicographic sortBy
    * privileges the leading key — every file still spans the trailing
    * key's whole domain, so probes on it prune nothing. `compact
    * (zorderBy = orderkey, custkey)` rewrites on the
    * [[graft.functions.ZCurve]] Morton value of equi-depth ranks
    * instead, bounding every file's extent in BOTH dimensions — and
    * the inline checks demand what only a space-filling curve can
    * deliver: a single-column range probe on EACH key independently
    * skips files. The served result is the custkey range read; stats
    * can only exclude provably-disjoint files, so it is
    * layout-independent and the oracle is the plain range SELECT. */
  val scanZorderPruned: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_zorder")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val maxC = Tables.maxLong(spark, dir, "orders", "o_custkey")
    // round-robin batches: unclustered arrival order in both keys
    (0 to 3).foreach(i =>
      SnapshotLog.commit(
        spark,
        table,
        o.filter(col("o_orderkey") % 4 === i).repartition(2)
      )
    )
    SnapshotLog.compact(
      spark,
      table,
      smallerThanBytes = Long.MaxValue,
      filesOut = Some(16),
      zorderBy = Seq("o_orderkey", "o_custkey")
    )
    val (keptK, totalK) = SnapshotLog
      .prunedFiles(spark, table, "o_orderkey", maxK / 3 + 1, 2 * (maxK / 3))
    val (keptC, totalC) = SnapshotLog
      .prunedFiles(spark, table, "o_custkey", maxC / 3 + 1, 2 * (maxC / 3))
    require(
      keptK.size < totalK && keptC.size < totalC,
      s"z-order must prune on BOTH dimensions: orderkey ${keptK.size}/$totalK, " +
        s"custkey ${keptC.size}/$totalC"
    )
    SnapshotLog
      .readPruned(spark, table, "o_custkey", maxC / 3 + 1, 2 * (maxC / 3))
      .orderBy("o_orderkey")
  }

  /** Structured Streaming SOURCE over the snapshot log (round 11): a
    * REAL streaming query — `readStream.format(graft-snapshot)` with
    * commit versions as offsets — drains the table into a memory sink.
    * Three appends land with a compaction interleaved between them:
    * the stream must deliver every committed row EXACTLY once, which
    * makes the graded hash a dual gate — a re-delivered compaction
    * file duplicates rows, a skipped append loses them. Micro-batch
    * planning costs O(new files) (tip read + manifest diff), and the
    * executors read exactly the manifest's parquet files through
    * Spark's vectorized decoder under the session's Hadoop conf — no
    * directory listing, no full-table scan. Restart exactly-once, loud
    * in-place-change refusal, and skipChangeCommits are pinned in
    * StreamingSpec. */
  val streamSnapshotSource: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_src")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 3 === 0))
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 3 === 1))
    SnapshotLog.compact(
      spark,
      table,
      smallerThanBytes = Long.MaxValue,
      filesOut = Some(2)
    )
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 3 === 2))
    val qn = "graft_stream_snapshot_src"
    spark.catalog.dropTempView(qn)
    val q = spark.readStream
      .format("graft.sources.GraftSnapshotSource")
      .load(table)
      .writeStream
      .format("memory")
      .queryName(qn)
      .option("checkpointLocation", s"$table/_ckpt")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(qn).orderBy("o_orderkey")
  }

  /** STREAMING change-data feed (round 11): the same log as
    * source_changes — append at v2, overwrite at v3 — consumed through
    * the streaming source in `readChangeFeed=true` mode from
    * startingVersion=1: dropped files stream their rows tagged
    * `delete`, added files `insert`, `commit_version` riding along.
    * Sharing source_changes' oracle VERBATIM proves the streaming path
    * delivers row-for-row the same change feed as the batch
    * `readChanges` — the continuous feeder for the MV-maintenance
    * story etl_mv_incremental grades in batch form. */
  val streamChangesFeed: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_cdfstream")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 3 === 0))
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 3 === 1))
    SnapshotLog.commit(
      spark,
      table,
      o.filter(col("o_orderkey") % 3 === 2),
      overwrite = true
    )
    val qn = "graft_stream_changes_feed"
    spark.catalog.dropTempView(qn)
    val q = spark.readStream
      .format("graft.sources.GraftSnapshotSource")
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .load(table)
      .writeStream
      .format("memory")
      .queryName(qn)
      .option("checkpointLocation", s"$table/_ckpt")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    spark
      .table(qn)
      .orderBy("commit_version", "change_type", "o_orderkey")
  }

  /** Exactly-once TABLE REPLICATION (round 11): the streaming source
    * and the idempotent snapshot sink composed end-to-end — three
    * commits (with a compaction interleaved) stream OUT of the source
    * table and INTO a replica table through
    * `StreamOps.snapshotSink`'s checkpoint-scoped idempotent commits,
    * paced by maxFilesPerTrigger so the pipeline takes the
    * multi-micro-batch path. The replica's read-back must equal the
    * source data exactly: a replayed batch would duplicate, a skipped
    * one would lose, a re-delivered compaction would double rows. This
    * is the CDC-replication loop a 100 TB lakehouse runs continuously,
    * at O(new files) per trigger on both ends. */
  val etlSnapshotReplicate: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val src = tmp("orders_snapshot_repl_src")
    val dst = tmp("orders_snapshot_repl_dst")
    val fsys = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(src), true)
    fsys.delete(new org.apache.hadoop.fs.Path(dst), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    SnapshotLog.commit(spark, src, o.filter(col("o_orderkey") % 3 === 0))
    SnapshotLog.commit(spark, src, o.filter(col("o_orderkey") % 3 === 1))
    SnapshotLog.compact(
      spark,
      src,
      smallerThanBytes = Long.MaxValue,
      filesOut = Some(2)
    )
    SnapshotLog.commit(spark, src, o.filter(col("o_orderkey") % 3 === 2))
    val q = graft.streaming.StreamOps.snapshotSink(
      spark.readStream
        .format("graft.sources.GraftSnapshotSource")
        .option("maxFilesPerTrigger", "2")
        .load(src),
      dst,
      s"$dst/_ckpt"
    )
    try q.processAllAvailable()
    finally q.stop()
    SnapshotLog.read(spark, dst).orderBy("o_orderkey")
  }

  /** Streaming CDF APPLY (round 11 cont.): row-level replication WITH
    * deletes — the half etl_snapshot_replicate (insert-only) cannot
    * express. The source takes two range-sharded appends, a
    * MERGE-ON-READ delete (positions entering a DV), and a third
    * append; the change feed streams out as tagged delete/insert rows
    * and a foreachBatch consumer APPLIES them to a replica table:
    * versions apply in commit order (a batch may span several), each
    * through [[graft.sources.SnapshotLog.mergeCoW]] — file-granular:
    * only replica files whose stats admit a changed key rewrite,
    * everything else carries by reference — under a
    * (checkpoint, version)-scoped idempotent txn, so a crash-replayed
    * batch re-applies harmlessly. The oracle recomputes the source's
    * final live state; a dropped delete, a double-applied insert, or a
    * mis-ordered version breaks the hash. */
  val streamCdfApply: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val src = tmp("orders_snapshot_cdfapply_src")
    val dst = tmp("orders_snapshot_cdfapply_dst")
    val fsys = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(src), true)
    fsys.delete(new org.apache.hadoop.fs.Path(dst), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    val mid = (3 * c1) / 2
    SnapshotLog.commit(
      spark, src,
      o.filter(col("o_orderkey") <= c1).repartitionByRange(2, col("o_orderkey")))
    SnapshotLog.commit(
      spark, src,
      o.filter(col("o_orderkey") > c1 && col("o_orderkey") <= c2)
        .repartitionByRange(2, col("o_orderkey")))
    SnapshotLog.deleteWhereMoR(spark, src, "o_orderkey", c1 + 1, mid)
    SnapshotLog.commit(spark, src, o.filter(col("o_orderkey") > c2))
    val q = spark.readStream
      .format("graft.sources.GraftSnapshotSource")
      .option("readChangeFeed", "true")
      // startingVersion is EXCLUSIVE (the consumer's base snapshot);
      // 0 = replicate from the very first commit
      .option("startingVersion", "0")
      .option("maxFilesPerTrigger", "2")
      .load(src)
      .writeStream
      .option("checkpointLocation", s"$dst/_ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val dataCols = batch.columns
          .filterNot(c => c == "change_type" || c == "commit_version")
        val cached = batch.cache()
        try {
          val versionsIn = cached.select("commit_version").distinct()
            .collect().map(_.getInt(0)).sorted
          versionsIn.foreach { v =>
            val ofV = cached.filter(col("commit_version") === v)
            val dels = ofV.filter(col("change_type") === "delete")
              .select(dataCols.map(col): _*)
            val ins = ofV.filter(col("change_type") === "insert")
              .select(dataCols.map(col): _*)
            val txn = s"cdf-$batchId-$v"
            if (SnapshotLog.versions(spark, dst).isEmpty)
              SnapshotLog.commit(
                spark, dst,
                SnapshotLog.CommitRequest(SnapshotLog.CommitData.Frame(ins), txnId = Some(txn)))
            else {
              val keys = dels.select("o_orderkey").union(ins.select("o_orderkey"))
              SnapshotLog.mergeCoW(
                spark, dst, "o_orderkey", keys,
                base =>
                  base
                    .join(dels.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
                    .unionByName(ins),
                txnId = Some(txn))
            }
          }
        } finally { cached.unpersist(); () }
        ()
      }
      .start()
    try q.processAllAvailable()
    finally q.stop()
    SnapshotLog.read(spark, dst).orderBy("o_orderkey")
  }

  /** DESCRIBE HISTORY (round 11): the commit ledger as data — action,
    * data-change flag, txn id, and the live ROW total per version,
    * summed from the manifest's `_rc` row-count riders (written from
    * the parquet footer at commit time, so history never opens a data
    * file). The sequence pins every commit kind at once: plain append,
    * idempotent append carrying its txn id, a compaction that changes
    * files but NOT the live row total (data_change=false), and an
    * overwrite that resets it. The oracle recomputes each version's
    * expected row total from the source table. */
  val etlSnapshotHistory: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_hist")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") % 3 === 0))
    SnapshotLog.commit(
      spark, table,
      SnapshotLog.CommitRequest(
        SnapshotLog.CommitData.Frame(o.filter(col("o_orderkey") % 3 === 1)),
        txnId = Some("load-2")))
    SnapshotLog.compact(
      spark,
      table,
      smallerThanBytes = Long.MaxValue,
      filesOut = Some(1)
    )
    SnapshotLog.commit(
      spark,
      table,
      o.filter(col("o_orderkey") % 3 === 2),
      overwrite = true
    )
    SnapshotLog
      .describeHistory(spark, table)
      .select("version", "action", "data_change", "txn_id", "n_live_rows")
      .orderBy("version")
  }

  /** Avro ROUND TRIP through the from-scratch connector (round 11):
    * every prior round recorded source_avro as environment-blocked
    * (no spark-avro module ships here) — `sources/GraftAvro` closes it
    * on the avro CORE jars alone: container write with two-phase
    * commit, schema in the header (the read side infers it — no
    * `.schema(...)`), timestamp-micros/date logical types, and
    * byte-range splits via SYNC MARKERS (the property that makes Avro
    * a 100 TB wire format — a feed of giant containers fans out
    * instead of collapsing to a few tasks). The oracle reads the
    * ORIGINAL table with the same predicate, so the gate is round-trip
    * fidelity through the connector including the timestamp column. */
  val sourceAvro: Q = (spark, dir) => {
    val out = tmp("avro_orders")
    new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(out), true)
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .write.format("graft.sources.GraftAvroSource").mode("append").save(out)
    spark.read
      .format("graft.sources.GraftAvroSource")
      .load(out) // no schema: the container header is authoritative
      .filter(col("o_totalprice") > 100000.0)
      .orderBy("o_orderkey")
  }

  /** Avro SCHEMA EVOLUTION on read (round 11): two generations of
    * containers — an early one with (custkey int, name) and a later
    * one with (custkey LONG, name, acctbal) — land in one directory,
    * and the read must resolve them the way Avro's reader-vs-writer
    * rules say: headers merged into the union schema, custkey WIDENED
    * int→long (the int-written files decode under the long reader
    * schema), and the early generation NULL-FILLING the added acctbal
    * column. The oracle reproduces exactly that from the source table,
    * so a mis-widened value or a wrongly-defaulted null breaks the
    * hash. */
  val sourceAvroEvolve: Q = (spark, dir) => {
    val out = tmp("avro_customer_evolve")
    new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(out), true)
    val c = Tables.customer(spark, dir)
    c.filter(col("c_custkey") % 2 === 0)
      .select(
        col("c_custkey").cast("int").as("custkey"),
        col("c_name").as("name")
      )
      .write.format("graft.sources.GraftAvroSource").mode("append").save(out)
    c.filter(col("c_custkey") % 2 === 1)
      .select(
        col("c_custkey").as("custkey"),
        col("c_name").as("name"),
        round(col("c_acctbal"), 2).as("acctbal")
      )
      .write.format("graft.sources.GraftAvroSource").mode("append").save(out)
    spark.read
      .format("graft.sources.GraftAvroSource")
      .load(out) // header merge: custkey widens, acctbal null-fills
      .orderBy("custkey")
  }

  /** Avro WRITE-half gate (round 11): the two-phase-commit truncate
    * story through the avro connector — generation 1 lands in 4
    * containers, generation 2 OVERWRITES with 2; only generation 2 may
    * survive (the rename-commit protocol plus SupportsTruncate's
    * delete-after-land, the same posture sink_dsv2 grades for the
    * pipe-delimited format). */
  val sinkAvro: Q = (spark, dir) => {
    val out = tmp("avro_orders_sink")
    new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(out), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    o.filter(col("o_orderkey") % 3 =!= 0)
      .repartition(4)
      .write.format("graft.sources.GraftAvroSource").mode("append").save(out)
    o.filter(col("o_orderkey") % 3 === 0)
      .repartition(2)
      .write.format("graft.sources.GraftAvroSource").mode("overwrite").save(out)
    spark.read
      .format("graft.sources.GraftAvroSource")
      .load(out)
      .orderBy("o_orderkey")
  }

  /** Metadata-only aggregation (round 11): COUNT(*)/MIN/MAX over the
    * snapshot table answered entirely from manifest riders — zero data
    * files opened (the table reaches the answer through `_rc` row
    * counts and footer min/max written at commit time; files are
    * immutable, so this is EXACT, not an estimate). The key builds the
    * table with three range-sharded appends plus a CoW delete of a
    * mid-range slice — so the riders being summed are a MIX of
    * original and rewritten files — and the oracle recomputes from the
    * source. The honest-fallback contract (None when any file lacks a
    * rider, never a guess) is pinned in SnapshotSpec. At 100 TB this
    * is the difference between a manifest read and a cluster-hour
    * scan. */
  val aggMetadataOnly: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_meta")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") <= c1))
    SnapshotLog.commit(
      spark,
      table,
      o.filter(col("o_orderkey") > c1 && col("o_orderkey") <= c2)
    )
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") > c2))
    SnapshotLog.deleteWhere(spark, table, "o_orderkey", c1 + 1, (3 * c1) / 2)
    val n = SnapshotLog.metadataCount(spark, table).get
    val (lo, hi) = SnapshotLog.metadataRange(spark, table, "o_orderkey").get
    import spark.implicits._
    Seq((n, lo, hi)).toDF("n_rows", "min_key", "max_key")
  }

  /** PLANNER-INTEGRATED metadata-only aggregation (round 11 cont.):
    * `SELECT count(*), min, max` over a catalog table completely
    * pushes down into the snapshot scan
    * (`SupportsPushDownAggregates`), which answers from the manifest's
    * `_rc`/stats riders — zero data files opened at any table size.
    * The zero-IO claim is pinned the honest way: every data file is
    * RENAMED OUT of the table before the query plans and executes, so
    * a fallback scan would throw, and the plan string must carry the
    * scan's PushedAggregation marker. Complete pushdown is claimed
    * only when exact (no filters, no grouping, riders on every file,
    * no live DV under a MIN/MAX) — anything else falls back to the
    * ordinary scan, so the fast path can never change an answer. The
    * oracle recomputes the three aggregates from the source. */
  val sqlAggPushdown: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.orders_aggpd")
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_aggpd_src")
    spark.sql(
      s"CREATE TABLE $cat.main.orders_aggpd AS SELECT * FROM graft_aggpd_src")
    val tablePath = warehousePath(spark, "orders_aggpd")
    val fsys = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hidden = new org.apache.hadoop.fs.Path(s"$tablePath/_hidden")
    fsys.mkdirs(hidden)
    val dataFiles = fsys
      .listStatus(new org.apache.hadoop.fs.Path(tablePath))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)
    require(dataFiles.nonEmpty, "CTAS must have landed data files")
    try {
      dataFiles.foreach(p =>
        require(fsys.rename(p, new org.apache.hadoop.fs.Path(hidden, p.getName))))
      val df = spark.sql(
        s"""SELECT count(*) AS n_rows, min(o_orderkey) AS min_key,
           |       max(o_orderkey) AS max_key
           |FROM $cat.main.orders_aggpd""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(
        plan.contains("PushedAggregation"),
        s"aggregate must push into the snapshot scan: $plan")
      val rows = df.collect() // data files are GONE — this is metadata or bust
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    } finally {
      dataFiles.foreach(p =>
        fsys.rename(new org.apache.hadoop.fs.Path(hidden, p.getName), p))
      fsys.delete(hidden, true)
    }
  }

  /** METADATA-ONLY `ALTER TABLE RENAME COLUMN` (round 11 cont.): the
    * column-mapping layer. Two shards land via CTAS, the rename commits
    * ONE schema manifest (pinned: the on-disk parquet set is
    * bit-identical before and after — at 100 TB the rename costs a
    * manifest write where a rewrite costs the table), and the third
    * shard INSERTs AFTER the rename — its files spell the frozen
    * PHYSICAL name while the query reads the logical one. The oracle
    * recomputes the whole table under the new name, so a read that
    * missed pre-rename files, post-rename files, or mixed the
    * spellings breaks the hash. */
  val sqlRenameCol: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.orders_ren")
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c2 = 2 * (maxK / 3)
    o.createOrReplaceTempView("graft_ren_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_ren AS
         |SELECT * FROM graft_ren_src WHERE o_orderkey <= $c2""".stripMargin)
    val tablePath = warehousePath(spark, "orders_ren")
    val fsys = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def disk(): Set[String] = fsys
      .listStatus(new org.apache.hadoop.fs.Path(tablePath))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    val before = disk()
    spark.sql(s"ALTER TABLE $cat.main.orders_ren RENAME COLUMN o_totalprice TO price")
    require(disk() == before, "RENAME COLUMN must be metadata-only: no file may change")
    spark.sql(
      s"""INSERT INTO $cat.main.orders_ren
         |SELECT o_orderkey, o_custkey, o_totalprice AS price
         |FROM graft_ren_src WHERE o_orderkey > $c2""".stripMargin)
    spark.sql(
      s"""SELECT o_orderkey, o_custkey, price
         |FROM $cat.main.orders_ren ORDER BY o_orderkey""".stripMargin)
  }

  /** METADATA-ONLY `ALTER TABLE DROP COLUMN` + same-name re-ADD (round
    * 11 cont.): the resurrection hazard the mapping layer exists to
    * close. Two shards land, `o_custkey` is DROPPED (one manifest, zero
    * data IO), re-ADDED (fresh physical name), and the third shard
    * inserts WITH custkey values. The oracle expects the old shards'
    * custkey to be NULL and the new shard's to be real — if the re-added
    * column ever read the dropped bytes out of the old files (the
    * failure field-ID-less formats hit), the hash breaks row-by-row. */
  val sqlDropCol: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.orders_drop")
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c2 = 2 * (maxK / 3)
    o.createOrReplaceTempView("graft_drop_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_drop AS
         |SELECT * FROM graft_drop_src WHERE o_orderkey <= $c2""".stripMargin)
    spark.sql(s"ALTER TABLE $cat.main.orders_drop DROP COLUMN o_custkey")
    spark.sql(s"ALTER TABLE $cat.main.orders_drop ADD COLUMN o_custkey BIGINT")
    spark.sql(
      s"""INSERT INTO $cat.main.orders_drop
         |SELECT o_orderkey, o_totalprice, o_custkey
         |FROM graft_drop_src WHERE o_orderkey > $c2""".stripMargin)
    spark.sql(
      s"""SELECT o_orderkey, o_totalprice, o_custkey
         |FROM $cat.main.orders_drop ORDER BY o_orderkey""".stripMargin)
  }

  /** METADATA-ONLY `ALTER COLUMN ... TYPE` widening (round 12): the
    * catalog accepts exactly the widenings the log's append path
    * already merges (int→bigint, float→double) as a schema-only
    * commit, so the wider type can be DECLARED ahead of the data. Two
    * shards land with an INT column, the ALTER widens it to BIGINT
    * (pinned: the on-disk parquet set is bit-identical — at 100 TB
    * the widen costs one manifest write where a rewrite costs the
    * table), and the third shard INSERTs values beyond INT range —
    * only representable because the declaration preceded the data.
    * Old INT32 files read up-converted under the wider schema. A
    * narrowing ALTER refuses (pinned inline): silent coercion is how
    * a table format corrupts data. */
  val sqlWidenCol: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.orders_widen")
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c2 = 2 * (maxK / 3)
    o.createOrReplaceTempView("graft_widen_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_widen AS
         |SELECT o_orderkey, CAST(o_custkey AS INT) AS cust, o_totalprice
         |FROM graft_widen_src WHERE o_orderkey <= $c2""".stripMargin)
    val tablePath = warehousePath(spark, "orders_widen")
    val fsys = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def disk(): Set[String] = fsys
      .listStatus(new org.apache.hadoop.fs.Path(tablePath))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName).toSet
    val before = disk()
    spark.sql(s"ALTER TABLE $cat.main.orders_widen ALTER COLUMN cust TYPE BIGINT")
    require(disk() == before, "widening must be metadata-only: no file may change")
    val narrow = scala.util.Try(
      spark.sql(s"ALTER TABLE $cat.main.orders_widen ALTER COLUMN cust TYPE INT"))
    require(narrow.isFailure, "a narrowing ALTER COLUMN TYPE must refuse")
    spark.sql(
      s"""INSERT INTO $cat.main.orders_widen
         |SELECT o_orderkey, o_custkey + ${3000000000L}, o_totalprice
         |FROM graft_widen_src WHERE o_orderkey > $c2""".stripMargin)
    spark.sql(
      s"""SELECT o_orderkey, cust, o_totalprice
         |FROM $cat.main.orders_widen ORDER BY o_orderkey""".stripMargin)
  }

  /** PER-FILE BLOOM INDEX (round 12): min/max stats prune RANGE probes
    * on clustered layouts and are USELESS for point lookups on a
    * hash-distributed key — every file spans the whole domain (pinned
    * inline: the stats probe keeps ALL files). A 512-byte k=5 bloom
    * per file rides the manifest (`buildBloomIndex`, one distributed
    * pass, O(files × 512 B) driver metadata, committed datachange=
    * false so the change feed stays silent) and the point lookup opens
    * ~1 file instead of all of them (pinned inline: strict subset) —
    * at 100 TB the difference between a manifest consult and a
    * cluster-hour scan. Blind files (post-build appends, CoW rewrites)
    * are always kept, so the index can only skip, never lose. The
    * oracle recomputes the point query from the source. */
  val scanBloomPruned: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_bloom")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    // round-robin arrival: every file spans ~the whole key domain
    (0 to 3).foreach(i =>
      SnapshotLog.commit(
        spark, table, o.filter(col("o_orderkey") % 4 === i).repartition(2)))
    SnapshotLog.buildBloomIndex(spark, table, "o_orderkey")
    // deterministic existing key: the smallest orderkey >= maxK/2
    val k = o.filter(col("o_orderkey") >= maxK / 2)
      .agg(min("o_orderkey")).collect()(0).getLong(0)
    val (statKept, totalS) = SnapshotLog.prunedFiles(spark, table, "o_orderkey", k, k)
    require(
      statKept.size == totalS,
      s"stats must be useless on this layout: ${statKept.size}/$totalS")
    val (bloomKept, totalB) =
      SnapshotLog.prunedFilesBloom(spark, table, "o_orderkey", k)
    require(
      bloomKept.size < totalB,
      s"the bloom must prune the point probe: ${bloomKept.size}/$totalB")
    SnapshotLog.readPoint(spark, table, "o_orderkey", k).orderBy("o_orderkey")
  }

  /** INCREMENTAL BLOOM REFRESH (round 14): `buildBloomIndex(...,
    * onlyMissing = true)` — surfaced as `CALL system.build_bloom(...,
    * incremental => true)` — blooms ONLY the live files with no rider
    * for the column yet (post-build appends, CoW rewrites), reading
    * O(new files) instead of the table: the steady-state maintenance
    * call that keeps point-lookup pruning alive on a growing 100 TB
    * fact without ever re-reading the indexed history. Deletes need
    * no handling at all — a removed file's rider vanished with its
    * manifest entry, and a rewrite's fresh files are exactly the
    * rider-less ones the refresh picks up. Inline pins: the
    * already-bloomed entries carry into the refreshed manifest with
    * BYTE-IDENTICAL rider spellings (nothing old was re-read or
    * re-spelled), every live file carries a rider afterwards, a
    * second incremental call no-ops without burning a version, and
    * the point probe prunes across BOTH generations. Oracle: the
    * plain point query from source. */
  val scanBloomRefresh: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_bloomrf")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    // generation 1: round-robin arrival (stats useless), full build
    (0 to 1).foreach(i =>
      SnapshotLog.commit(
        spark, table, o.filter(col("o_orderkey") % 4 === i).repartition(2)))
    SnapshotLog.buildBloomIndex(spark, table, "o_orderkey")
    val gen1 = SnapshotLog
      .manifestEntries(spark, table, SnapshotLog.versions(spark, table).last)
      .toSet
    // generation 2: appends the build never saw — blind files
    (2 to 3).foreach(i =>
      SnapshotLog.commit(
        spark, table, o.filter(col("o_orderkey") % 4 === i).repartition(2)))
    SnapshotLog.buildBloomIndex(spark, table, "o_orderkey", onlyMissing = true)
    val vAfter = SnapshotLog.versions(spark, table).last
    val entriesAfter = SnapshotLog.manifestEntries(spark, table, vAfter)
    require(
      gen1.subsetOf(entriesAfter.toSet),
      "refresh must carry the already-bloomed entries byte-identical")
    require(
      entriesAfter.forall(_.blooms.nonEmpty),
      "every live file must carry a bloom rider after the refresh")
    // idle refresh: nothing rider-less left → no version burned
    require(
      SnapshotLog.buildBloomIndex(
        spark, table, "o_orderkey", onlyMissing = true) == vAfter &&
        SnapshotLog.versions(spark, table).last == vAfter,
      "an idle incremental refresh must no-op")
    val k = o.filter(col("o_orderkey") >= maxK / 2)
      .agg(min("o_orderkey")).collect()(0).getLong(0)
    val (bloomKept, totalB) =
      SnapshotLog.prunedFilesBloom(spark, table, "o_orderkey", k)
    require(
      bloomKept.size < totalB,
      s"the refreshed index must prune across both generations: " +
        s"${bloomKept.size}/$totalB")
    SnapshotLog.readPoint(spark, table, "o_orderkey", k).orderBy("o_orderkey")
  }

  /** ZERO-COPY CLONE through SQL (round 12): `CALL system.clone`
    * creates a table whose v1 references the source's files BY
    * ABSOLUTE PATH — O(manifest) metadata at any table size (pinned
    * inline: the clone directory holds ZERO parquet). The clone is a
    * full table: version-pinnable at creation, independently writable
    * after. The graded flow clones the 2-shard version while the
    * source moves on to shard 3, then DIVERGES the clone with a
    * doubled-price shard — the result proves pin, divergence, and
    * source isolation in one hash (the oracle recomputes both
    * populations; the source's own read is count-pinned inline). */
  val sqlCloneRead: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    Seq("orders_clsrc", "orders_clone").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $cat.main.$t"))
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c2 = 2 * (maxK / 3)
    o.createOrReplaceTempView("graft_clone_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_clsrc
         |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.main.orders_clsrc
         |SELECT * FROM graft_clone_src WHERE o_orderkey <= $c2""".stripMargin) // v2
    spark.sql(
      s"CALL $cat.system.clone(source => 'main.orders_clsrc', " +
        "target => 'main.orders_clone', version => 2)")
    spark.sql(
      s"""INSERT INTO $cat.main.orders_clsrc
         |SELECT * FROM graft_clone_src WHERE o_orderkey > $c2""".stripMargin) // v3
    val cloneDir = warehousePath(spark, "orders_clone")
    val fsys = new org.apache.hadoop.fs.Path(cloneDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(
      !fsys.listStatus(new org.apache.hadoop.fs.Path(cloneDir)).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet")),
      "a shallow clone must own no data files")
    spark.sql(
      s"""INSERT INTO $cat.main.orders_clone
         |SELECT o_orderkey, o_custkey, round(o_totalprice * 2, 2)
         |FROM graft_clone_src WHERE o_orderkey > $c2""".stripMargin)
    require(
      spark.sql(s"SELECT count(*) FROM $cat.main.orders_clsrc").head.getLong(0)
        == o.count(),
      "the source must not see the clone's writes")
    spark.sql(
      s"""SELECT o_orderkey, o_custkey, o_totalprice
         |FROM $cat.main.orders_clone ORDER BY o_orderkey""".stripMargin)
  }

  /** IDENTITY `PARTITIONED BY (col)` (round 12): the Iceberg-lite
    * implementation — no hive directory layout, no partition-column
    * removal from the data; batch INSERTs cluster by value
    * (`Distributions.clustered(identity(col))`) and the task writer
    * lands ONE FILE PER PARTITION VALUE, so every file carries a
    * tight single-value footer stat and the EXISTING manifest-stats
    * skipping prunes partition predicates exactly (pinned inline:
    * the value probe keeps a strict subset of files). At 100 TB
    * this gives partition pruning without the small-file explosion
    * hive layouts invite, and OPTIMIZE re-packs freely because the
    * layout is advisory, never a correctness boundary. The oracle
    * recomputes the partition slice from the source. */
  val sqlPartitionedTable: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.orders_part")
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_part_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_part
         |(o_orderkey BIGINT, part BIGINT, o_totalprice DOUBLE)
         |PARTITIONED BY (part)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.main.orders_part
         |SELECT o_orderkey, o_custkey % 8 AS part, o_totalprice
         |FROM graft_part_src""".stripMargin)
    val tablePath = warehousePath(spark, "orders_part")
    val (kept, total) = graft.sources.SnapshotLog
      .prunedFiles(spark, tablePath, "part", 3, 3)
    require(
      total >= 8 && kept.size < total,
      s"partition files must be value-pure and prunable: ${kept.size}/$total")
    spark.sql(
      s"""SELECT o_orderkey, part, o_totalprice
         |FROM $cat.main.orders_part WHERE part = 3
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** MULTI-COLUMN IDENTITY `PARTITIONED BY (a, b)` (round 13): writes
    * cluster on the partition TUPLE (`Distributions.clustered(
    * identity(a), identity(b))`) and the task writer routes by the
    * value pair, so every landed file is value-pure in BOTH columns —
    * each carries a tight single-value footer stat for each partition
    * column, and the existing manifest-stats skipping prunes
    * predicates on EITHER column alone or both (the time-series DDL
    * shape: `PARTITIONED BY (region, day)` with queries filtering on
    * just day, just region, or both). Pinned inline: the two-column
    * probe keeps a strict subset of what either one-column probe
    * keeps, and each one-column probe prunes on its own. The oracle
    * recomputes the slice from the source. */
  val sqlPartitionMulti: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.orders_part2")
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_part2_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_part2
         |(o_orderkey BIGINT, pa BIGINT, pb BIGINT, o_totalprice DOUBLE)
         |PARTITIONED BY (pa, pb)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.main.orders_part2
         |SELECT o_orderkey, o_custkey % 4 AS pa, o_orderkey % 3 AS pb,
         |       o_totalprice
         |FROM graft_part2_src""".stripMargin)
    val tablePath = warehousePath(spark, "orders_part2")
    import graft.sources.SnapshotLog
    val (keptA, total) = SnapshotLog.prunedFiles(spark, tablePath, "pa", 2, 2)
    val (keptB, _) = SnapshotLog.prunedFiles(spark, tablePath, "pb", 1, 1)
    require(
      total >= 12 && keptA.size < total && keptB.size < total,
      s"each partition column must prune alone: pa=${keptA.size} " +
        s"pb=${keptB.size} of $total")
    require(
      keptA.toSet.intersect(keptB.toSet).size < math.min(keptA.size, keptB.size) ||
        keptA.toSet.intersect(keptB.toSet).size <= total / 3,
      s"the conjunction must narrow further: ${keptA.toSet.intersect(keptB.toSet).size}")
    spark.sql(
      s"""SELECT o_orderkey, pa, pb, o_totalprice
         |FROM $cat.main.orders_part2 WHERE pa = 2 AND pb = 1
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** TRANSFORM PARTITIONING `PARTITIONED BY (days(ts))` (round 13 —
    * the time-series user's first DDL, previously a loud refusal):
    * the layout spec now carries TRANSFORM fields (days/months/years/
    * hours of a timestamp or date, truncate(w, col)) under the same
    * advisory machinery as identity — the write distribution clusters
    * on the TRANSFORMED value (the catalog's FunctionCatalog serves
    * the canonical transforms so Spark can evaluate the clustering),
    * the task writer routes rows by transformed value, and every
    * landed file is DAY-PURE. The payoff needs no new pruning code:
    * a day-pure file's raw ts min/max spans at most that day, so the
    * EXISTING manifest-stats skipping prunes ts range predicates
    * (pinned inline: a one-day probe keeps a strict subset of files).
    * No derived column is stored, no hive directories; OPTIMIZE
    * re-packs freely. The oracle recomputes the day slice from the
    * source. */
  val sqlPartitionDays: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.events_bydate")
    val e = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "value")
    e.createOrReplaceTempView("graft_partdays_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.events_bydate
         |(event_id BIGINT, ts TIMESTAMP, user_id BIGINT, value DOUBLE)
         |PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.main.events_bydate
         |SELECT * FROM graft_partdays_src""".stripMargin)
    // the probe day: the busiest day in the data (deterministic)
    val probe = spark.sql(
      """SELECT CAST(ts AS DATE) AS d, count(*) AS n
        |FROM graft_partdays_src GROUP BY 1 ORDER BY n DESC, d LIMIT 1""".stripMargin)
      .head.getDate(0).toString
    val tablePath = warehousePath(spark, "events_bydate")
    // day-pure files: the one-day micros range prunes via RAW ts stats
    val dayStart = java.time.LocalDate.parse(probe)
    val loUs = dayStart.toEpochDay * 86400000000L
    val hiUs = loUs + 86400000000L - 1
    val (kept, total) = graft.sources.SnapshotLog
      .prunedFiles(spark, tablePath, "ts", loUs, hiUs)
    require(
      total >= 3 && kept.size < total,
      s"day-pure files must prune a one-day probe: ${kept.size}/$total")
    spark.sql(
      s"""SELECT event_id, user_id, value
         |FROM $cat.main.events_bydate
         |WHERE ts >= TIMESTAMP'$probe 00:00:00'
         |  AND ts < TIMESTAMP'$probe 00:00:00' + INTERVAL 1 DAY
         |ORDER BY event_id""".stripMargin)
  }

  /** METADATA-ONLY COUNT BY PARTITION (round 13): `CALL
    * system.count_by(table, 'days(ts)')` answers `count(*) GROUP BY
    * day` from manifest riders alone — each transform-routed file is
    * day-PURE, so its `_rc − _dvc` row count belongs wholly to one
    * day, and the whole aggregate folds driver-side in O(live files)
    * metadata with ZERO data IO (on 100 TB: a listing-speed answer to
    * the most common ops query a time-series table gets). The
    * group-by twin of agg_metadata_only. Refuses loudly when any
    * live file is blind or spans two days (pre-layout generations) —
    * exactness or nothing, never a guess. The oracle recomputes the
    * per-day counts from the source with a real GROUP BY. */
  val aggCountByDay: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.events_cntday")
    Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "value")
      .createOrReplaceTempView("graft_cntday_src")
    // ts NOT NULL is load-bearing: footer stats skip NULLs, so only
    // the declaration proves a day-pure file cannot hide a NULL row
    // inside its _rc rider (count_by refuses on a nullable column)
    spark.sql(
      s"""CREATE TABLE $cat.main.events_cntday
         |(event_id BIGINT, ts TIMESTAMP NOT NULL, user_id BIGINT,
         | value DOUBLE)
         |PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql(
      s"INSERT INTO $cat.main.events_cntday SELECT * FROM graft_cntday_src")
    spark.sql(
      s"""CALL $cat.system.count_by(
         |  table => 'main.events_cntday', field => 'days(ts)')""".stripMargin)
      .orderBy("part")
  }

  /** METADATA-ONLY RANGE BY PARTITION (round 14): `CALL
    * system.range_by(table, 'days(ts)', 'v')` answers `min(v), max(v)
    * GROUP BY day` from manifest riders alone — each transform-routed
    * file is day-pure AND carries footer min/max for the measure, so
    * the per-day extrema fold driver-side in O(live files) metadata
    * with ZERO data IO (on 100 TB: the ops dashboard's "daily
    * high/low" at listing speed). The min/max sibling of
    * agg_count_by_day; NULL measures are exact for free (parquet
    * stats and SQL min/max both skip them). Refuses loudly on a
    * nullable group column, a measure-blind file, an impure file, or
    * any deletion vector (the extremum may be dead) — exactness or
    * nothing. Two insert waves prove the fold crosses commits; the
    * oracle recomputes per-day extrema from source rows. */
  val aggRangeByDay: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.events_rngday")
    Tables.events(spark, dir)
      .select(
        col("event_id"), col("ts"),
        round(col("value") * 100).cast("long").as("v"))
      .createOrReplaceTempView("graft_rngday_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.events_rngday
         |(event_id BIGINT, ts TIMESTAMP NOT NULL, v BIGINT)
         |PARTITIONED BY (days(ts))""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.main.events_rngday
         |SELECT * FROM graft_rngday_src WHERE event_id % 2 = 0""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.main.events_rngday
         |SELECT * FROM graft_rngday_src WHERE event_id % 2 = 1""".stripMargin)
    spark.sql(
      s"""CALL $cat.system.range_by(
         |  table => 'main.events_rngday', field => 'days(ts)',
         |  agg => 'v')""".stripMargin)
      .orderBy("part")
  }

  /** PARTITION EVOLUTION (round 12): `ALTER TABLE ... SET
    * TBLPROPERTIES ('partition_by'='col')` re-declares the layout of
    * a LIVE table with zero rewrite — possible exactly because the
    * catalog's identity partitioning is advisory value-clustering
    * over manifest-stats skipping, never a correctness boundary: the
    * pre-evolution files keep their (wide) stats and always scan, the
    * post-evolution INSERTs value-route into value-pure files with
    * single-value footer stats, and the same planning-time skipping
    * prunes partition predicates against the new generation.
    * Iceberg's flagship feature, landed as a property write. Inline
    * pins: a status probe AFTER evolution keeps every old-generation
    * file (they straddle values) but prunes among the new generation;
    * constraint properties evolve under ALTER-ADD-CONSTRAINT
    * semantics instead (existing data audited — CatalogSpec). Oracle
    * recomputes the status slice from the source, so cross-generation
    * fidelity through the layout change is the hash gate. */
  val sqlPartitionEvolve: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.orders_evolve")
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    o.createOrReplaceTempView("graft_evolve_src")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val half = maxK / 2
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_evolve
         |(o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
         | o_totalprice DOUBLE)""".stripMargin)
    // generation 1: unpartitioned arrival — files straddle statuses
    spark.sql(
      s"""INSERT INTO $cat.main.orders_evolve
         |SELECT * FROM graft_evolve_src WHERE o_orderkey <= $half""".stripMargin)
    spark.sql(
      s"""ALTER TABLE $cat.main.orders_evolve
         |SET TBLPROPERTIES ('partition_by' = 'o_orderstatus')""".stripMargin)
    // generation 2: value-routed — one status per file
    spark.sql(
      s"""INSERT INTO $cat.main.orders_evolve
         |SELECT * FROM graft_evolve_src WHERE o_orderkey > $half""".stripMargin)
    val tablePath = warehousePath(spark, "orders_evolve")
    val gen1 = SnapshotLog.manifest(spark, tablePath, 2).size
    val (kept, total) = SnapshotLog
      .prunedFilesString(spark, tablePath, "o_orderstatus", "F", "F")
    require(
      kept.size < total && kept.size >= gen1,
      s"evolution must prune among generation 2 only: ${kept.size}/$total " +
        s"(gen1 = $gen1 files must all scan)")
    spark.sql(
      s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         |FROM $cat.main.orders_evolve WHERE o_orderstatus = 'F'
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** GROUP-BY AGGREGATE PUSHDOWN (round 13): `SELECT part, count(*)
    * FROM t GROUP BY part` on an identity-partitioned table is
    * answered COMPLETELY from the manifest riders — every value-routed
    * file is pure in the partition column (min == max), carries a
    * row-count rider, and subtracts its deletion-vector deaths, so the
    * planner folds one exact row per partition value and execution
    * opens ZERO data files at any table size (the planner-integrated
    * form of CALL count_by). The dataflow: a partitioned CTAS-style
    * load in two waves, a MoR DELETE (the metadata count must stay
    * exact through the DVs), then the GROUP BY — pinned metadata-only
    * inline — against the oracle's recount from source rows. Any
    * blind/impure file or residual filter refuses to the ordinary
    * distributed aggregate. */
  val aggGroupbyPushdown: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_gbp"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey"),
        (col("o_custkey") % 5).as("region"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    o.createOrReplaceTempView("graft_gbp_src")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val half = maxK / 2
    // NOT NULL is load-bearing: the pushdown only fires where the
    // declaration proves no file can hide a NULL inside pure stats
    spark.sql(
      s"""CREATE TABLE $t
         |(o_orderkey BIGINT, region BIGINT NOT NULL, cents BIGINT)
         |PARTITIONED BY (region)
         |TBLPROPERTIES ('write_mode' = 'merge-on-read')""".stripMargin)
    spark.sql(
      s"""INSERT INTO $t SELECT * FROM graft_gbp_src
         |WHERE o_orderkey <= $half""".stripMargin)
    spark.sql(
      s"""INSERT INTO $t SELECT * FROM graft_gbp_src
         |WHERE o_orderkey > $half""".stripMargin)
    spark.sql(s"DELETE FROM $t WHERE o_orderkey % 7 = 0")
    val q = spark.sql(
      s"SELECT region, count(*) AS n FROM $t GROUP BY region ORDER BY region")
    require(
      q.queryExecution.executedPlan.toString.contains("metadata-only"),
      "GROUP BY count must serve from the manifest, not a data scan")
    q
  }

  /** GROUP-BY MIN/MAX/COUNT pushdown (round 14, widening the
    * count-only agg_groupby_pushdown): `SELECT region, min(cents),
    * max(cents), count(*) FROM t GROUP BY region` on an identity-
    * partitioned table answers COMPLETELY from manifest riders — the
    * per-group counts fold from `_rc` riders and the per-group
    * extrema from the measure's footer min/max, because every
    * value-routed file is partition-pure (its stats belong wholly to
    * one group). Zero data files opened. Conditions, each refusing
    * back to the distributed aggregate: NOT NULL int/long group
    * column, every file pure + measure-stat-covered, no deletion
    * vector under a MIN/MAX (the extremum may be dead), no pushed
    * filter, aggregates only COUNT(*)/MIN/MAX of int/long columns.
    * The planner-integrated twin of CALL range_by. */
  val aggRangebyPushdown: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_rbp"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val o = Tables
      .orders(spark, dir)
      .select(
        col("o_orderkey"),
        (col("o_custkey") % 5).as("region"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    o.createOrReplaceTempView("graft_rbp_src")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val half = maxK / 2
    spark.sql(
      s"""CREATE TABLE $t
         |(o_orderkey BIGINT, region BIGINT NOT NULL, cents BIGINT)
         |PARTITIONED BY (region)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $t SELECT * FROM graft_rbp_src
         |WHERE o_orderkey <= $half""".stripMargin)
    spark.sql(
      s"""INSERT INTO $t SELECT * FROM graft_rbp_src
         |WHERE o_orderkey > $half""".stripMargin)
    val q = spark.sql(
      s"""SELECT region, min(cents) AS mn, max(cents) AS mx,
         |count(*) AS n
         |FROM $t GROUP BY region ORDER BY region""".stripMargin)
    require(
      q.queryExecution.executedPlan.toString.contains("metadata-only"),
      "GROUP BY min/max/count must serve from the manifest, not a data scan")
    q
  }

  /** RUNTIME FILE PRUNING (round 13): the snapshot scan implements
    * `SupportsRuntimeV2Filtering` over its declared layout columns
    * (sorted_by / identity partitions / bucket key / bloom-indexed),
    * so a join against a SELECTIVE dim prunes fact FILES at run time —
    * Spark's dynamic-pruning subquery collects the build side's
    * distinct keys and hands them back as `col IN (...)` before the
    * scan executes; admission per key reuses the stats ∩ bloom
    * machinery of static pushdown. The dataflow: orders land custkey-
    * sorted (tight per-file ranges), the dim keeps every ~300th
    * customer — a modulo predicate NO static range inference can turn
    * into file pruning (the inferred constraint isn't a range, so
    * planning keeps every file) — and the join must still open only
    * the files an actual build-side key hits, pinned inline via the
    * scan's runtime-prune hook. The fact carries a COLD TAIL — a
    * shard whose custkeys lie beyond every customer (the unmatched-
    * keys region every enrichment join has) — that static planning
    * provably cannot drop (the inferred modulo constraint is not a
    * range) but the runtime key list excludes at EVERY scale factor.
    * On a 100 TB clustered fact a 0.3 % dim join reads the files its
    * keys actually hit, not the table. Oracle: the plain join
    * recomputed from the source parquet (the tail joins nothing, so
    * it must vanish from the result, not from correctness). */
  val joinDpp: Q = (spark, dir) => {
    import graft.sources.SnapshotSqlScan
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_dppfact"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val o = ordersCents(spark, dir)
    o.createOrReplaceTempView("graft_dppf_src")
    spark.sql(
      s"""CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT)
         |TBLPROPERTIES ('sorted_by' = 'o_custkey')""".stripMargin)
    // four custkey-disjoint inserts: sorted_by range-sorts each, so
    // files carry tight DISJOINT custkey ranges — the clustered layout
    // runtime pruning bites on
    val maxC = Tables.maxLong(spark, dir, "orders", "o_custkey")
    val q = math.max(maxC / 4, 1L)
    (0 until 4).foreach { s =>
      val hi = if (s == 3) Long.MaxValue else (s + 1) * q
      spark.sql(
        s"""INSERT INTO $t SELECT * FROM graft_dppf_src
           |WHERE o_custkey > ${s * q} AND o_custkey <= $hi""".stripMargin)
    }
    // the dim stays FILE-BACKED (parquet) so its selective predicate
    // survives to the pruning rule, as every real dim's would
    val cust = Tables.customer(spark, dir).select(col("c_custkey"), col("c_name"))
    cust.createOrReplaceTempView("graft_dppf_dim")
    // the cold tail: custkeys strictly beyond every customer — no
    // build-side key can land here, only the runtime filter knows that
    val maxCust = Tables.maxLong(spark, dir, "customer", "c_custkey")
    spark.sql(
      s"""INSERT INTO $t
         |SELECT o_orderkey + ${4L * maxC}, o_custkey + $maxCust, cents
         |FROM graft_dppf_src""".stripMargin)
    SnapshotSqlScan.lastRuntimePrune.set((0, 0))
    // cached so the inline prune pin and the caller's materialization
    // share ONE join execution — the count() below populates the
    // cache (carrying the runtime filters) and the returned frame
    // replays it instead of re-running the join
    val joined = spark.sql(
      s"""SELECT f.o_orderkey, f.o_custkey, f.cents, d.c_name
         |FROM $t f JOIN graft_dppf_dim d ON f.o_custkey = d.c_custkey
         |WHERE d.c_custkey % 293 = 1
         |ORDER BY f.o_orderkey""".stripMargin).cache()
    val n = joined.count() // force an execution carrying runtime filters
    require(n > 0, "dpp join must produce rows")
    val (after, before) = SnapshotSqlScan.lastRuntimePrune.get()
    require(
      before >= 5 && after < before,
      s"runtime filter must exclude files the static plan kept: $after/$before")
    joined
  }

  /** COLUMN DEFAULT VALUES (round 13): `CREATE TABLE (c STRING
    * DEFAULT 'x')` and `ALTER TABLE ADD COLUMN ... DEFAULT y` — the
    * default rides the committed schema's field metadata
    * (CURRENT_DEFAULT fills future INSERTs analyzer-side;
    * EXISTS_DEFAULT fills the column for every file that PREDATES it,
    * applied by the readers' existence-default fill), so a default on
    * a 100 TB table costs zero storage and zero rewrite — the ADD
    * COLUMN DEFAULT here is pinned metadata-only inline. The dataflow
    * interleaves: an insert omitting defaulted columns, an ADD COLUMN
    * DEFAULT behind existing files, a full-column insert, and an
    * explicit `DEFAULT` keyword insert; the oracle reconstructs every
    * row's expected defaults from which phase it landed in. */
  val sqlDefaultCol: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_defaults"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_totalprice")
    o.createOrReplaceTempView("graft_defaults_src")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val half = maxK / 2
    spark.sql(
      s"""CREATE TABLE $t (o_orderkey BIGINT, o_totalprice DOUBLE,
         |status STRING DEFAULT 'legacy')""".stripMargin)
    spark.sql(
      s"""INSERT INTO $t (o_orderkey, o_totalprice)
         |SELECT * FROM graft_defaults_src WHERE o_orderkey <= $half""".stripMargin)
    val p = warehousePath(spark, "orders_defaults")
    val before = SnapshotLog
      .manifest(spark, p, SnapshotLog.versions(spark, p).last).toSet
    spark.sql(s"ALTER TABLE $t ADD COLUMN tier STRING DEFAULT 'bronze'")
    require(
      SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
        .toSet == before,
      "ADD COLUMN DEFAULT must be a metadata-only commit")
    spark.sql(
      s"""INSERT INTO $t
         |SELECT o_orderkey, o_totalprice, 'cur', 'gold'
         |FROM graft_defaults_src WHERE o_orderkey > $half""".stripMargin)
    spark.sql(s"SELECT * FROM $t ORDER BY o_orderkey")
  }

  /** NAMED CHECK CONSTRAINTS (round 13): `ALTER TABLE ADD CONSTRAINT
    * <name> CHECK (...)` / `DROP CONSTRAINT <name>` — the
    * standard-SQL spelling of the check surface. Named predicates
    * store as `ck_<name>` props; their conjunction compiles into the
    * SAME executor-side enforcement every write path already runs, so
    * stacking N constraints costs one fused predicate, not N passes.
    * Spark pre-validates enforced ADDs against existing data (one
    * scan — the catalog skips its own when the validated version is
    * recorded, so an ADD costs one table pass, not two). The graded
    * flow: insert a slice, ADD a range constraint, prove a violating
    * INSERT refuses wholesale (no partial rows), insert a conforming
    * slice, DROP the constraint, insert the remainder (which the
    * dropped predicate would have refused); the oracle reconstructs
    * the exact surviving rows. */
  val sqlCheckNamed: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_ckn"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    o.createOrReplaceTempView("graft_ckn_src")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    spark.sql(
      s"CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_ckn_src WHERE o_orderkey <= $c1")
    spark.sql(
      s"ALTER TABLE $t ADD CONSTRAINT key_range CHECK (o_orderkey <= $c2)")
    // a violating batch refuses WHOLESALE: no partial rows land
    val before = spark.sql(s"SELECT count(*) FROM $t").head.getLong(0)
    val refused =
      try { spark.sql(
        s"INSERT INTO $t SELECT * FROM graft_ckn_src WHERE o_orderkey > $c1")
        false }
      catch { case _: Exception => true }
    require(refused, "the out-of-range batch must refuse")
    require(
      spark.sql(s"SELECT count(*) FROM $t").head.getLong(0) == before,
      "a refused batch must land zero rows")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_ckn_src " +
        s"WHERE o_orderkey > $c1 AND o_orderkey <= $c2")
    spark.sql(s"ALTER TABLE $t DROP CONSTRAINT key_range")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_ckn_src WHERE o_orderkey > $c2")
    spark.sql(s"SELECT * FROM $t ORDER BY o_orderkey")
  }

  /** MERGE-ON-READ SQL DML (round 12): `TBLPROPERTIES ('write_mode' =
    * 'merge-on-read')` routes DELETE/UPDATE through Spark's
    * position-delta row-level protocol (`SupportsDelta`, row identity
    * `(_file, _pos)`) instead of the copy-on-write group rewrite:
    * deletes land as deletion-vector sidecars written executor-side
    * (clustered by `_file`, one complete sidecar per touched file),
    * updates split into DV-kill + appended rows, and the manifest
    * commit amends entries + appends files ATOMICALLY. The graded
    * dataflow scatters a small-fraction DELETE (`%97`) and UPDATE
    * (`%50` on the non-clustered key) across every shard — the shape
    * where CoW would rewrite the whole table and MoR moves only
    * sidecar bytes plus the updated rows. Inline pins: a pure DELETE
    * adds NO files (entries amended in place, DV riders appear), the
    * UPDATE keeps every original data file live and appends only the
    * rewritten rows, and a no-match DELETE burns no version. The
    * oracle recomputes the final state from the source parquet. */
  val sqlDmlMor: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_mordml"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val o = ordersCents(spark, dir)
    o.createOrReplaceTempView("graft_mordml_src")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    spark.sql(
      s"""CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT)
         |TBLPROPERTIES ('write_mode' = 'merge-on-read')""".stripMargin)
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_mordml_src WHERE o_orderkey <= $c1")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_mordml_src " +
        s"WHERE o_orderkey > $c1 AND o_orderkey <= ${2 * c1}")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_mordml_src WHERE o_orderkey > ${2 * c1}")
    val p = warehousePath(spark, "orders_mordml")
    val before = SnapshotLog
      .manifest(spark, p, SnapshotLog.versions(spark, p).last).toSet
    spark.sql(s"DELETE FROM $t WHERE o_orderkey % 97 = 0")
    val afterDel = SnapshotLog
      .manifest(spark, p, SnapshotLog.versions(spark, p).last).toSet
    require(
      afterDel == before,
      "a merge-on-read DELETE must amend entries in place, not move files")
    require(
      SnapshotLog
        .fileRiders(spark, p, SnapshotLog.versions(spark, p).last)
        .exists(_._3.isDefined),
      "the merge-on-read DELETE must leave deletion-vector riders")
    spark.sql(s"UPDATE $t SET cents = cents + 7 WHERE o_custkey % 50 = 1")
    val vUpd = SnapshotLog.versions(spark, p).last
    val afterUpd = SnapshotLog.manifest(spark, p, vUpd).toSet
    require(
      before.subsetOf(afterUpd) && (afterUpd -- before).nonEmpty,
      "a merge-on-read UPDATE must keep every original data file live " +
        "and append only the rewritten rows")
    spark.sql(s"DELETE FROM $t WHERE o_orderkey > ${maxK * 100}")
    require(
      SnapshotLog.versions(spark, p).last == vUpd,
      "a no-match merge-on-read DELETE must not burn a version")
    spark.sql(s"SELECT o_orderkey, o_custkey, cents FROM $t ORDER BY o_orderkey")
  }

  /** INCREMENTAL FILE INGESTION (round 12): `CALL system.ingest(table,
    * landing_dir)` is the batch auto-loader — list the landing
    * directory, subtract every source name an earlier ingest commit
    * recorded, read ONLY the fresh files, and commit them with the
    * consumed names riding the commit header, so the ledger and the
    * data land in one atomic manifest write (no window where they
    * disagree — the flaw of any two-commit design). The graded
    * dataflow drops two waves of parquet into a landing dir with an
    * ingest call after each, then a third idle call; pinned inline:
    * wave 2 skips every wave-1 file, the idle call ingests nothing
    * AND burns no version, and the ledger is exactly the landing
    * listing. At 100 TB: a daily 10 GB drop moves 10 GB through the
    * normal distributed write path plus O(listing + versions) driver
    * metadata. Oracle recomputes the final table from the source. */
  val sqlIngest: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_ingested"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val landing = tmp("ingest_landing")
    val lp = new org.apache.hadoop.fs.Path(landing)
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(lp, true)
    val o = ordersCents(spark, dir)
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    spark.sql(
      s"CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, cents BIGINT)")
    // wave 1 lands, ingests
    o.where(col("o_orderkey") <= maxK / 2)
      .write.mode("append").parquet(landing)
    val r1 = spark.sql(s"CALL $cat.system.ingest('main.orders_ingested', '$landing')")
      .head
    require(r1.getInt(1) > 0 && r1.getInt(2) == 0, s"wave 1 must ingest: $r1")
    // wave 2 lands beside wave 1's files; only the new ones move
    o.where(col("o_orderkey") > maxK / 2)
      .write.mode("append").parquet(landing)
    val r2 = spark.sql(s"CALL $cat.system.ingest('main.orders_ingested', '$landing')")
      .head
    require(
      r2.getInt(1) > 0 && r2.getInt(2) == r1.getInt(1),
      s"wave 2 must skip exactly wave 1's files: $r2 vs $r1")
    // idle call: nothing fresh, no version burned
    val r3 = spark.sql(s"CALL $cat.system.ingest('main.orders_ingested', '$landing')")
      .head
    require(
      r3.getInt(1) == 0 && r3.getInt(0) == r2.getInt(0),
      s"an idle ingest must be a true no-op: $r3 vs $r2")
    val p = warehousePath(spark, "orders_ingested")
    require(
      SnapshotLog.ingestedFiles(spark, p).size == r1.getInt(1) + r2.getInt(1),
      "the ledger must be exactly the landing listing")
    spark.sql(
      s"SELECT o_orderkey, o_custkey, cents FROM $t ORDER BY o_orderkey")
  }

  /** LIMIT / TOP-N PUSHDOWN (round 12): the catalog scan prices
    * `LIMIT n` from the manifest's live-row riders (`_rc` − `_dvc`)
    * and plans only a file prefix covering n rows, and prices
    * `ORDER BY k LIMIT n` from the per-file min/max stats — files
    * sorted by their extremum, a prefix covering n live rows fixes the
    * bound, and every file wholly past it is provably top-n-free. On a
    * `sorted_by` table (disjoint key ranges per file) this collapses a
    * 100 TB scan to O(n/rows-per-file) file opens. Both pushes are
    * PARTIAL — Spark's CollectLimit/TakeOrderedAndProject still runs,
    * so truncation can never change an answer — and both refuse to the
    * full scan when a pushed filter could drop scan rows downstream,
    * when the sort key is nullable (footer stats ignore nulls), or
    * when any file lacks the riders. Inline pins: a bare LIMIT plans
    * ONE file of a multi-file table, ASC and DESC top-n plan a strict
    * subset with the right extremes, and a filtered LIMIT does NOT
    * truncate. The oracle recomputes the returned top-500 exactly. */
  val sqlTopnPushdown: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_topn"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val o = ordersCents(spark, dir)
    // shuffle the source order so the sorted layout does real work
    o.orderBy("o_custkey", "o_orderkey").createOrReplaceTempView("graft_topn_src")
    spark.sql(
      s"""CREATE TABLE $t
         |(o_orderkey BIGINT NOT NULL, o_custkey BIGINT, cents BIGINT)
         |TBLPROPERTIES ('sorted_by' = 'o_orderkey',
         |               'sorted_partitions' = '8')""".stripMargin)
    spark.sql(s"INSERT INTO $t SELECT * FROM graft_topn_src")
    val filesOf = "files=(\\d+)/(\\d+)".r
    def plannedFiles(sql: String): (Int, Int, String) = {
      val plan = spark.sql(sql).queryExecution.executedPlan.toString
      val m = filesOf.findFirstMatchIn(plan).getOrElse(
        throw new IllegalStateException(s"no snapshot scan in plan:\n$plan"))
      (m.group(1).toInt, m.group(2).toInt, plan)
    }
    val (limKept, limTotal, limPlan) = plannedFiles(s"SELECT * FROM $t LIMIT 7")
    require(
      limTotal >= 8 && limKept == 1 && limPlan.contains("PushedLimit: 7"),
      s"a bare LIMIT must plan one file of many: $limKept/$limTotal")
    require(spark.sql(s"SELECT * FROM $t LIMIT 7").count() == 7)
    val (ascKept, ascTotal, ascPlan) =
      plannedFiles(s"SELECT * FROM $t ORDER BY o_orderkey LIMIT 9")
    require(
      ascKept < ascTotal && ascPlan.contains("PushedTopN: o_orderkey#9"),
      s"ascending top-n must prune files: $ascKept/$ascTotal")
    val (descKept, descTotal, descPlan) =
      plannedFiles(s"SELECT * FROM $t ORDER BY o_orderkey DESC LIMIT 9")
    require(
      descKept < descTotal && descPlan.contains("PushedTopN: -o_orderkey#9"),
      s"descending top-n must prune files: $descKept/$descTotal")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    require(
      spark.sql(s"SELECT max(o_orderkey) FROM (SELECT * FROM $t ORDER BY o_orderkey DESC LIMIT 9)")
        .head.getLong(0) == maxK,
      "descending top-n lost the global maximum")
    // a residual filter drops scan rows downstream: no prefix of files
    // is provably sufficient, so the scan must NOT truncate
    val (fKept, fTotal, _) =
      plannedFiles(s"SELECT * FROM $t WHERE o_custkey % 3 = 0 LIMIT 7")
    require(fKept == fTotal, s"filtered LIMIT must not truncate: $fKept/$fTotal")
    spark.sql(
      s"SELECT o_orderkey, cents FROM $t ORDER BY o_orderkey LIMIT 500")
  }

  /** METADATA TABLES (round 12): `SELECT * FROM ns.t.history|files|refs`
    * — the Iceberg idiom, served entirely from manifest riders and the
    * ref listing as LocalScans (O(metadata) rows, zero data files
    * opened). The graded query reads the commit ledger THROUGH plain
    * SQL over four commit kinds (empty create, two appends, a delete)
    * and the oracle recomputes each version's live-row total from the
    * source — a ledger that lost a version, mis-summed riders, or
    * counted dead rows breaks the hash. The files and refs surfaces
    * are pinned inline. */
  val sqlMetaHistory: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.orders_meta")
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    val mid = (3 * c1) / 2
    o.createOrReplaceTempView("graft_meta_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_meta
         |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.main.orders_meta
         |SELECT * FROM graft_meta_src WHERE o_orderkey <= $c2""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.main.orders_meta
         |SELECT * FROM graft_meta_src WHERE o_orderkey > $c2""".stripMargin)
    spark.sql(
      s"DELETE FROM $cat.main.orders_meta WHERE o_orderkey BETWEEN ${c1 + 1} AND $mid")
    // inline pins: the files inventory serves rider data; a tagged ref
    // appears in the refs surface at the right version
    val files = spark.sql(
      s"SELECT sum(rows - dv_dead_rows) FROM $cat.main.orders_meta.files").head
    require(!files.isNullAt(0) && files.getLong(0) > 0,
      "t.files must serve live-row riders")
    spark.sql(s"CALL $cat.system.tag(table => 'main.orders_meta', name => 'ledger')")
    require(
      spark.sql(
        s"SELECT version FROM $cat.main.orders_meta.refs WHERE name = 'ledger'")
        .head.getInt(0) == 4,
      "t.refs must list the tag at its pinned version")
    spark.sql(
      s"""SELECT version, n_live_rows
         |FROM $cat.main.orders_meta.history ORDER BY version""".stripMargin)
  }

  /** SQL tag travel (round 11 cont.): `VERSION AS OF '<tag>'` resolves
    * a NAMED ref — two shards land via CTAS, `CALL system.tag` pins
    * `baseline` at that snapshot, a third shard inserts after, and the
    * graded query reads the TAG through pure SQL. The oracle recomputes
    * the first two shards, so a tag that followed the tip or resolved
    * to the wrong version breaks the hash. Unknown tags refuse loudly
    * (pinned inline). */
  val sqlTimeTravelTag: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.orders_tagsql")
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c2 = 2 * (maxK / 3)
    o.createOrReplaceTempView("graft_tagsql_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_tagsql AS
         |SELECT * FROM graft_tagsql_src WHERE o_orderkey <= $c2""".stripMargin)
    spark.sql(s"CALL $cat.system.tag(table => 'main.orders_tagsql', name => 'baseline')")
    spark.sql(
      s"""INSERT INTO $cat.main.orders_tagsql
         |SELECT * FROM graft_tagsql_src WHERE o_orderkey > $c2""".stripMargin)
    val bad = scala.util.Try(
      spark.sql(
        s"SELECT * FROM $cat.main.orders_tagsql VERSION AS OF 'nope'").collect())
    require(bad.isFailure, "an unknown tag must refuse, not fall back to the tip")
    spark.sql(
      s"""SELECT o_orderkey, o_custkey, o_totalprice
         |FROM $cat.main.orders_tagsql VERSION AS OF 'baseline'
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** INGESTION-TIME clustering (round 11 cont.): `CREATE TABLE ...
    * TBLPROPERTIES ('sorted_by' = 'o_orderkey')` makes every plain
    * `INSERT INTO` range-partition + sort on the declared column
    * (`RequiresDistributionAndOrdering`), so each task writes a tight
    * disjoint key slice and footer-stats skipping prunes from the very
    * first insert — no OPTIMIZE pass, no hive partitions, no
    * small-file explosion. Pinned inline: a narrow-range probe keeps
    * at most 2 of the sorted table's files but would keep ALL files of
    * an identically-inserted unsorted twin (the layout, not the data,
    * is what prunes). The oracle recomputes the range aggregate, so
    * the sort cannot have lost or duplicated rows. */
  val sinkSortedInsert: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val cat = sqlCatalog(spark)
    Seq("orders_sorted", "orders_unsorted").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $cat.main.$t"))
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    // shuffle the source order so the sort is doing real work
    o.orderBy("o_custkey", "o_orderkey").createOrReplaceTempView("graft_sorted_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_sorted
         |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
         |TBLPROPERTIES ('sorted_by' = 'o_orderkey',
         |               'sorted_partitions' = '8')""".stripMargin)
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_unsorted
         |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.main.orders_sorted SELECT * FROM graft_sorted_src")
    spark.sql(s"INSERT INTO $cat.main.orders_unsorted SELECT * FROM graft_sorted_src")
    val sortedPath = warehousePath(spark, "orders_sorted")
    val unsortedPath = warehousePath(spark, "orders_unsorted")
    val probe = (maxK / 2, maxK / 2 + maxK / 20)
    val (keptS, totalS) =
      SnapshotLog.prunedFiles(spark, sortedPath, "o_orderkey", probe._1, probe._2)
    val (keptU, totalU) =
      SnapshotLog.prunedFiles(spark, unsortedPath, "o_orderkey", probe._1, probe._2)
    require(
      totalS >= 6 && keptS.size <= 2,
      s"sorted ingestion must prune a narrow probe: kept ${keptS.size}/$totalS")
    require(
      keptU.size == totalU,
      s"the unsorted twin must NOT prune (else the pin proves nothing): " +
        s"${keptU.size}/$totalU")
    spark.sql(
      s"""SELECT o_custkey, count(*) AS n,
         |       CAST(round(sum(o_totalprice), 0) AS BIGINT) AS total
         |FROM $cat.main.orders_sorted
         |WHERE o_orderkey BETWEEN ${probe._1} AND ${probe._2}
         |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin)
  }

  /** CHECK constraints at the storage boundary (round 11 cont.):
    * `TBLPROPERTIES ('check' = '<boolean sql>')` compiles at DDL time
    * (a malformed constraint fails the CREATE) and every write path —
    * INSERT, streaming epochs, DML rewrites — evaluates the bound
    * expression per row EXECUTOR-SIDE before a byte lands; a violation
    * aborts the task, the two-phase commit never runs, and the losers
    * are vacuum-able orphans. Pinned inline: a violating INSERT throws
    * AND burns no version AND leaves the read-back bit-identical
    * (atomicity of the refusal, not just the error). The oracle
    * recomputes the accepted rows. */
  val sqlCheckConstraint: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.orders_check")
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_check_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_check
         |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
         |TBLPROPERTIES ('check' = 'o_totalprice >= 0 AND o_orderkey >= 0')""".stripMargin)
    spark.sql(s"INSERT INTO $cat.main.orders_check SELECT * FROM graft_check_src")
    val tablePath = warehousePath(spark, "orders_check")
    val vBefore = SnapshotLog.versions(spark, tablePath).last
    val nBefore = spark.sql(s"SELECT count(*) FROM $cat.main.orders_check")
      .head.getLong(0)
    val bad = scala.util.Try(
      spark.sql(
        s"""INSERT INTO $cat.main.orders_check
           |SELECT o_orderkey, o_custkey, -o_totalprice
           |FROM graft_check_src""".stripMargin))
    require(bad.isFailure, "a violating INSERT must refuse")
    require(
      SnapshotLog.versions(spark, tablePath).last == vBefore,
      "a refused INSERT must not burn a version")
    require(
      spark.sql(s"SELECT count(*) FROM $cat.main.orders_check")
        .head.getLong(0) == nBefore,
      "a refused INSERT must leave the table bit-identical")
    spark.sql(
      s"""SELECT o_orderkey, o_custkey, o_totalprice
         |FROM $cat.main.orders_check ORDER BY o_orderkey""".stripMargin)
  }

  /** UNIQUE KEY constraint at the storage boundary (round 12): a
    * declared `unique_key` BIGINT column is audited on every batch
    * write BEFORE its manifest commit — in-batch duplicates, NULL
    * keys, and collisions against the live table (only files whose
    * manifest stats overlap the batch's key range are read, deletion
    * vectors applied) — so a violation aborts with NO VERSION BURNED
    * and the landed files reclaimed. The mainstream table formats
    * don't enforce this; the audit's cost class — O(batch) +
    * O(range-admitted files) — is what makes it affordable at 100 TB
    * on a key-clustered table. The graded sequence: lower half
    * inserts; an overlapping re-insert REFUSES (version pinned
    * unchanged inline); the disjoint upper half inserts; an UPDATE
    * rewriting a key onto an existing key REFUSES through the
    * row-level path (rewritten rows audit against CARRIED files
    * only); a DELETEd key re-inserts successfully (the audit sees
    * live rows, not dead ones). Final state is exactly the source
    * projection, so the oracle hash proves every refusal refused and
    * every legitimate write landed. */
  val sqlUniqueKey: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.cust_unique")
    val c = Tables
      .customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal")
    c.createOrReplaceTempView("graft_uniq_src")
    val maxK = Tables.maxLong(spark, dir, "customer", "c_custkey")
    val half = maxK / 2
    spark.sql(
      s"""CREATE TABLE $cat.main.cust_unique
         |(c_custkey BIGINT, c_name STRING, c_acctbal DOUBLE)
         |TBLPROPERTIES ('unique_key' = 'c_custkey')""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.main.cust_unique
         |SELECT * FROM graft_uniq_src WHERE c_custkey <= $half""".stripMargin)
    val tablePath = warehousePath(spark, "cust_unique")
    val vBefore = SnapshotLog.versions(spark, tablePath).last
    val overlap = scala.util.Try(
      spark.sql(
        s"""INSERT INTO $cat.main.cust_unique
           |SELECT * FROM graft_uniq_src
           |WHERE c_custkey BETWEEN ${half / 2} AND $half""".stripMargin))
    require(overlap.isFailure, "re-inserting existing keys must refuse")
    require(
      SnapshotLog.versions(spark, tablePath).last == vBefore,
      "a refused INSERT must not burn a version")
    spark.sql(
      s"""INSERT INTO $cat.main.cust_unique
         |SELECT * FROM graft_uniq_src WHERE c_custkey > $half""".stripMargin)
    val keyClash = scala.util.Try(
      spark.sql(
        s"""UPDATE $cat.main.cust_unique SET c_custkey = 1
           |WHERE c_custkey = $maxK""".stripMargin))
    require(
      keyClash.isFailure,
      "an UPDATE rewriting a key onto an existing key must refuse")
    spark.sql(s"DELETE FROM $cat.main.cust_unique WHERE c_custkey = $half")
    spark.sql(
      s"""INSERT INTO $cat.main.cust_unique
         |SELECT * FROM graft_uniq_src WHERE c_custkey = $half""".stripMargin)
    spark.sql(
      s"""SELECT c_custkey, c_name, c_acctbal
         |FROM $cat.main.cust_unique ORDER BY c_custkey""".stripMargin)
  }

  /** VECTOR columns as first-class lakehouse data (round 11 cont.):
    * the catalog now stores numeric ARRAY columns (standard 3-level
    * parquet LIST encoding through Spark's parquet row writer), so
    * an embedding table lives IN the transactional snapshot table —
    * versioned, time-travelable, vacuum-managed — instead of beside
    * it. The graded query runs the exact-cosine top-10 THROUGH the
    * catalog table (fused `cosine_sim` expression over the
    * round-tripped float vectors) against the same DuckDB oracle as
    * sim_topk_nn on the raw parquet: the hash proves the arrays
    * survive the write/read path bit-exactly — any element lost,
    * reordered, or precision-damaged breaks it. */
  val sqlVectorTable: Q = (spark, dir) => {
    graft.functions.GraftFunctions.register(spark)
    val cat = sqlCatalog(spark)
    spark.sql(s"DROP TABLE IF EXISTS $cat.main.emb_vec")
    Tables.embeddings(spark, dir).createOrReplaceTempView("graft_vec_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.emb_vec
         |(vec_id BIGINT, embedding ARRAY<FLOAT>, label INT)""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.main.emb_vec
         |SELECT vec_id, embedding, label FROM graft_vec_src""".stripMargin)
    spark.sql(
      s"""SELECT vec_id, round(cosu, 6) AS cos FROM (
         |  SELECT e.vec_id, cosine_sim(e.embedding, p.pe) AS cosu
         |  FROM $cat.main.emb_vec e
         |  CROSS JOIN (SELECT embedding AS pe FROM $cat.main.emb_vec
         |              WHERE vec_id = 0) p
         |  WHERE e.vec_id <> 0) t
         |ORDER BY cosu DESC, vec_id LIMIT 10""".stripMargin)
  }

  /** QUARANTINE (dead-letter) mode for CHECK constraints (round 11
    * cont.): `'check_mode' = 'quarantine'` diverts violating rows to
    * the sibling `<table>_quarantine` snapshot table instead of
    * failing the job — a 100 TB ingestion does not die for a handful
    * of bad rows, and the bad rows stay QUERYABLE (the quarantine
    * table is a first-class catalog table with its own log/history).
    * One INSERT carries a mix of valid rows and negated-price
    * violations; the graded result is both populations labeled with
    * their disposition, and the oracle recomputes the split from the
    * source — a row kept that should have been quarantined (or lost
    * entirely) breaks the hash row-by-row. */
  val sqlCheckQuarantine: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    Seq("orders_quar", "orders_quar_quarantine").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $cat.main.$t"))
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_quar_src")
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_quar
         |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
         |TBLPROPERTIES ('check' = 'o_totalprice >= 0',
         |               'check_mode' = 'quarantine')""".stripMargin)
    spark.sql(
      s"""INSERT INTO $cat.main.orders_quar
         |SELECT o_orderkey, o_custkey,
         |       CASE WHEN o_custkey % 10 = 0 THEN -o_totalprice
         |            ELSE o_totalprice END
         |FROM graft_quar_src""".stripMargin)
    val kept = spark.sql(
      s"SELECT min(o_totalprice) FROM $cat.main.orders_quar").head.getDouble(0)
    require(kept >= 0, "no violating row may reach the main table")
    require(
      spark.sql(s"SELECT count(*) FROM $cat.main.orders_quar_quarantine")
        .head.getLong(0) > 0,
      "the dead-letter table must hold the violations, queryable via SQL")
    spark.sql(
      s"""SELECT o_orderkey, o_custkey, o_totalprice, 'kept' AS disposition
         |FROM $cat.main.orders_quar
         |UNION ALL
         |SELECT o_orderkey, o_custkey, o_totalprice, 'quarantined'
         |FROM $cat.main.orders_quar_quarantine
         |ORDER BY o_orderkey""".stripMargin)
  }

  /** OPTIMIZE WHERE (round 11 cont.): range-scoped incremental
    * compaction — on a 100 TB table you bin-pack the shard that just
    * finished ingesting, never the whole table. Each of three key
    * ranges lands as several small files; the scoped compact admits
    * only the files whose manifest stats intersect the middle range,
    * bin-packs exactly those, and carries every out-of-scope file BY
    * REFERENCE (pinned: the outer shards' file NAMES survive verbatim
    * in the new manifest; the rewrite count is bounded by the middle
    * shard). Like whole-table OPTIMIZE the commit is
    * `datachange=false`, so the change feed stays silent; the oracle
    * is the source scan because compaction is data-preserving by
    * contract. */
  val sinkOptimizeWhere: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_optwhere")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    def shard(lo: Long, hi: Long) = o
      .filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
      .repartitionByRange(3, col("o_orderkey"))
    SnapshotLog.commit(spark, table, shard(-1, c1))
    SnapshotLog.commit(spark, table, shard(c1, c2))
    SnapshotLog.commit(spark, table, shard(c2, maxK))
    val before = SnapshotLog.manifest(spark, table, 3)
    val (v, rewritten, carried) = SnapshotLog.compact(
      spark, table, where = Some(("o_orderkey", c1 + 1, c2)))
    require(
      rewritten.nonEmpty && rewritten.size <= 3,
      s"scoped optimize must rewrite only the admitted shard: $rewritten")
    val after = SnapshotLog.manifest(spark, table, v).toSet
    val outer = before.filterNot(rewritten.toSet)
    require(
      outer.nonEmpty && outer.forall(after),
      "out-of-scope files must carry by reference, name-identical")
    require(carried.toSet.intersect(outer.toSet) == outer.toSet,
      "carried list must include every out-of-scope file")
    SnapshotLog.read(spark, table).orderBy("o_orderkey")
  }

  /** Copy-on-write DELETE (round 11): three range-sharded appends,
    * then `deleteWhere` removes a sub-range of the middle shard —
    * manifest stats admit only that shard's files, so they alone are
    * rewritten (with their surviving rows) and both outer shards carry
    * by reference (checked inline). A second delete on a range no
    * file's stats admit is a free no-op: no files rewritten, no
    * version burned. The 100 TB contract: deleting one ingestion
    * shard's range costs O(that shard), not a table rewrite. */
  val etlDeleteSnapshot: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_del")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    val mid = (3 * c1) / 2
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") <= c1))
    SnapshotLog.commit(
      spark,
      table,
      o.filter(col("o_orderkey") > c1 && col("o_orderkey") <= c2)
    )
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") > c2))
    val (v, rewritten, carried) =
      SnapshotLog.deleteWhere(spark, table, "o_orderkey", c1 + 1, mid)
    require(
      rewritten.nonEmpty && carried.nonEmpty,
      "a mid-shard delete must rewrite only the admitted files"
    )
    val (v2, r2, _) =
      SnapshotLog.deleteWhere(spark, table, "o_orderkey", maxK * 10, maxK * 20)
    require(
      v2 == v && r2.isEmpty,
      "a delete no file admits must be a no-op (no version burned)"
    )
    SnapshotLog.read(spark, table).orderBy("o_orderkey")
  }

  /** Shared setup for the SQL DML keys: orders projection landed as
    * three RANGE-SHARDED inserts through the catalog, so runtime group
    * filtering has distinct groups to prove its granularity on.
    * Returns (tableRef, c1, mid). */
  private def sqlDmlTable(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      name: String
  ): (String, Long, Long) = {
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.$name"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    o.createOrReplaceTempView("graft_sql_dml_src")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val mid = (3 * c1) / 2
    spark.sql(
      s"CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_sql_dml_src WHERE o_orderkey <= $c1")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_sql_dml_src WHERE o_orderkey > $c1 AND o_orderkey <= ${2 * c1}")
    spark.sql(
      s"INSERT INTO $t SELECT * FROM graft_sql_dml_src WHERE o_orderkey > ${2 * c1}")
    (t, c1, mid)
  }

  /** SQL `DELETE FROM` (round 11 late): the group-based copy-on-write
    * rewrite with RUNTIME GROUP FILTERING — Spark's dynamic-pruning
    * subquery finds the `_file` groups that actually hold a doomed row
    * and only THOSE are rewritten; the inline checks pin that the
    * untouched shards' file names survive verbatim into the post-DML
    * manifest and that a DELETE matching nothing burns no version. The
    * oracle is the same range-subtraction SQL as the programmatic
    * delete twins. */
  val sqlDelete: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val (t, c1, mid) = sqlDmlTable(spark, dir, "orders_sqldel")
    val p = warehousePath(spark, "orders_sqldel")
    val before = SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
    spark.sql(s"DELETE FROM $t WHERE o_orderkey >= ${c1 + 1} AND o_orderkey <= $mid")
    val v = SnapshotLog.versions(spark, p).last
    val after = SnapshotLog.manifest(spark, p, v)
    require(
      before.toSet.intersect(after.toSet).nonEmpty &&
        (before.toSet -- after.toSet).nonEmpty,
      "SQL DELETE must rewrite only the groups holding matched rows"
    )
    spark.sql(s"DELETE FROM $t WHERE o_orderkey > ${mid * 100}")
    require(
      SnapshotLog.versions(spark, p).last == v,
      "a DELETE matching no rows must not burn a version"
    )
    spark.sql(s"SELECT * FROM $t ORDER BY o_orderkey")
  }

  /** METADATA-ONLY SQL DELETE (round 11 late): the doomed range is the
    * ENTIRE third shard, so every live file is provably fully-inside
    * or fully-disjoint by its manifest stats — Spark's
    * OptimizeMetadataOnlyDeleteFromTable converts the row-level
    * rewrite back into `SupportsDeleteV2.deleteWhere`, and the delete
    * becomes a MANIFEST EDIT: inside files drop, nothing is read or
    * written (inline pins: the plan is DeleteFromTable with no
    * ReplaceData; the post-delete manifest is a strict subset of the
    * pre-delete one). At 100 TB, dropping an expired ingestion shard
    * costs one commit instead of a cluster-hour rewrite. */
  val sqlDeleteMetadata: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val (t, c1, _) = sqlDmlTable(spark, dir, "orders_sqldelmeta")
    val p = warehousePath(spark, "orders_sqldelmeta")
    val plan = spark
      .sql(s"EXPLAIN DELETE FROM $t WHERE o_orderkey > ${2 * c1}")
      .collect()(0).getString(0)
    require(
      plan.contains("DeleteFromTable") && !plan.contains("ReplaceData"),
      s"a whole-shard delete must take the metadata-only path:\n$plan"
    )
    val before = SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
    spark.sql(s"DELETE FROM $t WHERE o_orderkey > ${2 * c1}")
    val after = SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
    require(
      after.toSet.subsetOf(before.toSet) && after.size < before.size,
      "a metadata-only delete drops files and adds NONE"
    )
    spark.sql(s"SELECT * FROM $t ORDER BY o_orderkey")
  }

  /** SQL `UPDATE` (round 11 late): same group-granular rewrite; shares
    * etl_update_mor's CASE-expression oracle shape so the SQL surface
    * is proven row-identical to the programmatic MoR update. */
  val sqlUpdate: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val (t, c1, mid) = sqlDmlTable(spark, dir, "orders_sqlupd")
    val p = warehousePath(spark, "orders_sqlupd")
    val before = SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
    spark.sql(
      s"""UPDATE $t SET o_totalprice = round(o_totalprice * 2, 2)
         |WHERE o_orderkey >= ${c1 + 1} AND o_orderkey <= $mid""".stripMargin)
    val after =
      SnapshotLog.manifest(spark, p, SnapshotLog.versions(spark, p).last)
    require(
      before.toSet.intersect(after.toSet).nonEmpty,
      "SQL UPDATE must carry untouched groups by reference"
    )
    spark.sql(s"SELECT * FROM $t ORDER BY o_orderkey")
  }

  /** SQL `MERGE INTO` (round 11 late): matched rows update in place
    * (acctbal doubled for every tenth customer), unmatched source rows
    * insert — the full MERGE dataflow through the catalog's row-level
    * operation, group-granular like the other DML. The oracle
    * recomputes both arms in one CASE + UNION. */
  val sqlMerge: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.customer_sqlmrg"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables
      .customer(spark, dir)
      .select("c_custkey", "c_acctbal")
      .createOrReplaceTempView("graft_sql_mrg_tgt")
    spark.sql(s"CREATE TABLE $t (c_custkey BIGINT, c_acctbal DOUBLE)")
    spark.sql(s"INSERT INTO $t SELECT * FROM graft_sql_mrg_tgt")
    spark.sql(
      """SELECT c_custkey, round(c_acctbal * 2, 2) AS c_acctbal
        |FROM graft_sql_mrg_tgt WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT * FROM VALUES (CAST(-1 AS BIGINT), CAST(0.0 AS DOUBLE)),
        |                     (CAST(-2 AS BIGINT), CAST(0.0 AS DOUBLE)),
        |                     (CAST(-3 AS BIGINT), CAST(0.0 AS DOUBLE))""".stripMargin)
      .createOrReplaceTempView("graft_sql_mrg_src")
    spark.sql(
      s"""MERGE INTO $t USING graft_sql_mrg_src s ON $t.c_custkey = s.c_custkey
         |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal
         |WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal)
         |VALUES (s.c_custkey, s.c_acctbal)""".stripMargin)
    spark.sql(s"SELECT * FROM $t ORDER BY c_custkey")
  }

  /** `WHEN NOT MATCHED BY SOURCE` (round 12): the third MERGE clause —
    * target rows with NO source counterpart act (here: conditional
    * DELETE), which forces the rewrite to scan EVERY candidate group
    * (any file may hold an unmatched row; runtime group filtering
    * correctly degrades to all-files) while the commit is still one
    * atomic replace. The dataflow: upsert the doubled-balance rows AND
    * purge the %7 stragglers the source no longer carries, in ONE
    * statement — the incremental-snapshot-apply shape a CDC consumer
    * needs. Oracle recomputes all three populations row-by-row. */
  val sqlMergeSource: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.customer_sqlmrgsrc"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables
      .customer(spark, dir)
      .select("c_custkey", "c_acctbal")
      .createOrReplaceTempView("graft_sql_mrgsrc_tgt")
    spark.sql(s"CREATE TABLE $t (c_custkey BIGINT, c_acctbal DOUBLE)")
    spark.sql(s"INSERT INTO $t SELECT * FROM graft_sql_mrgsrc_tgt")
    spark.sql(
      """SELECT c_custkey, round(c_acctbal * 2, 2) AS c_acctbal
        |FROM graft_sql_mrgsrc_tgt WHERE c_custkey % 10 = 0
        |UNION ALL
        |SELECT * FROM VALUES (CAST(-7 AS BIGINT), CAST(1.5 AS DOUBLE))""".stripMargin)
      .createOrReplaceTempView("graft_sql_mrgsrc_src")
    spark.sql(
      s"""MERGE INTO $t USING graft_sql_mrgsrc_src s ON $t.c_custkey = s.c_custkey
         |WHEN MATCHED THEN UPDATE SET c_acctbal = s.c_acctbal
         |WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal)
         |VALUES (s.c_custkey, s.c_acctbal)
         |WHEN NOT MATCHED BY SOURCE AND $t.c_custkey % 7 = 0 THEN DELETE""".stripMargin)
    spark.sql(s"SELECT * FROM $t ORDER BY c_custkey")
  }

  /** STREAMING TABLE-TO-TABLE through the SQL surface (round 11 late):
    * `spark.readStream.table` over one catalog table into
    * `writeStream.toTable` on another — versions-as-offsets on the
    * read side, epoch-scoped idempotent commits on the write side
    * (txn id = queryId:epochId, so a crash between sink commit and
    * offset commit re-delivers harmlessly). The etl_snapshot_replicate
    * loop, now expressed entirely in the catalog API a user would
    * actually write. Oracle recomputes the source, so the hash is the
    * dual exactly-once gate: a replayed epoch duplicates, a skipped
    * version loses. */
  val streamTableSink: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val cat = sqlCatalog(spark)
    val fsys = new org.apache.hadoop.fs.Path(tmp("sql_warehouse"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val src = warehousePath(spark, "orders_tstream_src")
    fsys.delete(new org.apache.hadoop.fs.Path(src), true)
    val ckpt = tmp("orders_tstream_ckpt")
    fsys.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    SnapshotLog.commit(spark, src, o.filter(col("o_orderkey") % 3 === 0))
    SnapshotLog.commit(spark, src, o.filter(col("o_orderkey") % 3 === 1))
    SnapshotLog.commit(spark, src, o.filter(col("o_orderkey") % 3 === 2))
    val dst = s"$cat.main.orders_tstream_dst"
    spark.sql(s"DROP TABLE IF EXISTS $dst")
    spark.sql(
      s"CREATE TABLE $dst (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
    val q = spark.readStream
      .table(s"$cat.main.orders_tstream_src")
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(dst)
    q.awaitTermination(180000)
    spark.sql(s"SELECT * FROM $dst ORDER BY o_orderkey")
  }

  /** STORAGE-PARTITIONED JOIN (round 11 late): orders and customer are
    * committed BUCKET-CLUSTERED on the customer key (8 buckets,
    * a bucketed `SnapshotLog.commit` — the shuffle is paid once at write
    * time), the catalog's scans report `bucket(8, key)`
    * KeyGroupedPartitioning bound through the catalog's
    * FunctionCatalog, and the join then needs NO exchange: the inline
    * pin REQUIRES a SortMergeJoin with zero `Exchange
    * hashpartitioning` operators in the plan (broadcast disabled
    * during planning so the shuffle elision is what's actually
    * proven). At 100 TB this is the canonical co-located fact-dim
    * join: every query over the pair reads aligned buckets instead of
    * re-shuffling both tables. The oracle recomputes the plain join,
    * so the hash proves bucket alignment loses no rows. */
  val joinSpj: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val cat = sqlCatalog(spark)
    val fsys = new org.apache.hadoop.fs.Path(tmp("sql_warehouse"))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("orders_bkt", "customer_bkt").foreach(t =>
      fsys.delete(new org.apache.hadoop.fs.Path(warehousePath(spark, t)), true))
    def bucketed(table: String, df: org.apache.spark.sql.DataFrame, key: String): Int =
      SnapshotLog.commit(
        spark, warehousePath(spark, table),
        SnapshotLog.CommitRequest(SnapshotLog.CommitData.Frame(df), buckets = Some((key, 8))))
    bucketed(
      "orders_bkt",
      Tables.orders(spark, dir).select("o_orderkey", "o_custkey", "o_totalprice"),
      "o_custkey")
    bucketed(
      "customer_bkt", Tables.customer(spark, dir).select("c_custkey", "c_mktsegment"),
      "c_custkey")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.sql(
        s"""SELECT c_mktsegment, count(*) AS cnt,
           |       CAST(round(sum(o_totalprice), 0) AS BIGINT) AS total
           |FROM $cat.main.orders_bkt o
           |JOIN $cat.main.customer_bkt c ON o.o_custkey = c.c_custkey
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
      // the GROUP BY after the join legitimately shuffles on the
      // segment; the JOIN KEYS must never appear in an exchange
      require(
        !plan.contains("Exchange hashpartitioning(o_custkey") &&
          !plan.contains("Exchange hashpartitioning(c_custkey"),
        s"storage-partitioned join must not shuffle the join keys:\n$plan")
      // materialize under the planning confs (the result is the
      // bounded per-segment aggregate — five rows)
      val rows = df.collect()
      spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), df.schema)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  /** SQL maintenance surface (round 11 late): `CALL
    * <cat>.system.optimize(...)` — the lakehouse OPTIMIZE reachable
    * from SQL via Spark's procedure catalog (no parser extension).
    * Eight small single-shard inserts accrete small files; the CALL
    * bin-packs them as a datachange=false replace (the change feed
    * stays silent), the inline pins require the rewrite actually
    * happened AND the manifest shrank, and the oracle recomputes the
    * source rows — any row lost or duplicated by the rewrite breaks
    * the hash. */
  val sqlCallOptimize: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val cat = sqlCatalog(spark)
    val t = s"$cat.main.orders_sqlopt"
    val p = warehousePath(spark, "orders_sqlopt")
    spark.sql(s"DROP TABLE IF EXISTS $t")
    Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_sql_opt_src")
    spark.sql(
      s"CREATE TABLE $t (o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)")
    (0 until 8).foreach(i =>
      spark.sql(
        s"INSERT INTO $t SELECT * FROM graft_sql_opt_src WHERE o_orderkey % 8 = $i"))
    val before = SnapshotLog
      .manifest(spark, p, SnapshotLog.versions(spark, p).last).size
    val res = spark
      .sql(s"CALL $cat.system.optimize(table => 'main.orders_sqlopt')")
      .collect()(0)
    require(res.getInt(1) > 0, "CALL optimize must rewrite the small files")
    val after = SnapshotLog
      .manifest(spark, p, SnapshotLog.versions(spark, p).last).size
    require(after < before, s"optimize must shrink the manifest ($before -> $after)")
    spark.sql(s"SELECT * FROM $t ORDER BY o_orderkey")
  }

  /** ALL-SQL storage-partitioned join (round 11 late): the bucketed
    * layout now declares in DDL (`CREATE TABLE ... PARTITIONED BY
    * (bucket(8, key))`) and `INSERT INTO` MAINTAINS it — the write
    * asks Spark for a clustered distribution on the catalog-served
    * bucket function (`RequiresDistributionAndOrdering`), task writers
    * route rows to per-bucket files, and the commit re-declares the
    * layout — so the join stays shuffle-free across SQL ingestion, not
    * just after a one-shot programmatic load. Same inline no-exchange
    * pin and plain-join oracle as join_spj. */
  val joinSpjSql: Q = (spark, dir) => {
    val cat = sqlCatalog(spark)
    Seq("orders_bsql", "customer_bsql").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $cat.main.$t"))
    Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .createOrReplaceTempView("graft_spj_orders")
    Tables.customer(spark, dir)
      .select("c_custkey", "c_mktsegment")
      .createOrReplaceTempView("graft_spj_customer")
    spark.sql(
      s"""CREATE TABLE $cat.main.orders_bsql
         |(o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE)
         |PARTITIONED BY (bucket(8, o_custkey))""".stripMargin)
    spark.sql(
      s"""CREATE TABLE $cat.main.customer_bsql
         |(c_custkey BIGINT, c_mktsegment STRING)
         |PARTITIONED BY (bucket(8, c_custkey))""".stripMargin)
    spark.sql(s"INSERT INTO $cat.main.orders_bsql SELECT * FROM graft_spj_orders")
    spark.sql(s"INSERT INTO $cat.main.customer_bsql SELECT * FROM graft_spj_customer")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val df = spark.sql(
        s"""SELECT c_mktsegment, count(*) AS cnt,
           |       CAST(round(sum(o_totalprice), 0) AS BIGINT) AS total
           |FROM $cat.main.orders_bsql o
           |JOIN $cat.main.customer_bsql c ON o.o_custkey = c.c_custkey
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(
        !plan.contains("Exchange hashpartitioning(o_custkey") &&
          !plan.contains("Exchange hashpartitioning(c_custkey"),
        s"SQL-ingested bucketed tables must join shuffle-free: $plan")
      val rows = df.collect()
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  /** RESTORE TABLE TO VERSION (round 11 cont.): metadata-only rollback
    * through [[graft.sources.SnapshotLog.restore]]. Three range-sharded
    * appends build the table, a copy-on-write DELETE (the "bad write")
    * rewrites the middle shard, and the restore to v2 rolls the table
    * back BEFORE the third shard and the delete — by re-committing v2's
    * manifest entries verbatim. The inline pins carry the storage
    * contract: the restored manifest's file NAMES equal v2's verbatim
    * (the original middle shard is re-added BY REFERENCE, the rewritten
    * file and the third shard drop), the data-file population on disk
    * is untouched (zero bytes moved — at 100 TB the rollback costs one
    * manifest write), rolled-back versions stay time-travel readable
    * (history is append-only), and a second restore to the same content
    * is a no-op that burns no version. The oracle recomputes v2's state
    * from the source, so a restore that resurrected the deleted range
    * from the wrong generation or leaked shard-3 rows breaks the
    * hash. */
  val etlSnapshotRestore: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_restore")
    val fsys = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    val mid = (3 * c1) / 2
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") <= c1))
    SnapshotLog.commit(
      spark, table, o.filter(col("o_orderkey") > c1 && col("o_orderkey") <= c2))
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") > c2))
    val (v4, rewritten, _) =
      SnapshotLog.deleteWhere(spark, table, "o_orderkey", c1 + 1, mid)
    require(rewritten.nonEmpty, "the bad delete must have rewritten a shard")
    def diskParquet(): Set[String] = fsys
      .listStatus(new org.apache.hadoop.fs.Path(table))
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.getName)
      .toSet
    val before = diskParquet()
    val (v5, readded, dropped) = SnapshotLog.restore(spark, table, 2)
    require(v5 == v4 + 1, s"restore must commit one new version, got $v5")
    require(
      SnapshotLog.manifest(spark, table, v5).sorted ==
        SnapshotLog.manifest(spark, table, 2).sorted,
      "restored manifest must name exactly v2's files")
    require(
      rewritten.toSet.subsetOf(readded.toSet) && dropped.nonEmpty,
      "restore must re-add the delete's rewritten-away originals and drop " +
        "the replacement files")
    require(
      diskParquet() == before,
      "restore must be metadata-only: no data file may appear or vanish")
    // rolled-back history stays readable: the bad tip is still v4
    require(
      SnapshotLog.manifest(spark, table, v4).sorted !=
        SnapshotLog.manifest(spark, table, v5).sorted,
      "pre-restore version must remain its own snapshot")
    val (v6, r2, d2) = SnapshotLog.restore(spark, table, 2)
    require(
      v6 == v5 && r2.isEmpty && d2.isEmpty,
      "restore to the tip's own content must be a no-op (no version burned)")
    SnapshotLog.read(spark, table).orderBy("o_orderkey")
  }

  /** WRITE–AUDIT–PUBLISH (round 11 cont.): the lakehouse staging
    * pattern on the snapshot log's branch layer. Main holds two shards;
    * a zero-copy BRANCH takes the risky work — an appended third shard
    * plus a merge-on-read delete of a bad range — while main's tip
    * manifest stays bit-identical (pinned: writers of the branch are
    * invisible to main's readers, the whole point of WAP). The audit
    * step reads the BRANCH (it is a full snapshot table; every read
    * path works unchanged), and PUBLISH fast-forwards main in ONE
    * commit with copy-first crash safety: branch files copy into main
    * BEFORE the commit (every pre-commit step non-destructive; net
    * disk parquet count pinned identical after the branch is
    * consumed); entries still referencing main's own files convert
    * back to owned relative names (pinned: no published entry is
    * external), and the branch
    * directory is consumed. The oracle recomputes the published state
    * from the source, so a publish that leaked the audit-failed range
    * or lost a shard breaks the hash. */
  val etlSnapshotWap: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_wap")
    val fsys = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    val mid = (3 * c1) / 2
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") <= c1))
    SnapshotLog.commit(
      spark, table, o.filter(col("o_orderkey") > c1 && col("o_orderkey") <= c2))
    val mainTipBefore = SnapshotLog.manifest(spark, table, 2).sorted
    // WRITE: the risky batch goes to a branch, not to main
    val branch = SnapshotLog.branchCreate(spark, table, "audit")
    SnapshotLog.commit(spark, branch, o.filter(col("o_orderkey") > c2))
    SnapshotLog.deleteWhereMoR(spark, branch, "o_orderkey", c1 + 1, mid)
    // AUDIT: read the branch like any table; main is untouched
    require(
      SnapshotLog.read(spark, branch).filter(
        col("o_orderkey").between(c1 + 1, mid)).isEmpty,
      "audit: the bad range must already be dead on the branch")
    require(
      SnapshotLog.manifest(spark, table, 2).sorted == mainTipBefore &&
        SnapshotLog.versions(spark, table).last == 2,
      "branch writes must be invisible to the main table until publish")
    def diskParquet(): Int = fsys
      .listStatus(new org.apache.hadoop.fs.Path(table))
      .count(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
    val mainOwned = diskParquet()
    // PUBLISH: copy-first, one fast-forward commit (v3)
    val (v, moved) = SnapshotLog.publish(spark, table, "audit")
    require(v == 3 && moved.nonEmpty, s"publish must fast-forward main, got v$v")
    val published = SnapshotLog.manifestEntries(spark, table, v)
    require(
      published.forall(e =>
        !SnapshotLog.isExternal(e.name) && e.dv.forall(!SnapshotLog.isExternal(_))),
      s"published entries must all be owned relative names: $published")
    require(
      diskParquet() == mainOwned + moved.count(_.endsWith(".parquet")),
      "copy-first publish must net exactly the branch delta (copy + consume)")
    require(
      !fsys.exists(new org.apache.hadoop.fs.Path(s"$table/_branches/audit")),
      "publish consumes the branch")
    SnapshotLog.read(spark, table).orderBy("o_orderkey")
  }

  /** Tagged snapshot read (round 11 cont.): an immutable named ref over
    * the version history. v2 (two shards) is tagged `baseline`, a third
    * shard lands after it, and the graded read resolves the TAG — the
    * oracle recomputes the first two shards, so a tag that drifted to
    * the tip or to the wrong version breaks the hash. Inline pins carry
    * the ref contract: re-tagging an existing name refuses (immutable),
    * and the tag PINS RETENTION — after `expire(keepLast=1)` the tagged
    * v2 is still readable (the horizon clamps at the oldest tag) while
    * the untagged v1 is genuinely expired and refuses loudly. */
  val sourceTagRead: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_tag")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") <= c1))
    SnapshotLog.commit(
      spark, table, o.filter(col("o_orderkey") > c1 && col("o_orderkey") <= c2))
    SnapshotLog.tagCreate(spark, table, "baseline")
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") > c2))
    require(
      SnapshotLog.tagVersion(spark, table, "baseline").contains(2),
      "tag must pin the version it was created at, not follow the tip")
    val dup = scala.util.Try(SnapshotLog.tagCreate(spark, table, "baseline"))
    require(dup.isFailure, "re-tagging an existing name must refuse (immutable)")
    // retention: the tag clamps the horizon — v2 survives keepLast=1,
    // the untagged v1 is reclaimed and refuses loudly
    SnapshotLog.expire(spark, table, keepLast = 1)
    require(
      scala.util.Try(SnapshotLog.read(spark, table, Some(1))).isFailure,
      "untagged v1 must be expired past keepLast=1")
    SnapshotLog.readTag(spark, table, "baseline").orderBy("o_orderkey")
  }

  /** MERGE-ON-READ delete via deletion vectors (round 11 late): the
    * same mid-shard delete as etl_delete_snapshot, but through
    * [[graft.sources.SnapshotLog.deleteWhereMoR]] — position-delete
    * sidecars instead of file rewrites. The inline checks pin the
    * storage contract: the live file NAMES are IDENTICAL before and
    * after (zero data bytes rewritten — at 100 TB the delete costs
    * megabytes of sidecar where CoW costs the touched shards), a
    * delete no file admits burns no version, and the manifest-rider
    * row count stays EXACT under the DV. The oracle is the same
    * range-subtraction SQL as the CoW twin, so the hash proves the
    * read-side position subtraction row-for-row — through the pruned
    * read path included. */
  val etlDeleteMor: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_mor")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val c2 = 2 * c1
    val mid = (3 * c1) / 2
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") <= c1))
    SnapshotLog.commit(
      spark,
      table,
      o.filter(col("o_orderkey") > c1 && col("o_orderkey") <= c2)
    )
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") > c2))
    val before = SnapshotLog.manifest(spark, table, 3).toSet
    val total = SnapshotLog.metadataCount(spark, table)
    val (v, amended, carried) =
      SnapshotLog.deleteWhereMoR(spark, table, "o_orderkey", c1 + 1, mid)
    require(
      amended.nonEmpty && carried.nonEmpty,
      "a mid-shard MoR delete must amend only the admitted files"
    )
    require(
      SnapshotLog.manifest(spark, table, v).toSet == before,
      "merge-on-read must not rewrite any data file"
    )
    val live = SnapshotLog.metadataCount(spark, table)
    require(
      total.isDefined && live.isDefined && live.get < total.get,
      "manifest riders must keep the live count exact under a DV"
    )
    val (v2, a2, _) =
      SnapshotLog.deleteWhereMoR(spark, table, "o_orderkey", maxK * 10, maxK * 20)
    require(
      v2 == v && a2.isEmpty,
      "a MoR delete no file admits must be a no-op (no version burned)"
    )
    SnapshotLog.read(spark, table).orderBy("o_orderkey")
  }

  /** MERGE-ON-READ update (round 11 late): the matched mid-range rows
    * are deletion-vectored in place and their updated versions
    * appended as new files — ONE atomic commit, the Delta MoR-update
    * shape. Inline checks pin the storage contract (every pre-update
    * file survives by name; only the appended files are new) and the
    * live-count invariant (dead == appended, so the manifest-rider
    * count is unchanged). The oracle recomputes the update as a CASE
    * expression over the source, so the hash proves the read-side
    * subtraction and the appended rows land row-identically. */
  val etlUpdateMor: Q = (spark, dir) => {
    import graft.sources.SnapshotLog
    val table = tmp("orders_snapshot_umor")
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(table), true)
    val o = Tables
      .orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val maxK = Tables.maxLong(spark, dir, "orders", "o_orderkey")
    val c1 = maxK / 3
    val mid = (3 * c1) / 2
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") <= c1))
    SnapshotLog.commit(
      spark,
      table,
      o.filter(col("o_orderkey") > c1 && col("o_orderkey") <= 2 * c1)
    )
    SnapshotLog.commit(spark, table, o.filter(col("o_orderkey") > 2 * c1))
    val before = SnapshotLog.manifest(spark, table, 3).toSet
    val total = SnapshotLog.metadataCount(spark, table)
    val (v, amended, appended) = SnapshotLog.updateWhereMoR(
      spark, table, "o_orderkey", c1 + 1, mid,
      df => df.withColumn("o_totalprice", round(col("o_totalprice") * 2, 2)))
    require(
      amended.nonEmpty && appended.nonEmpty,
      "a mid-shard MoR update must amend the admitted files and append"
    )
    val after = SnapshotLog.manifest(spark, table, v).toSet
    require(
      before.subsetOf(after) && (after -- before) == appended.toSet,
      "merge-on-read update must keep every old file and add only the appends"
    )
    require(
      SnapshotLog.metadataCount(spark, table) == total,
      "update leaves the live row count invariant (dead == appended)"
    )
    SnapshotLog.read(spark, table).orderBy("o_orderkey")
  }

  val queries: Map[String, Q] = Map(
    "sink_snapshot_compact" -> sinkSnapshotCompact,
    "scan_cluster_pruned" -> scanClusterPruned,
    "scan_zorder_pruned" -> scanZorderPruned,
    "scan_zorder_string" -> scanZorderString,
    "scan_bloom_pruned" -> scanBloomPruned,
    "scan_bloom_refresh" -> scanBloomRefresh,
    "stream_snapshot_source" -> streamSnapshotSource,
    "stream_changes_feed" -> streamChangesFeed,
    "stream_cdf_apply" -> streamCdfApply,
    "etl_snapshot_replicate" -> etlSnapshotReplicate,
    "etl_snapshot_history" -> etlSnapshotHistory,
    "source_avro" -> sourceAvro,
    "source_avro_evolve" -> sourceAvroEvolve,
    "sink_avro" -> sinkAvro,
    "etl_delete_snapshot" -> etlDeleteSnapshot,
    "etl_snapshot_restore" -> etlSnapshotRestore,
    "etl_snapshot_wap" -> etlSnapshotWap,
    "source_tag_read" -> sourceTagRead,
    "etl_delete_mor" -> etlDeleteMor,
    "etl_update_mor" -> etlUpdateMor,
    "join_spj" -> joinSpj,
    "join_spj_sql" -> joinSpjSql,
    "sql_call_optimize" -> sqlCallOptimize,
    "stream_table_sink" -> streamTableSink,
    "sql_delete" -> sqlDelete,
    "sql_delete_metadata" -> sqlDeleteMetadata,
    "sql_update" -> sqlUpdate,
    "sql_merge" -> sqlMerge,
    "sql_merge_source" -> sqlMergeSource,
    "agg_metadata_only" -> aggMetadataOnly,
    "sql_agg_pushdown" -> sqlAggPushdown,
    "sql_rename_col" -> sqlRenameCol,
    "sql_drop_col" -> sqlDropCol,
    "sql_widen_col" -> sqlWidenCol,
    "sql_meta_history" -> sqlMetaHistory,
    "sql_partitioned_table" -> sqlPartitionedTable,
    "sql_partition_multi" -> sqlPartitionMulti,
    "sql_partition_days" -> sqlPartitionDays,
    "agg_count_by_day" -> aggCountByDay,
    "agg_range_by_day" -> aggRangeByDay,
    "sql_default_col" -> sqlDefaultCol,
    "sql_check_named" -> sqlCheckNamed,
    "sql_clone_read" -> sqlCloneRead,
    "sql_time_travel_tag" -> sqlTimeTravelTag,
    "sink_sorted_insert" -> sinkSortedInsert,
    "sql_check_constraint" -> sqlCheckConstraint,
    "sql_unique_key" -> sqlUniqueKey,
    "sql_partition_evolve" -> sqlPartitionEvolve,
    "join_dpp" -> joinDpp,
    "agg_groupby_pushdown" -> aggGroupbyPushdown,
    "agg_rangeby_pushdown" -> aggRangebyPushdown,
    "sql_dml_mor" -> sqlDmlMor,
    "sql_topn_pushdown" -> sqlTopnPushdown,
    "sql_ingest" -> sqlIngest,
    "sink_optimize_where" -> sinkOptimizeWhere,
    "sql_check_quarantine" -> sqlCheckQuarantine,
    "sql_vector_table" -> sqlVectorTable,
    "sink_snapshot_commit" -> sinkSnapshotCommit,
    "source_time_travel" -> sourceTimeTravel,
    "scan_snapshot_pruned" -> scanSnapshotPruned,
    "sql_snapshot_select" -> sqlSnapshotSelect,
    "sql_snapshot_insert" -> sqlSnapshotInsert,
    "sql_snapshot_ctas" -> sqlSnapshotCtas,
    "sql_snapshot_time_travel" -> sqlSnapshotTimeTravel,
    "sql_view" -> sqlView,
    "etl_merge_snapshot" -> etlMergeSnapshot,
    "stats_analyze" -> statsAnalyze,
    "source_datespine" -> sourceDatespine,
    "sink_manifest" -> sinkManifest,
    "source_binaryfile" -> sourceBinaryfile,
    "source_dsv2" -> sourceDsv2,
    "sink_dsv2" -> sinkDsv2,
    "source_csv_corrupt" -> sourceCsvCorrupt,
    "sink_json" -> sinkJson,
    "source_xml" -> sourceXml,
    "source_jdbc" -> sourceJdbc,
    "source_jdbc_pushdown" -> sourceJdbcPushdown,
    "sink_exactly_once" -> sinkExactlyOnce,
    "source_fixed_width" -> sourceFixedWidth,
    "sink_csv" -> sinkCsv,
    "sink_codec" -> sinkCodec,
    "etl_compact" -> etlCompact,
    "scan_parquet" -> scanParquet,
    "scan_pruned" -> scanPruned,
    "source_csv" -> sourceCsv,
    "source_json" -> sourceJson,
    "source_orc" -> sourceOrc,
    "source_merge_schema" -> sourceMergeSchema,
    "sink_parquet" -> sinkParquet,
    "sink_partitioned" -> sinkPartitioned,
    "source_changes" -> sourceChanges
  )

  val oracles: Map[String, String] = Map(
    // compaction is data-preserving by contract, so the oracle is the
    // plain source scan: any row lost or duplicated by the rewrite
    // breaks the hash
    "sink_snapshot_compact" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // skipping can only exclude provably-disjoint files: the result is
    // layout-independent before AND after the clustering rewrite
    "scan_cluster_pruned" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE o_orderkey > b.c1 AND o_orderkey <= 2 * b.c1
        |ORDER BY o_orderkey""".stripMargin,
    // the oracle reads the ORIGINAL table: round-trip fidelity through
    // the from-scratch avro connector, timestamp column included
    "source_avro" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders WHERE o_totalprice > 100000.0
        |ORDER BY o_orderkey""".stripMargin,
    // reader-vs-writer resolution: even custkeys were written as INT
    // without acctbal (widen + null-fill), odd ones as LONG with it
    "source_avro_evolve" ->
      """SELECT CAST(c_custkey AS BIGINT) AS custkey, c_name AS name,
        | CAST(NULL AS DOUBLE) AS acctbal
        |FROM customer WHERE c_custkey % 2 = 0
        |UNION ALL
        |SELECT CAST(c_custkey AS BIGINT), c_name, round(c_acctbal, 2)
        |FROM customer WHERE c_custkey % 2 = 1
        |ORDER BY custkey""".stripMargin,
    // only generation 2 (the %3 filter) may survive the truncate
    "sink_avro" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders WHERE o_orderkey % 3 = 0
        |ORDER BY o_orderkey""".stripMargin,
    // replication is exactly-once by contract: the replica's read-back
    // must equal the source scan — replay duplicates, skip loses
    "etl_snapshot_replicate" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // the ledger's row totals recompute from the source: appends
    // accumulate, the compaction changes files but never the total,
    // the overwrite resets it
    "etl_snapshot_history" ->
      """WITH c AS (SELECT
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS b,
        |  CAST(sum(CASE WHEN o_orderkey % 3 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d
        | FROM orders)
        |SELECT * FROM (
        | SELECT 1 AS version, 'append' AS action, TRUE AS data_change,
        |        '' AS txn_id, a AS n_live_rows FROM c
        | UNION ALL SELECT 2, 'append', TRUE, 'load-2', a + b FROM c
        | UNION ALL SELECT 3, 'replace', FALSE, '', a + b FROM c
        | UNION ALL SELECT 4, 'overwrite', TRUE, '', d FROM c
        |) ORDER BY version""".stripMargin,
    // the streaming CDF shares the batch change feed's oracle verbatim:
    // the two paths must deliver row-for-row the same changes
    "stream_changes_feed" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        | 'insert' AS change_type, 2 AS commit_version
        |FROM orders WHERE o_orderkey % 3 = 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice,
        | 'delete' AS change_type, 3 AS commit_version
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice,
        | 'insert' AS change_type, 3 AS commit_version
        |FROM orders WHERE o_orderkey % 3 = 2
        |ORDER BY commit_version, change_type, o_orderkey""".stripMargin,
    // exactly-once delivery: duplicated compaction rows or a lost
    // append both break the hash against the plain source scan
    "stream_snapshot_source" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // z-order can only exclude provably-disjoint files: served result
    // is the plain custkey range read at any layout
    "scan_zorder_pruned" ->
      """WITH b AS (SELECT max(o_custkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE o_custkey > b.c1 AND o_custkey <= 2 * b.c1
        |ORDER BY o_orderkey""".stripMargin,
    // string-key z-order: the clustered read over the string dimension
    // equals the plain recompute of the derived-host range — pruning
    // can only exclude provably-disjoint files
    "scan_zorder_string" ->
      """SELECT o_orderkey, host, o_totalprice FROM (
        |  SELECT o_orderkey,
        |         'C' || lpad(CAST(o_custkey % 100 AS VARCHAR), 3, '0') AS host,
        |         o_totalprice
        |  FROM orders) t
        |WHERE host >= 'C020' AND host <= 'C040'
        |ORDER BY o_orderkey""".stripMargin,
    // metadata-only answers must be EXACT: rider sums over the mixed
    // original+rewritten file set vs the full recompute
    "agg_metadata_only" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders),
        | live AS (SELECT o_orderkey FROM orders, b
        |   WHERE NOT (o_orderkey BETWEEN b.c1 + 1 AND (3 * b.c1) // 2))
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(min(o_orderkey) AS BIGINT) AS min_key,
        | CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM live""".stripMargin,
    // planner-integrated metadata aggregation: the pushed-down answer
    // (computed with every data file renamed away) vs the recompute
    "sql_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(min(o_orderkey) AS BIGINT) AS min_key,
        | CAST(max(o_orderkey) AS BIGINT) AS max_key
        |FROM orders""".stripMargin,
    // vectors round-trip the catalog bit-exactly: same oracle as
    // sim_topk_nn over the raw parquet
    "sql_vector_table" ->
      """WITH n AS (
        |  SELECT vec_id, label, embedding,
        |   sqrt((SELECT sum(CAST(x AS DOUBLE)*CAST(x AS DOUBLE))
        |         FROM (SELECT unnest(embedding) x) z)) AS nrm
        |  FROM embeddings),
        |p AS (SELECT embedding AS pe, nrm AS pn FROM n WHERE vec_id = 0),
        |c AS (SELECT e.vec_id,
        |  (SELECT sum(CAST(x AS DOUBLE)*CAST(y AS DOUBLE))
        |   FROM (SELECT unnest(e.embedding) x, unnest(p.pe) y) z)
        |  / (e.nrm * p.pn) AS cosu
        | FROM n e, p WHERE e.vec_id <> 0)
        |SELECT vec_id, round(cosu, 6) AS cos FROM c
        |ORDER BY cosu DESC, vec_id LIMIT 10""".stripMargin,
    // dead-letter split: every source row lands exactly once, on the
    // side its constraint verdict dictates
    "sql_check_quarantine" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_custkey % 10 = 0 THEN -o_totalprice
        |       ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_custkey % 10 = 0 THEN 'quarantined'
        |       ELSE 'kept' END AS disposition
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // scoped OPTIMIZE is data-preserving: oracle = the source scan
    "sink_optimize_where" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // incremental ingestion: two waves through the ledger must land
    // exactly the source, no row lost to skipping or doubled by replay
    "sql_ingest" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // top-n pushdown: the pruned plan must land on the exact global
    // top-500 the oracle computes from the source parquet
    "sql_topn_pushdown" ->
      """SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders ORDER BY o_orderkey LIMIT 500""".stripMargin,
    // merge-on-read DML: deleted rows subtract, surviving matched rows
    // carry the update — recomputed from the source parquet
    "sql_dml_mor" ->
      """WITH src AS (SELECT o_orderkey, o_custkey,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_custkey % 50 = 1 THEN cents + 7 ELSE cents END AS cents
        |FROM src WHERE o_orderkey % 97 <> 0 ORDER BY o_orderkey""".stripMargin,
    // the manifest-folded per-partition counts (DVs subtracted) must
    // equal the oracle's recount from source rows
    "agg_groupby_pushdown" ->
      """SELECT o_custkey % 5 AS region, count(*) AS n
        |FROM orders WHERE o_orderkey % 7 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // per-group extrema + counts folded from manifest riders must
    // equal the recount from source rows
    "agg_rangeby_pushdown" ->
      """SELECT o_custkey % 5 AS region,
        |  CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS mn,
        |  CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS mx,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // runtime file pruning can only EXCLUDE provably keyless files —
    // the join's rows must be exactly the plain recompute's
    "join_dpp" ->
      """SELECT o.o_orderkey, o.o_custkey,
        |  CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents, c.c_name
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_custkey % 293 = 1
        |ORDER BY o.o_orderkey""".stripMargin,
    // cross-generation fidelity through the layout change: the status
    // slice spans pre-evolution and value-routed files alike
    "sql_partition_evolve" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin,
    // every refusal refused (overlap insert, key-clash UPDATE) and
    // every legitimate write landed (two halves + deleted-key
    // re-insert): the final state is exactly the source projection
    "sql_unique_key" ->
      """SELECT c_custkey, c_name, c_acctbal
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // the accepted rows survive the constraint gate verbatim; the
    // refused batch left nothing behind
    "sql_check_constraint" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // CDF apply: the replica's final live state equals the source's —
    // the MoR-deleted range gone, all three shards' survivors present
    "stream_cdf_apply" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE NOT (o_orderkey BETWEEN b.c1 + 1 AND (3 * b.c1) // 2)
        |ORDER BY o_orderkey""".stripMargin,
    // ingestion-time clustering must not lose/dup rows: the range agg
    // over the sorted table equals the recompute
    "sink_sorted_insert" ->
      """WITH b AS (SELECT max(o_orderkey) AS mk FROM orders)
        |SELECT o_custkey, count(*) AS n,
        |       CAST(round(sum(o_totalprice), 0) AS BIGINT) AS total
        |FROM orders, b
        |WHERE o_orderkey BETWEEN b.mk // 2 AND b.mk // 2 + b.mk // 20
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // VERSION AS OF '<tag>': the named ref resolves to exactly the two
    // shards it pinned — tip-following or mis-resolution breaks the hash
    "sql_time_travel_tag" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE o_orderkey <= 2 * b.c1
        |ORDER BY o_orderkey""".stripMargin,
    // metadata-only rename: the whole table reads under the new name,
    // pre- and post-rename files alike
    "sql_rename_col" ->
      """SELECT o_orderkey, o_custkey, o_totalprice AS price
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // drop + same-name re-add: old shards NULL, new shard real values —
    // any resurrection of the dropped bytes breaks the hash row-by-row
    "sql_drop_col" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_totalprice,
        |       CASE WHEN o_orderkey > 2 * b.c1 THEN o_custkey
        |            ELSE NULL END AS o_custkey
        |FROM orders, b ORDER BY o_orderkey""".stripMargin,
    // the bloom point lookup equals the plain point query — the index
    // can only skip disjoint files, never lose rows
    "scan_bloom_pruned" ->
      """WITH k AS (SELECT min(o_orderkey) AS k FROM orders
        |           WHERE o_orderkey >= (SELECT max(o_orderkey) // 2 FROM orders))
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, k
        |WHERE o_orderkey = k.k ORDER BY o_orderkey""".stripMargin,
    // the incrementally-refreshed index must serve the same point
    // query across both generations
    "scan_bloom_refresh" ->
      """WITH k AS (SELECT min(o_orderkey) AS k FROM orders
        |           WHERE o_orderkey >= (SELECT max(o_orderkey) // 2 FROM orders))
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, k
        |WHERE o_orderkey = k.k ORDER BY o_orderkey""".stripMargin,
    // pinned clone + divergence: the clone serves the 2-shard pin plus
    // its own doubled shard; source isolation is count-pinned inline
    "sql_clone_read" ->
      """WITH b AS (SELECT 2 * (max(o_orderkey) // 3) AS c2 FROM orders)
        |SELECT o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey <= b.c2 THEN o_totalprice
        |            ELSE round(o_totalprice * 2, 2) END AS o_totalprice
        |FROM orders, b ORDER BY o_orderkey""".stripMargin,
    // the partition slice through value-clustered files equals the
    // plain recompute — pruning can only exclude disjoint files
    "sql_partitioned_table" ->
      """SELECT o_orderkey, o_custkey % 8 AS part, o_totalprice
        |FROM orders
        |WHERE o_custkey % 8 = 3
        |ORDER BY o_orderkey""".stripMargin,
    // after the refused batch, the conforming inserts and the
    // post-DROP remainder must land exactly the full source
    "sql_check_named" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // each phase's rows carry that phase's declared defaults: the
    // first insert predates `tier`, so its rows serve the ADD-time
    // default via existence fill — a null there breaks the hash
    "sql_default_col" ->
      """WITH b AS (SELECT max(o_orderkey) // 2 AS half FROM orders)
        |SELECT o_orderkey, o_totalprice,
        |       CASE WHEN o_orderkey <= b.half THEN 'legacy' ELSE 'cur' END
        |         AS status,
        |       CASE WHEN o_orderkey <= b.half THEN 'bronze' ELSE 'gold' END
        |         AS tier
        |FROM orders, b ORDER BY o_orderkey""".stripMargin,
    // the metadata-only per-day counts must equal a real GROUP BY
    // over the source — any impure file or miscounted rider breaks it
    "agg_count_by_day" ->
      """SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS part,
        |       CAST(count(*) AS BIGINT) AS n_rows
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the manifest-folded per-day extrema must equal the recount
    "agg_range_by_day" ->
      """SELECT CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS part,
        |       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mn,
        |       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS mx
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // the busiest-day slice recomputed from the source: day-routed
    // files must serve exactly that day's rows
    "sql_partition_days" ->
      """WITH d AS (SELECT CAST(ts AS DATE) AS d, count(*) AS n
        |           FROM events GROUP BY 1 ORDER BY n DESC, d LIMIT 1)
        |SELECT event_id, user_id, value
        |FROM events, d
        |WHERE CAST(ts AS DATE) = d.d
        |ORDER BY event_id""".stripMargin,
    // the two-column slice recomputed from the source: tuple-routed
    // files must serve exactly the conjunction's rows
    "sql_partition_multi" ->
      """SELECT o_orderkey, o_custkey % 4 AS pa, o_orderkey % 3 AS pb,
        |       o_totalprice
        |FROM orders
        |WHERE o_custkey % 4 = 2 AND o_orderkey % 3 = 1
        |ORDER BY o_orderkey""".stripMargin,
    // the commit ledger through the metadata table: per-version live
    // rows over create/append/append/delete vs the source recompute
    "sql_meta_history" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT CAST(1 AS INTEGER) AS version, CAST(0 AS BIGINT) AS n_live_rows
        |UNION ALL SELECT 2, (SELECT count(*) FROM orders
        |  WHERE o_orderkey <= 2 * (SELECT c1 FROM b))
        |UNION ALL SELECT 3, (SELECT count(*) FROM orders)
        |UNION ALL SELECT 4, (SELECT count(*) FROM orders
        |  WHERE NOT (o_orderkey BETWEEN (SELECT c1 FROM b) + 1
        |             AND (3 * (SELECT c1 FROM b)) // 2))
        |ORDER BY version""".stripMargin,
    // declared-ahead widening: old INT32 shards up-convert, the new
    // shard carries beyond-INT values — a read that kept the narrow
    // type (overflow) or dropped a shard breaks the hash
    "sql_widen_col" ->
      """WITH b AS (SELECT 2 * (max(o_orderkey) // 3) AS c2 FROM orders)
        |SELECT o_orderkey,
        |       CASE WHEN o_orderkey <= b.c2 THEN CAST(o_custkey AS BIGINT)
        |            ELSE o_custkey + 3000000000 END AS cust,
        |       o_totalprice
        |FROM orders, b ORDER BY o_orderkey""".stripMargin,
    // the CoW delete must drop exactly the [c1+1, 3*c1/2] range and
    // nothing else — carried-by-reference rows included
    "etl_delete_snapshot" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE NOT (o_orderkey BETWEEN b.c1 + 1 AND (3 * b.c1) // 2)
        |ORDER BY o_orderkey""".stripMargin,
    // the metadata-only rollback must land exactly on v2's state: the
    // deleted range back at its original values, shard 3 gone
    "etl_snapshot_restore" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE o_orderkey <= 2 * b.c1
        |ORDER BY o_orderkey""".stripMargin,
    // WAP: the published state is all three shards minus the range the
    // audit branch killed — a leak either direction breaks the hash
    "etl_snapshot_wap" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE NOT (o_orderkey BETWEEN b.c1 + 1 AND (3 * b.c1) // 2)
        |ORDER BY o_orderkey""".stripMargin,
    // the tag must resolve to exactly v2's two shards — a tag that
    // followed the tip (shard 3) or drifted breaks the hash
    "source_tag_read" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE o_orderkey <= 2 * b.c1
        |ORDER BY o_orderkey""".stripMargin,
    // group-granular SQL DML: same oracles as the programmatic twins
    "sql_delete" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE NOT (o_orderkey BETWEEN b.c1 + 1 AND (3 * b.c1) // 2)
        |ORDER BY o_orderkey""".stripMargin,
    "sql_delete_metadata" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE o_orderkey <= 2 * b.c1
        |ORDER BY o_orderkey""".stripMargin,
    "sql_update" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey BETWEEN b.c1 + 1 AND (3 * b.c1) // 2
        |            THEN round(o_totalprice * 2, 2) ELSE o_totalprice END
        |         AS o_totalprice
        |FROM orders, b ORDER BY o_orderkey""".stripMargin,
    "sql_merge" ->
      """SELECT c_custkey,
        |       CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal * 2, 2)
        |            ELSE c_acctbal END AS c_acctbal
        |FROM customer
        |UNION ALL
        |SELECT * FROM (VALUES (CAST(-1 AS BIGINT), CAST(0.0 AS DOUBLE)),
        |                      (CAST(-2 AS BIGINT), CAST(0.0 AS DOUBLE)),
        |                      (CAST(-3 AS BIGINT), CAST(0.0 AS DOUBLE)))
        |ORDER BY c_custkey""".stripMargin,
    // the three-clause MERGE: matched rows double (even the %7==0 ones
    // — matched beats not-matched-by-source), unmatched-by-source %7
    // stragglers purge, the -7 row inserts
    "sql_merge_source" ->
      """SELECT c_custkey,
        |       CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal * 2, 2)
        |            ELSE c_acctbal END AS c_acctbal
        |FROM customer
        |WHERE NOT (c_custkey % 10 <> 0 AND c_custkey % 7 = 0)
        |UNION ALL
        |SELECT * FROM (VALUES (CAST(-7 AS BIGINT), CAST(1.5 AS DOUBLE)))
        |ORDER BY c_custkey""".stripMargin,
    // exactly-once both directions through the SQL surface: replay
    // duplicates, a skipped version loses — either breaks the hash
    "stream_table_sink" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // OPTIMIZE is data-preserving by contract: oracle = the source scan
    "sql_call_optimize" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // bucket alignment must lose no rows: the oracle is the plain join
    "join_spj_sql" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |       CAST(round(sum(o_totalprice), 0) AS BIGINT) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "join_spj" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |       CAST(round(sum(o_totalprice), 0) AS BIGINT) AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    // the MoR update doubles the mid-range price: deleted-in-place old
    // rows must vanish and the appended updates must land exactly
    "etl_update_mor" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey,
        |       CASE WHEN o_orderkey BETWEEN b.c1 + 1 AND (3 * b.c1) // 2
        |            THEN round(o_totalprice * 2, 2) ELSE o_totalprice END
        |         AS o_totalprice
        |FROM orders, b ORDER BY o_orderkey""".stripMargin,
    // the MoR twin deletes the identical range; the sidecar
    // subtraction must land on the same rows as the CoW rewrite
    "etl_delete_mor" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE NOT (o_orderkey BETWEEN b.c1 + 1 AND (3 * b.c1) // 2)
        |ORDER BY o_orderkey""".stripMargin,
    // both snapshot oracles recompute the committed batches from the
    // SOURCE table: the gate is what the manifest makes visible
    "sink_snapshot_commit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 IN (0, 1) ORDER BY o_orderkey""".stripMargin,
    "source_time_travel" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, 2 AS asof_version
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, 3 AS asof_version
        |FROM orders WHERE o_orderkey % 3 = 2
        |ORDER BY asof_version, o_orderkey""".stripMargin,
    // the transactional MERGE shares etl_merge's oracle verbatim: same
    // change-set, same result — just round-tripped through the
    // snapshot table's commit protocol
    "etl_merge_snapshot" -> Etl.oracles("etl_merge"),
    // file-granular CDC: v2's appended files are inserts, v3's
    // overwrite deletes everything live at v2 and inserts its own rows
    "source_changes" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        | 'insert' AS change_type, 2 AS commit_version
        |FROM orders WHERE o_orderkey % 3 = 1
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice,
        | 'delete' AS change_type, 3 AS commit_version
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice,
        | 'insert' AS change_type, 3 AS commit_version
        |FROM orders WHERE o_orderkey % 3 = 2
        |ORDER BY commit_version, change_type, o_orderkey""".stripMargin,
    // file skipping can only EXCLUDE disjoint files, so the result is
    // layout-independent: the oracle is the plain range scan
    "scan_snapshot_pruned" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice FROM orders, b
        |WHERE o_orderkey > b.c1 AND o_orderkey <= 2 * b.c1
        |ORDER BY o_orderkey""".stripMargin,
    "sql_snapshot_select" ->
      """WITH b AS (SELECT max(o_orderkey) // 3 AS c1 FROM orders)
        |SELECT o_custkey, count(*) AS cnt,
        |       CAST(round(sum(o_totalprice), 0) AS BIGINT) AS total
        |FROM orders, b
        |WHERE o_orderkey > b.c1 AND o_orderkey <= 2 * b.c1
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "sql_snapshot_insert" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey % 3 = 2 ORDER BY o_orderkey""".stripMargin,
    "sql_snapshot_ctas" ->
      """SELECT o_custkey, count(*) AS cnt,
        |       CAST(round(sum(o_totalprice), 0) AS BIGINT) AS total
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "sql_snapshot_time_travel" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, 3 AS asof_version
        |FROM orders WHERE o_orderkey % 3 IN (0, 1)
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_totalprice, 4 AS asof_version
        |FROM orders WHERE o_orderkey % 3 = 2
        |ORDER BY asof_version, o_orderkey""".stripMargin,
    // the view re-analyzes at the base table's current tip, so both
    // inserted halves (i.e. the whole source) must be visible; DECIMAL
    // sum keeps the rounding independent of row order
    "sql_view" ->
      """SELECT o_custkey, count(*) AS cnt,
        |       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18, 2))), 0) AS BIGINT) AS total
        |FROM orders GROUP BY o_custkey
        |HAVING count(*) > 0 ORDER BY o_custkey""".stripMargin,
    "stats_analyze" -> statsAnalyzeSql,
    "source_datespine" -> sourceDatespineSql,
    "sink_manifest" -> sinkManifestSql,
    // 1 coalesced file; bytes = chars (ASCII corpus) + one newline/row
    "source_binaryfile" ->
      """SELECT CAST(1 AS BIGINT) AS n_files,
        | CAST(sum(n_chars) + count(*) AS BIGINT) AS total_bytes
        |FROM documents""".stripMargin,
    // the oracle reads the ORIGINAL table with the same predicate: the
    // gate is round-trip fidelity THROUGH the custom connector,
    // including its reader-side pushed-filter evaluation
    "source_dsv2" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderstatus = 'O' AND o_totalprice > 150000.0
        |ORDER BY o_orderkey""".stripMargin,
    // both buckets must account for every source row: nothing dropped
    "source_csv_corrupt" ->
      """SELECT (o_orderkey % 97 = 0) AS is_bad,
        | count(*) AS n,
        | round(sum(CASE WHEN o_orderkey % 97 = 0 THEN 0.0
        |                ELSE o_totalprice END), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // only generation 2 (the %3 filter) may survive the truncate
    "sink_dsv2" ->
      """SELECT o_orderkey, o_custkey,
        | CASE WHEN o_custkey % 50 = 0 THEN NULL
        |      ELSE o_orderpriority END AS prio,
        | o_totalprice
        |FROM orders WHERE o_orderkey % 3 = 0
        |ORDER BY o_orderkey""".stripMargin,
    "sink_json" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "source_xml" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    // the oracle reads the ORIGINAL table: round-trip fidelity
    // through the embedded database, filter applied remotely
    "source_jdbc" ->
      """SELECT c_custkey, c_name, c_acctbal, c_mktsegment
        |FROM customer WHERE c_acctbal > 0
        |ORDER BY c_custkey""".stripMargin,
    // the database computed the aggregate; the oracle recomputes it
    // from parquet, so a wrong remote GROUP BY breaks the hash
    "source_jdbc_pushdown" ->
      """SELECT o_orderstatus,
        | CAST(count(*) AS BIGINT) AS n_orders,
        | round(sum(o_totalprice), 2) AS sum_price,
        | max(o_orderkey) AS max_key
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the oracle reads the ORIGINAL table: round-trip fidelity check
    "source_fixed_width" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        | CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    // mirrors the two-level batch-partial summation order
    "sink_exactly_once" ->
      """WITH b AS (
        |  SELECT user_id, event_id % 2 AS batch_id,
        |         count(*) AS n, sum(value) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_events,
        |       round(sum(v), 4) AS sum_val
        |FROM b GROUP BY 1 ORDER BY user_id""".stripMargin,
    "sink_csv" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "etl_compact" ->
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
    "sink_codec" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "scan_parquet" ->
      "SELECT * FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "scan_pruned" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1997-01-01' AND l_extendedprice > 20000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "source_csv" -> "SELECT * FROM nation ORDER BY n_nationkey",
    "source_orc" -> "SELECT * FROM supplier ORDER BY s_suppkey",
    "source_merge_schema" ->
      """SELECT o_orderkey, o_totalprice,
        | CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "source_json" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "sink_parquet" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem WHERE l_quantity > 45
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "sink_partitioned" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderstatus = 'O' ORDER BY o_orderkey""".stripMargin
  )
}
