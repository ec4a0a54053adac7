package graft.sources

import java.util
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, NoSuchViewException, TableAlreadyExistsException, ViewAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.SnapshotLog.{CommitData, CommitRequest}

/** SQL catalog over [[SnapshotLog]] tables — the surface that turns the
  * storage layer into a queryable lakehouse:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft_cat", classOf[SnapshotCatalog].getName)
  *   spark.conf.set("spark.sql.catalog.graft_cat.warehouse", "/data/warehouse")
  *   spark.sql("CREATE TABLE graft_cat.main.orders (o_orderkey BIGINT, ...)")
  *   spark.sql("INSERT INTO graft_cat.main.orders SELECT ...")
  *   spark.sql("SELECT * FROM graft_cat.main.orders VERSION AS OF 2 WHERE ...")
  * }}}
  *
  *   - **Reads are snapshot-isolated** — a table load pins a manifest
  *     version (`VERSION AS OF` / `TIMESTAMP AS OF` pin explicitly; the
  *     default pins the tip at load). The scan hands executors exactly
  *     the manifest's parquet files; no directory listing.
  *   - **Pushed filters drive manifest-stats file skipping at PLANNING
  *     time**: range/equality predicates on INT/LONG/STRING columns
  *     intersect against each file's footer min/max riding the manifest,
  *     and provably-disjoint files are never planned as partitions.
  *     Skipping is best-effort — every filter is also returned to Spark
  *     as a residual, so correctness never depends on stats coverage
  *     (the posture the lakehouse formats' data-skipping takes).
  *   - **The scan reports EXACT statistics** from the manifest's
  *     `_sz`/`_rc` riders (post-pruning bytes and row counts), so
  *     Catalyst's broadcast/join planning sees real numbers instead of
  *     a file-listing guess — at 100 TB the difference between a
  *     broadcast and a sort-merge join on the dimension side.
  *   - **Writes are the commit protocol**: task writers land
  *     attempt-unique parquet straight into the table root (invisible
  *     until a manifest names them — loser attempts become vacuum-able
  *     orphans, and no rename pass means no object-store copy), and the
  *     driver commits exactly the winners under the claim lock.
  *     `INSERT INTO` appends; `INSERT OVERWRITE` truncates via
  *     [[SupportsTruncate]]; CTAS is CREATE + append.
  *   - **Streaming reads reuse the snapshot stream**: a catalog table
  *     exposes MICRO_BATCH_READ through the same version-offset
  *     [[GraftSnapshotMicroBatchStream]], so
  *     `spark.readStream.table("graft_cat.main.t")` is the message-log
  *     view with admission control and AvailableNow intact.
  *
  * Namespaces are warehouse subdirectories; a table is any directory
  * with a `_log`. `ALTER TABLE ADD COLUMN` is a schema-only commit
  * (the log's evolution rules null-fill earlier files); other ALTERs
  * refuse loudly. Hive-style partition transforms are deliberately
  * unsupported — manifest-stats skipping plus OPTIMIZE clustering is
  * the scale path, without small-file partition explosion.
  */
class SnapshotCatalog
    extends TableCatalog
    with SupportsNamespaces
    with FunctionCatalog
    with ProcedureCatalog
    with ViewCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  private def spark = SparkSession.active
  private def wfs =
    new Path(warehouse).getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(
      name: String,
      options: CaseInsensitiveStringMap
  ): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot catalog '$name': set spark.sql.catalog.$name.warehouse"
      )
    )
  }

  override def name(): String = catalogName

  /** Column DEFAULT values are supported: `CREATE TABLE (c INT
    * DEFAULT 5)` / `ALTER TABLE ADD COLUMN ... DEFAULT x` encode the
    * default into the committed schema's field metadata
    * (CURRENT_DEFAULT for future INSERTs — applied by Spark's
    * analyzer; EXISTS_DEFAULT for rows in files that predate the
    * column — applied by the parquet readers' existence-default
    * fill), so defaults cost zero storage and zero rewrite. */
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      // ALTER TABLE ADD/DROP CONSTRAINT ... CHECK — the standard-SQL
      // spelling of the 'check' table property: named predicates
      // stored as `ck_<name>` props, their conjunction compiled into
      // the same executor-side enforcement every write path already
      // runs
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  private def nsPath(ns: Array[String]): Path =
    new Path((warehouse +: ns).mkString("/"))

  private def tablePath(ident: Identifier): String =
    ((warehouse +: ident.namespace) :+ ident.name).mkString("/")

  /** Filesystem path of `ident` — the injected SQL commands
    * (views, materialized views) drive the programmatic SnapshotLog
    * API against it. */
  private[graft] def pathOf(ident: Identifier): String = tablePath(ident)

  private def isTable(p: Path): Boolean =
    wfs.exists(new Path(p, "_log"))

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val p = nsPath(ns)
    if (!wfs.exists(p)) throw new NoSuchNamespaceException(ns)
    wfs
      .listStatus(p)
      .filter(st => st.isDirectory && isTable(st.getPath))
      .map(st => Identifier.of(ns, st.getPath.getName))
  }

  override def tableExists(ident: Identifier): Boolean =
    isTable(new Path(tablePath(ident)))

  override def loadTable(ident: Identifier): Table = {
    if (tableExists(ident))
      SnapshotSqlTable(spark, tablePath(ident), ident.toString, None)
    else
      metaTableFor(ident).getOrElse(throw new NoSuchTableException(ident))
  }

  /** Metadata TABLES (the Iceberg idiom): `SELECT * FROM ns.t.history
    * | .files | .refs` — the multipart name arrives with the real
    * table as the LAST namespace element. Everything is served from
    * manifest riders and the ref listing (zero data files opened), as
    * a LocalScan: O(history) / O(live files) / O(refs) driver rows —
    * the same cost class as DESCRIBE HISTORY. Read-only by
    * construction. */
  private def metaTableFor(ident: Identifier): Option[Table] = {
    val ns = ident.namespace()
    if (ns.length < 2) return None
    val parent = Identifier.of(ns.dropRight(1), ns.last)
    if (!tableExists(parent)) return None
    val path = tablePath(parent)
    val df: Option[DataFrame] = ident.name() match {
      case "history" => Some(SnapshotLog.describeHistory(spark, path))
      case "files"   => Some(SnapshotLog.describeFiles(spark, path))
      case "refs"    => Some(SnapshotLog.describeRefs(spark, path))
      case _         => None
    }
    df.map(d => SnapshotMetaTable(s"${parent.toString}.${ident.name()}", d))
  }

  /** `VERSION AS OF <v>` — pins the named commit. A non-numeric
    * version string resolves as a TAG name (`VERSION AS OF 'baseline'`,
    * the Iceberg ref-travel idiom); an unknown tag refuses loudly. */
  override def loadTable(ident: Identifier, version: String): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val path = tablePath(ident)
    val v =
      try version.toInt
      catch {
        case _: NumberFormatException =>
          // a string outside the legal ref charset (e.g. 'v1.0') must
          // land on THIS friendly unknown-tag refusal, not on
          // tagVersion's charset require
          (try SnapshotLog.tagVersion(spark, path, version)
           catch { case _: IllegalArgumentException => None }).getOrElse(
            throw new IllegalArgumentException(
              s"snapshot catalog: VERSION AS OF wants a commit number or a " +
                s"tag name; '$version' is neither (tags: " +
                s"${SnapshotLog.tags(spark, path).keys.toSeq.sorted.mkString(",")})"
            ))
      }
    SnapshotSqlTable(spark, path, ident.toString, Some(v))
  }

  /** `TIMESTAMP AS OF <t>` (micros since epoch) — the latest commit
    * whose manifest landed at or before `t`, by commit-file mtime (the
    * lakehouse formats' resolution rule). */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val path = tablePath(ident)
    val ms = timestamp / 1000L
    val vs = SnapshotLog
      .versions(spark, path)
      .filter(SnapshotLog.commitTimestamp(spark, path, _) <= ms)
    if (vs.isEmpty)
      throw new IllegalArgumentException(
        s"snapshot catalog: no commit of $ident at or before timestamp " +
          s"$timestamp — the table's first commit is newer"
      )
    SnapshotSqlTable(spark, path, ident.toString, Some(vs.last))
  }

  @deprecated("TableCatalog's StructType createTable is deprecated", "")
  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]
  ): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // the shadow guard must be symmetric with createView's: a table
    // must never shadow a view either — one name, one meaning. CTAS
    // also lands here (CREATE + append), so this covers that path too.
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    // supported transforms: bucket(n, col) — the co-location layout
    // storage-partitioned joins align on — and a single IDENTITY
    // column. Identity partitioning is implemented the Iceberg-lite
    // way: writes cluster by value (one file per partition value per
    // task, tight single-value footer stats), and the EXISTING
    // manifest-stats skipping prunes — no hive directory layout, no
    // partition-column removal from the data, no small-file explosion
    // (OPTIMIZE re-packs as usual; the claim is advisory layout, never
    // a correctness boundary).
    // PARTITIONED BY (a[, b, ...]) — any number of IDENTITY columns
    // and/or TRANSFORMS (days/months/years/hours(ts), truncate(w, c));
    // the spec is stored comma-joined and writes cluster on the
    // TRANSFORMED tuple, landing one value-pure file per distinct
    // combination per task (tight footer stats on every partition
    // source column — a day-pure file's ts min/max spans at most one
    // day — so the existing manifest-stats skipping prunes predicates
    // on ANY prefix or subset of the partition columns)
    val transformNames =
      Set("identity", "days", "months", "years", "hours", "truncate")
    val partitionBy: Option[String] = partitions.toSeq match {
      case ts if ts.nonEmpty && ts.forall(t => transformNames(t.name())) =>
        val fields: Seq[PartField] = ts.map { t =>
          val c = t.references() match {
            case Array(r) if r.fieldNames().length == 1 => r.fieldNames()(0)
            case _ =>
              throw new UnsupportedOperationException(
                "snapshot catalog: PARTITIONED BY wants top-level columns")
          }
          t.name() match {
            case "identity" => PartIdentity(c)
            case "truncate" =>
              val w = t.arguments().collectFirst {
                case l: org.apache.spark.sql.connector.expressions.Literal[_]
                    if l.value().isInstanceOf[java.lang.Integer] =>
                  l.value().asInstanceOf[java.lang.Integer].intValue()
              }.getOrElse(throw new UnsupportedOperationException(
                "snapshot catalog: truncate(width, col) wants an integer width"))
              PartTruncate(w, c)
            case u => PartTime(u, c)
          }
        }
        require(
          fields.map(_.col).distinct == fields.map(_.col),
          s"snapshot catalog: duplicate partition column in " +
            fields.map(_.spec).mkString(","))
        Some(fields.map(_.spec).mkString(","))
      case _ => None
    }
    partitionBy.toSeq.flatMap(PartSpec.parse).foreach(
      PartSpec.validate(_, schema, "snapshot catalog"))
    val bucketSpec: Option[(String, Int)] = partitions.toSeq match {
      case Nil => None
      case _ if partitionBy.isDefined => None
      case Seq(t) if t.name() == "bucket" =>
        val col = t.references() match {
          case Array(r) if r.fieldNames().length == 1 => r.fieldNames()(0)
          case _ =>
            throw new UnsupportedOperationException(
              "snapshot catalog: bucket() wants exactly one column")
        }
        val n = t.arguments().collectFirst {
          case l: org.apache.spark.sql.connector.expressions.Literal[_]
              if l.value().isInstanceOf[java.lang.Integer] =>
            l.value().asInstanceOf[java.lang.Integer].intValue()
        }.getOrElse(throw new UnsupportedOperationException(
          "snapshot catalog: bucket() wants an integer bucket count"))
        Some((col, n))
      case _ =>
        throw new UnsupportedOperationException(
          "snapshot catalog: only PARTITIONED BY (bucket(n, col)) or a " +
            "single identity column is supported — manifest-stats file " +
            "skipping plus OPTIMIZE clustering replace deeper hive " +
            "partitioning"
        )
    }
    bucketSpec.foreach { case (c, _) =>
      val fld = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot catalog: bucket column '$c' is not in the schema"))
      require(
        fld.dataType == LongType || fld.dataType == IntegerType,
        s"snapshot catalog: bucket column '$c' must be int/bigint")
    }
    SnapshotSql.requireSupported(schema) // refuse at DDL, not first INSERT
    // `TBLPROPERTIES ('sorted_by' = 'col')` — ingestion-time
    // clustering: every INSERT range-partitions + sorts on the column,
    // so footer stats prune from day one without a separate OPTIMIZE
    val sortedBy = Option(properties.get("sorted_by")).map(_.trim).filter(_.nonEmpty)
    sortedBy.foreach { c =>
      require(
        schema.fieldNames.contains(c),
        s"snapshot catalog: sorted_by column '$c' is not in the schema")
      require(
        bucketSpec.isEmpty,
        "snapshot catalog: sorted_by and bucket layout are mutually " +
          "exclusive (a bucketed write clusters by bucket id)")
      require(
        partitionBy.isEmpty,
        "snapshot catalog: sorted_by and PARTITIONED BY are mutually " +
          "exclusive (a partitioned write clusters by partition value)")
    }
    // declared-property validation runs BEFORE the v1 commit: a
    // malformed property must fail the CREATE without leaving a
    // half-created table behind (commit-then-validate did exactly
    // that — caught by the unique_key spec)
    val declaredProps =
      sortedBy.map("sorted_by" -> _).toMap ++
        partitionBy.map("partition_by" -> _) ++
        sortedBy.flatMap(_ =>
          Option(properties.get("sorted_partitions"))
            .map(p => "sorted_partitions" -> p.trim.toInt.toString)) ++
        // `TBLPROPERTIES ('check' = '<boolean sql>')` — validated HERE
        // so a malformed constraint fails the CREATE, not the first
        // INSERT; enforced executor-side on every write path
        Option(properties.get("check")).map(_.trim).filter(_.nonEmpty).map { c =>
          SnapshotSql.compileCheck(spark, schema, c)
          "check" -> c
        } ++
        // `TBLPROPERTIES ('unique_key' = '<bigint col>')` — a declared
        // UNIQUE constraint: every batch INSERT is audited pre-commit
        // (in-batch duplicates, NULL keys, and collisions against the
        // stats-admitted live files — deletion vectors applied, so a
        // DELETEd key is re-insertable); a violation aborts the write
        // with no version burned. BIGINT-only so the audit prunes in
        // LONG stat space.
        Option(properties.get("unique_key")).map(_.trim).filter(_.nonEmpty).map { k =>
          val f = schema.fields.find(_.name == k).getOrElse(
            throw new IllegalArgumentException(
              s"snapshot catalog: unique_key column '$k' is not in the schema"))
          require(
            f.dataType == LongType,
            s"snapshot catalog: unique_key must be a BIGINT column, " +
              s"'$k' is ${f.dataType.simpleString}")
          "unique_key" -> k
        } ++
        // 'write_mode' = 'copy-on-write' (default: DML rewrites whole
        // files) | 'merge-on-read' (DML writes deletion vectors +
        // appended files). Mutually exclusive with unique_key: the
        // pre-commit uniqueness audit excludes replaced files BY NAME,
        // and position-deletes change liveness WITHIN a file, so the
        // exclusion semantics would be ambiguous.
        Option(properties.get("write_mode")).map(_.trim).filter(_.nonEmpty).map { m =>
          require(
            m == "copy-on-write" || m == "merge-on-read",
            s"snapshot catalog: write_mode must be 'copy-on-write' or " +
              s"'merge-on-read', got '$m'")
          require(
            m == "copy-on-write" ||
              !Option(properties.get("unique_key")).exists(_.trim.nonEmpty),
            "snapshot catalog: write_mode=merge-on-read and unique_key are " +
              "mutually exclusive (position-deletes make the uniqueness " +
              "audit's replaced-file exclusion ambiguous)")
          "write_mode" -> m
        } ++
        // 'check_mode' = 'fail' (default) | 'quarantine' (dead-letter:
        // violating rows divert to <table>_quarantine instead of
        // failing the job)
        Option(properties.get("check_mode")).map(_.trim).filter(_.nonEmpty).map { m =>
          require(
            m == "fail" || m == "quarantine",
            s"snapshot catalog: check_mode must be 'fail' or 'quarantine', got '$m'")
          require(
            Option(properties.get("check")).exists(_.trim.nonEmpty),
            "snapshot catalog: check_mode without a check constraint")
          require(
            m == "fail" || bucketSpec.isEmpty,
            "snapshot catalog: check_mode=quarantine is unsupported on " +
              "bucketed tables (the quarantine table is unbucketed)")
          "check_mode" -> m
        }
    wfs.mkdirs(nsPath(ident.namespace))
    // v1 is a schema-only commit: the empty table is immediately
    // readable under its recorded schema (and DECLARES the bucket
    // layout when one was asked for)
    SnapshotLog.commit(
      spark, tablePath(ident),
      CommitRequest(CommitData.landed(Nil, schema), buckets = bucketSpec))
    if (declaredProps.nonEmpty)
      SnapshotLog.setTableProps(spark, tablePath(ident), declaredProps)
    loadTable(ident)
  }

  /** EXISTS_DEFAULT text frozen to the DDL-time constant: the
    * analyzer already folded the default into `getValue` (a connector
    * Literal holding the catalyst-internal value), so re-rendering
    * THAT as SQL pins e.g. `current_date()` to the date the column
    * was added, exactly once, forever. */
  private def frozenExistsDefault(
      d: org.apache.spark.sql.connector.catalog.ColumnDefaultValue
  ): String = {
    val v = d.getValue
    require(
      v != null,
      s"snapshot catalog: default '${d.getSql}' has no folded value — " +
        "only constant-foldable defaults are supported")
    org.apache.spark.sql.catalyst.expressions.Literal(v.value, v.dataType).sql
  }

  override def createTable(
      ident: Identifier,
      columns: Array[Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]
  ): Table = {
    columns.foreach { c =>
      if (c.generationExpression() != null)
        throw new UnsupportedOperationException(
          "snapshot catalog: generated columns unsupported")
      if (c.defaultValue() != null)
        require(
          c.defaultValue().getSql != null,
          s"snapshot catalog: column '${c.name()}' default must carry its " +
            "SQL text")
    }
    // DEFAULT values encode into field metadata (CURRENT_DEFAULT /
    // EXISTS_DEFAULT — the keys Spark's analyzer and the parquet
    // readers' existence-default fill consult) — the committed
    // schema.json round-trips it and appends preserve it through
    // mergeSchemas, so a default costs zero storage and zero rewrite.
    // EXISTS_DEFAULT is FROZEN to the literal evaluated at DDL time:
    // for a foldable-but-non-constant default like current_date(),
    // storing the raw SQL would re-evaluate it at every read and the
    // pre-existing rows' values would drift over time (Spark/Delta
    // freeze it the same way). CURRENT_DEFAULT keeps the SQL text —
    // future INSERTs are SUPPOSED to re-evaluate it per statement.
    val fields = columns.map { c =>
      val mb = new MetadataBuilder()
      Option(c.comment()).foreach(mb.putString("comment", _))
      Option(c.defaultValue()).foreach { d =>
        mb.putString("CURRENT_DEFAULT", d.getSql)
        mb.putString("EXISTS_DEFAULT", frozenExistsDefault(d))
      }
      StructField(c.name(), c.dataType(), c.nullable(), mb.build())
    }
    createTable(ident, StructType(fields), partitions, properties): @annotation.nowarn("cat=deprecation")
  }

  /** ADD COLUMN is a schema-only commit (earlier files null-fill per
    * the log's evolution rules). RENAME COLUMN and DROP COLUMN are
    * METADATA-ONLY through the log's column mapping — one manifest
    * write, zero data files touched, with the physical in-file name
    * frozen at the column's birth so old files keep reading and a
    * re-added name can never resurrect dropped data. ALTER COLUMN TYPE
    * accepts exactly the widenings the log's append path merges
    * (int→bigint, float→double) as a schema-only commit. Everything
    * else refuses loudly — and refuses BEFORE any change commits: a
    * multi-change ALTER validates every change against the evolving
    * schema first, so a failure on the third change cannot leave the
    * first two applied. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    val path = tablePath(ident)
    val current = SnapshotLog
      .tableSchema(spark, path, SnapshotLog.versions(spark, path).last)
      .getOrElse(
        throw new IllegalStateException(
          s"snapshot catalog: $ident has no recorded schema (pre-upgrade log?)"
        )
      )
    // ALTER TABLE ADD/DROP CONSTRAINT — one constraint per statement
    // by SQL construction
    if (changes.exists(c =>
        c.isInstanceOf[TableChange.AddConstraint] ||
          c.isInstanceOf[TableChange.DropConstraint])) {
      require(
        changes.length == 1,
        "snapshot catalog ALTER: constraint changes cannot batch")
      return alterConstraint(ident, path, current, changes.head)
    }
    // SET/UNSET TBLPROPERTIES route here too — property evolution is
    // its own statement kind in SQL, so it never mixes with column
    // changes; refuse a mixed batch rather than order-guess
    if (changes.exists(c =>
        c.isInstanceOf[TableChange.SetProperty] ||
          c.isInstanceOf[TableChange.RemoveProperty])) {
      require(
        changes.forall(c =>
          c.isInstanceOf[TableChange.SetProperty] ||
            c.isInstanceOf[TableChange.RemoveProperty]),
        "snapshot catalog ALTER: property and column changes cannot mix " +
          "in one statement")
      return alterProps(ident, path, current, changes)
    }
    // pass 1 — validate EVERY change against the evolving logical
    // schema (names + types), including the guards the per-op appliers
    // would hit (bucket/sort keys, CHECK references), so pass 2 cannot
    // fail after a change has already committed
    val guarded: Map[String, String] = {
      val props = SnapshotLog.tableProps(spark, path)
      (SnapshotLog
        .bucketSpec(spark, path, SnapshotLog.versions(spark, path).last)
        .map(_._1 -> "the declared bucket column").toSeq ++
        props.get("sorted_by").map(_ -> "the declared sorted_by column").toSeq ++
        props.get("unique_key").map(_ -> "the declared unique_key column").toSeq ++
        props.get("check").toSeq.flatMap(c =>
          current.fieldNames.filter(n =>
            ("\\b" + java.util.regex.Pattern.quote(n) + "\\b").r
              .findFirstIn(c).isDefined)
            .map(_ -> s"referenced by the CHECK constraint ($c)"))).toMap
    }
    var names = scala.collection.immutable.ListMap(
      current.fields.map(f => f.name -> f.dataType): _*)
    // columns ADDed in this very statement: pass 2 batches adds LAST,
    // so a rename/drop/widen targeting one could not be honored in
    // declared order — refuse up front rather than fail mid-apply
    var addedHere = Set.empty[String]
    def notAddedHere(n: String): Unit =
      if (addedHere(n))
        throw new UnsupportedOperationException(
          s"snapshot catalog ALTER: '$n' was added in the same statement " +
            "— split into two ALTERs")
    changes.foreach {
      case a: TableChange.AddColumn if a.fieldNames().length == 1 =>
        val n = a.fieldNames()(0)
        require(!names.contains(n), s"snapshot catalog ALTER: column '$n' already exists")
        SnapshotSql.requireSupported(
          StructType(Seq(StructField(n, a.dataType(), a.isNullable))))
        names += n -> a.dataType()
        addedHere += n
      case r: TableChange.RenameColumn if r.fieldNames().length == 1 =>
        val (from, to) = (r.fieldNames()(0), r.newName())
        require(names.contains(from), s"snapshot catalog ALTER: no column '$from'")
        require(!names.contains(to), s"snapshot catalog ALTER: column '$to' already exists")
        notAddedHere(from)
        guarded.get(from).foreach(why => throw new IllegalArgumentException(
          s"snapshot catalog ALTER: '$from' is $why"))
        names = names.map { case (k, v) => (if (k == from) to else k) -> v }
      case d: TableChange.DeleteColumn if d.fieldNames().length == 1 =>
        val n = d.fieldNames()(0)
        require(names.contains(n), s"snapshot catalog ALTER: no column '$n'")
        require(names.size > 1, "snapshot catalog ALTER: cannot drop the last column")
        notAddedHere(n)
        guarded.get(n).foreach(why => throw new IllegalArgumentException(
          s"snapshot catalog ALTER: '$n' is $why"))
        names -= n
      case u: TableChange.UpdateColumnType if u.fieldNames().length == 1 =>
        val n = u.fieldNames()(0)
        require(names.contains(n), s"snapshot catalog ALTER: no column '$n'")
        notAddedHere(n)
        require(
          names(n) == u.newDataType() ||
            SnapshotLog.legalWidening(names(n), u.newDataType()),
          s"snapshot catalog ALTER: $n ${names(n).simpleString} -> " +
            s"${u.newDataType().simpleString} is not a widening " +
            "(int->bigint and float->double only)")
        names += n -> u.newDataType()
      case c =>
        throw new UnsupportedOperationException(
          s"snapshot catalog: unsupported ALTER TABLE change $c " +
            "(top-level ADD/RENAME/DROP/widen COLUMN TYPE only)"
        )
    }
    // pass 2 — apply in declared order (validated above; ADDs batch
    // into one schema commit at the end)
    val added = Seq.newBuilder[StructField]
    changes.foreach {
      case a: TableChange.AddColumn =>
        // a DEFAULT rides the field metadata: CURRENT_DEFAULT fills
        // future INSERTs (analyzer-side), EXISTS_DEFAULT fills the
        // column for every file that predates it (reader-side
        // existence-default fill) — zero rewrite either way
        val meta = Option(a.defaultValue()).map { d =>
          require(
            d.getSql != null,
            s"snapshot catalog ALTER: default for '${a.fieldNames()(0)}' " +
              "must carry its SQL text")
          new MetadataBuilder()
            .putString("CURRENT_DEFAULT", d.getSql)
            // frozen at DDL time — see createTable's rationale
            .putString("EXISTS_DEFAULT", frozenExistsDefault(d))
            .build()
        }.getOrElse(Metadata.empty)
        added += StructField(a.fieldNames()(0), a.dataType(), a.isNullable,
          meta)
      case r: TableChange.RenameColumn =>
        SnapshotLog.renameColumn(spark, path, r.fieldNames()(0), r.newName())
      case d: TableChange.DeleteColumn =>
        SnapshotLog.dropColumn(spark, path, d.fieldNames()(0))
      case u: TableChange.UpdateColumnType =>
        SnapshotLog.widenColumn(spark, path, u.fieldNames()(0), u.newDataType())
      case _ => ()
    }
    val toAdd = added.result()
    if (toAdd.nonEmpty) {
      SnapshotSql.requireSupported(StructType(toAdd))
      // re-read the tip: a rename/drop in the same ALTER already
      // committed, and adding against the stale schema would resurrect
      // the old names
      val tipNow = SnapshotLog
        .tableSchema(spark, path, SnapshotLog.versions(spark, path).last)
        .getOrElse(current)
      // a mapped table's new column gets a FRESH physical name — the
      // added name may equal a dropped column's physical spelling in
      // old files, which must stay invisible
      val stamped =
        if (!SnapshotLog.isMapped(tipNow)) toAdd
        else
          toAdd.map(f =>
            StructField(
              f.name, f.dataType, f.nullable,
              new MetadataBuilder()
                .withMetadata(f.metadata)
                .putString(
                  "graftPhys",
                  s"${f.name}__p${UUID.randomUUID.toString.take(8)}")
                .build()))
      SnapshotLog.commit(
        spark, path,
        CommitRequest(CommitData.landed(Nil, StructType(tipNow.fields ++ stamped))))
    }
    loadTable(ident)
  }

  /** Property evolution (`ALTER TABLE ... SET/UNSET TBLPROPERTIES`).
    * Layout claims (`sorted_by`/`sorted_partitions`/`partition_by`)
    * evolve freely because layout is advisory, never a correctness
    * boundary: FUTURE writes cluster by the new spec, existing files
    * keep their stats, and pruning stays exact by the skipping
    * invariant — partition evolution without a rewrite. Constraint
    * claims (`check`, `unique_key`) must additionally hold for the
    * data ALREADY in the table, so newly setting one runs a
    * distributed audit over the live rows (ALTER ADD CONSTRAINT
    * semantics) and refuses — with the witness named — if any
    * existing row would violate; removing a constraint is free. The
    * whole change set validates first and lands as ONE props write,
    * so a refused statement changes nothing. */
  /** `ALTER TABLE ADD/DROP CONSTRAINT <name> CHECK (...)` — the
    * standard-SQL spelling of the `check` property. Each named
    * predicate is stored as a `ck_<name>` prop; the EFFECTIVE `check`
    * prop is recomputed as their conjunction, so every existing
    * consumer (batch/streaming/DML writers, quarantine mode) enforces
    * named constraints with zero new plumbing. ADD validates existing
    * rows first (one distributed scan, first witness named — the same
    * posture as declaring `check` via TBLPROPERTIES); only CHECK
    * constraints are supported — primary/foreign keys would be
    * unenforced claims, and an unenforced constraint is a lie the
    * optimizer then believes. A TBLPROPERTIES-declared `check` and
    * named constraints are mutually exclusive (one mechanism per
    * table, or DROP could silently erase the property-declared
    * predicate). */
  private def alterConstraint(
      ident: Identifier,
      path: String,
      schema: StructType,
      change: TableChange
  ): Table = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
    val cur = SnapshotLog.tableProps(spark, path)
    val pieces = cur.filter { case (k, _) => k.startsWith("ck_") }
    change match {
      case a: TableChange.AddConstraint =>
        val c = a.constraint() match {
          case ck: org.apache.spark.sql.connector.catalog.constraints.Check => ck
          case other =>
            throw new UnsupportedOperationException(
              s"snapshot catalog: only CHECK constraints are enforced — " +
                s"refusing unenforceable ${other.getClass.getSimpleName}")
        }
        require(
          c.predicateSql() != null && c.predicateSql().nonEmpty,
          "snapshot catalog: CHECK constraint needs its predicate SQL")
        require(
          !cur.contains(s"ck_${c.name()}"),
          s"snapshot catalog: constraint '${c.name()}' already exists")
        require(
          pieces.nonEmpty || !cur.contains("check"),
          "snapshot catalog: a TBLPROPERTIES-declared 'check' and named " +
            "constraints are mutually exclusive — unset the property first")
        val newPieces = pieces + (s"ck_${c.name()}" -> c.predicateSql())
        val effective = newPieces.toSeq.sorted.map(p => s"(${p._2})").mkString(" AND ")
        SnapshotSql.compileCheck(spark, schema, effective)
        // Spark pre-validates existing data for enforced CHECKs and
        // records the version it validated AGAINST — scanning again
        // here would double the ADD's cost at 100 TB. But that tip may
        // have MOVED since (an INSERT landing between Spark's scan and
        // this commit was never validated): re-check ONLY the delta
        // since the validated version — O(changed files) — and the
        // FULL table only when no validation ran at all (programmatic
        // alterTable) or the change feed is out of reach (expired).
        val tipNow = SnapshotLog.versions(spark, path).last
        val unvalidated: Option[org.apache.spark.sql.DataFrame] =
          Option(a.validatedTableVersion())
            .flatMap(s => scala.util.Try(s.toInt).toOption) match {
            case Some(v) if v >= tipNow => None
            case Some(v) =>
              scala.util.Try(
                SnapshotLog.readChanges(spark, path, v, tipNow)
                  .filter(col("change_type") === "insert"))
                .toOption.orElse(Some(SnapshotLog.read(spark, path)))
            case None => Some(SnapshotLog.read(spark, path))
          }
        unvalidated.foreach { df =>
          var bad = df
            .filter(not(coalesce(expr(c.predicateSql()), lit(true))))
            .limit(1)
            .collect()
          if (bad.nonEmpty && (df ne null) && df.columns.contains("change_type")) {
            // the delta feed is per-version, not net: an insert that a
            // LATER version deleted still appears and must not refuse a
            // constraint the current table satisfies — confirm against
            // live rows before failing (only paid on the refusal path)
            bad = SnapshotLog.read(spark, path)
              .filter(not(coalesce(expr(c.predicateSql()), lit(true))))
              .limit(1)
              .collect()
          }
          require(
            bad.isEmpty,
            s"snapshot catalog: existing row violates CHECK ${c.name()} " +
              s"(${c.predicateSql()}): ${bad.headOption.getOrElse("")}")
        }
        SnapshotCatalog.onConstraintValidated.get()()
        SnapshotLog.setTableProps(
          spark, path,
          cur + (s"ck_${c.name()}" -> c.predicateSql()) + ("check" -> effective))
        // an INSERT committing between the delta re-check above and
        // the props write is neither validated nor enforced (writers
        // read props at plan time) — re-check the delta since tipNow
        // now that the constraint is visible, and ROLL THE PROP BACK
        // on a violation rather than leave a declared-but-violated
        // constraint standing (the unique-key preCommit idiom,
        // adapted to a props write that is not a log commit)
        val tipAfter = SnapshotLog.versions(spark, path).last
        if (tipAfter > tipNow) {
          val lateBad = scala.util.Try(
            SnapshotLog.readChanges(spark, path, tipNow, tipAfter)
              .filter(col("change_type") === "insert"))
            .getOrElse(SnapshotLog.read(spark, path))
            .filter(not(coalesce(expr(c.predicateSql()), lit(true))))
            .limit(1)
            .collect()
          if (lateBad.nonEmpty) {
            // per-version feed, not net — confirm against live rows
            val liveBad = SnapshotLog.read(spark, path)
              .filter(not(coalesce(expr(c.predicateSql()), lit(true))))
              .limit(1)
              .collect()
            if (liveBad.nonEmpty) {
              SnapshotLog.setTableProps(spark, path, cur)
              throw new IllegalStateException(
                s"snapshot catalog: a concurrent write violated CHECK " +
                  s"${c.name()} (${c.predicateSql()}) while it was being " +
                  s"added — constraint rolled back: ${liveBad.head}")
            }
          }
        }
      case d: TableChange.DropConstraint =>
        if (!cur.contains(s"ck_${d.name()}")) {
          if (d.ifExists()) return loadTable(ident)
          throw new IllegalArgumentException(
            s"snapshot catalog: no constraint named '${d.name()}'")
        }
        val remaining = pieces - s"ck_${d.name()}"
        val base = cur - s"ck_${d.name()}"
        SnapshotLog.setTableProps(
          spark, path,
          if (remaining.isEmpty) base - "check"
          else base + ("check" ->
            remaining.toSeq.sorted.map(p => s"(${p._2})").mkString(" AND ")))
      case other =>
        throw new UnsupportedOperationException(
          s"snapshot catalog: unsupported constraint change $other")
    }
    loadTable(ident)
  }

  private def alterProps(
      ident: Identifier,
      path: String,
      schema: StructType,
      changes: Seq[TableChange]
  ): Table = {
    import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, max, not, when}
    val cur = SnapshotLog.tableProps(spark, path)
    var p2 = cur
    changes.foreach {
      case s: TableChange.SetProperty    => p2 += s.property() -> s.value().trim
      case r: TableChange.RemoveProperty => p2 -= r.property()
      case _                             => ()
    }
    val bucketed = SnapshotLog
      .bucketSpec(spark, path, SnapshotLog.versions(spark, path).last)
      .isDefined
    p2.get("sorted_by").foreach { c =>
      require(
        schema.fieldNames.contains(c),
        s"snapshot catalog ALTER: sorted_by column '$c' is not in the schema")
      require(
        !bucketed,
        "snapshot catalog ALTER: sorted_by and bucket layout are mutually " +
          "exclusive")
      require(
        p2.get("partition_by").isEmpty,
        "snapshot catalog ALTER: sorted_by and partition_by are mutually " +
          "exclusive")
    }
    p2.get("sorted_partitions").foreach { v =>
      require(
        p2.contains("sorted_by"),
        "snapshot catalog ALTER: sorted_partitions without sorted_by")
      v.toInt
    }
    p2.get("partition_by").toSeq.flatMap(PartSpec.parse).foreach { f =>
      PartSpec.validate(f, schema, "snapshot catalog ALTER")
      require(
        !bucketed,
        "snapshot catalog ALTER: partition_by and bucket layout are mutually " +
          "exclusive")
    }
    p2.get("check").foreach { c =>
      SnapshotSql.compileCheck(spark, schema, c)
      if (!cur.get("check").contains(c)) {
        // ALTER ADD CONSTRAINT: the rows already committed must
        // satisfy the new predicate (null/unknown passes, as on the
        // write path) — one distributed scan, first witness named
        val bad = SnapshotLog.read(spark, path)
          .filter(not(coalesce(expr(c), lit(true))))
          .limit(1)
          .collect()
        require(
          bad.isEmpty,
          s"snapshot catalog ALTER: existing row violates CHECK ($c): " +
            bad.headOption.getOrElse(""))
      }
    }
    p2.get("check_mode").foreach { m =>
      require(
        m == "fail" || m == "quarantine",
        s"snapshot catalog ALTER: check_mode must be 'fail' or 'quarantine', got '$m'")
      require(
        p2.contains("check"),
        "snapshot catalog ALTER: check_mode without a check constraint")
      require(
        m == "fail" || !bucketed,
        "snapshot catalog ALTER: check_mode=quarantine is unsupported on " +
          "bucketed tables")
    }
    p2.get("write_mode").foreach { m =>
      require(
        m == "copy-on-write" || m == "merge-on-read",
        s"snapshot catalog ALTER: write_mode must be 'copy-on-write' or " +
          s"'merge-on-read', got '$m'")
      require(
        m == "copy-on-write" || !p2.contains("unique_key"),
        "snapshot catalog ALTER: write_mode=merge-on-read and unique_key " +
          "are mutually exclusive (position-deletes make the uniqueness " +
          "audit's replaced-file exclusion ambiguous)")
    }
    p2.get("unique_key").foreach { k =>
      val fld = schema.fields.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(
          s"snapshot catalog ALTER: unique_key column '$k' is not in the schema"))
      require(
        fld.dataType == LongType,
        s"snapshot catalog ALTER: unique_key must be a BIGINT column, " +
          s"'$k' is ${fld.dataType.simpleString}")
      if (!cur.get("unique_key").contains(k)) {
        val audit = SnapshotLog.read(spark, path)
          .groupBy(col(k)).agg(count(lit(1)).as("__n"))
          .agg(
            max(when(col("__n") > 1, col(k))).as("dup"),
            count(when(col(k).isNull, lit(1))).as("nullk"))
          .collect()(0)
        require(
          audit.getLong(1) == 0,
          s"snapshot catalog ALTER: existing NULL in '$k' — cannot declare " +
            "unique_key")
        require(
          audit.isNullAt(0),
          s"snapshot catalog ALTER: '$k' = ${audit.get(0)} occurs more than " +
            "once in existing data — cannot declare unique_key")
      }
    }
    SnapshotLog.setTableProps(spark, path, p2)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    tableExists(ident) && {
      // dropping a managed MV clears its source's reverse pointer
      // (best-effort — the serve rule re-verifies refs anyway)
      val path = tablePath(ident)
      try MvDecl.sourceOf(SnapshotLog.tableProps(spark, path))
        .foreach(src => MvDecl.removeRef(spark, src, path))
      catch { case _: Exception => () }
      wfs.delete(new Path(path), true)
    }

  override def renameTable(from: Identifier, to: Identifier): Unit = {
    if (!tableExists(from)) throw new NoSuchTableException(from)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    if (viewExists(to)) throw new ViewAlreadyExistsException(to)
    wfs.mkdirs(nsPath(to.namespace))
    require(
      wfs.rename(new Path(tablePath(from)), new Path(tablePath(to))),
      s"snapshot catalog: rename $from -> $to failed"
    )
  }

  // --- namespaces: warehouse subdirectories ---

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!wfs.exists(root)) Array.empty
    else
      wfs
        .listStatus(root)
        .filter(st =>
          st.isDirectory && !isTable(st.getPath) &&
            !st.getPath.getName.startsWith("_"))
        .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(ns: Array[String]): Array[Array[String]] = {
    if (ns.isEmpty) return listNamespaces()
    val p = nsPath(ns)
    if (!wfs.exists(p)) throw new NoSuchNamespaceException(ns)
    wfs
      .listStatus(p)
      .filter(st =>
        st.isDirectory && !isTable(st.getPath) &&
          !st.getPath.getName.startsWith("_"))
      .map(st => ns :+ st.getPath.getName)
  }

  override def loadNamespaceMetadata(
      ns: Array[String]
  ): util.Map[String, String] = {
    if (!wfs.exists(nsPath(ns)) || isTable(nsPath(ns)))
      throw new NoSuchNamespaceException(ns)
    Map.empty[String, String].asJava
  }

  override def createNamespace(
      ns: Array[String],
      metadata: util.Map[String, String]
  ): Unit = wfs.mkdirs(nsPath(ns))

  override def alterNamespace(ns: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "snapshot catalog: ALTER NAMESPACE unsupported"
    )

  override def dropNamespace(ns: Array[String], cascade: Boolean): Boolean = {
    val p = nsPath(ns)
    if (!wfs.exists(p)) return false
    if (!cascade && wfs.listStatus(p).nonEmpty)
      throw new IllegalStateException(
        s"snapshot catalog: namespace ${ns.mkString(".")} is not empty"
      )
    wfs.delete(p, true)
  }

  // --- views: SQL text stored beside the tables it reads ---
  //
  // A view is one metadata file under `<warehouse>/<ns>/_views/<name>`
  // (line-token format like the commit header: every value b64'd, so
  // arbitrary SQL round-trips). Definitions are stored as TEXT and
  // re-analyzed per query — a view over a snapshot table therefore
  // always reads the CURRENT tip (and current schema) of its base
  // tables, never a frozen plan; at 100 TB this is pure driver
  // metadata, and the expanded query plans with the same pushdown /
  // pruning / statistics as if the user had typed the SQL inline.

  private def viewsDir(ns: Array[String]): Path =
    new Path(nsPath(ns), "_views")

  private def viewPath(ident: Identifier): Path =
    new Path(viewsDir(ident.namespace), ident.name)

  private def vb64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(
      s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def vunb64(s: String): String =
    new String(
      java.util.Base64.getDecoder.decode(s),
      java.nio.charset.StandardCharsets.UTF_8)

  /** null-safe list encoding: each entry b64'd (or `-` for null),
    * space-joined; empty list → `.` so the token is never empty. */
  private def vlist(xs: Seq[String]): String =
    if (xs.isEmpty) "."
    else xs.map(x => if (x == null) "-" else vb64(x)).mkString(" ")

  private def vunlist(t: String): Array[String] =
    if (t == ".") Array.empty
    else t.split(' ').map(x => if (x == "-") null else vunb64(x))

  override def viewExists(ident: Identifier): Boolean =
    wfs.exists(viewPath(ident))

  override def listViews(ns: String*): Array[Identifier] = {
    val d = viewsDir(ns.toArray)
    if (!wfs.exists(d)) Array.empty
    else
      wfs.listStatus(d).filter(_.isFile)
        .map(st => Identifier.of(ns.toArray, st.getPath.getName))
  }

  private def writeViewFile(ident: Identifier, lines: Seq[String]): Unit = {
    wfs.mkdirs(viewsDir(ident.namespace))
    val out = wfs.create(viewPath(ident), true)
    try out.write(
      lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def readViewFile(ident: Identifier): Map[String, String] = {
    val in = new java.io.BufferedReader(new java.io.InputStreamReader(
      wfs.open(viewPath(ident)), java.nio.charset.StandardCharsets.UTF_8))
    try Iterator.continually(in.readLine()).takeWhile(_ != null)
      .filter(_.contains('='))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }
      .toMap
    finally in.close()
  }

  override def createView(info: ViewInfo): View = {
    val ident = info.ident
    // a view must never shadow a table (or vice versa): one name, one
    // meaning — the resolution order would otherwise silently decide
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    if (viewExists(ident)) throw new ViewAlreadyExistsException(ident)
    if (!wfs.exists(nsPath(ident.namespace)))
      throw new NoSuchNamespaceException(ident.namespace)
    writeViewFile(
      ident,
      Seq(
        s"sql=${vb64(info.sql)}",
        s"catalog=${vb64(info.currentCatalog)}",
        s"ns=${vlist(info.currentNamespace.toSeq)}",
        s"schema=${vb64(info.schema.json)}",
        s"qcols=${vlist(info.queryColumnNames.toSeq)}",
        s"aliases=${vlist(info.columnAliases.toSeq)}",
        s"comments=${vlist(info.columnComments.toSeq)}",
        s"props=${vlist(info.properties.asScala.toSeq.sorted.map {
            case (k, v) => s"$k\t$v"
          })}"
      ))
    loadView(ident)
  }

  override def loadView(ident: Identifier): View = {
    if (!viewExists(ident)) throw new NoSuchViewException(ident)
    val t = readViewFile(ident)
    new View {
      override def name(): String =
        (catalogName +: ident.namespace :+ ident.name).mkString(".")
      override def query(): String = vunb64(t("sql"))
      override def currentCatalog(): String = vunb64(t("catalog"))
      override def currentNamespace(): Array[String] = vunlist(t("ns"))
      override def schema(): StructType =
        DataType.fromJson(vunb64(t("schema"))).asInstanceOf[StructType]
      override def queryColumnNames(): Array[String] = vunlist(t("qcols"))
      override def columnAliases(): Array[String] = vunlist(t("aliases"))
      override def columnComments(): Array[String] = vunlist(t("comments"))
      override def properties(): util.Map[String, String] =
        vunlist(t("props")).map { kv =>
          val i = kv.indexOf('\t'); kv.take(i) -> kv.drop(i + 1)
        }.toMap.asJava
    }
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    if (!viewExists(ident)) throw new NoSuchViewException(ident)
    val t = readViewFile(ident)
    val props0 = vunlist(t("props")).map { kv =>
      val i = kv.indexOf('\t'); kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val props = changes.foldLeft(props0) {
      case (p, s: ViewChange.SetProperty) => p + (s.property -> s.value)
      case (p, r: ViewChange.RemoveProperty) => p - r.property
      case (_, c) =>
        throw new UnsupportedOperationException(
          s"snapshot catalog: unsupported view change $c")
    }
    writeViewFile(
      ident,
      t.toSeq.filterNot(_._1 == "props").sorted.map { case (k, v) => s"$k=$v" } :+
        s"props=${vlist(props.toSeq.sorted.map { case (k, v) => s"$k\t$v" })}")
    loadView(ident)
  }

  override def dropView(ident: Identifier): Boolean =
    viewExists(ident) && wfs.delete(viewPath(ident), false)

  override def renameView(from: Identifier, to: Identifier): Unit = {
    if (!viewExists(from)) throw new NoSuchViewException(from)
    if (viewExists(to)) throw new ViewAlreadyExistsException(to)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    wfs.mkdirs(viewsDir(to.namespace))
    require(
      wfs.rename(viewPath(from), viewPath(to)),
      s"snapshot catalog: view rename $from -> $to failed")
  }

  // --- maintenance procedures: CALL <cat>.system.<proc>(...) ---
  //
  // OPTIMIZE / VACUUM / retention / DESCRIBE HISTORY reachable from
  // SQL — the lakehouse maintenance surface, expressed through Spark's
  // procedure catalog API instead of a parser extension. Each returns
  // its summary as rows (a LocalScan), so `CALL ...` reads like a
  // query.

  override def listProcedures(ns: Array[String]): Array[Identifier] =
    SnapshotProcedures.names.map(Identifier.of(ns, _))

  override def loadProcedure(
      ident: Identifier
  ): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    SnapshotProcedures.load(
      ident.name,
      ref => (warehouse +: ref.split('.').toSeq).mkString("/")
    )

  // --- functions: the bucket transform for storage-partitioned joins ---
  //
  // Spark validates a scan's KeyGroupedPartitioning by binding its
  // transform expressions against the table's catalog — without a
  // FunctionCatalog serving `bucket`, the partitioning is silently
  // discarded and every join re-shuffles. Both sides of a join bind to
  // the same canonical function, which is what makes the two scans'
  // partitionings comparable.

  override def listFunctions(ns: Array[String]): Array[Identifier] =
    ("bucket" +: GraftTimeTransformFunction.units :+ "truncate")
      .map(Identifier.of(ns, _)).toArray

  override def loadFunction(
      ident: Identifier
  ): org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    ident.name match {
      case "bucket" => GraftBucketFunction
      case u if GraftTimeTransformFunction.units.contains(u) =>
        GraftTimeTransformFunction(u)
      case "truncate" => GraftTruncateFunction
      case _ =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
    }
}

/** One field of a `partition_by` layout spec: a plain IDENTITY column
  * or a derived TRANSFORM of one (`days/months/years/hours(ts)`,
  * `truncate(w, col)` — the Iceberg transform vocabulary with the
  * Iceberg-canonical value spaces: days = epoch days, hours = epoch
  * hours, months = (y-1970)*12+(m-1), years = y-1970, truncate =
  * floor-to-width for numbers / prefix for strings). The writer
  * routes rows by the TRANSFORMED value, so every landed file is
  * value-pure in the transform — and therefore carries a tight RAW
  * footer stat (a day-pure file's ts min/max spans at most that day),
  * which is exactly what the existing manifest-stats skipping prunes
  * range predicates with. No derived column is stored; the layout
  * stays advisory metadata. */
sealed trait PartField { def col: String; def spec: String }
case class PartIdentity(col: String) extends PartField {
  def spec: String = col
}
case class PartTime(unit: String, col: String) extends PartField {
  def spec: String = s"$unit($col)"
}
case class PartTruncate(width: Int, col: String) extends PartField {
  def spec: String = s"truncate($width,$col)"
}

object PartSpec {
  private val TimeRe = """(days|months|years|hours)\(([^)]+)\)""".r
  private val TruncRe = """truncate\((\d+),([^)]+)\)""".r

  /** Paren-aware comma split: `truncate(4,s),days(ts)` has a comma
    * INSIDE a field. */
  private def splitTop(s: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur += '('
      case ')' => depth -= 1; cur += ')'
      case ',' if depth == 0 => out += cur.result(); cur.clear()
      case ch => cur += ch
    }
    if (cur.nonEmpty) out += cur.result()
    out.toSeq
  }

  def parse(s: String): Seq[PartField] = splitTop(s).map(parseOne)

  def parseOne(f: String): PartField = f.trim match {
    case TimeRe(u, c)  => PartTime(u, c.trim)
    case TruncRe(w, c) => PartTruncate(w.toInt, c.trim)
    case c             => PartIdentity(c)
  }

  /** DDL-time validation of a field against the table schema. */
  def validate(f: PartField, schema: StructType, ctx: String): Unit = {
    val fld = schema.fields.find(_.name == f.col).getOrElse(
      throw new IllegalArgumentException(
        s"$ctx: partition column '${f.col}' is not in the schema"))
    f match {
      case _: PartIdentity =>
        require(
          fld.dataType == LongType || fld.dataType == IntegerType ||
            fld.dataType == StringType,
          s"$ctx: partition column '${f.col}' must be int/bigint/string")
        require(
          !f.col.contains(',') && !f.col.contains('(') && !f.col.contains(')'),
          s"$ctx: unsupported character in partition column name '${f.col}'")
      case PartTime("hours", c) =>
        require(
          fld.dataType == TimestampType,
          s"$ctx: hours($c) wants a TIMESTAMP column, got ${fld.dataType.simpleString}")
      case PartTime(u, c) =>
        require(
          fld.dataType == TimestampType || fld.dataType == DateType,
          s"$ctx: $u($c) wants a TIMESTAMP or DATE column, got ${fld.dataType.simpleString}")
      case PartTruncate(w, c) =>
        require(w > 0, s"$ctx: truncate width must be positive, got $w")
        require(
          fld.dataType == LongType || fld.dataType == IntegerType ||
            fld.dataType == StringType,
          s"$ctx: truncate($w, $c) wants int/bigint/string, got ${fld.dataType.simpleString}")
    }
  }

  /** The DSv2 Transform this field reports (DESCRIBE, distribution). */
  def toTransform(
      f: PartField
  ): org.apache.spark.sql.connector.expressions.Transform = {
    import org.apache.spark.sql.connector.expressions.Expressions
    f match {
      case PartIdentity(c)      => Expressions.identity(c)
      case PartTime("days", c)  => Expressions.days(c)
      case PartTime("months", c) => Expressions.months(c)
      case PartTime("years", c) => Expressions.years(c)
      case PartTime("hours", c) => Expressions.hours(c)
      case PartTime(u, c) =>
        throw new IllegalStateException(s"unknown time unit $u($c)")
      case PartTruncate(w, c) =>
        Expressions.apply(
          "truncate",
          Expressions.literal(w),
          Expressions.column(c))
    }
  }

  /** Epoch-day of a timestamp in micros (floor semantics for pre-1970). */
  def epochDays(micros: Long): Long = Math.floorDiv(micros, 86400000000L)

  /** Maps a LONG-space footer stat of `f.col` (micros for TIMESTAMP,
    * epoch days for DATE, raw for int/bigint) to the field's partition
    * value — the shared math of the metadata-only count_by and the
    * partition-aware compaction. None when the column's stats space
    * can't be mapped (string identity/truncate). */
  def statMapper(f: PartField, dt: DataType): Option[Long => Long] = {
    val usPerDay = 86400000000L
    def calMonths(days: Long): Long = {
      val ld = java.time.LocalDate.ofEpochDay(days)
      (ld.getYear - 1970).toLong * 12 + (ld.getMonthValue - 1)
    }
    f match {
      case _: PartIdentity if dt == LongType || dt == IntegerType =>
        Some(identity)
      case PartTruncate(w, _) if dt == LongType || dt == IntegerType =>
        Some(x => Math.floorDiv(x, w.toLong) * w)
      case PartTime(u, _) if dt == TimestampType =>
        u match {
          case "days"   => Some(x => Math.floorDiv(x, usPerDay))
          case "hours"  => Some(x => Math.floorDiv(x, 3600000000L))
          case "months" => Some(x => calMonths(Math.floorDiv(x, usPerDay)))
          case "years" =>
            Some(x => java.time.LocalDate
              .ofEpochDay(Math.floorDiv(x, usPerDay)).getYear - 1970L)
          case _ => None
        }
      case PartTime(u, _) if dt == DateType =>
        u match {
          case "days"   => Some(identity)
          case "months" => Some(calMonths)
          case "years" =>
            Some(x => java.time.LocalDate.ofEpochDay(x).getYear - 1970L)
          case _ => None
        }
      case _ => None
    }
  }

  /** The transformed ROUTING value of `f` for a row — must agree with
    * the catalog's canonical V2 functions bit-for-bit, or the write
    * distribution and the file routing would disagree about what "one
    * partition" means. */
  def routeValue(
      f: PartField,
      dt: DataType,
      row: org.apache.spark.sql.catalyst.InternalRow,
      i: Int
  ): String = {
    if (row.isNullAt(i)) return "__null__"
    f match {
      case _: PartIdentity =>
        dt match {
          case LongType    => row.getLong(i).toString
          case IntegerType => row.getInt(i).toString
          case StringType  => row.getUTF8String(i).toString
          case other =>
            throw new UnsupportedOperationException(
              s"partitioned write: unsupported partition type $other")
        }
      case PartTime(u, _) =>
        val days: Long = dt match {
          case TimestampType => epochDays(row.getLong(i))
          case DateType      => row.getInt(i).toLong
          case other =>
            throw new UnsupportedOperationException(
              s"partitioned write: $u over $other")
        }
        u match {
          case "days" => days.toString
          case "hours" => // validated TIMESTAMP-only at DDL
            Math.floorDiv(row.getLong(i), 3600000000L).toString
          case "months" =>
            val ld = java.time.LocalDate.ofEpochDay(days)
            ((ld.getYear - 1970) * 12 + (ld.getMonthValue - 1)).toString
          case "years" =>
            (java.time.LocalDate.ofEpochDay(days).getYear - 1970).toString
        }
      case PartTruncate(w, _) =>
        dt match {
          case LongType    => (Math.floorDiv(row.getLong(i), w.toLong) * w).toString
          case IntegerType => (Math.floorDiv(row.getInt(i).toLong, w.toLong) * w).toString
          case StringType =>
            val s = row.getUTF8String(i).toString
            s.substring(0, math.min(w, s.length))
          case other =>
            throw new UnsupportedOperationException(
              s"partitioned write: truncate over $other")
        }
    }
  }
}

/** `bucket(n, key)` = `pmod(key, n)` in long space — the SAME function
  * a bucketed [[SnapshotLog.commit]] clusters with at write time, so the
  * scan-reported partitioning is the data's true layout. */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, key): pmod(key, n) — the snapshot layout's bucket transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(
      inputType.length == 2 &&
        inputType(0).dataType == IntegerType &&
        (inputType(1).dataType == LongType || inputType(1).dataType == IntegerType),
      s"bucket(n, key) wants (int, int|bigint); got ${inputType.catalogString}"
    )
    val keyType = inputType(1).dataType
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(IntegerType, keyType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(input: InternalRow): Integer = {
        val n = input.getInt(0)
        val key =
          if (keyType == LongType) input.getLong(1) else input.getInt(1).toLong
        (((key % n) + n) % n).toInt
      }
    }
  }
}

/** `days/months/years/hours(ts)` — the canonical time transforms the
  * write distribution clusters with; value spaces match
  * [[PartSpec.routeValue]] bit-for-bit (epoch days / epoch hours /
  * months-since-1970 / years-since-1970), so Spark's shuffle and the
  * task writer's file routing agree about what one partition is. */
case class GraftTimeTransformFunction(unit: String)
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}

  override def name(): String = unit
  override def description(): String =
    s"$unit(ts): the snapshot layout's $unit partition transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(
      inputType.length == 1 &&
        (inputType(0).dataType == TimestampType ||
          (inputType(0).dataType == DateType && unit != "hours")),
      s"$unit(ts) wants a timestamp${if (unit != "hours") " or date" else ""} " +
        s"column; got ${inputType.catalogString}")
    val srcType = inputType(0).dataType
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] = Array(srcType)
      override def resultType(): DataType = IntegerType
      override def name(): String = unit
      override def canonicalName(): String = s"graft.$unit"
      override def isResultNullable: Boolean = true
      override def produceResult(input: InternalRow): Integer = {
        if (input.isNullAt(0)) return null
        val days: Long =
          if (srcType == TimestampType) PartSpec.epochDays(input.getLong(0))
          else input.getInt(0).toLong
        unit match {
          case "days"  => days.toInt
          case "hours" => Math.floorDiv(input.getLong(0), 3600000000L).toInt
          case "months" =>
            val ld = java.time.LocalDate.ofEpochDay(days)
            (ld.getYear - 1970) * 12 + (ld.getMonthValue - 1)
          case "years" =>
            java.time.LocalDate.ofEpochDay(days).getYear - 1970
        }
      }
    }
  }
}

object GraftTimeTransformFunction {
  val units: Seq[String] = Seq("days", "months", "years", "hours")
}

/** `truncate(w, col)` — floor-to-width for int/bigint, prefix for
  * strings; the same value space as [[PartSpec.routeValue]]. */
object GraftTruncateFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}

  override def name(): String = "truncate"
  override def description(): String =
    "truncate(w, col): the snapshot layout's truncate partition transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(
      inputType.length == 2 && inputType(0).dataType == IntegerType &&
        (inputType(1).dataType == LongType ||
          inputType(1).dataType == IntegerType ||
          inputType(1).dataType == StringType),
      s"truncate(w, col) wants (int, int|bigint|string); got ${inputType.catalogString}")
    val srcType = inputType(1).dataType
    if (srcType == StringType)
      new ScalarFunction[org.apache.spark.unsafe.types.UTF8String] {
        override def inputTypes(): Array[DataType] = Array(IntegerType, srcType)
        override def resultType(): DataType = StringType
        override def name(): String = "truncate"
        override def canonicalName(): String = "graft.truncate"
        override def isResultNullable: Boolean = true
        override def produceResult(
            input: InternalRow): org.apache.spark.unsafe.types.UTF8String = {
          if (input.isNullAt(1)) return null
          val w = input.getInt(0)
          val s = input.getUTF8String(1).toString
          org.apache.spark.unsafe.types.UTF8String.fromString(
            s.substring(0, math.min(w, s.length)))
        }
      }
    else
      new ScalarFunction[java.lang.Long] {
        override def inputTypes(): Array[DataType] = Array(IntegerType, srcType)
        override def resultType(): DataType = LongType
        override def name(): String = "truncate"
        override def canonicalName(): String = "graft.truncate"
        override def isResultNullable: Boolean = true
        override def produceResult(input: InternalRow): java.lang.Long = {
          if (input.isNullAt(1)) return null
          val w = input.getInt(0).toLong
          val v =
            if (srcType == LongType) input.getLong(1) else input.getInt(1).toLong
          Math.floorDiv(v, w) * w
        }
      }
  }
}

/** One snapshot-catalog table, pinned at `pinned` (or the tip at load
  * time) — the pin is what makes a multi-statement query
  * snapshot-isolated against concurrent commits. */
case class SnapshotSqlTable(
    spark: SparkSession,
    path: String,
    ident: String,
    pinned: Option[Int]
) extends Table
    with SupportsRead
    with SupportsWrite
    with SupportsRowLevelOperations
    with SupportsMetadataColumns
    with SupportsDeleteV2 {

  /** `_file`: the manifest file a row lives in — user-visible
    * observability (`SELECT _file FROM t`) and the GROUP IDENTITY the
    * copy-on-write DML rewrite tracks. `_pos`: the row's raw in-file
    * position (the deletion-vector position space) — with `_file` it
    * is the ROW IDENTITY of the merge-on-read delta DML. */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(
      new MetadataColumn {
        override def name(): String = "_file"
        override def dataType(): DataType = StringType
        override def isNullable: Boolean = false
        override def comment(): String = "manifest data file holding this row"
      },
      new MetadataColumn {
        override def name(): String = "_pos"
        override def dataType(): DataType = LongType
        override def isNullable: Boolean = false
        override def comment(): String = "row position within its data file"
      })

  private val snapVersion: Int = {
    val vs = SnapshotLog.versions(spark, path)
    require(vs.nonEmpty, s"snapshot catalog: no commits in $path")
    val v = pinned.getOrElse(vs.last)
    require(
      vs.contains(v),
      s"snapshot catalog: version $v of $ident not in $vs"
    )
    v
  }

  /** The snapshot version this table handle serves — Spark records it
    * as `validatedTableVersion` when it pre-validates an enforced
    * CHECK, which lets alterTable detect a tip that MOVED between the
    * validation scan and the constraint commit (and re-check only the
    * delta) instead of trusting a stale validation. */
  override def version(): String = snapVersion.toString

  private val dataSchema: StructType =
    SnapshotLog
      .tableSchema(spark, path, snapVersion)
      .getOrElse(
        spark.read
          .parquet(SnapshotLog.manifest(spark, path, snapVersion).map(n => SnapshotLog.dataPath(path, n)): _*)
          .schema
      )

  /** The tip commit's declared bucket layout, if any (a later
    * un-bucketed commit drops the declaration). */
  private val tipBucketSpec: Option[(String, Int)] =
    SnapshotLog.bucketSpec(spark, path, snapVersion)

  /** Declared ingestion sort column (`TBLPROPERTIES ('sorted_by' =
    * 'col')`) — every INSERT clusters on it at write time — plus the
    * optional pinned range-partition count (0 = Spark decides). */
  private val tipProps: Map[String, String] = SnapshotLog.tableProps(spark, path)
  private val sortedBy: Option[String] = tipProps.get("sorted_by")
  private val sortedParts: Int =
    tipProps.get("sorted_partitions").map(_.toInt).getOrElse(0)
  /** Declared identity-partition columns (`PARTITIONED BY (a[, b])`,
    * comma-joined): batch INSERTs cluster by the value TUPLE and land
    * one file per distinct combination per task, so the existing
    * manifest-stats skipping prunes partition predicates exactly —
    * on any subset of the partition columns. */
  private val partitionBy: Option[String] = tipProps.get("partition_by")

  /** Reported so DESCRIBE shows the layout and Spark understands the
    * table as bucket- or value-partitioned. */
  override def partitioning(): Array[Transform] =
    tipBucketSpec.toArray.map { case (c, n) =>
      org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)
    } ++ partitionBy.toSeq.flatMap(PartSpec.parse).map(PartSpec.toTransform)

  override def name(): String = ident
  override def schema(): StructType = dataSchema

  /** Surfaced through SHOW TBLPROPERTIES / DESCRIBE EXTENDED: the
    * declared props plus the layout claims. */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    tipProps.foreach { case (k, v) => m.put(k, v) }
    tipBucketSpec.foreach { case (c, n) =>
      m.put("bucket_column", c); m.put("bucket_count", n.toString)
    }
    m
  }

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE
    )

  /** Named CHECK constraints (`ck_<name>` props) reported back to
    * Spark — DESCRIBE shows them, and they are all ENFORCED (the
    * `check` conjunction runs executor-side on every write path). */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] =
    tipProps.toSeq
      .filter(_._1.startsWith("ck_"))
      .sortBy(_._1)
      .map { case (k, sql) =>
        org.apache.spark.sql.connector.catalog.constraints.Constraint
          .check(k.stripPrefix("ck_"))
          .predicateSql(sql)
          .build(): org.apache.spark.sql.connector.catalog.constraints.Constraint
      }
      .toArray

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new SnapshotSqlScanBuilder(spark, path, snapVersion, dataSchema, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(
      pinned.isEmpty,
      s"snapshot catalog: cannot write to $ident pinned at VERSION AS OF $snapVersion"
    )
    SnapshotSql.requireSupported(info.schema()) // fail at write PLANNING
    val (phys, commit) = SnapshotSql.mapWriteSchemas(dataSchema, info.schema())
    // the CHECK constraint binds to the write schema's ordinals here
    // (driver-side analysis) and ships to every task writer
    val check = tipProps.get("check")
      .map(c => SnapshotSql.compileCheck(spark, info.schema(), c)
        .copy(quarantine = tipProps.get("check_mode").contains("quarantine")))
    new SnapshotSqlWriteBuilder(
      path, phys, commit, info.queryId(), tipBucketSpec, sortedBy, sortedParts,
      check, partitionBy, tipProps.get("unique_key"))
  }

  // --- metadata-only DELETE + TRUNCATE ------------------------------
  //
  // When the delete condition is a LONG range under which EVERY live
  // file is provably fully-inside or fully-disjoint (manifest stats,
  // LONG space), the delete is a MANIFEST EDIT: drop the inside files,
  // zero data IO — Spark's OptimizeMetadataOnlyDeleteFromTable turns
  // the row-level rewrite back into this when canDeleteWhere agrees.
  // Any undecidable file makes canDeleteWhere false and the
  // group-based rewrite runs instead; correctness never hinges on the
  // fast path. A file fully inside the range may carry a deletion
  // vector: every LIVE row still matches, so dropping it stays exact.

  private def deleteRange(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]
  ): Option[(String, Long, Long)] = SnapshotSql.conjunctiveLongRange(predicates)

  private def metadataDeletePlan(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]
  ): Option[Seq[ManifestEntry]] =
    deleteRange(predicates).flatMap { case (c, lo, hi) =>
      val vs = SnapshotLog.versions(spark, path)
      if (vs.isEmpty) return Some(Nil)
      val pc = SnapshotLog.physColumn(spark, path, vs.last, c)
      val decided = SnapshotLog.manifestEntries(spark, path, vs.last).map { e =>
        e.longRange(pc) match {
          case Some((mn, mx)) =>
            if (mn >= lo && mx <= hi) Some(Some(e)) // fully inside: drop
            else if (mx < lo || mn > hi) Some(None) // fully disjoint: keep
            else None // straddles: undecidable
          case None => None // blind file: undecidable
        }
      }
      // the doomed files' entries, as the replace reads them
      if (decided.exists(_.isEmpty)) None else Some(decided.flatten.flatten)
    }

  override def canDeleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]
  ): Boolean = pinned.isEmpty && metadataDeletePlan(predicates).isDefined

  override def deleteWhere(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]
  ): Unit = {
    val doomed = metadataDeletePlan(predicates).getOrElse(
      throw new IllegalStateException(
        s"snapshot catalog: $ident is no longer eligible for a metadata-only " +
          "delete (a concurrent commit changed the file layout)"))
    if (doomed.nonEmpty)
      SnapshotLog.commit(
        spark, path,
        CommitRequest(CommitData.landed(Nil, dataSchema), removals = Some(doomed)))
  }

  /** `TRUNCATE TABLE` — an empty overwrite commit; history stays
    * time-travel readable. */
  override def truncateTable(): Boolean = {
    SnapshotLog.commit(
      spark, path, CommitRequest(CommitData.landed(Nil, dataSchema), overwrite = true))
    true
  }

  /** SQL row-level DML — `DELETE FROM` / `UPDATE` / `MERGE INTO` — as
    * GROUP-BASED copy-on-write: Spark rewrites the affected groups
    * (files) through the operation's scan/write pair, and the commit
    * atomically replaces exactly the scanned files with the rewritten
    * survivors ([[SnapshotLog]]'s replace-delta; untouched files carry
    * by reference). Deletion vectors on scanned files subtract on the
    * way in and are materialized away by the rewrite. */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo
  ): org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(
      pinned.isEmpty,
      s"snapshot catalog: cannot modify $ident pinned at VERSION AS OF $snapVersion")
    new org.apache.spark.sql.connector.write.RowLevelOperationBuilder {
      override def build(): org.apache.spark.sql.connector.write.RowLevelOperation =
        // `write_mode = 'merge-on-read'`: position-delta DML (deletion
        // vectors + appended files) instead of the group rewrite
        if (tipProps.get("write_mode").contains("merge-on-read"))
          new SnapshotMorRowLevelOperation(
            spark, path, dataSchema, info.command(),
            tipProps.get("check").map(c =>
              SnapshotSql.compileCheck(spark, dataSchema, c)
                .copy(quarantine = tipProps.get("check_mode").contains("quarantine"))))
        else new SnapshotRowLevelOperation(
          spark, path, dataSchema, info.command(),
          // UPDATE/MERGE rewrite rows re-validate: a DML cannot sneak a
          // constraint-violating row past the boundary the INSERT path
          // enforces — under the TABLE'S declared mode: a quarantine
          // table diverts the violating rewritten rows to the
          // dead-letter table (committed by the replace write) instead
          // of aborting the whole DML
          tipProps.get("check").map(c =>
            SnapshotSql.compileCheck(spark, dataSchema, c)
              .copy(quarantine = tipProps.get("check_mode").contains("quarantine"))),
          tipProps.get("unique_key"))
    }
  }
}

/** Scan builder: records range/equality predicates on stats-bearing
  * columns for file skipping, prunes the read schema, and returns EVERY
  * filter to Spark as a residual — skipping is an optimization, never
  * the correctness boundary. */
class SnapshotSqlScanBuilder(
    spark: SparkSession,
    path: String,
    version: Int,
    dataSchema: StructType,
    options: CaseInsensitiveStringMap
) extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownTopN {

  private var pushed: Array[Filter] = Array.empty
  private var readSchema: StructType = dataSchema
  private var wantFile: Boolean = false
  private var wantPos: Boolean = false
  private var aggPush: Option[(StructType, Seq[Seq[Any]])] = None
  private var limitPush: Option[Int] = None
  private var topNPush: Option[(String, Boolean, Int)] = None // col, asc, n

  /** `LIMIT n` prices the scan from the manifest's live-row riders
    * (`_rc` − `_dvc`): plan only a prefix of files whose live rows
    * cover `n` — `SELECT * FROM t LIMIT 10` on a million-file table
    * opens ONE file. Always PARTIAL (Spark keeps its own limit, so
    * truncation can never change an answer), and refused outright when
    * a filter is pushed: residual filters drop scan rows downstream,
    * so no row-count prefix is provably sufficient. */
  override def pushLimit(n: Int): Boolean =
    if (pushed.nonEmpty || n <= 0) false
    else { limitPush = Some(n); true }

  /** `ORDER BY k LIMIT n` plans only files whose stats ADMIT a top-n
    * row: files sorted by min (asc; max desc), a prefix covering `n`
    * live rows fixes the bound `B` = that prefix's worst extremum, and
    * any file wholly past `B` provably holds no qualifying row. On a
    * range-clustered (`sorted_by`) table this collapses to O(n/rows)
    * files of a 100 TB scan. Conditions, each refusing to the full
    * scan: single int/long sort key declared NOT NULL (footer stats
    * ignore nulls, and NULLS FIRST would hide in-file nulls from the
    * bound), no pushed filters, every file carrying stats + row
    * riders (checked at plan time in the Scan). Always PARTIAL —
    * Spark's TopK still runs, so pruning is superset-safe even where a
    * deletion vector leaves a stale (wider) bound. */
  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int
  ): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (pushed.nonEmpty || orders.length != 1 || n <= 0) return false
    orders(0).expression() match {
      case r: NamedReference if r.fieldNames().length == 1 =>
        val col = r.fieldNames()(0)
        val ok = dataSchema.fields.exists(f =>
          f.name == col && !f.nullable &&
            (f.dataType == LongType || f.dataType == IntegerType))
        if (!ok) false
        else {
          topNPush =
            Some((col, orders(0).direction() == SortDirection.ASCENDING, n))
          true
        }
      case _ => false
    }
  }

  override def isPartiallyPushed(): Boolean = true

  /** COUNT(*)/MIN/MAX answered EXACTLY from the manifest's `_rc`/stats
    * riders — zero data files opened, the planner-integrated form of
    * [[SnapshotLog.metadataCount]]/[[SnapshotLog.metadataRange]]. Only
    * COMPLETE pushdown is ever claimed, and only when the answer is
    * provably exact: no residual-filtered scan (our file skipping is
    * best-effort, so any pushed filter disqualifies), no grouping, every
    * aggregate a COUNT(*) or an int/long MIN/MAX, every live file
    * carrying the rider, and no live deletion vector under a MIN/MAX
    * (the extremum may be dead — metadataRange already refuses). A
    * refusal falls back to the ordinary scan; the fast path can never
    * change an answer, only skip the IO. */
  /** `GROUP BY <identity-partition col>` + COUNT(*) answered EXACTLY
    * from the manifest riders — the planner-integrated form of
    * [[SnapshotLog.metadataCountBy]] (CALL count_by's engine): every
    * live file must be PURE in the grouping column (its min == max —
    * exactly what identity value-routing lands) and carry a row-count
    * rider, with DV deaths subtracted per file. One row per partition
    * value, ZERO data files opened at any table size — the
    * dashboard-count query on a 100 TB partitioned fact costs a
    * manifest read. Any blind or impure file refuses the pushdown and
    * the ordinary distributed aggregate runs instead (the fast path
    * can never change an answer, only skip the IO). */
  private def groupedMetadataAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  ): Option[(StructType, Seq[Seq[Any]])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.CountStar
    if (pushed.nonEmpty) return None
    agg.groupByExpressions() match {
      case Array(g: NamedReference) if g.fieldNames().length == 1 =>
        val col = g.fieldNames()(0)
        // the column must be DECLARED non-nullable: footer stats skip
        // nulls, so a file holding [5, 5, NULL] looks "pure in 5" while
        // its row-count rider counts the NULL — the fold would put the
        // NULL row in group 5 and lose the NULL group. (Partition
        // routing segregates nulls into a stats-blind __null__ file,
        // which refuses — but an unrouted or pre-evolution file can
        // mix, and only the declaration proves it cannot.)
        val fld = dataSchema.fields.find(_.name == col).filter(f =>
          (f.dataType == LongType || f.dataType == IntegerType) &&
            !f.nullable)
        if (fld.isEmpty) return None
        if (agg.aggregateExpressions().isEmpty) return None
        // each aggregate must be COUNT(*) (per-group row-count riders,
        // DV-exact) or MIN/MAX of an int/long column (per-group stat
        // fold — refuses under any DV, the extremum may be dead);
        // anything else keeps the distributed aggregate
        import org.apache.spark.sql.connector.expressions.aggregate.{Max, Min}
        def intishCol(
            e: org.apache.spark.sql.connector.expressions.Expression
        ): Option[StructField] = e match {
          case f: org.apache.spark.sql.connector.expressions.NamedReference
              if f.fieldNames().length == 1 =>
            dataSchema.fields
              .find(_.name == f.fieldNames()(0))
              .filter(fl =>
                fl.dataType == LongType || fl.dataType == IntegerType)
          case _ => None
        }
        // lazily-resolved per-group sources, computed at most once
        lazy val counts: Option[Map[Long, Long]] = SnapshotLog
          .metadataCountBy(spark, path, col, identity, Some(version))
          .map(_.toMap)
        val rangeCache =
          scala.collection.mutable.Map.empty[String, Option[Map[Long, (Long, Long)]]]
        def ranges(c: String): Option[Map[Long, (Long, Long)]] =
          rangeCache.getOrElseUpdate(
            c,
            SnapshotLog
              .metadataRangeBy(spark, path, col, identity, c, Some(version))
              .map(_.map(x => x._1 -> ((x._2, x._3))).toMap))
        def narrow(v: Long, dt: DataType): Any =
          if (dt == IntegerType) v.toInt else v
        // (field, per-group value) for every aggregate, or bail
        val answered: Seq[Option[(StructField, Long => Option[Any])]] =
          agg.aggregateExpressions().toSeq.map {
            case _: CountStar =>
              counts.map(m =>
                (StructField("count(*)", LongType, nullable = false),
                  (g: Long) => m.get(g).map(identity[Any])))
            case m: Min =>
              intishCol(m.column).flatMap { fl =>
                ranges(fl.name).map(r =>
                  (StructField(s"min(${fl.name})", fl.dataType),
                    (g: Long) => r.get(g).map(x => narrow(x._1, fl.dataType))))
              }
            case m: Max =>
              intishCol(m.column).flatMap { fl =>
                ranges(fl.name).map(r =>
                  (StructField(s"max(${fl.name})", fl.dataType),
                    (g: Long) => r.get(g).map(x => narrow(x._2, fl.dataType))))
              }
            case _ => None
          }
        if (answered.exists(_.isEmpty)) return None
        val flat = answered.flatten
        // the group set: union of all sources — and every source must
        // cover every group (counts and ranges derive from the same
        // pure live files, so a mismatch means a source refused a
        // group; all-or-nothing keeps the answer provable)
        val groupSets: Seq[Set[Long]] = {
          val fromCounts =
            if (agg.aggregateExpressions().exists(_.isInstanceOf[CountStar]))
              counts.map(_.keySet).toSeq
            else Seq.empty
          val fromRanges = rangeCache.values.flatten.map(_.keySet).toSeq
          fromCounts ++ fromRanges
        }
        if (groupSets.isEmpty) return None
        val groups = groupSets.reduce(_ union _).toSeq.sorted
        val rows: Seq[Option[Seq[Any]]] = groups.map { g =>
          val vals = flat.map(_._2(g))
          if (vals.exists(_.isEmpty)) None
          else
            Some(
              narrow(g, fld.get.dataType) +: vals.map(_.get))
        }
        if (rows.exists(_.isEmpty)) return None
        Some((
          StructType(
            StructField(col, fld.get.dataType, nullable = false) +:
              flat.map(_._1)),
          rows.map(_.get)))
      case _ => None
    }
  }

  private def metadataAnswer(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  ): Option[(StructType, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    if (pushed.nonEmpty || agg.groupByExpressions().nonEmpty) return None
    def intish(
        e: org.apache.spark.sql.connector.expressions.Expression
    ): Option[StructField] = e match {
      case f: org.apache.spark.sql.connector.expressions.NamedReference
          if f.fieldNames().length == 1 =>
        dataSchema.fields
          .find(_.name == f.fieldNames()(0))
          .filter(fl => fl.dataType == LongType || fl.dataType == IntegerType)
      case _ => None
    }
    def narrowed(v: Long, dt: DataType): Any =
      if (dt == IntegerType) v.toInt else v
    val answered: Seq[Option[(StructField, Any)]] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar =>
          SnapshotLog
            .metadataCount(spark, path, Some(version))
            .map(c => (StructField("count(*)", LongType, nullable = false), c: Any))
        case m: Min =>
          intish(m.column).flatMap { fl =>
            SnapshotLog
              .metadataRange(spark, path, fl.name, Some(version))
              .map { case (lo, _) =>
                (StructField(s"min(${fl.name})", fl.dataType), narrowed(lo, fl.dataType))
              }
          }
        case m: Max =>
          intish(m.column).flatMap { fl =>
            SnapshotLog
              .metadataRange(spark, path, fl.name, Some(version))
              .map { case (_, hi) =>
                (StructField(s"max(${fl.name})", fl.dataType), narrowed(hi, fl.dataType))
              }
          }
        case _ => None
      }
    if (answered.isEmpty || answered.exists(_.isEmpty)) None
    else {
      val flat = answered.flatten
      Some((StructType(flat.map(_._1)), flat.map(_._2)))
    }
  }

  // Spark calls supportCompletePushDown then pushAggregation on the
  // same builder and aggregation — cache the (O(files) manifest-fold)
  // answer so plan time pays it once, not twice
  private var aggAnswerFor: AnyRef = null
  private var aggAnswer: Option[(StructType, Seq[Seq[Any]])] = None

  private def answerFor(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  ): Option[(StructType, Seq[Seq[Any]])] = {
    if (!(aggAnswerFor eq agg)) {
      aggAnswer = metadataAnswer(agg).map { case (s, row) => (s, Seq(row)) }
        .orElse(groupedMetadataAnswer(agg))
      aggAnswerFor = agg
    }
    aggAnswer
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  ): Boolean = answerFor(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation
  ): Boolean =
    answerFor(agg) match {
      case Some(a) => aggPush = Some(a); true
      case None    => false // partial pushdown would still scan; decline
    }

  private def prunable(f: Filter): Boolean = {
    def typed(col: String, isString: Boolean): Boolean =
      dataSchema.fields.find(_.name == col).exists { fld =>
        if (isString) fld.dataType == StringType
        else
          fld.dataType == LongType || fld.dataType == IntegerType
      }
    f match {
      case EqualTo(c, _: Long)             => typed(c, isString = false)
      case EqualTo(c, _: Int)              => typed(c, isString = false)
      case EqualTo(c, _: String)           => typed(c, isString = true)
      case GreaterThan(c, _: Long)         => typed(c, isString = false)
      case GreaterThan(c, _: Int)          => typed(c, isString = false)
      case GreaterThanOrEqual(c, _: Long)  => typed(c, isString = false)
      case GreaterThanOrEqual(c, _: Int)   => typed(c, isString = false)
      case LessThan(c, _: Long)            => typed(c, isString = false)
      case LessThan(c, _: Int)             => typed(c, isString = false)
      case LessThan(c, _: String)          => typed(c, isString = true)
      case LessThanOrEqual(c, _: Long)     => typed(c, isString = false)
      case LessThanOrEqual(c, _: Int)      => typed(c, isString = false)
      case LessThanOrEqual(c, _: String)   => typed(c, isString = true)
      // IN-lists: a bounded union of equality admissions (stats ∩
      // bloom per value)
      case In(c, vs) if vs.nonEmpty && vs.length <= 64 =>
        vs.forall {
          case _: Long   => typed(c, isString = false)
          case _: Int    => typed(c, isString = false)
          case _: String => typed(c, isString = true)
          case _         => false
        }
      case _                               => false
    }
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(prunable)
    filters // all residual: Spark re-evaluates, skipping stays best-effort
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit = {
    // preserve table column order; `required` may reorder. `_file` and
    // `_pos` are metadata columns (SupportsMetadataColumns) — when
    // requested they ride LAST (file then position) and the reader
    // appends them as tags.
    wantFile = required.fieldNames.contains("_file")
    wantPos = required.fieldNames.contains("_pos")
    readSchema = StructType(
      dataSchema.fields.filter(f => required.fieldNames.contains(f.name))
    )
  }

  override def build(): Scan = aggPush match {
    case Some((schema, values)) =>
      new SnapshotMetadataAggScan(path, version, schema, values)
    case None =>
      new SnapshotSqlScan(
        spark, path, version, readSchema, pushed, options, wantFile, wantPos,
        limitPush, topNPush)
  }
}

/** Scan serving a COMPLETELY pushed-down aggregation as pre-computed
  * rows — one for a global aggregate, one per group for a partition
  * GROUP BY — folded from the manifest riders at planning time, so
  * execution opens zero data files at any table size. */
class SnapshotMetadataAggScan(
    path: String,
    version: Int,
    schema: StructType,
    rows: Seq[Seq[Any]]
) extends Scan
    with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-snapshot $path v$version metadata-only, " +
      s"PushedAggregation: ${schema.fieldNames.mkString("[", ", ", "]")}, " +
      s"rows=${rows.length}"
  override def planInputPartitions(): Array[InputPartition] =
    Array(SnapshotAggPartition(
      rows.map(_.map { case i: Int => i.toLong; case l: Long => l }),
      schema.fields.map(_.dataType == IntegerType).toSeq))
  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotAggReaderFactory
}

/** The pre-computed aggregate rows, longs + re-narrow flags (Seqs of
  * primitives serialize cleanly to executors). */
case class SnapshotAggPartition(rows: Seq[Seq[Long]], isInt: Seq[Boolean])
    extends InputPartition

object SnapshotAggReaderFactory extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition
  ): org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val part = p.asInstanceOf[SnapshotAggPartition]
      private val it = part.rows.iterator
      private var current: Seq[Long] = _
      override def next(): Boolean =
        if (!it.hasNext) false else { current = it.next(); true }
      override def get(): InternalRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          current
            .zip(part.isInt)
            .map { case (v, i) => if (i) v.toInt: Any else v: Any }
            .toArray)
      override def close(): Unit = ()
    }
}

object SnapshotSqlScan {
  /** Test observability: (planned-after, planned-before) of the most
    * recent runtime-filtered planInputPartitions in this JVM. Dynamic
    * file pruning happens at EXECUTION time, invisible in the static
    * plan text — specs pin the flip here. */
  val lastRuntimePrune =
    new java.util.concurrent.atomic.AtomicReference[(Int, Int)]((0, 0))
}

class SnapshotSqlScan(
    spark: SparkSession,
    path: String,
    version: Int,
    prunedSchema: StructType,
    pushed: Array[Filter],
    options: CaseInsensitiveStringMap,
    wantFile: Boolean = false,
    wantPos: Boolean = false,
    limitPush: Option[Int] = None,
    topNPush: Option[(String, Boolean, Int)] = None
) extends Scan
    with Batch
    with SupportsReportStatistics
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  /** RUNTIME FILE PRUNING (the file-format half of dynamic partition
    * pruning): advertise the columns where a join-time point filter
    * can actually exclude files — the declared layout columns
    * (sorted_by, identity partition_by fields, the bucket key) and any
    * bloom-indexed column. Spark plans a dynamic-pruning subquery over
    * the join's other side and hands the distinct build-side keys back
    * as `col IN (...)` BEFORE this scan executes; admission per value
    * reuses the SAME stats ∩ bloom machinery as static pushdown, so a
    * selective dim filter prunes fact FILES at run time — on a 100 TB
    * fact table a 1 %-of-keys dim join opens ~1 % of the clustered
    * files instead of all of them. Filtering only EXCLUDES files whose
    * stats/bloom PROVE no listed key lives there, never correctness;
    * columns without a layout/bloom claim are not advertised (pruning
    * could never bite, and the dim-side subquery would be pure cost). */
  private lazy val runtimeFilterable: Seq[String] = {
    val props = SnapshotLog.tableProps(spark, path)
    // bloom riders name PHYSICAL columns; map back through the scan's
    // own logical→physical pairing (identity for unmapped tables)
    val bloomPhys = SnapshotLog.bloomPhysColumns(spark, path, version)
    val bloomLogical = prunedSchema.fields
      .zip(SnapshotLog.toPhysical(prunedSchema).fields)
      .collect { case (lf, pf) if bloomPhys(pf.name) => lf.name }
    val layout =
      props.get("sorted_by").toSeq ++
        props.get("partition_by").toSeq.flatMap(PartSpec.parse).collect {
          case PartIdentity(c) => c
        } ++
        SnapshotLog.bucketSpec(spark, path, version).map(_._1).toSeq ++
        bloomLogical
    layout.distinct.filter(c =>
      prunedSchema.fields.exists(f =>
        f.name == c &&
          (f.dataType == LongType || f.dataType == IntegerType ||
            f.dataType == StringType)))
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // a pushed limit/top-N prices a file PREFIX assuming every planned
    // row counts toward n; a later runtime exclusion would break that
    // accounting, so the scan simply does not invite one (the shapes
    // cannot co-occur under a join anyway — DPP does not cross Limit)
    if (limitPush.isDefined || topNPush.isDefined)
      Array.empty
    else
      runtimeFilterable
        .map(org.apache.spark.sql.connector.expressions.Expressions.column)
        .toArray

  /** Manifest names admitted by runtime predicates; None = unfiltered. */
  private var runtimeKept: Option[Set[String]] = None

  /** The manifest at the pinned version, read once for every pruning
    * decision of this scan. */
  private lazy val entries: Seq[ManifestEntry] =
    SnapshotLog.manifestEntries(spark, path, version)

  /** Names of the files that admit one of `alternatives` on logical
    * column `c` — an alternative admits a file when all its probes do.
    * One typed pass over the manifest. */
  private def admitted(c: String, alternatives: Seq[Seq[ManifestEntry.Probe]]): Set[String] = {
    val pc = SnapshotLog.physColumn(spark, path, version, c)
    entries.collect {
      case e if alternatives.exists(_.forall(ManifestEntry.admits(e, pc, _))) => e.name
    }.toSet
  }

  private def between(c: String, lo: Long, hi: Long): Option[Set[String]] =
    Some(admitted(c, Seq(Seq(ManifestEntry.LongBetween(lo, hi)))))

  /** An equality's probes: the min/max stats AND the per-file bloom
    * (when built) — stats win on clustered layouts, blooms on
    * hash-distributed ones; both only exclude, so requiring both is
    * safe. None for a value type neither can test. */
  private def equalTo(v: Any): Option[Seq[ManifestEntry.Probe]] = v match {
    case l: Long   => Some(Seq(ManifestEntry.LongBetween(l, l), ManifestEntry.BloomHolds(l)))
    case i: Int    => Some(Seq(ManifestEntry.LongBetween(i, i), ManifestEntry.BloomHolds(i)))
    case s: String => Some(Seq(ManifestEntry.StringBetween(s, s), ManifestEntry.BloomHolds(s)))
    case _         => None
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]
  ): Unit = predicates.foreach { p =>
    val children = p.children()
    val colOpt: Option[String] = children.headOption.collect {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames().length == 1 => r.fieldNames()(0)
    }.filter(c => (p.name() == "IN" || p.name() == "=") &&
      runtimeFilterable.contains(c))
    colOpt.foreach { c =>
      val values: Seq[Any] = children.drop(1).collect {
        case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
          l.value()
      }.toSeq
      // per-value stats ∩ bloom for a bounded list (mirrors the static
      // In path). A larger integer list sorts its distinct keys once and
      // admits a file iff some key lies in its manifest [min, max] — one
      // binary search per file, O(files · log keys), so two far-apart
      // key clusters never admit the files between them. A larger
      // string list degrades to ONE [min, max] envelope pass. An empty
      // IN (empty build side) admits nothing: no probe row can survive
      // the join this filter came from.
      val longs = values.collect {
        case l: java.lang.Long    => l.longValue()
        case i: java.lang.Integer => i.longValue()
      }
      val admits: Set[String] =
        if (values.isEmpty) Set.empty
        else if (values.length <= 64)
          admitted(c, values.flatMap {
            case v @ (_: java.lang.Long | _: java.lang.Integer) => equalTo(v)
            case s => equalTo(String.valueOf(s)) // UTF8String → String
          })
        else if (longs.length == values.length)
          admitted(c, Seq(Seq(ManifestEntry.AnyLong(longs.distinct.sorted.toArray))))
        else {
          val strs = values.map(String.valueOf(_))
          admitted(c, Seq(Seq(ManifestEntry.StringBetween(strs.min, strs.max))))
        }
      runtimeKept = Some(runtimeKept.fold(admits)(_.intersect(admits)))
    }
    // unrecognized predicates are ignored: runtime filtering only
    // EXCLUDES files a subquery proved unmatched, never correctness
  }

  /** Manifest names surviving every pushed predicate's stats check —
    * the intersection, since pushed filters are conjunctive. */
  private lazy val keptFiles: Seq[String] = {
    var kept = entries.map(_.name).toSet
    pushed.foreach { f =>
      val admits: Option[Set[String]] = f match {
        case EqualTo(c, v)                  => equalTo(v).map(p => admitted(c, Seq(p)))
        case GreaterThan(c, v: Long)        => between(c, v, Long.MaxValue)
        case GreaterThan(c, v: Int)         => between(c, v.toLong, Long.MaxValue)
        case GreaterThanOrEqual(c, v: Long) => between(c, v, Long.MaxValue)
        case GreaterThanOrEqual(c, v: Int)  => between(c, v.toLong, Long.MaxValue)
        case LessThan(c, v: Long)           => between(c, Long.MinValue, v)
        case LessThan(c, v: Int)            => between(c, Long.MinValue, v.toLong)
        case LessThanOrEqual(c, v: Long)    => between(c, Long.MinValue, v)
        case LessThanOrEqual(c, v: Int)     => between(c, Long.MinValue, v.toLong)
        case LessThan(c, v: String) =>
          Some(admitted(c, Seq(Seq(ManifestEntry.StringBetween("", v)))))
        case LessThanOrEqual(c, v: String) =>
          Some(admitted(c, Seq(Seq(ManifestEntry.StringBetween("", v)))))
        case In(c, vs) if vs.nonEmpty =>
          // a file survives iff SOME listed value might live in it; a
          // value of another type never prunes
          val probes = vs.toSeq.map(equalTo)
          if (probes.exists(_.isEmpty)) None else Some(admitted(c, probes.flatten))
        case _ => None
      }
      admits.foreach(a => kept = kept.intersect(a))
    }
    entries.map(_.name).filter(kept) // manifest order
  }

  override def readSchema(): StructType = {
    val withFile =
      if (wantFile)
        prunedSchema.add(StructField("_file", StringType, nullable = false))
      else prunedSchema
    if (wantPos)
      withFile.add(StructField("_pos", LongType, nullable = false))
    else withFile
  }

  /** Per-file layout riders of the KEPT files: bucket id and
    * deletion-vector sidecar. */
  private lazy val riders: Map[String, (Option[Int], Option[String])] =
    SnapshotLog
      .fileRiders(spark, path, version)
      .map(r => r._1 -> (r._2, r._3))
      .toMap

  /** Bucket layout claim: Some(col, n, bucket → files) only when the
    * latest commit declares bucketing AND every kept file carries a
    * bucket rider — a later un-bucketed append drops the claim rather
    * than serving a stale one. */
  private lazy val bucketing: Option[(String, Int, Map[Int, Seq[String]])] =
    SnapshotLog.bucketSpec(spark, path, version).flatMap { case (c, n) =>
      val kept = keptFiles.map(f => f -> riders(f)._1)
      if (kept.exists(_._2.isEmpty)) None
      else
        Some(
          (c, n,
            kept.groupBy(_._2.get).view.mapValues(_.map(_._1)).toMap))
    }

  /** Kept files truncated by a pushed limit/top-N — a PREFIX covering
    * the limit's live rows (limit), or the stats-admitted candidate
    * set (top-N). Refuses back to `keptFiles` whenever any file lacks
    * the riders the truncation prices from: dropping a file is only
    * legal when provable. Bucketed scans never truncate (the bucket
    * claim must cover every key group). */
  private lazy val plannedFiles: Seq[String] = {
    lazy val live: Map[String, Option[Long]] =
      SnapshotLog.liveRowCounts(spark, path, version).toMap
    def prefixCovering(files: Seq[String], n: Int): Seq[String] = {
      val out = Seq.newBuilder[String]
      var acc = 0L
      val it = files.iterator
      while (acc < n && it.hasNext) {
        val f = it.next()
        out += f
        acc += live(f).get
      }
      out.result()
    }
    (topNPush, limitPush) match {
      case _ if bucketing.isDefined => keptFiles
      case (Some((col, asc, n)), _) =>
        val stats = SnapshotLog.fileLongRanges(spark, path, version, col).toMap
        if (keptFiles.isEmpty ||
          keptFiles.exists(f =>
            stats.getOrElse(f, None).isEmpty || live.getOrElse(f, None).isEmpty))
          keptFiles
        else {
          val ordered =
            if (asc) keptFiles.sortBy(f => stats(f).get._1)
            else keptFiles.sortBy(f => -stats(f).get._2)
          val prefix = prefixCovering(ordered, n)
          // the n-th best value is no worse than the prefix's worst
          // extremum; anything wholly past it cannot qualify
          if (asc) {
            val bound = prefix.map(stats(_).get._2).max
            keptFiles.filter(f => stats(f).get._1 <= bound)
          } else {
            val bound = prefix.map(stats(_).get._1).min
            keptFiles.filter(f => stats(f).get._2 >= bound)
          }
        }
      case (None, Some(n)) =>
        if (keptFiles.exists(f => live.getOrElse(f, None).isEmpty)) keptFiles
        else prefixCovering(keptFiles, n)
      case _ => keptFiles
    }
  }

  override def description(): String = {
    s"graft-snapshot $path v$version, files=${plannedFiles.length}/${entries.length}, " +
      bucketing.map(b => s"buckets=${b._2}(${b._1}), ").getOrElse("") +
      limitPush.map(n => s"PushedLimit: $n, ").getOrElse("") +
      topNPush.map { case (c, asc, n) =>
        s"PushedTopN: ${if (asc) "" else "-"}$c#$n, "
      }.getOrElse("") +
      s"PushedFilters: ${pushed.mkString("[", ", ", "]")}, " +
      s"ReadSchema: ${prunedSchema.catalogString}"
  }

  override def toBatch: Batch = this

  /** The scan's layout claim to Catalyst: bucket(n, col) key-grouped —
    * a join of two tables committed with the same spec needs NO
    * shuffle (storage-partitioned join). */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    bucketing match {
      case Some((c, n, groups)) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(n, c)),
          groups.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  private def dvPathOf(f: String): Option[String] =
    riders.get(f).flatMap(_._2).map(d => SnapshotLog.dvFilePath(path, d))

  override def planInputPartitions(): Array[InputPartition] = {
    // runtime (join-time) exclusions apply LAST, on top of the static
    // plan: the admitted sets and plannedFiles share manifest-name
    // space. Bucketed scans filter WITHIN groups and keep every group
    // (possibly empty) so the KeyGroupedPartitioning claim made at
    // planning time stays true.
    def kept(files: Seq[String]): Seq[String] = runtimeKept match {
      case Some(k) => files.filter(k)
      case None    => files
    }
    runtimeKept.foreach { _ =>
      SnapshotSqlScan.lastRuntimePrune.set(
        (kept(plannedFiles).length, plannedFiles.length))
    }
    bucketing match {
      case Some((_, _, groups)) =>
        groups.toSeq.sortBy(_._1).map { case (b, files) =>
          SnapshotBucketPartition(
            kept(files).map(f => (SnapshotLog.dataPath(path, f), dvPathOf(f))), b)
        }.toArray
      case None =>
        // TASK PACKING: one task per file schedules 10k tasks on a
        // 10k-small-file table — pack CONSECUTIVE manifest files
        // (manifest order preserves ingestion clustering) into splits
        // of up to maxPartitionBytes, exactly Spark's own FileScan
        // policy: per-file cost = max(_sz rider, openCostInBytes), and
        // the target shrinks to totalBytes/defaultParallelism so a
        // small table still fans out over every core. A rider-blind
        // file (pre-upgrade entry) costs a full target: it packs
        // alone rather than risking a giant accidental split. The
        // deletion-vector sidecars ride per file either way.
        val files = kept(plannedFiles)
        val sz = SnapshotLog.fileSizeMap(spark, path, version)
        val conf = spark.sessionState.conf
        val maxBytes = conf.filesMaxPartitionBytes
        val openCost = conf.filesOpenCostInBytes
        val cost: String => Long =
          f => math.max(sz.getOrElse(f, maxBytes), openCost)
        val total = files.map(cost).sum
        val par = math.max(spark.sparkContext.defaultParallelism, 1)
        val target = math.max(math.min(maxBytes, total / par + 1), openCost)
        val packs = Array.newBuilder[InputPartition]
        var cur = List.empty[(String, Option[String])]
        var acc = 0L
        files.foreach { f =>
          val c = cost(f)
          if (cur.nonEmpty && acc + c > target) {
            packs += SnapshotFilesPartition(cur.reverse)
            cur = Nil; acc = 0L
          }
          cur = (SnapshotLog.dataPath(path, f), dvPathOf(f)) :: cur
          acc += c
        }
        if (cur.nonEmpty) packs += SnapshotFilesPartition(cur.reverse)
        packs.result()
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // mapped tables: the reader must look up PHYSICAL column names in
    // the files; rows bind positionally to the logical readSchema()
    val physData = SnapshotLog.toPhysical(prunedSchema)
    val withFile =
      if (wantFile) physData.add(StructField("_file", StringType, nullable = false))
      else physData
    // the pushed comparisons, renamed to the files' column names: the
    // reader skips row groups and pages with the integer ones
    val phys = prunedSchema.fieldNames.zip(physData.fieldNames).toMap
    val fileFilters: Seq[Filter] = pushed.toSeq.flatMap {
      case EqualTo(c, v)            => phys.get(c).map(EqualTo(_, v))
      case GreaterThan(c, v)        => phys.get(c).map(GreaterThan(_, v))
      case GreaterThanOrEqual(c, v) => phys.get(c).map(GreaterThanOrEqual(_, v))
      case LessThan(c, v)           => phys.get(c).map(LessThan(_, v))
      case LessThanOrEqual(c, v)    => phys.get(c).map(LessThanOrEqual(_, v))
      case In(c, vs)                => phys.get(c).map(In(_, vs))
      case _                        => None
    }
    SnapshotSqlReaderFactory(
      if (wantPos) withFile.add(StructField("_pos", LongType, nullable = false))
      else withFile,
      new SerializableHadoopConf(DataFiles.hadoopConf(spark)),
      appendFileName = wantFile,
      appendPosition = wantPos,
      filters = fileFilters
    )
  }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new RowsDecodedMetric, new RowsSkippedByStatsMetric)

  /** EXACT post-pruning size/rows from the manifest riders — Catalyst's
    * broadcast decision sees real numbers, zero file opens. */
  override def estimateStatistics(): Statistics = {
    val stats = SnapshotLog.manifestFileStats(spark, path, version)
    val byName = stats.map(s => s._1 -> s).toMap
    val kept = plannedFiles.flatMap(byName.get)
    val size = kept.flatMap(_._2)
    val rows = kept.flatMap(_._3)
    new Statistics {
      override def sizeInBytes(): util.OptionalLong =
        if (size.length == kept.length && kept.nonEmpty)
          util.OptionalLong.of(size.sum)
        else if (kept.isEmpty) util.OptionalLong.of(0L)
        else util.OptionalLong.empty()
      override def numRows(): util.OptionalLong =
        if (rows.length == kept.length && kept.nonEmpty)
          util.OptionalLong.of(rows.sum)
        else if (kept.isEmpty) util.OptionalLong.of(0L)
        else util.OptionalLong.empty()
    }
  }

  /** `spark.readStream.table(...)` — the same version-offset stream the
    * path-based source runs; CDF mode needs the path-based source (its
    * rider columns change the schema). */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    require(
      !Option(options.get("readChangeFeed")).exists(_.toBoolean),
      "snapshot catalog: readChangeFeed changes the schema — stream it " +
        "via the path-based graft.sources.GraftSnapshotSource instead"
    )
    new GraftSnapshotMicroBatchStream(
      prunedSchema,
      path,
      skipChangeCommits =
        Option(options.get("skipChangeCommits")).exists(_.toBoolean),
      startingVersion =
        Option(options.get("startingVersion")).map(_.toInt).getOrElse(0),
      maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger")).map(_.toInt),
      maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger")).map(_.toLong),
      readChangeFeed = false
    )
  }
}

/** One data file (+ optional deletion-vector sidecar) of a catalog
  * scan. */
case class SnapshotFilePartition(file: String, dvPath: Option[String])
    extends InputPartition

/** One BUCKET of a bucket-clustered table: all its files as a single
  * input partition, reporting the bucket id as its partition key — the
  * unit Spark's storage-partitioned join aligns across tables. */
case class SnapshotBucketPartition(
    files: Seq[(String, Option[String])],
    bucket: Int
) extends InputPartition
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

/** A packed input split: consecutive manifest files read sequentially
  * by one task (each with its own deletion-vector sidecar). */
case class SnapshotFilesPartition(files: Seq[(String, Option[String])])
    extends InputPartition

case class SnapshotSqlReaderFactory(
    schema: StructType,
    conf: SerializableHadoopConf,
    appendFileName: Boolean = false,
    appendPosition: Boolean = false,
    filters: Seq[Filter] = Nil
) extends PartitionReaderFactory {
  override def createReader(
      p: InputPartition
  ): org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val files = p match {
      case SnapshotFilePartition(f, dv)   => Seq((f, dv))
      case SnapshotBucketPartition(fs, _) => fs
      case SnapshotFilesPartition(fs)     => fs
      case other =>
        throw new IllegalStateException(s"unexpected partition $other")
    }
    new SnapshotSqlReader(files, conf.value, schema, appendFileName, appendPosition, filters)
  }
}

/** Rows a catalog scan decoded from its data files, deletion-vector
  * dead rows included. */
class RowsDecodedMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "rowsDecoded"
  override def description(): String = "rows decoded"
}

/** Rows a catalog scan never decoded because row-group stats or page
  * column indexes ruled them out. */
class RowsSkippedByStatsMetric extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "rowsSkippedByStats"
  override def description(): String = "rows skipped by stats"
}

/** Sequential reader over a partition's files; each file's deletion
  * vector (if any) is loaded executor-side and applied by position. */
class SnapshotSqlReader(
    files: Seq[(String, Option[String])],
    conf: org.apache.hadoop.conf.Configuration,
    schema: StructType,
    appendFileName: Boolean = false,
    appendPosition: Boolean = false,
    filters: Seq[Filter] = Nil
) extends org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
  private val it = files.iterator
  private var current: GraftSnapshotReader = _
  // metric totals of the files already closed
  private var decodedDone = 0L
  private var skippedDone = 0L
  // when `_file`/`_pos` ride last in the scan schema, the parquet
  // reader decodes only the data prefix and they are appended as tags
  private val dataSchema = {
    val drop = (if (appendFileName) 1 else 0) + (if (appendPosition) 1 else 0)
    if (drop > 0) StructType(schema.fields.dropRight(drop)) else schema
  }

  private def openNext(): Boolean =
    if (!it.hasNext) false
    else {
      val (f, dv) = it.next()
      val skip = dv.map(d => SnapshotLog.readDvFile(conf, new Path(d)))
      // the `_file` metadata value is the MANIFEST-relative name
      val tag =
        if (appendFileName) Some(f.substring(f.lastIndexOf('/') + 1)) else None
      current = new GraftSnapshotReader(
        f, conf, dataSchema, None, None, skipPositions = skip,
        fileNameTag = tag, positionTag = appendPosition, filters = filters)
      true
    }

  override def next(): Boolean = {
    while (current == null || !current.next()) {
      close()
      if (!openNext()) return false
    }
    true
  }

  override def get(): InternalRow = current.get()

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    def metric(n: String, v: Long) =
      new org.apache.spark.sql.connector.metric.CustomTaskMetric {
        override def name(): String = n
        override def value(): Long = v
      }
    val open = Option(current)
    Array(
      metric("rowsDecoded", decodedDone + open.fold(0L)(_.rowsDecoded)),
      metric("rowsSkippedByStats", skippedDone + open.fold(0L)(_.rowsSkippedByStats)))
  }

  override def close(): Unit =
    if (current != null) {
      decodedDone += current.rowsDecoded
      skippedDone += current.rowsSkippedByStats
      current.close()
      current = null
    }
}

// --- SQL row-level DML (group-based copy-on-write) ---

/** One DELETE/UPDATE/MERGE execution: the scan side decides WHICH live
  * files are candidate groups and remembers them; the write side
  * commits the rewritten survivors while atomically removing exactly
  * those files (concurrent removal of one is a loud conflict). The
  * version is pinned when the scan plans, so the operation is
  * snapshot-consistent end to end. */
class SnapshotRowLevelOperation(
    spark: SparkSession,
    path: String,
    dataSchema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    private[sources] val check: Option[SnapshotSql.CheckSpec] = None,
    private[sources] val uniqueKey: Option[String] = None
) extends org.apache.spark.sql.connector.write.RowLevelOperation {

  // the groups the scan planned, as entries at the scan's version —
  // what the write's commit replaces (verified verbatim, so a deletion
  // vector landing on a group mid-rewrite is a loud conflict)
  private[sources] val scannedFiles =
    new java.util.concurrent.atomic.AtomicReference[Seq[ManifestEntry]](null)

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def description(): String = s"graft-snapshot $cmd $path"

  /** Requiring `_file` keeps Spark on the metadata-projecting write
    * path (the data row reaches the writer PROJECTED, without the
    * rewrite's operation column) and names the group identity. */
  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan =
        new SnapshotRowLevelScan(spark, path, dataSchema, SnapshotRowLevelOperation.this)
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = {
          val (phys, commit) = SnapshotSql.mapWriteSchemas(dataSchema, info.schema())
          SnapshotReplaceBatchWrite(path, phys, commit, SnapshotRowLevelOperation.this)
        }
      }
    }
}

/** The candidate-group scan of a row-level operation. It must deliver
  * EVERY live row of every group it returns (the rewrite recomputes
  * survivors from whole groups), so it deliberately supports no
  * filter/column pushdown; deletion vectors still subtract. */
class SnapshotRowLevelScan(
    spark: SparkSession,
    path: String,
    dataSchema: StructType,
    op: SnapshotRowLevelOperation
) extends Scan
    with Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  private lazy val version: Int = {
    val vs = SnapshotLog.versions(spark, path)
    require(vs.nonEmpty, s"snapshot DML: no commits in $path")
    vs.last
  }

  /** RUNTIME GROUP FILTERING (the Iceberg CoW-DML posture): Spark runs
    * `SELECT DISTINCT _file FROM t WHERE cond` as a dynamic-pruning
    * subquery and hands the result back as `_file IN (...)` — only
    * files that actually HOLD a matching row are rewritten; everything
    * else carries by reference. A DELETE touching one shard of a
    * 100 TB table rewrites that shard, not the table. */
  private var runtimeKept: Option[Set[String]] = None

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file"))

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]
  ): Unit =
    predicates.foreach { p =>
      if (p.name() == "IN") {
        val children = p.children()
        val onFile = children.headOption.exists {
          case r: org.apache.spark.sql.connector.expressions.NamedReference =>
            r.fieldNames().sameElements(Array("_file"))
          case _ => false
        }
        if (onFile) {
          val values: Set[String] = children.drop(1).collect {
            case l: org.apache.spark.sql.connector.expressions.Literal[_] =>
              String.valueOf(l.value())
          }.toSet
          // conjunction with any earlier runtime filter
          runtimeKept = Some(runtimeKept.fold(values)(_.intersect(values)))
        }
      }
      // unrecognized predicates are ignored: filtering only EXCLUDES
      // groups a subquery proved unmatched, never correctness
    }

  override def readSchema(): StructType =
    dataSchema.add(StructField("_file", StringType, nullable = false))

  override def description(): String =
    s"graft-snapshot row-level scan $path"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val all = SnapshotLog.fileRiders(spark, path, version)
    // `_file` literals are BASE names (what the scan tags rows with);
    // manifest names of external (cloned) entries are full paths, so
    // compare in base space — a base collision only keeps an extra
    // file, it can never drop a matched group
    val riders = runtimeKept match {
      case Some(keep) =>
        all.filter(r => keep(r._1.substring(r._1.lastIndexOf('/') + 1)))
      case None => all
    }
    op.scannedFiles.set(SnapshotLog.entriesNamed(spark, path, version, riders.map(_._1)))
    riders.map { case (f, _, dv) =>
      SnapshotFilePartition(SnapshotLog.dataPath(path, f), dv.map(d => SnapshotLog.dvFilePath(path, d)))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    SnapshotSqlReaderFactory(
      // data columns under their PHYSICAL names + trailing _file
      SnapshotLog.toPhysical(dataSchema)
        .add(StructField("_file", StringType, nullable = false)),
      new SerializableHadoopConf(DataFiles.hadoopConf(spark)),
      appendFileName = true)
}

/** Commit side of the rewrite: replace the scanned groups with the
  * written survivors in one replace-delta commit. Mapped tables write
  * files under `physSchema` (frozen physical names) and commit under
  * `commitSchema` (logical names + mapping metadata). */
case class SnapshotReplaceBatchWrite(
    path: String,
    physSchema: StructType,
    commitSchema: StructType,
    op: SnapshotRowLevelOperation
) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo
  ): DataWriterFactory =
    SnapshotSqlWriterFactory(
      path,
      physSchema,
      new SerializableHadoopConf(
        DataFiles.hadoopConf(SparkSession.active)),
      check = op.check)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val removed = op.scannedFiles.get()
    require(
      removed != null,
      "snapshot DML: write committed before its scan planned any group")
    val names = SnapshotSql.landedFiles(messages.toSeq).map(_._1)
    // runtime group filtering proved no file holds a matching row: a
    // true no-op — don't burn a version on an empty replace
    if (removed.isEmpty && names.isEmpty) return
    // an UPDATE/MERGE can rewrite the unique key itself, so the
    // rewritten rows re-audit — against each other and against the
    // CARRIED files only (the replaced files' rows are leaving).
    // DELETE can only remove rows; no audit needed. If the tip moves
    // between audit and commit, the preCommit hook re-audits inside
    // the commit critical section (same posture as the insert path).
    val sp = SparkSession.active
    val auditedTip = SnapshotLog.versions(sp, path).lastOption
    val needAudit =
      op.command() != org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE &&
        op.uniqueKey.isDefined
    def audit(): Unit = op.uniqueKey.foreach(k =>
      SnapshotLog.validateUniqueKeys(
        sp, path, k, names, commitSchema,
        excludeFiles = removed.map(_.name).toSet))
    if (needAudit) audit()
    SnapshotLog.commit(
      sp, path,
      CommitRequest(
        CommitData.landed(names, commitSchema), removals = Some(removed),
        preCommit = prev => if (needAudit && prev != auditedTip) audit()))
    // quarantine-mode tables: rewritten rows the CHECK diverted land in
    // the dead-letter table, same as the insert path (a crash between
    // the two commits leaves the quarantine files as vacuumable
    // orphans, never a lost or duplicated main-table row)
    SnapshotSql.commitQuarantine(sp, path, messages.toSeq, commitSchema, None)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SnapshotSql.abort(path, messages.toSeq)
}

// --- SQL row-level DML (delta-based merge-on-read) ---

/** `TBLPROPERTIES ('write_mode' = 'merge-on-read')` routes DELETE /
  * UPDATE / MERGE through THIS operation instead of the group-based
  * copy-on-write rewrite: row identity is `(_file, _pos)` (Spark's
  * position-delta protocol, [[org.apache.spark.sql.connector.write.SupportsDelta]]),
  * deletes become deletion-vector sidecars written executor-side, and
  * updates split into delete + insert (`representUpdateAsDeleteAndInsert`),
  * so a DML touching 0.1% of a 100 TB table moves ~0.1% of one file's
  * bytes per touched file instead of rewriting whole files. The scan is
  * the NORMAL catalog scan (not the whole-group CoW scan): pushed
  * filters drive planning-time file skipping and only truly matching
  * rows generate deltas — delta semantics don't need whole groups.
  * The trade is the CoW mirror image: reads pay the position filter
  * until OPTIMIZE materializes the DVs away. */
class SnapshotMorRowLevelOperation(
    spark: SparkSession,
    path: String,
    dataSchema: StructType,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command,
    private[sources] val check: Option[SnapshotSql.CheckSpec]
) extends org.apache.spark.sql.connector.write.RowLevelOperation
    with org.apache.spark.sql.connector.write.SupportsDelta {

  import org.apache.spark.sql.connector.expressions.Expressions

  override def command(): org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def description(): String = s"graft-snapshot mor $cmd $path"

  override def rowId(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(Expressions.column("_file"), Expressions.column("_pos"))

  /** Split updates: the delete half joins its file's deletion vector,
    * the insert half lands in fresh files — no writer ever needs to
    * rewrite a row in place. */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val vs = SnapshotLog.versions(spark, path)
    require(vs.nonEmpty, s"snapshot mor DML: no commits in $path")
    new SnapshotSqlScanBuilder(spark, path, vs.last, dataSchema, options)
  }

  override def newWriteBuilder(
      info: LogicalWriteInfo
  ): org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite = {
        // bind the writer to the ACTUAL projection orders Spark hands
        // it, not an assumed one
        val rowIdSchema = info.rowIdSchema().orElseThrow(() =>
          new IllegalStateException("snapshot mor DML: no rowId schema"))
        val (phys, commit) =
          if (info.schema().isEmpty)
            (SnapshotLog.toPhysical(dataSchema), dataSchema) // pure DELETE
          else SnapshotSql.mapWriteSchemas(dataSchema, info.schema())
        new SnapshotMorDeltaWrite(
          spark, path, phys, commit,
          rowIdSchema.fieldIndex("_file"), rowIdSchema.fieldIndex("_pos"),
          check)
      }
    }
}

/** The delta write requires CLUSTERING BY `_file`: all of one file's
  * delete positions land in one task, so each touched file gets exactly
  * one (complete) new sidecar — the invariant [[SnapshotLog.dvAmendments]]
  * asserts. Insert rows carry a null `_file` and cluster together; MoR
  * is the small-fraction-DML path, so the single-task insert side is
  * the accepted trade (bulk rewrites belong to copy-on-write). */
class SnapshotMorDeltaWrite(
    spark: SparkSession,
    path: String,
    physSchema: StructType,
    commitSchema: StructType,
    fileIdx: Int,
    posIdx: Int,
    check: Option[SnapshotSql.CheckSpec]
) extends org.apache.spark.sql.connector.write.DeltaWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    org.apache.spark.sql.connector.distributions.Distributions.clustered(
      Array(org.apache.spark.sql.connector.expressions.Expressions.column("_file")))

  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    Array.empty

  override def toBatch: org.apache.spark.sql.connector.write.DeltaBatchWrite =
    new SnapshotMorBatchWrite(
      spark, path, physSchema, commitSchema, fileIdx, posIdx, check)
}

class SnapshotMorBatchWrite(
    spark: SparkSession,
    path: String,
    physSchema: StructType,
    commitSchema: StructType,
    fileIdx: Int,
    posIdx: Int,
    check: Option[SnapshotSql.CheckSpec]
) extends org.apache.spark.sql.connector.write.DeltaBatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo
  ): org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    // existing sidecars of live files, so a second DML UNIONS into a
    // new DV instead of dropping the first one's positions — O(DV'd
    // files) name strings, no sidecar bytes on the driver
    val base = SnapshotLog.versions(spark, path).last
    baseVersion = Some(base)
    val oldDv: Map[String, String] = SnapshotLog
      .fileRiders(spark, path, base)
      .flatMap { case (f, _, dv) =>
        dv.map(d =>
          f.substring(f.lastIndexOf('/') + 1) -> SnapshotLog.dvFilePath(path, d))
      }
      .toMap
    SnapshotMorWriterFactory(
      path, physSchema,
      new SerializableHadoopConf(DataFiles.hadoopConf(spark)),
      fileIdx, posIdx, oldDv, check)
  }

  /** The version the writers' DV unions read their old sidecars at —
    * the amendments' read side. */
  @volatile private var baseVersion: Option[Int] = None

  /** Each touched file's entry re-added with its new deletion-vector
    * rider AND the landed insert files appended, in ONE replace-delta
    * commit: an UPDATE's delete half and insert half can never be
    * observed separately. Sidecars were already written executor-side
    * by the delta writers; this moves only O(touched + new files)
    * metadata strings through the driver. The change feed composes
    * both halves exactly: DV deltas surface as row deletes, new files
    * as inserts. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val sp = SparkSession.active
    val ms = messages.toSeq.collect { case m: SnapshotMorCommit => m }
    val specs = ms.flatMap(_.dvSpecs)
    val files = SnapshotSql.landedFiles(ms.map(_.inserts)).map(_._1)
    // nothing matched: a true no-op — don't burn a version
    if (specs.nonEmpty || files.nonEmpty) {
      val base = baseVersion.getOrElse(SnapshotLog.versions(sp, path).last)
      SnapshotLog.commit(
        sp, path,
        CommitRequest(
          CommitData.landed(files, commitSchema), removals = Some(Nil),
          amendments = SnapshotLog.dvAmendments(
            SnapshotLog.manifestEntries(sp, path, base), specs)))
    }
    SnapshotSql.commitQuarantine(sp, path, ms.map(_.inserts), commitSchema, None)
  }

  /** Uncommitted sidecars and insert files are unreferenced by any
    * manifest: deleted best-effort, stragglers are vacuum's problem. */
  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.toSeq.collect { case m: SnapshotMorCommit => m }
    SnapshotSql.deleteQuietly(
      new Path(path).getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration),
      ms.flatMap(_.dvSpecs).map { case (_, dvName, _) => s"$path/_dv/$dvName" })
    SnapshotSql.abort(path, ms.map(_.inserts))
  }
}

case class SnapshotMorWriterFactory(
    path: String,
    physSchema: StructType,
    conf: SerializableHadoopConf,
    fileIdx: Int,
    posIdx: Int,
    oldDv: Map[String, String],
    check: Option[SnapshotSql.CheckSpec]
) extends org.apache.spark.sql.connector.write.DeltaWriterFactory {
  override def createWriter(
      partitionId: Int,
      taskId: Long
  ): org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new SnapshotMorDeltaWriter(
      path, physSchema, partitionId, taskId, conf.value, fileIdx, posIdx,
      oldDv, check)
}

/** Task side of the position-delta DML: delete callbacks buffer
  * positions per file (bounded by the small-fraction-DML contract, the
  * same bound [[SnapshotLog.deleteWhereMoR]] rides), insert callbacks
  * stream through a plain parquet writer (CHECK constraints enforce /
  * quarantine-divert exactly like the INSERT path); commit writes one
  * merged sidecar per touched file right where the positions live and
  * returns only (file, sidecar, count) strings. */
class SnapshotMorDeltaWriter(
    path: String,
    physSchema: StructType,
    partitionId: Int,
    taskId: Long,
    hadoopConf: org.apache.hadoop.conf.Configuration,
    fileIdx: Int,
    posIdx: Int,
    oldDv: Map[String, String],
    check: Option[SnapshotSql.CheckSpec]
) extends org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {

  private val deletes =
    scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.ArrayBuffer[Long]]
  private val inserts =
    new SnapshotSqlDataWriter(
      path, physSchema, partitionId, taskId, hadoopConf, None, None, check)

  override def delete(metadata: InternalRow, id: InternalRow): Unit =
    deletes.getOrElseUpdate(
      id.getUTF8String(fileIdx).toString,
      scala.collection.mutable.ArrayBuffer.empty[Long]) += id.getLong(posIdx)

  override def update(
      metadata: InternalRow,
      id: InternalRow,
      row: InternalRow
  ): Unit =
    throw new IllegalStateException(
      "snapshot mor DML: updates are represented as delete+insert")

  override def insert(row: InternalRow): Unit = inserts.write(row)

  override def commit(): WriterCommitMessage = {
    val specs = deletes.toSeq.sortBy(_._1).map { case (file, fresh) =>
      // the scan already subtracted DV-dead rows, so fresh positions
      // are disjoint from the existing sidecar: merge is a pure union
      val existing = oldDv
        .get(file)
        .map(d => SnapshotLog.readDvFile(hadoopConf, new Path(d)))
        .getOrElse(Array.empty[Long])
      val merged = (existing ++ fresh).distinct.sorted
      val dvName = s"dv-${UUID.randomUUID.toString.take(12)}.bin"
      SnapshotLog.writeDvFile(
        hadoopConf, new Path(s"$path/_dv/$dvName"), merged)
      (file, dvName, merged.length.toLong)
    }
    SnapshotMorCommit(specs, inserts.commit())
  }

  override def abort(): Unit = inserts.abort()

  override def close(): Unit = inserts.close()
}

/** (file → new sidecar) amendments plus the task's insert/quarantine
  * files — O(touched files) strings per task. */
case class SnapshotMorCommit(
    dvSpecs: Seq[(String, String, Long)],
    inserts: SnapshotSqlCommit
) extends WriterCommitMessage

// --- write path ---

class SnapshotSqlWriteBuilder(
    path: String,
    physSchema: StructType,
    commitSchema: StructType,
    queryId: String,
    bucketSpec: Option[(String, Int)] = None,
    sortedBy: Option[String] = None,
    sortedParts: Int = 0,
    check: Option[SnapshotSql.CheckSpec] = None,
    partitionBy: Option[String] = None,
    uniqueKey: Option[String] = None
) extends WriteBuilder
    with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
    override def toBatch: BatchWrite =
      SnapshotSqlBatchWrite(
        path, physSchema, commitSchema, overwrite, bucketSpec, check,
        partitionBy, uniqueKey)
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      // a streaming epoch cannot audit against a moving tip without
      // serializing every epoch behind a table-wide check, and a
      // REPLAYED epoch's keys are legitimately already present —
      // refuse loudly rather than enforce wrongly
      require(
        uniqueKey.isEmpty,
        s"snapshot catalog: streaming writes cannot enforce unique_key " +
          s"on $path — stream into a staging table and MERGE")
      SnapshotSqlStreamingWrite(
        path, physSchema, commitSchema, overwrite, queryId, bucketSpec, check,
        partitionBy)
    }

    /** A bucketed table asks Spark to CLUSTER incoming rows by the
      * SAME bucket function the layout uses (bound via the catalog's
      * FunctionCatalog), so each task holds whole buckets and the
      * write maintains the storage-partitioned-join layout. A
      * `sorted_by` table instead asks for a RANGE distribution on the
      * sort column — each task receives a contiguous key slice, so its
      * files' footer min/max are tight disjoint ranges and stats
      * skipping prunes from the very first INSERT (ingestion-time
      * clustering, no OPTIMIZE pass needed). An undeclared table
      * imposes nothing. */
    override def requiredDistribution()
        : org.apache.spark.sql.connector.distributions.Distribution = {
      import org.apache.spark.sql.connector.distributions.Distributions
      import org.apache.spark.sql.connector.expressions.Expressions
      (bucketSpec, sortedBy, partitionBy) match {
        case (Some((c, n)), _, _) =>
          Distributions.clustered(Array(Expressions.bucket(n, c)))
        case (None, Some(c), _) =>
          Distributions.ordered(Array(Expressions.sort(
            Expressions.column(c),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)))
        case (None, None, Some(cs)) =>
          // whole TRANSFORMED partition tuples per task → one file per
          // combination (the catalog's FunctionCatalog serves the
          // canonical days/months/years/hours/truncate so Spark can
          // evaluate the clustering)
          Distributions.clustered(
            PartSpec.parse(cs).toArray.map(f =>
              PartSpec.toTransform(f)
                : org.apache.spark.sql.connector.expressions.Expression))
        case _ => Distributions.unspecified()
      }
    }
    override def requiredOrdering()
        : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
      sortedBy match {
        case Some(c) if bucketSpec.isEmpty =>
          Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
            org.apache.spark.sql.connector.expressions.Expressions.column(c),
            org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
        case _ => Array.empty
      }

    /** `sorted_partitions` pins the range-partition count of sorted
      * writes (0 = let Spark/AQE decide). Without the pin AQE coalesces
      * a small insert into one file, which is fine for data but defeats
      * a layout test; at scale the default sizing is the right call. */
    override def requiredNumPartitions(): Int =
      if (sortedBy.isDefined && bucketSpec.isEmpty) sortedParts else 0
  }
}

/** `writeStream.toTable(...)` sink: each epoch commits EXACTLY ONCE —
  * the txn id scopes by (streaming queryId, epochId), so a crash
  * between sink commit and offset commit re-delivers the epoch and
  * [[SnapshotLog.commit]]'s txn replay check drops it harmlessly
  * (the table-grain exactly-once contract StreamOps.snapshotSink
  * pioneered, now reachable as a first-class catalog sink). Complete
  * mode (truncate) overwrites per epoch under the same replay key. */
case class SnapshotSqlStreamingWrite(
    path: String,
    physSchema: StructType,
    commitSchema: StructType,
    overwrite: Boolean,
    queryId: String,
    bucketSpec: Option[(String, Int)] = None,
    check: Option[SnapshotSql.CheckSpec] = None,
    partitionBy: Option[String] = None
) extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo
  ): org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    val conf = new SerializableHadoopConf(DataFiles.hadoopConf(SparkSession.active))
    SnapshotSqlWriterFactory(
      path, physSchema, conf, bucketSpec, check, partitionBy)
  }

  override def commit(
      epochId: Long,
      messages: Array[WriterCommitMessage]
  ): Unit = {
    val sp = SparkSession.active
    SnapshotLog.commit(
      sp, path,
      CommitRequest(
        CommitData.Landed(SnapshotSql.landedFiles(messages.toSeq), commitSchema),
        overwrite = overwrite, txnId = Some(s"sql-$queryId-$epochId"),
        buckets = bucketSpec))
    SnapshotSql.commitQuarantine(
      sp, path, messages.toSeq, commitSchema, Some(s"sqlq-$queryId-$epochId"))
  }

  override def abort(
      epochId: Long,
      messages: Array[WriterCommitMessage]
  ): Unit =
    SnapshotSql.abort(path, messages.toSeq)
}

case class SnapshotSqlBatchWrite(
    path: String,
    physSchema: StructType,
    commitSchema: StructType,
    overwrite: Boolean,
    bucketSpec: Option[(String, Int)] = None,
    check: Option[SnapshotSql.CheckSpec] = None,
    partitionBy: Option[String] = None,
    uniqueKey: Option[String] = None
) extends BatchWrite {

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo
  ): DataWriterFactory =
    SnapshotSqlWriterFactory(
      path,
      physSchema,
      new SerializableHadoopConf(DataFiles.hadoopConf(SparkSession.active)),
      bucketSpec,
      check,
      partitionBy
    )

  /** Exactly one message per partition (commit coordinator): the
    * manifest names only winner attempts; losers are invisible orphans
    * the mtime-grace vacuum reclaims. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val sp = SparkSession.active
    // the audit runs against THIS tip; if another writer commits
    // between audit and manifest write, the preCommit hook re-runs it
    // against the actual parent INSIDE the commit critical section —
    // without it two concurrent INSERTs carrying the same key both
    // pass against the same tip and commit sequentially, admitting
    // duplicates despite the declared constraint (the moving-tip race
    // the streaming path refuses unique_key over)
    val auditedTip = SnapshotLog.versions(sp, path).lastOption
    def reauditOn(run: () => Unit): Option[Int] => Unit = prev =>
      if (!overwrite && uniqueKey.isDefined && prev != auditedTip) run()
    val files = SnapshotSql.landedFiles(messages.toSeq)
    // unique audit BEFORE the commit: a violation throws here, the
    // manifest never references the batch, Spark aborts the write
    def audit(): Unit = uniqueKey.foreach(k =>
      SnapshotLog.validateUniqueKeys(
        sp, path, k, files.map(_._1), commitSchema,
        checkExisting = !overwrite))
    audit()
    SnapshotLog.commit(
      sp, path,
      CommitRequest(
        CommitData.Landed(files, commitSchema), overwrite = overwrite,
        buckets = bucketSpec, preCommit = reauditOn(() => audit())))
    // quarantined rows (check_mode=quarantine) commit to the sibling
    // dead-letter table — its own log, fully queryable. Not atomic
    // with the main commit (two logs): on a driver crash between the
    // two, the quarantine files are orphans its vacuum sweeps — bad
    // rows can vanish, never duplicate into the MAIN table.
    SnapshotSql.commitQuarantine(sp, path, messages.toSeq, commitSchema, None)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    SnapshotSql.abort(path, messages.toSeq)
}

/** What one catalog write task landed: every data file, each with its
  * bucket id when the table is bucketed, and the file of rows its
  * quarantine-mode CHECK diverted, if any. */
case class SnapshotSqlCommit(
    files: Seq[(String, Option[Int])],
    quarantined: Option[String]
) extends WriterCommitMessage

/** The task writers of every catalog write: batch and streaming. */
case class SnapshotSqlWriterFactory(
    path: String,
    schema: StructType,
    conf: SerializableHadoopConf,
    bucketSpec: Option[(String, Int)] = None,
    check: Option[SnapshotSql.CheckSpec] = None,
    partitionBy: Option[String] = None
) extends DataWriterFactory
    with org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {
  override def createWriter(
      partitionId: Int,
      taskId: Long
  ): DataWriter[InternalRow] =
    new SnapshotSqlDataWriter(
      path, schema, partitionId, taskId, conf.value, bucketSpec, partitionBy, check)

  override def createWriter(
      partitionId: Int,
      taskId: Long,
      epochId: Long
  ): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/** Task writer of the catalog: lands rows as attempt-unique parquet
  * files in the table root, through Spark's row writer
  * ([[DataFiles.rowWriter]]). Lazy: an empty partition writes nothing
  * at all — no zero-row files accreting in the manifest. Each row goes
  * to the open file of its routing key, opened on first use:
  *
  *   - bucketed tables route by bucket id, the SAME pmod the layout
  *     declares; a null bucket value refuses, and CHECK enforces
  *     fail-mode only (quarantine is refused at DDL);
  *   - `partition_by` tables route by the TRANSFORMED value tuple
  *     ([[PartSpec.routeValue]]), so every landed file is value-pure in
  *     EVERY declared partition field: tight footer stats on each
  *     source column, a day-pure file's ts range spans at most one day.
  *     NULL values route to their own file. The required clustered
  *     distribution keeps that a small number of files per task; a
  *     streaming epoch has none, so a value may span tasks and land up
  *     to tasks-per-value files, still prunable (OPTIMIZE re-packs);
  *   - any other table writes one file per task.
  *
  * Quarantine-mode CHECK diverts violating rows to one file in the
  * sibling `<table>_quarantine` directory, invisible until the driver
  * commits it to that table's own log. */
class SnapshotSqlDataWriter(
    table: String,
    schema: StructType,
    partitionId: Int,
    taskId: Long,
    hadoopConf: org.apache.hadoop.conf.Configuration,
    bucketSpec: Option[(String, Int)],
    partitionBy: Option[String],
    check: Option[SnapshotSql.CheckSpec]
) extends DataWriter[InternalRow] {

  /** A row's routing key: its bucket id, its partition tuple, or `()`. */
  private val keyOf: InternalRow => Any = (bucketSpec, partitionBy) match {
    case (Some((c, n)), _) =>
      val i = schema.fieldIndex(c)
      val isLong = schema(i).dataType == LongType
      row => {
        require(!row.isNullAt(i),
          s"bucketed table $table: bucket column '$c' must not be null")
        val key = if (isLong) row.getLong(i) else row.getInt(i).toLong
        (((key % n) + n) % n).toInt
      }
    case (None, Some(spec)) =>
      val fields = PartSpec.parse(spec).toArray
      val idxs = fields.map(f => schema.fieldIndex(f.col))
      val dts = idxs.map(schema(_).dataType)
      row => fields.indices
        .map(j => PartSpec.routeValue(fields(j), dts(j), row, idxs(j)))
        .mkString("\u0001") // separated: ("1","23") must not collide with ("12","3")
    case _ => _ => ()
  }

  /** The open file of each routing key: writer, name, bucket id. */
  private val files = scala.collection.mutable.HashMap
    .empty[Any, (ParquetWriter[InternalRow], String, Option[Int])]
  private var quarantine: (ParquetWriter[InternalRow], String) = _

  private def open(
      dir: String,
      prefix: String,
      bucket: Option[Int]
  ): (ParquetWriter[InternalRow], String) = {
    val name = s"$prefix-$partitionId-$taskId-${bucket.fold("")(b => s"b$b-")}" +
      s"${UUID.randomUUID.toString.take(8)}.parquet"
    (DataFiles.rowWriter(s"$dir/$name", schema, hadoopConf), name)
  }

  override def write(row: InternalRow): Unit =
    if (check.forall(_.passes(row))) {
      val key = keyOf(row)
      files.getOrElseUpdate(key, {
        val bucket = key match {
          case b: Int => Some(b)
          case _      => None
        }
        val (w, name) = open(table, "part-sql", bucket)
        (w, name, bucket)
      })._1.write(row)
    } else {
      if (quarantine == null) quarantine = open(s"${table}_quarantine", "part-q", None)
      quarantine._1.write(row)
    }

  /** Metadata-carrying write (the row-level DML path): the `_file`
    * metadata row named the source group; only the data row lands. */
  override def write(metadata: InternalRow, row: InternalRow): Unit =
    write(row)

  override def commit(): SnapshotSqlCommit = {
    val landed = files.values.map { case (_, n, b) => n -> b }.toSeq
    val q = Option(quarantine).map(_._2)
    close()
    SnapshotSqlCommit(landed, q)
  }

  override def abort(): Unit = {
    val names = files.values.map(f => s"$table/${f._2}").toSeq ++
      Option(quarantine).map(q => s"${table}_quarantine/${q._2}")
    close()
    SnapshotSql.deleteQuietly(new Path(table).getFileSystem(hadoopConf), names)
  }

  override def close(): Unit = {
    files.values.foreach(_._1.close())
    files.clear()
    if (quarantine != null) { quarantine._1.close(); quarantine = null }
  }
}

/** The driver side of the catalog's writes: what the task writers'
  * [[SnapshotSqlCommit]] messages landed, their quarantine commit and
  * abort, the CHECK constraint, the write schemas of a column-mapped
  * table, and the column types a write refuses at planning, before a
  * task runs (those Spark's parquet writer cannot land). */
private[sources] object SnapshotSql {

  /** The files a write's tasks landed, each with its bucket id when the
    * table is bucketed. */
  def landedFiles(messages: Seq[WriterCommitMessage]): Seq[(String, Option[Int])] =
    messages.flatMap {
      case SnapshotSqlCommit(fs, _) => fs
      case _                        => Nil
    }

  /** Deletes the files a failed write's tasks landed, best-effort:
    * anything missed is an unreferenced orphan for vacuum. */
  def abort(path: String, messages: Seq[WriterCommitMessage]): Unit =
    deleteQuietly(
      new Path(path).getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration),
      messages.flatMap {
        case SnapshotSqlCommit(fs, q) =>
          fs.map(f => s"$path/${f._1}") ++ q.map(n => s"${path}_quarantine/$n")
        case _ => Nil
      })

  def deleteQuietly(fs: org.apache.hadoop.fs.FileSystem, paths: Seq[String]): Unit =
    paths.foreach(p =>
      try fs.delete(new Path(p), false)
      catch { case _: java.io.IOException => () })

  /** Commits the rows a write's CHECK diverted (check_mode=quarantine)
    * to the sibling `<table>_quarantine` table; no-op when none were. */
  def commitQuarantine(
      spark: SparkSession,
      path: String,
      messages: Seq[WriterCommitMessage],
      schema: StructType,
      txnId: Option[String]
  ): Unit = {
    val qnames = messages.collect { case SnapshotSqlCommit(_, Some(q)) => q }
    if (qnames.nonEmpty)
      SnapshotLog.commit(
        spark, s"${path}_quarantine",
        CommitRequest(CommitData.landed(qnames, schema), txnId = txnId)): Unit
  }

  /** A CHECK constraint compiled for executor-side row evaluation: the
    * declared SQL text plus the analyzed expression BOUND to the write
    * schema's ordinals (catalyst expressions serialize to tasks). SQL
    * semantics: a row violates only when the predicate evaluates to
    * FALSE — null/unknown passes. */
  case class CheckSpec(
      sql: String,
      bound: org.apache.spark.sql.catalyst.expressions.Expression,
      // 'fail' (default): a violation aborts the write atomically.
      // 'quarantine': violating rows divert to the sibling
      // `<table>_quarantine` snapshot table (dead-letter) and the main
      // write proceeds — a 100 TB ingestion does not die for three bad
      // rows, and the bad rows stay queryable instead of vanishing.
      quarantine: Boolean = false
  ) extends Serializable {
    /** True = the row passes; 'fail' mode throws instead of returning. */
    def passes(row: InternalRow): Boolean = {
      val r = bound.eval(row)
      val ok = r == null || r != false
      if (!ok && !quarantine)
        throw new IllegalArgumentException(
          s"CHECK constraint violated: ($sql) is false for an incoming row — " +
            "the write aborts and no version is committed")
      ok
    }
  }

  /** Parses + analyzes `checkSql` against `schema` and binds it to the
    * schema's ordinals. Refuses non-boolean, non-deterministic, or
    * subquery-carrying expressions — run at DDL time so a bad
    * constraint fails the CREATE, not the first INSERT. */
  def compileCheck(
      spark: SparkSession,
      schema: StructType,
      checkSql: String
  ): CheckSpec = {
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, SubqueryExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val parsed = spark.sessionState.sqlParser.parseExpression(checkSql)
    val attrs =
      org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    val analyzed =
      spark.sessionState.analyzer.execute(Filter(parsed, LocalRelation(attrs)))
    spark.sessionState.analyzer.checkAnalysis(analyzed)
    val cond = analyzed match {
      case Filter(c, _) => c
      case other =>
        throw new IllegalArgumentException(
          s"check constraint did not analyze to a filter: $other")
    }
    require(
      cond.dataType == BooleanType,
      s"check constraint must be boolean, got ${cond.dataType.simpleString}: $checkSql")
    require(
      cond.deterministic && !SubqueryExpression.hasSubquery(cond),
      s"check constraint must be deterministic and subquery-free: $checkSql")
    CheckSpec(checkSql, BindReferences.bindReference(cond, attrs))
  }

  /** Write-path schemas for a possibly column-mapped table:
    * `(physSchema, commitSchema)` — the parquet writers spell the
    * frozen PHYSICAL names, the manifest commit records the LOGICAL
    * names with their mapping metadata. Identity for unmapped tables.
    * A write naming a column the table doesn't have fails loudly (the
    * catalog write surface can't add columns, so there is no fresh-name
    * case here). */
  def mapWriteSchemas(
      tableSchema: StructType,
      writeSchema: StructType
  ): (StructType, StructType) = {
    // committed nullability is the TABLE'S declaration, not the batch's:
    // Spark guards every write into a NOT NULL column with
    // AssertNotNull, but hands the writer an all-nullable batch schema —
    // committing that verbatim would flip the header schema nullable on
    // the first INSERT and silently lose the declared contract (and
    // with it nullability-gated plans like top-N file pruning). The
    // declaration alone decides: AND-ing in the batch's nullability
    // would let a non-nullable batch through INSERT OVERWRITE (whose
    // truncate path resets the header to the commit schema) silently
    // flip a declared-NULLABLE column to NOT NULL — later legitimate
    // NULL inserts would then fail AssertNotNull behind the user's back.
    // (the PHYSICAL schema keeps the batch's nullability: files always
    // encode OPTIONAL with definition levels, so old and new files of
    // a table stay byte-compatible — only the manifest header narrows)
    def declared(f: StructField, tf: StructField): Boolean =
      tf.nullable
    if (!SnapshotLog.isMapped(tableSchema)) {
      val byName = tableSchema.fields.map(f => f.name -> f).toMap
      // the TABLE's field metadata (column defaults, mapping) must
      // round-trip through the commit too — a batch schema carries
      // none, and an overwrite resets the header to the commit schema
      val commit = StructType(writeSchema.fields.map(f =>
        byName.get(f.name).fold(f)(tf =>
          StructField(f.name, f.dataType, declared(f, tf), tf.metadata))))
      (writeSchema, commit)
    } else {
      val byName = tableSchema.fields.map(f => f.name -> f).toMap
      val paired = writeSchema.fields.map { f =>
        val tf = byName.getOrElse(
          f.name,
          throw new IllegalArgumentException(
            s"snapshot catalog: write column '${f.name}' not in table schema " +
              tableSchema.fieldNames.mkString(",")))
        (f, tf)
      }
      (
        StructType(paired.map { case (f, tf) =>
          StructField(SnapshotLog.physNameOf(tf), f.dataType, f.nullable)
        }),
        StructType(paired.map { case (f, tf) =>
          StructField(f.name, f.dataType, declared(f, tf), tf.metadata)
        })
      )
    }
  }

  /** Folds a conjunction of v2 predicates into a single LONG range on
    * one column: `=`, `<`, `<=`, `>`, `>=`, `AND`, and the always-true
    * `IS NOT NULL` fold; anything else (another column, OR, strings)
    * returns None and the caller falls back to the row-level rewrite. */
  def conjunctiveLongRange(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]
  ): Option[(String, Long, Long)] = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLit, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.{And => VAnd, Predicate => VPred}
    var col: Option[String] = None
    var lo = Long.MinValue
    var hi = Long.MaxValue
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames().length == 1 =>
          Some(r.fieldNames()(0))
        case _ => None
      }
    def litLong(e: org.apache.spark.sql.connector.expressions.Expression): Option[Long] =
      e match {
        case l: VLit[_] =>
          l.value() match {
            case v: java.lang.Long    => Some(v.longValue())
            case v: java.lang.Integer => Some(v.longValue())
            case v: java.lang.Short   => Some(v.longValue())
            case _                    => None
          }
        case _ => None
      }
    def claim(c: String): Boolean =
      col match {
        case Some(x) => x == c
        case None    => col = Some(c); true
      }
    def walk(p: VPred): Boolean = p match {
      case a: VAnd => walk(a.left()) && walk(a.right())
      case _ =>
        val ch = p.children()
        (p.name(), ch) match {
          case ("IS_NOT_NULL", _) => true // implied by any range
          case (op, Array(l, r)) =>
            (colOf(l), litLong(r), colOf(r), litLong(l)) match {
              case (Some(c), Some(v), _, _) =>
                claim(c) && (op match {
                  case "="  => { lo = math.max(lo, v); hi = math.min(hi, v); true }
                  case ">"  => { if (v == Long.MaxValue) return false; lo = math.max(lo, v + 1); true }
                  case ">=" => { lo = math.max(lo, v); true }
                  case "<"  => { if (v == Long.MinValue) return false; hi = math.min(hi, v - 1); true }
                  case "<=" => { hi = math.min(hi, v); true }
                  case _    => false
                })
              case (_, _, Some(c), Some(v)) => // literal on the left: flip
                claim(c) && (op match {
                  case "="  => { lo = math.max(lo, v); hi = math.min(hi, v); true }
                  case "<"  => { if (v == Long.MaxValue) return false; lo = math.max(lo, v + 1); true }
                  case "<=" => { lo = math.max(lo, v); true }
                  case ">"  => { if (v == Long.MinValue) return false; hi = math.min(hi, v - 1); true }
                  case ">=" => { hi = math.min(hi, v); true }
                  case _    => false
                })
              case _ => false
            }
          case _ => false
        }
    }
    if (predicates.nonEmpty && predicates.forall(walk)) col.map((_, lo, hi))
    else None
  }

  /** Refuses a column type Spark's parquet writer cannot land (a
    * calendar interval, say) — at CREATE, ADD COLUMN and write
    * planning. */
  def requireSupported(schema: StructType): Unit = {
    val format = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    schema.fields.filterNot(f => format.supportDataType(f.dataType)).foreach { f =>
      throw new UnsupportedOperationException(
        s"snapshot catalog: unsupported column type ${f.dataType} for '${f.name}' " +
          "(Spark's parquet writer cannot land it)")
    }
  }
}

/** A read-only metadata TABLE (`t.history` / `t.files` / `t.refs`)
  * served as a LocalScan: the backing DataFrame is computed lazily at
  * scan time from manifest riders — O(metadata) driver rows, zero data
  * files opened, no write surface. */
private[sources] case class SnapshotMetaTable(name0: String, df: DataFrame)
    extends Table
    with SupportsRead {
  import org.apache.spark.sql.connector.read.LocalScan
  override def name(): String = name0
  override def schema(): StructType = df.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new LocalScan {
        override def rows(): Array[InternalRow] =
          df.queryExecution.executedPlan.executeCollect()
        override def readSchema(): StructType = df.schema
      }
    }
}

/** The catalog's maintenance procedures — `CALL <cat>.system.<name>`.
  * Each resolves its `table` argument ('ns.tbl') against the catalog
  * warehouse, runs the corresponding [[SnapshotLog]] operation, and
  * returns a one-row (or per-version) summary as a LocalScan. */
private[sources] object SnapshotProcedures {
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.types.UTF8String

  val names: Array[String] =
    Array(
      "optimize", "vacuum", "expire", "describe_history", "restore",
      "tag", "tag_delete", "branch", "publish", "branch_drop", "tags",
      "detail", "clone", "build_bloom", "create_mv", "create_join_mv",
      "refresh_mv", "refresh_mv_dim", "describe_mv", "list_mvs",
      "explain_mv_serve", "ingest", "count_by", "range_by",
      "backfill_stats")

  private def spark = SparkSession.active

  private def scanOf(schema: StructType, out: Seq[InternalRow]): java.util.Iterator[Scan] =
    java.util.List.of[Scan](new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = out.toArray
      override def description(): String = "graft procedure result"
    }).iterator()

  private def proc(
      procName: String,
      params: Seq[ProcedureParameter],
      out: StructType,
      run: InternalRow => Seq[InternalRow]
  ): UnboundProcedure = new UnboundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft snapshot $procName"
    override def bind(inputType: StructType): BoundProcedure = new BoundProcedure {
      override def name(): String = procName
      override def description(): String = s"graft snapshot $procName"
      override def parameters(): Array[ProcedureParameter] = params.toArray
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] =
        scanOf(out, run(input))
    }
  }

  def load(procName: String, resolve: String => String): UnboundProcedure =
    procName match {
      case "optimize" =>
        proc(
          "optimize",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("target_mb", IntegerType)
              .defaultValue("128").build(),
            ProcedureParameter.in("zorder_by", StringType)
              .defaultValue("''").build(),
            // OPTIMIZE WHERE: restrict the rewrite to files whose
            // stats admit [where_lo, where_hi] on where_column — the
            // incremental form a 100 TB table actually runs
            ProcedureParameter.in("where_column", StringType)
              .defaultValue("''").build(),
            // explicit output-file count (layout tests, small tables);
            // -1 = size outputs from target_mb, the 100 TB default
            ProcedureParameter.in("files_out", IntegerType)
              .defaultValue("-1").build(),
            ProcedureParameter.in("where_lo", LongType)
              .defaultValue(Long.MinValue.toString).build(),
            ProcedureParameter.in("where_hi", LongType)
              .defaultValue(Long.MaxValue.toString).build()
          ),
          StructType(Seq(
            StructField("version", IntegerType),
            StructField("rewritten_files", IntegerType),
            StructField("carried_files", IntegerType))),
          in => {
            val table = resolve(in.getUTF8String(0).toString)
            val target = in.getInt(1).toLong << 20
            val zorder = Option(in.getUTF8String(2)).map(_.toString)
              .filter(_.nonEmpty).map(_.split(',').toSeq).getOrElse(Nil)
            val filesOut =
              if (in.isNullAt(4) || in.getInt(4) <= 0) None else Some(in.getInt(4))
            val scope = Option(in.getUTF8String(3)).map(_.toString)
              .filter(_.nonEmpty).map(c => (c, in.getLong(5), in.getLong(6)))
            // a partition-declared table compacts WITHIN partition
            // values (stats-derived groups, one union leg each) — a
            // plain compact would merge across values and silently
            // destroy the purity partition pruning and count_by stand
            // on. z-order / scoped OPTIMIZE keep the plain path (an
            // explicit re-layout request supersedes the claim).
            val partitioned: Option[Seq[(String, Long => Long)]] =
              if (zorder.nonEmpty || scope.isDefined) None
              else
                SnapshotLog.tableProps(spark, table).get("partition_by")
                  .map(PartSpec.parse).filter(_.nonEmpty).flatMap { fields =>
                    val vs0 = SnapshotLog.versions(spark, table)
                    val schema0 = SnapshotLog
                      .tableSchema(spark, table, vs0.last)
                    // the group key is the FULL partition tuple —
                    // grouping any coarser would merge across a later
                    // field's values and break its purity
                    val mapped = fields.map(f0 =>
                      schema0.flatMap(_.fields.find(_.name == f0.col))
                        .flatMap(sf => PartSpec.statMapper(f0, sf.dataType))
                        .map(f0.col -> _))
                    if (mapped.exists(_.isEmpty)) None // string fields:
                    // no LONG stats mapping — plain compact (honest)
                    else Some(mapped.flatten)
                  }
            val (v, rewritten, carried) =
              if (zorder.nonEmpty)
                SnapshotLog.compact(
                  spark, table, smallerThanBytes = Long.MaxValue,
                  targetBytes = target, zorderBy = zorder, where = scope,
                  filesOut = filesOut)
              else partitioned match {
                case Some(fs0) =>
                  SnapshotLog.compactPartitioned(
                    spark, table, fs0, smallerThanBytes = target)
                case None =>
                  SnapshotLog.compact(
                    spark, table, smallerThanBytes = target, targetBytes = target,
                    where = scope, filesOut = filesOut)
              }
            Seq(new GenericInternalRow(
              Array[Any](v, rewritten.size, carried.size)))
          }
        )
      case "vacuum" =>
        // dry_run => true previews the reclamation: one row per file
        // vacuum WOULD delete, nothing touched
        proc(
          "vacuum",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("older_than_ms", LongType)
              .defaultValue((60L * 60 * 1000).toString).build(),
            ProcedureParameter.in("dry_run", BooleanType)
              .defaultValue("false").build()
          ),
          StructType(Seq(
            StructField("removed", IntegerType),
            StructField("dry_run", BooleanType),
            StructField("files", StringType))),
          in => {
            val dry = !in.isNullAt(2) && in.getBoolean(2)
            val removed = SnapshotLog.vacuum(
              spark, resolve(in.getUTF8String(0).toString), in.getLong(1),
              dryRun = dry)
            Seq(new GenericInternalRow(Array[Any](
              removed.size, dry,
              org.apache.spark.unsafe.types.UTF8String.fromString(
                removed.sorted.mkString(",")))))
          }
        )
      case "expire" =>
        // dry_run => true previews the reclamation AND leaves the
        // retention horizon untouched (a preview must not expire
        // anyone's time travel)
        proc(
          "expire",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("keep_last", IntegerType).build(),
            ProcedureParameter.in("dry_run", BooleanType)
              .defaultValue("false").build()
          ),
          StructType(Seq(
            StructField("removed", IntegerType),
            StructField("horizon", IntegerType))),
          in => {
            val table = resolve(in.getUTF8String(0).toString)
            val dry = !in.isNullAt(2) && in.getBoolean(2)
            val removed =
              SnapshotLog.expire(spark, table, in.getInt(1), dryRun = dry)
            Seq(new GenericInternalRow(
              Array[Any](removed.size, SnapshotLog.readHorizon(spark, table))))
          }
        )
      case "backfill_stats" =>
        // stamp missing _sz/_rc manifest riders onto pre-upgrade
        // entries (footer reads only, data-preserving replace delta;
        // 0 backfilled = no commit burned) — heals metadata counts
        // and the MV candidate ranking for legacy tables
        proc(
          "backfill_stats",
          Seq(ProcedureParameter.in("table", StringType).build()),
          StructType(Seq(StructField("backfilled", IntegerType))),
          in =>
            Seq(new GenericInternalRow(Array[Any](
              SnapshotLog.backfillStats(
                spark, resolve(in.getUTF8String(0).toString)))))
        )
      case "restore" =>
        proc(
          "restore",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("version", IntegerType).build()
          ),
          StructType(Seq(
            StructField("version", IntegerType),
            StructField("restored_files", IntegerType),
            StructField("dropped_files", IntegerType))),
          in => {
            val (v, readded, dropped) = SnapshotLog.restore(
              spark, resolve(in.getUTF8String(0).toString), in.getInt(1))
            Seq(new GenericInternalRow(
              Array[Any](v, readded.size, dropped.size)))
          }
        )
      case "build_bloom" =>
        // incremental => true blooms ONLY the live files missing a
        // rider for the column (post-build appends, CoW rewrites) —
        // O(new files); the steady-state maintenance call
        proc(
          "build_bloom",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("column", StringType).build(),
            ProcedureParameter.in("incremental", BooleanType)
              .defaultValue("false").build()
          ),
          StructType(Seq(StructField("version", IntegerType))),
          in =>
            Seq(new GenericInternalRow(Array[Any](
              SnapshotLog.buildBloomIndex(
                spark,
                resolve(in.getUTF8String(0).toString),
                in.getUTF8String(1).toString,
                onlyMissing = !in.isNullAt(2) && in.getBoolean(2)))))
        )
      case "ingest" =>
        // incremental exactly-once file ingestion from a landing dir —
        // the ledger of consumed source names rides each commit header
        proc(
          "ingest",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("source_dir", StringType).build(),
            ProcedureParameter.in("format", StringType)
              .defaultValue("'parquet'").build()
          ),
          StructType(Seq(
            StructField("version", IntegerType),
            StructField("ingested_files", IntegerType),
            StructField("skipped_files", IntegerType))),
          in => {
            val (v, ingested, skipped) = SnapshotLog.ingest(
              spark,
              resolve(in.getUTF8String(0).toString),
              in.getUTF8String(1).toString,
              in.getUTF8String(2).toString)
            Seq(new GenericInternalRow(Array[Any](v, ingested, skipped)))
          }
        )
      case "create_mv" =>
        // materialize a per-key rollup as a catalog table; the MV
        // records its source + as-of version for refresh_mv. kind:
        // 'sum' (sum/count, invertible fold), 'minmax' (min/max/
        // count — delete-touched groups recompute on refresh),
        // 'stats' (sum/sum-of-squares/count — invertible fold;
        // avg/var/stddev derive from the moments), or 'distinct'
        // (exact COUNT(DISTINCT m) bitmap partials at (key, bucket)
        // grain — inserts fold by bitmap OR, delete-touched groups
        // recompute; one measure per MV)
        // `key` and `agg` accept comma-joined lists (composite keys /
        // multi-measure rollups); `key_expr` records a derived time
        // grain (to_date(c), trunc(to_date(c),'month'|'year'),
        // date_trunc('hour',c)); `avg_exact => true` declares the
        // measures integral-valued (adds the non-null counts so avg
        // may serve) — the CALL surface mirrors the DDL exactly.
        proc(
          "create_mv",
          Seq(
            ProcedureParameter.in("source", StringType).build(),
            ProcedureParameter.in("mv", StringType).build(),
            ProcedureParameter.in("key", StringType).build(),
            ProcedureParameter.in("agg", StringType).build(),
            ProcedureParameter.in("kind", StringType)
              .defaultValue("'sum'").build(),
            ProcedureParameter.in("key_expr", StringType)
              .defaultValue("''").build(),
            ProcedureParameter
              .in("avg_exact", org.apache.spark.sql.types.BooleanType)
              .defaultValue("false").build(),
            // an EXPRESSION measure (round 16): `agg` names the stored
            // measure, `agg_expr` is the SQL expression it derives from
            // (the revenue shape sum(price * (100 - disc))); mirrors
            // the DDL's sum(<expr>) AS mv_sum form
            ProcedureParameter.in("agg_expr", StringType)
              .defaultValue("''").build(),
            // hashed bit positions for a NON-INTEGRAL distinct measure
            // (round 16): exact up to 64-bit hash collisions — the
            // declaration carries the caveat, like avg_exact
            ProcedureParameter
              .in("hash_distinct", org.apache.spark.sql.types.BooleanType)
              .defaultValue("false").build(),
            // kind='hll' sketch precision (round 17): lgConfigK of the
            // stored sketches — the declared error bound (RSE ≈
            // 1.04/√2^lgK); tighter queries serve from a higher lgK
            ProcedureParameter.in("hll_lgk", IntegerType)
              .defaultValue("12").build()
          ),
          StructType(Seq(StructField("as_of_version", IntegerType))),
          in =>
            Seq(new GenericInternalRow(Array[Any](
              SnapshotLog.createMv(
                spark,
                resolve(in.getUTF8String(0).toString),
                resolve(in.getUTF8String(1).toString),
                in.getUTF8String(2).toString,
                in.getUTF8String(3).toString,
                if (in.isNullAt(4)) "sum" else in.getUTF8String(4).toString,
                Option(
                  if (in.isNullAt(5)) "" else in.getUTF8String(5).toString)
                  .filter(_.nonEmpty),
                !in.isNullAt(6) && in.getBoolean(6),
                Option(
                  if (in.isNullAt(7)) "" else in.getUTF8String(7).toString)
                  .filter(_.nonEmpty),
                !in.isNullAt(8) && in.getBoolean(8),
                if (in.isNullAt(9)) 12 else in.getInt(9)))))
        )
      case "create_join_mv" =>
        // star-schema rollup: CALL system.create_join_mv(fact, dim,
        // fk, pk, mv, key, agg[, kind]) — materialize
        // `fact ⋈ dim ON fk = pk` grouped by DIM attribute(s), dim
        // version PINNED at create (see SnapshotLog.createJoinMv);
        // refresh_mv folds the fact change feed enriched against the
        // pinned dim. Same kinds and naming as create_mv.
        proc(
          "create_join_mv",
          Seq(
            ProcedureParameter.in("fact", StringType).build(),
            ProcedureParameter.in("dim", StringType).build(),
            ProcedureParameter.in("fk", StringType).build(),
            ProcedureParameter.in("pk", StringType).build(),
            ProcedureParameter.in("mv", StringType).build(),
            ProcedureParameter.in("key", StringType).build(),
            ProcedureParameter.in("agg", StringType).build(),
            ProcedureParameter.in("kind", StringType)
              .defaultValue("'sum'").build(),
            // mirrors create_mv (advisor, round 15): declares the
            // measures integral-valued so avg may serve (kind='stats'
            // only; adds the non-null counts to the rollup)
            ProcedureParameter
              .in("avg_exact", org.apache.spark.sql.types.BooleanType)
              .defaultValue("false").build(),
            // MIXED-GRAIN star rollups (round 16): when set, the LAST
            // `key` member is a derived FACT time grain (to_date(c) /
            // trunc(to_date(c),'month'|'year') / date_trunc('hour',c))
            // — "revenue by segment AND month" from one MV
            ProcedureParameter.in("key_expr", StringType)
              .defaultValue("''").build(),
            // LEFT-OUTER join MVs (round 16): join_type => 'left'
            // keeps every fact row (unmatched rows in the NULL
            // dim-attr bucket); fact-only aggregates then serve
            ProcedureParameter.in("join_type", StringType)
              .defaultValue("'inner'").build(),
            // mirrors create_mv: hashed bit positions for a
            // non-integral distinct measure (kind='distinct' only)
            ProcedureParameter
              .in("hash_distinct", org.apache.spark.sql.types.BooleanType)
              .defaultValue("false").build(),
            // kind='hll' sketch precision — mirrors create_mv
            ProcedureParameter.in("hll_lgk", IntegerType)
              .defaultValue("12").build(),
            // EXPRESSION measure (round 19): `agg` names the stored
            // measure, `agg_expr` the FACT-column SQL expression it
            // derives from — sum(cents * (100 - disc)) by a dim attr,
            // the star-dashboard revenue shape; dim-attribute
            // references refuse (their values change with dim churn
            // the fact fold cannot see)
            ProcedureParameter.in("agg_expr", StringType)
              .defaultValue("''").build()
          ),
          StructType(Seq(StructField("as_of_version", IntegerType))),
          in =>
            Seq(new GenericInternalRow(Array[Any](
              SnapshotLog.createJoinMv(
                spark,
                resolve(in.getUTF8String(0).toString),
                // MULTI-DIM star/snowflake MVs (round 16): dim/fk/pk
                // are aligned comma lists; each dim name resolves
                // independently
                in.getUTF8String(1).toString.split(',')
                  .map(d => resolve(d.trim)).mkString(","),
                in.getUTF8String(2).toString,
                in.getUTF8String(3).toString,
                resolve(in.getUTF8String(4).toString),
                in.getUTF8String(5).toString,
                in.getUTF8String(6).toString,
                if (in.isNullAt(7)) "sum"
                else in.getUTF8String(7).toString,
                !in.isNullAt(8) && in.getBoolean(8),
                Option(
                  if (in.isNullAt(9)) "" else in.getUTF8String(9).toString)
                  .filter(_.nonEmpty),
                if (in.isNullAt(10)) "inner"
                else in.getUTF8String(10).toString,
                !in.isNullAt(11) && in.getBoolean(11),
                if (in.isNullAt(12)) 12 else in.getInt(12),
                Option(
                  if (in.isNullAt(13)) "" else in.getUTF8String(13).toString)
                  .filter(_.nonEmpty)))))
        )
      case "explain_mv_serve" =>
        // serve-miss diagnostics: CALL system.explain_mv_serve(
        // query => '<sql>') — run the managed-MV rewrite over the
        // query's optimized plan with the diagnostic sink armed
        // (conf gate bypassed) and return one line per candidate-MV
        // decision: SERVED with grain and matched versions, or the
        // bail reason with its remedy (REFRESH for staleness,
        // re-materialize for dim drift, the named unservable output
        // for shape misses). The answer to the first question every
        // MV user asks.
        proc(
          "explain_mv_serve",
          Seq(ProcedureParameter.in("query", StringType).build()),
          StructType(Seq(StructField("line", StringType))),
          in => {
            val q = in.getUTF8String(0).toString
            graft.plans.MvRewrite
              .explainServe(spark, spark.sql(q))
              .map(l => new GenericInternalRow(Array[Any](
                org.apache.spark.unsafe.types.UTF8String.fromString(l))))
          }
        )
      case "count_by" =>
        // metadata-only GROUP-BY-PARTITION count: CALL
        // system.count_by(table, field) where field is a partition
        // spec ('days(ts)', 'hours(ts)', 'months(d)', 'years(d)', or
        // a plain identity column). Answered from manifest riders
        // alone when every live file is partition-pure — O(files)
        // driver metadata, zero data IO at any table size; refuses
        // loudly (naming the fallback) when a blind or impure file
        // would make the counts a guess.
        proc(
          "count_by",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("field", StringType).build()
          ),
          StructType(Seq(
            StructField("part", LongType),
            StructField("n_rows", LongType))),
          in => {
            val table = resolve(in.getUTF8String(0).toString)
            val f = PartSpec.parseOne(in.getUTF8String(1).toString)
            val vs = SnapshotLog.versions(spark, table)
            require(vs.nonEmpty, s"count_by: no commits in $table")
            val schema = SnapshotLog.tableSchema(spark, table, vs.last)
              .getOrElse(throw new IllegalStateException(
                s"count_by: $table has no recorded schema"))
            val dt = schema.fields.find(_.name == f.col).getOrElse(
              throw new IllegalArgumentException(
                s"count_by: column '${f.col}' is not in the schema")).dataType
            val mapv: Long => Long = PartSpec.statMapper(f, dt).getOrElse(
              throw new IllegalArgumentException(
                s"count_by: ${f.spec} over ${dt.simpleString} has no " +
                  "LONG-space stats mapping"))
            SnapshotLog.metadataCountBy(spark, table, f.col, mapv) match {
              case Some(groups) =>
                groups.map { case (g, n) =>
                  new GenericInternalRow(Array[Any](g, n))
                }
              case None =>
                throw new IllegalStateException(
                  s"count_by: ${f.col} is not declared NOT NULL, or " +
                    s"$table has a file that is blind or not " +
                    s"partition-pure under ${f.spec} — the metadata-only " +
                    "count would be a guess (footer stats skip NULLs, so " +
                    "only the declaration proves no file hides a NULL " +
                    "row inside pure stats); run the distributed GROUP " +
                    "BY (or declare NOT NULL / OPTIMIZE) instead")
            }
          }
        )
      case "range_by" =>
        // metadata-only GROUP-BY-PARTITION MIN/MAX: CALL
        // system.range_by(table, field, agg) — per partition value,
        // the [min,max] of an int/long measure folded from manifest
        // riders alone when every live file is partition-pure,
        // stats-covered in the measure, and DV-free. O(files) driver
        // metadata, zero data IO; refuses loudly when the answer
        // would be a guess.
        proc(
          "range_by",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("field", StringType).build(),
            ProcedureParameter.in("agg", StringType).build()
          ),
          StructType(Seq(
            StructField("part", LongType),
            StructField("mn", LongType),
            StructField("mx", LongType))),
          in => {
            val table = resolve(in.getUTF8String(0).toString)
            val f = PartSpec.parseOne(in.getUTF8String(1).toString)
            val aggCol = in.getUTF8String(2).toString
            val vs = SnapshotLog.versions(spark, table)
            require(vs.nonEmpty, s"range_by: no commits in $table")
            val schema = SnapshotLog.tableSchema(spark, table, vs.last)
              .getOrElse(throw new IllegalStateException(
                s"range_by: $table has no recorded schema"))
            val dt = schema.fields.find(_.name == f.col).getOrElse(
              throw new IllegalArgumentException(
                s"range_by: column '${f.col}' is not in the schema")).dataType
            val at = schema.fields.find(_.name == aggCol).getOrElse(
              throw new IllegalArgumentException(
                s"range_by: column '$aggCol' is not in the schema")).dataType
            require(
              at == LongType || at == IntegerType,
              s"range_by: '$aggCol' must be INT/BIGINT (footer-stat " +
                s"LONG space), got ${at.simpleString}")
            val mapv: Long => Long = PartSpec.statMapper(f, dt).getOrElse(
              throw new IllegalArgumentException(
                s"range_by: ${f.spec} over ${dt.simpleString} has no " +
                  "LONG-space stats mapping"))
            SnapshotLog.metadataRangeBy(spark, table, f.col, mapv, aggCol) match {
              case Some(groups) =>
                groups.map { case (g, mn, mx) =>
                  new GenericInternalRow(Array[Any](g, mn, mx))
                }
              case None =>
                throw new IllegalStateException(
                  s"range_by: ${f.col} is not declared NOT NULL, or " +
                    s"$table has a file that is blind in '$aggCol', not " +
                    s"partition-pure under ${f.spec}, or deletion-" +
                    "vectored — the metadata-only range would be a " +
                    "guess; run the distributed GROUP BY (or declare " +
                    "NOT NULL / OPTIMIZE) instead")
            }
          }
        )
      case "refresh_mv" =>
        // incremental: reads ONLY the source's change feed since the
        // MV's as-of version — O(changed files), never a recompute
        proc(
          "refresh_mv",
          Seq(ProcedureParameter.in("mv", StringType).build()),
          StructType(Seq(
            StructField("from_version", IntegerType),
            StructField("to_version", IntegerType))),
          in => {
            val (f, t) = SnapshotLog.refreshMv(
              spark, resolve(in.getUTF8String(0).toString))
            Seq(new GenericInternalRow(Array[Any](f, t)))
          }
        )
      case "list_mvs" =>
        // catalog-wide MV inventory: every table in the warehouse
        // whose props declare an MV (MvDecl), with its kind, committed
        // fact watermark, the source's current tip, and whether it
        // would serve tip reads (fresh = watermark == tip). One
        // O(tables) metadata walk, no data files opened — the first
        // question after "why didn't my MV serve?" is "what MVs do I
        // even have, and which are stale?"
        proc(
          "list_mvs",
          Seq.empty,
          StructType(Seq(
            StructField("mv", StringType),
            StructField("source", StringType),
            StructField("kind", StringType),
            StructField("fact_watermark", IntegerType),
            StructField("source_tip", IntegerType),
            StructField("fresh", org.apache.spark.sql.types.BooleanType))),
          _ => {
            val whRoot = new org.apache.hadoop.fs.Path(
              resolve("x").stripSuffix("/x"))
            val fs = whRoot.getFileSystem(
              spark.sessionState.newHadoopConf())
            def dirs(p: org.apache.hadoop.fs.Path) =
              if (fs.exists(p))
                fs.listStatus(p).filter(_.isDirectory).map(_.getPath).toSeq
              else Nil
            // round 17 (advisor): the WHOLE per-table row computes
            // inside Try — one table with a parseable props file but a
            // corrupt log (or a malformed prop reaching toInt) must
            // cost ITS row, not the catalog inventory. And `fresh`
            // accounts for DIM DRIFT: a join MV is fresh only when its
            // effective pins sit at every dim's tip — the fact
            // watermark alone said fresh=true for an MV that refuses
            // every tip read, the exact confusion this procedure
            // exists to resolve.
            (for {
              ns <- dirs(whRoot)
              t <- dirs(ns)
              row <- scala.util.Try {
                MvDecl.parse(SnapshotLog.tableProps(spark, t.toString)).map { d =>
                  val wm = SnapshotLog
                    .committedWatermark(spark, t.toString, "mvv")
                    .getOrElse(d.version)
                  val tip = scala.util.Try(
                    SnapshotLog.versions(spark, d.source).last).toOption
                  val dimsFresh = d.joins.isEmpty ||
                    SnapshotLog
                      .effectiveDimVersions(spark, t.toString, None)
                      .exists(eff => eff.size == d.joins.size &&
                        d.joins.zip(eff).forall { case (j, p) =>
                          scala.util.Try(
                            SnapshotLog.versions(spark, j.dim).last)
                            .toOption.contains(p)
                        })
                  new GenericInternalRow(Array[Any](
                    org.apache.spark.unsafe.types.UTF8String
                      .fromString(s"${ns.getName}.${t.getName}"),
                    org.apache.spark.unsafe.types.UTF8String
                      .fromString(d.source),
                    org.apache.spark.unsafe.types.UTF8String
                      .fromString(d.kind),
                    wm,
                    tip.getOrElse(-1),
                    tip.contains(wm) && dimsFresh))
                }
              }.toOption.flatten.toSeq
            } yield row).sortBy(_.getUTF8String(0).toString)
          }
        )
      case "describe_mv" =>
        // one (prop, value) row per fact a user needs to reason about
        // an MV's serving state: kind/keys/measures, the committed
        // fact watermark (mvv — authoritative over the props copy),
        // and for join MVs the per-dim EFFECTIVE pins (create-time
        // props overlaid with every dim refresh's mvdv rider — SHOW
        // TBLPROPERTIES alone shows the stale create pins once
        // refresh_mv_dim has run)
        proc(
          "describe_mv",
          Seq(ProcedureParameter.in("mv", StringType).build()),
          StructType(Seq(
            StructField("prop", StringType),
            StructField("value", StringType))),
          in => {
            val mv = resolve(in.getUTF8String(0).toString)
            val decl = MvDecl.parse(SnapshotLog.tableProps(spark, mv))
            require(
              decl.isDefined,
              s"describe_mv: $mv is not a materialized view")
            val d = decl.get
            def row(k: String, v: String) =
              new GenericInternalRow(Array[Any](
                org.apache.spark.unsafe.types.UTF8String.fromString(k),
                org.apache.spark.unsafe.types.UTF8String.fromString(v)))
            val watermark = SnapshotLog
              .committedWatermark(spark, mv, "mvv")
              .getOrElse(d.version)
            val edges = d.joins.map(_.edge)
            // one agg_expr row for the single-expression spelling, one
            // agg_expr[<measure>] row per declared expression otherwise
            val exprRows =
              if (d.singleExpr) d.measureExprs.map { case (_, e) => "agg_expr" -> e }
              else d.measureExprs.map { case (m, e) => s"agg_expr[$m]" -> e }
            val base = Seq(
              "source" -> d.source,
              "kind" -> d.kind,
              "key" -> d.keys.mkString(","),
              "agg" -> d.measures.mkString(","),
              "fact_watermark" -> watermark.toString) ++
              d.keyExpr.map("key_expr" -> _) ++
              exprRows ++
              (if (d.kind == "hll") Seq("hll_lgk" -> d.hllLgK.toString) else Nil) ++
              (if (edges.nonEmpty && edges.forall(_ == "left"))
                 Seq("join_type" -> "left")
               else Nil) ++
              (if (d.mixedJoins) Seq("join_types" -> edges.mkString(",")) else Nil) ++
              (if (d.avgExact) Seq("avg_exact" -> "true") else Nil) ++
              (if (d.distinctHash) Seq("hash_distinct" -> "true") else Nil)
            val eff = SnapshotLog
              .effectiveDimVersions(spark, mv, None).getOrElse(Nil)
            val dims = d.joins.zipWithIndex.flatMap { case (j, i) =>
              Seq(
                s"dim[$i]" -> j.dim,
                s"dim[$i].created_pin" -> j.pin.toString,
                s"dim[$i].effective_pin" ->
                  eff.lift(i).map(_.toString).getOrElse("?"))
            }
            (base ++ dims).map { case (k, v) => row(k, v) }
          }
        )
      case "refresh_mv_dim" =>
        // incremental DIM refresh for join MVs (round 16): fold a
        // changed dim into the rollup without re-materializing —
        // only groups whose downstream key members the changed pks
        // can reach are recomputed (file-scoped through the chain),
        // and the new dim pin rides the commit header atomically
        // (mvdv=). Inner joins only; returns (old_pin, new_pin).
        proc(
          "refresh_mv_dim",
          Seq(
            ProcedureParameter.in("mv", StringType).build(),
            ProcedureParameter.in("dim", StringType).build()),
          StructType(Seq(
            StructField("old_pin", IntegerType),
            StructField("new_pin", IntegerType))),
          in => {
            val (o, n) = SnapshotLog.refreshMvDim(
              spark,
              resolve(in.getUTF8String(0).toString),
              resolve(in.getUTF8String(1).toString))
            Seq(new GenericInternalRow(Array[Any](o, n)))
          }
        )
      case "clone" =>
        // zero-copy shallow clone: the new table's v1 references the
        // source's files by absolute path — O(manifest) metadata at
        // any table size; vacuum on either side never touches the
        // other's files (external refs are not listed locally)
        proc(
          "clone",
          Seq(
            ProcedureParameter.in("source", StringType).build(),
            ProcedureParameter.in("target", StringType).build(),
            ProcedureParameter.in("version", IntegerType)
              .defaultValue("-1").build() // -1 = the source tip
          ),
          StructType(Seq(StructField("version", IntegerType))),
          in => {
            val v =
              if (in.isNullAt(2) || in.getInt(2) < 0) None else Some(in.getInt(2))
            Seq(new GenericInternalRow(Array[Any](
              SnapshotLog.cloneTable(
                spark,
                resolve(in.getUTF8String(0).toString),
                resolve(in.getUTF8String(1).toString),
                v))))
          }
        )
      case "tag" =>
        proc(
          "tag",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("name", StringType).build(),
            ProcedureParameter.in("version", IntegerType)
              .defaultValue("0").build() // 0 = tip
          ),
          StructType(Seq(StructField("version", IntegerType))),
          in => {
            val table = resolve(in.getUTF8String(0).toString)
            val v = in.getInt(2)
            val tagged = SnapshotLog.tagCreate(
              spark, table, in.getUTF8String(1).toString,
              if (v > 0) Some(v) else None)
            Seq(new GenericInternalRow(Array[Any](tagged)))
          }
        )
      case "detail" =>
        proc(
          "detail",
          Seq(ProcedureParameter.in("table", StringType).build()),
          StructType(Seq(
            StructField("version", IntegerType),
            StructField("n_versions", IntegerType),
            StructField("n_live_files", IntegerType),
            StructField("live_bytes", LongType),
            StructField("live_rows", LongType),
            StructField("n_tags", IntegerType),
            StructField("bucket_spec", StringType),
            StructField("sorted_by", StringType),
            StructField("check_constraint", StringType),
            StructField("column_mapped", BooleanType),
            StructField("retention_horizon", IntegerType))),
          in => {
            // DESCRIBE DETAIL — one row of table-level observability,
            // all of it metadata: manifest riders, props, refs; zero
            // data files opened at any table size
            val table = resolve(in.getUTF8String(0).toString)
            val vs = SnapshotLog.versions(spark, table)
            require(vs.nonEmpty, s"snapshot detail: no commits in $table")
            val tip = vs.last
            val stats = SnapshotLog.manifestFileStats(spark, table, tip)
            val props = SnapshotLog.tableProps(spark, table)
            val mapped = SnapshotLog
              .tableSchema(spark, table, tip)
              .exists(SnapshotLog.isMapped)
            def s(o: Option[String]): UTF8String =
              UTF8String.fromString(o.getOrElse(""))
            Seq(new GenericInternalRow(Array[Any](
              tip,
              vs.size,
              stats.size,
              stats.flatMap(_._2).sum,
              SnapshotLog.metadataCount(spark, table).getOrElse(-1L),
              SnapshotLog.tags(spark, table).size,
              s(SnapshotLog.bucketSpec(spark, table, tip).map { case (c, n) => s"bucket($n, $c)" }),
              s(props.get("sorted_by")),
              s(props.get("check")),
              mapped,
              SnapshotLog.readHorizon(spark, table))))
          }
        )
      case "tags" =>
        proc(
          "tags",
          Seq(ProcedureParameter.in("table", StringType).build()),
          StructType(Seq(
            StructField("name", StringType),
            StructField("version", IntegerType))),
          in => {
            SnapshotLog
              .tags(spark, resolve(in.getUTF8String(0).toString))
              .toSeq.sortBy(_._1)
              .map { case (n, v) =>
                new GenericInternalRow(Array[Any](UTF8String.fromString(n), v))
              }
          }
        )
      case "tag_delete" =>
        proc(
          "tag_delete",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("name", StringType).build()
          ),
          StructType(Seq(StructField("deleted", BooleanType))),
          in => {
            SnapshotLog.tagDelete(
              spark, resolve(in.getUTF8String(0).toString),
              in.getUTF8String(1).toString)
            Seq(new GenericInternalRow(Array[Any](true)))
          }
        )
      case "branch" =>
        proc(
          "branch",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("name", StringType).build()
          ),
          StructType(Seq(StructField("branch_path", StringType))),
          in => {
            val dir = SnapshotLog.branchCreate(
              spark, resolve(in.getUTF8String(0).toString),
              in.getUTF8String(1).toString)
            Seq(new GenericInternalRow(Array[Any](UTF8String.fromString(dir))))
          }
        )
      case "publish" =>
        proc(
          "publish",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("name", StringType).build()
          ),
          StructType(Seq(
            StructField("version", IntegerType),
            StructField("moved_files", IntegerType))),
          in => {
            val (v, moved) = SnapshotLog.publish(
              spark, resolve(in.getUTF8String(0).toString),
              in.getUTF8String(1).toString)
            Seq(new GenericInternalRow(Array[Any](v, moved.size)))
          }
        )
      case "branch_drop" =>
        proc(
          "branch_drop",
          Seq(
            ProcedureParameter.in("table", StringType).build(),
            ProcedureParameter.in("name", StringType).build()
          ),
          StructType(Seq(StructField("dropped", BooleanType))),
          in => {
            SnapshotLog.branchDrop(
              spark, resolve(in.getUTF8String(0).toString),
              in.getUTF8String(1).toString)
            Seq(new GenericInternalRow(Array[Any](true)))
          }
        )
      case "describe_history" =>
        proc(
          "describe_history",
          Seq(ProcedureParameter.in("table", StringType).build()),
          StructType(Seq(
            StructField("version", IntegerType),
            StructField("action", StringType),
            StructField("data_change", BooleanType),
            StructField("txn_id", StringType),
            StructField("n_added", IntegerType),
            StructField("n_removed", IntegerType),
            StructField("n_live_files", IntegerType),
            StructField("live_bytes", LongType),
            StructField("n_live_rows", LongType))),
          in => {
            val table = resolve(in.getUTF8String(0).toString)
            // bounded: one row per version (O(history) driver metadata)
            SnapshotLog.describeHistory(spark, table).collect().toSeq.map { r =>
              new GenericInternalRow(Array[Any](
                r.getInt(0), UTF8String.fromString(r.getString(1)),
                r.getBoolean(2), UTF8String.fromString(r.getString(3)),
                r.getInt(4), r.getInt(5), r.getInt(6), r.getLong(7),
                r.getLong(8)))
            }
          }
        )
      case other =>
        throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(
          Identifier.of(Array("system"), other))
    }
}

object SnapshotCatalog {
  /** Test-only interleave point for the ADD CONSTRAINT race pin:
    * invoked after existing-data validation succeeds, immediately
    * before the constraint props write — a deterministic stand-in
    * for a concurrent INSERT landing in the window where it is
    * neither validated (the delta re-check already ran) nor enforced
    * (the props are not visible yet). Reset to a no-op by the spec. */
  private[graft] val onConstraintValidated =
    new java.util.concurrent.atomic.AtomicReference[() => Unit](() => ())
}
