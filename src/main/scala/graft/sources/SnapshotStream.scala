package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptID
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Structured Streaming SOURCE over a [[SnapshotLog]] table — the read
  * half of the streaming story whose write half is
  * `StreamOps.snapshotSink`: a snapshot table becomes a replayable,
  * exactly-once message log.
  *
  *   - **Offsets are commit versions.** `latestOffset` is the log tip
  *     (an O(1) pointer read), a micro-batch is the half-open version
  *     range `(start, end]`, and the files ADDED at each version —
  *     the manifest diff against the parent, so checkpoint folds never
  *     re-surface carried files — become one input partition each.
  *     Restart replays from the checkpointed version: a file is
  *     delivered exactly once per query lineage because commits are
  *     immutable and versions never renumber.
  *   - **Layout-only rewrites are silent.** Compaction / clustering
  *     commits carry `datachange=false` and contribute nothing — the
  *     rows were already delivered from their previous files.
  *   - **In-place changes are loud.** An overwrite or CoW replace
  *     drops parent files: rows changed in place, which an insert-only
  *     stream cannot represent. The source fails the query with the
  *     remedy in the message; `skipChangeCommits=true` (the posture
  *     Delta names the same way) deliberately skips those versions
  *     instead — or `readChangeFeed=true` streams the table as a
  *     CHANGE FEED: dropped files surface their rows tagged `delete`,
  *     added files tagged `insert`, with `commit_version` riding along
  *     — the streaming twin of [[SnapshotLog.readChanges]], feeding
  *     incremental MV maintenance continuously.
  *   - **Executors read raw parquet** through [[GraftSnapshotReader]]
  *     (Spark's vectorized decoder) under the session's Hadoop conf
  *     (shipped via [[SerializableHadoopConf]]): no SparkSession on the
  *     executor path, no directory listing — exactly the manifest's
  *     files.
  *
  * 100 TB posture: a micro-batch costs O(new files) — tip read, ≤
  * FoldEvery manifest hops per version, and the new files' bytes. No
  * full-table scan, no directory listing, ever.
  */
class GraftSnapshotSource extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val table = options.get("path")
    require(table != null, "graft-snapshot requires a path")
    val vs = SnapshotLog.versions(spark, table)
    require(vs.nonEmpty, s"graft-snapshot: no commits in $table")
    val data = SnapshotLog
      .tableSchema(spark, table, vs.last)
      .getOrElse(
        spark.read
          .parquet(SnapshotLog.manifest(spark, table, vs.last).map(n => SnapshotLog.dataPath(table, n)): _*)
          .schema
      )
    if (Option(options.get("readChangeFeed")).exists(_.toBoolean))
      GraftSnapshotSource.withCdfColumns(data)
    else data
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]
  ): Table = {
    val path = properties.get("path")
    require(path != null, "graft-snapshot requires a path")
    GraftSnapshotTable(schema, path)
  }
}

object GraftSnapshotSource {
  /** Change-feed rider columns, appended after the data schema. */
  def withCdfColumns(data: StructType): StructType =
    data
      .add(StructField("change_type", StringType, nullable = false))
      .add(StructField("commit_version", IntegerType, nullable = false))
}

case class GraftSnapshotTable(tableSchema: StructType, path: String)
    extends Table
    with SupportsRead {
  override def name(): String = s"graft_snapshot($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = GraftSnapshotScan(
        tableSchema,
        path,
        skipChangeCommits = Option(options.get("skipChangeCommits"))
          .exists(_.toBoolean),
        startingVersion = Option(options.get("startingVersion"))
          .map(_.toInt)
          .getOrElse(0),
        maxFilesPerTrigger = Option(options.get("maxFilesPerTrigger"))
          .map(_.toInt),
        maxBytesPerTrigger = Option(options.get("maxBytesPerTrigger"))
          .map(_.toLong),
        readChangeFeed = Option(options.get("readChangeFeed"))
          .exists(_.toBoolean)
      )
    }
}

case class GraftSnapshotScan(
    tableSchema: StructType,
    path: String,
    skipChangeCommits: Boolean,
    startingVersion: Int,
    maxFilesPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long],
    readChangeFeed: Boolean
) extends Scan {
  override def readSchema(): StructType = tableSchema
  override def description(): String =
    s"graft-snapshot stream over $path (cdf=$readChangeFeed, " +
      s"skipChangeCommits=$skipChangeCommits)"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftSnapshotMicroBatchStream(
      tableSchema, path, skipChangeCommits, startingVersion,
      maxFilesPerTrigger, maxBytesPerTrigger, readChangeFeed)
}

/** Version-number offset; json form is the bare integer. */
case class GraftSnapshotOffset(version: Int) extends Offset {
  override def json(): String = version.toString
}

class GraftSnapshotMicroBatchStream(
    schema: StructType,
    table: String,
    skipChangeCommits: Boolean,
    startingVersion: Int,
    maxFilesPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long],
    readChangeFeed: Boolean
) extends MicroBatchStream
    with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {
  // driver-side only: planning reads the log through the session
  private def spark = SparkSession.active

  // Trigger.AvailableNow pins the goalpost at start time: the query
  // drains to here (rate-limited into several batches if configured)
  // and terminates, ignoring later commits
  @volatile private var availableNowTarget: Option[Int] = None

  private def tip: Int =
    SnapshotLog.versions(spark, table).lastOption.getOrElse(startingVersion)

  override def initialOffset(): Offset = GraftSnapshotOffset(startingVersion)

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(tip)

  override def getDefaultReadLimit: ReadLimit = {
    val limits = maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq()    => ReadLimit.allAvailable()
      case Seq(one) => one
      case many     => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** (files, bytes) planning cost of consuming `v` — file counts from
    * the manifest diff, bytes from the `_sz` riders (metadata only,
    * no file stats calls). */
  private def versionCost(v: Int): (Int, Long) = {
    val (_, dataChange, added, removed, amended) =
      SnapshotLog.commitInfo(spark, table, v)
    if (!dataChange) (0, 0L)
    else {
      val addB = SnapshotLog.fileSizesAt(spark, table, v, added)
      val amdB = SnapshotLog.fileSizesAt(spark, table, v, amended)
      if (readChangeFeed) {
        val remB = SnapshotLog.fileSizesAt(spark, table, v - 1, removed)
        (added.size + removed.size + amended.size, addB + remB + amdB)
      } else (added.size + amended.size, addB + amdB)
    }
  }

  /** Version-granular admission: a commit is indivisible (offsets name
    * versions, not files), so the caps admit WHOLE versions until the
    * file or byte budget is spent — but always at least one, or a
    * single commit larger than a cap would stall the stream forever.
    * `maxFilesPerTrigger` bounds task count, `maxBytesPerTrigger`
    * bounds IO (the `_sz` riders price a version without touching a
    * file); both may combine (composite limit). At 100 TB this is what
    * keeps a restart after a long gap from planning the whole backlog
    * as one micro-batch. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftSnapshotOffset].version
    val target = availableNowTarget.map(t => math.min(t, tip)).getOrElse(tip)
    def caps(l: ReadLimit): (Option[Int], Option[Long]) = l match {
      case mf: ReadMaxFiles => (Some(mf.maxFiles()), None)
      case mb: ReadMaxBytes => (None, Some(mb.maxBytes()))
      case c: CompositeReadLimit =>
        c.getReadLimits.map(caps).foldLeft((Option.empty[Int], Option.empty[Long])) {
          case ((f1, b1), (f2, b2)) => (f1.orElse(f2), b1.orElse(b2))
        }
      case _ => (None, None)
    }
    val (maxF, maxB) = caps(limit)
    if (maxF.isEmpty && maxB.isEmpty) GraftSnapshotOffset(target)
    else {
      var v = s
      var files = 0
      var bytes = 0L
      while (v < target) {
        val (fc, bc) = versionCost(v + 1)
        val over = maxF.exists(files + fc > _) || maxB.exists(bytes + bc > _)
        if ((files > 0 || bytes > 0) && over) return GraftSnapshotOffset(v)
        v += 1
        files += fc
        bytes += bc
        if (maxF.exists(files >= _) || maxB.exists(bytes >= _))
          return GraftSnapshotOffset(v)
      }
      GraftSnapshotOffset(v)
    }
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead of this method"
    )

  override def deserializeOffset(json: String): Offset =
    GraftSnapshotOffset(json.trim.toInt)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftSnapshotOffset].version
    val e = end.asInstanceOf[GraftSnapshotOffset].version
    // retention guard: files ADDED at a version are alive iff that
    // version survives the horizon; CDF-mode removed-file reads are
    // checked per version below (a removal at v reads files live at
    // v-1)
    val horizon = SnapshotLog.readHorizon(spark, table)
    if (s + 1 < horizon && e > s)
      throw new IllegalStateException(
        s"graft-snapshot stream on $table: checkpointed offset $s predates " +
          s"the retention horizon $horizon — versions this stream has not " +
          "consumed were expired. Restart from a fresh checkpoint."
      )
    (s + 1 to e)
      .flatMap { v =>
        val (action, dataChange, added, removed, amended) =
          SnapshotLog.commitInfo(spark, table, v)
        if (!dataChange) Nil // compaction/clustering: rows already delivered
        else if (readChangeFeed) {
          // change-feed mode represents in-place changes: dropped files
          // surface their rows as tagged deletes, added files as
          // inserts, and a deletion-vector amendment streams ONLY its
          // newly-dead positions as tagged deletes (the position list
          // rides the partition; the reader filters by sequential row
          // index)
          if ((removed.nonEmpty || amended.nonEmpty) && v - 1 < horizon)
            throw new IllegalStateException(
              s"graft-snapshot stream on $table: version $v removes files " +
                s"whose content predates the retention horizon $horizon. " +
                "Restart from a fresh checkpoint."
            )
          // the partitions carry sidecar PATHS, not positions: the
          // executor scanning the file loads and diffs its own DVs
          // (zero driver sidecar reads, O(strings) partition payload)
          val dvParts = amended.map { f =>
            GraftSnapshotPartition(
              SnapshotLog.dataPath(table, f), Some(("delete", v)),
              deltaDvPaths = Some((
                SnapshotLog.dvSidecarPathAt(spark, table, v - 1, f),
                SnapshotLog.dvSidecarPathAt(spark, table, v, f))))
          }
          val removedParts = removed.map { f =>
            // a removed file's PRIOR deletion vector must not re-delete
            // already-dead rows
            GraftSnapshotPartition(
              SnapshotLog.dataPath(table, f), Some(("delete", v)),
              skipDvPath = SnapshotLog.dvSidecarPathAt(spark, table, v - 1, f))
          }
          removedParts ++ dvParts ++
            added.map(f => GraftSnapshotPartition(SnapshotLog.dataPath(table, f), Some(("insert", v))))
        }
        else if (removed.nonEmpty || amended.nonEmpty) {
          if (skipChangeCommits) Nil
          else
            throw new IllegalStateException(
              s"graft-snapshot stream on $table: version $v is a '$action' that " +
                (if (removed.nonEmpty) "dropped live files"
                 else "amended deletion vectors") +
                " — rows changed in place, which an insert-only " +
                "stream cannot represent. Set skipChangeCommits=true to skip such " +
                "versions, readChangeFeed=true to stream them as tagged " +
                "delete/insert rows, or restart from a fresh checkpoint."
            )
        } else added.map(f => GraftSnapshotPartition(SnapshotLog.dataPath(table, f), None))
      }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftSnapshotReaderFactory(
      // a column-mapped table's files spell PHYSICAL names; the reader
      // looks columns up by name, rows bind to the stream's logical
      // schema positionally (CDF rider columns are identity-mapped)
      SnapshotLog.toPhysical(schema),
      new SerializableHadoopConf(DataFiles.hadoopConf(spark)),
      readChangeFeed
    )

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class GraftSnapshotPartition(
    file: String,
    cdfTag: Option[(String, Int)], // (change_type, commit_version) in CDF mode
    // deletion-vector filters (CDF mode), shipped as sidecar PATHS and
    // resolved on the executor: `deltaDvPaths=(old, new)` emits ONLY
    // the positions newly in the new sidecar (a DV amendment's
    // newly-dead rows as tagged deletes); `skipDvPath` emits all
    // EXCEPT its positions (a removed file whose prior DV already
    // killed some rows)
    deltaDvPaths: Option[(Option[String], Option[String])] = None,
    skipDvPath: Option[String] = None
) extends InputPartition

case class GraftSnapshotReaderFactory(
    schema: StructType,
    conf: SerializableHadoopConf,
    readChangeFeed: Boolean
) extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[GraftSnapshotPartition]
    // in CDF mode the scan schema carries the two rider columns; the
    // file holds only the data columns
    val dataSchema =
      if (readChangeFeed) StructType(schema.fields.dropRight(2)) else schema
    // resolve sidecar paths to position sets HERE — this runs in the
    // task, so DV bytes never touch the driver
    def readDv(p: String): Array[Long] =
      SnapshotLog.readDvFile(conf.value, new Path(p))
    val only = part.deltaDvPaths.map { case (oldP, newP) =>
      val oldSet = oldP.map(readDv(_).toSet).getOrElse(Set.empty[Long])
      newP.map(readDv).getOrElse(Array.empty[Long]).filterNot(oldSet).sorted
    }
    val skip = part.skipDvPath.map(readDv(_).sorted)
    new GraftSnapshotReader(
      part.file, conf.value, dataSchema, part.cdfTag, only, skip)
  }
}

/** Executor-side reader of one manifest file through Spark's
  * vectorized parquet decoder — the one `SnapshotLog.read` goes
  * through — returning rows. It serves every catalog SQL and DML scan
  * ([[SnapshotSqlReader]]) and the streaming source. Only `schema`'s
  * columns are decoded, looked up by exact (physical) name, so
  * schema-evolved tables work as Spark's reader has them: absent
  * columns serve their existence default or null, INT32 files widen to
  * BIGINT and FLOAT files to DOUBLE, INT96 timestamps convert without
  * rebasing.
  *
  * Row layout: `schema`'s columns, then the constants (the CDF
  * `change_type`/`commit_version` riders or the `_file` name), then
  * `_pos` when `positionTag`. `_pos` and the deletion-vector positions
  * are Spark's row index, the in-file position counted before any
  * skip, so they name the position space the sidecars are written in.
  *
  * `filters` (pushed integer comparisons, physical column names) skip
  * data inside the file: row groups whose footer stats and pages whose
  * column index rule out every row are never decoded. Record-level
  * filtering stays off — the surviving pages' rows all come back and
  * Spark re-applies the predicate — so a reader's row count is the rows
  * it decoded. The footer is read once, and the comparisons are typed
  * against it (see [[GraftSnapshotReader.filePredicate]]). */
class GraftSnapshotReader(
    file: String,
    conf: Configuration,
    schema: StructType,
    cdfTag: Option[(String, Int)] = None,
    onlyPositions: Option[Array[Long]] = None,
    skipPositions: Option[Array[Long]] = None,
    fileNameTag: Option[String] = None, // a `_file` column after the data
    positionTag: Boolean = false, // a `_pos` column, last
    filters: Seq[org.apache.spark.sql.sources.Filter] = Nil
) extends PartitionReader[InternalRow] {
  import GraftSnapshotReader._

  // the row index rides as the last requested column whenever `_pos`
  // or a deletion vector needs it
  private val indexed =
    positionTag || onlyPositions.isDefined || skipPositions.isDefined
  private val consts: Seq[(StructField, Any)] =
    cdfTag.toSeq.flatMap { case (t, v) =>
      Seq(StructField("change_type", StringType) -> UTF8String.fromString(t),
        StructField("commit_version", IntegerType) -> v)
    } ++ fileNameTag.map(f => StructField("_file", StringType) -> UTF8String.fromString(f))

  // the decoder, and the rows the row-group stats and the column
  // indexes ruled out: the footer's row count less the decoder's
  private val (reader, skipped): (CountingReader, Long) = {
    val path = new Path(file)
    val input = HadoopInputFile.fromPath(path, conf)
    val stream = input.newStream()
    try {
      val footer = ParquetFileReader.readFooter(
        input, HadoopReadOptions.builder(conf, path).build(), stream)
      val requested =
        // a column absent from this file is read as null, never refused
        StructType(schema.fields.map(_.copy(nullable = true)) ++
          (if (indexed) Seq(StructField(RowIndexColumn, LongType)) else Nil))
      val fileConf = readerConf(
        conf, requested, filePredicate(filters, footer.getFileMetaData.getSchema))
      val r = new CountingReader
      r.initialize(
        new FileSplit(path, 0L, input.getLength, Array.empty[String]),
        new TaskAttemptContextImpl(fileConf, new TaskAttemptID()),
        Some(input), Some(stream), Some(footer))
      if (consts.nonEmpty)
        r.initBatch(StructType(consts.map(_._1)), new GenericInternalRow(consts.map(_._2).toArray))
      (r, footer.getBlocks.asScala.map(_.getRowCount).sum - r.filteredRows)
    } catch { case e: Throwable => stream.close(); throw e }
  }
  /** Rows the row-group stats and the column indexes ruled out. */
  val rowsSkippedByStats: Long = skipped
  /** Rows read off surviving pages so far (deletion-vector dead rows
    * included). */
  def rowsDecoded: Long = decoded
  private var decoded = 0L

  // the decoder's row is the data, the row index when `indexed`, then
  // the constants: the output moves the row index after the constants,
  // or drops it without `_pos`
  private val indexOrdinal = schema.length
  private val projected: Option[ProjectingInternalRow] =
    if (!indexed || (consts.isEmpty && positionTag)) None
    else {
      val data = schema.indices
      val tail = consts.indices.map(_ + schema.length + 1)
      val out = StructType(schema.fields ++ consts.map(_._1) ++
        (if (positionTag) Seq(StructField("_pos", LongType)) else Nil))
      Some(ProjectingInternalRow(
        out, data ++ tail ++ (if (positionTag) Seq(indexOrdinal) else Nil)))
    }
  private var current: InternalRow = _

  private def admit(i: Long): Boolean =
    onlyPositions.forall(a => java.util.Arrays.binarySearch(a, i) >= 0) &&
      skipPositions.forall(a => java.util.Arrays.binarySearch(a, i) < 0)

  override def next(): Boolean = {
    while (reader.nextKeyValue()) {
      decoded += 1
      val row = reader.getCurrentValue.asInstanceOf[InternalRow]
      if (!indexed || admit(row.getLong(indexOrdinal))) {
        current = projected.fold(row) { p => p.project(row); p }
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current

  override def close(): Unit = reader.close()
}

object GraftSnapshotReader {
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.filter2.predicate.Operators.{IntColumn, LongColumn}
  import org.apache.parquet.hadoop.ParquetInputFormat
  import org.apache.parquet.schema.{MessageType, Type}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetReadSupport, VectorizedParquetRecordReader}
  import org.apache.spark.sql.internal.SQLConf
  import org.apache.spark.sql.sources._

  /** Spark's temporary row-index column: the decoder fills it with each
    * row's in-file position, after skipped pages and row groups too. */
  private val RowIndexColumn = ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Spark's vectorized decoder, on heap in batches of Spark's default
    * 4096 rows, rebasing nothing: dates, timestamps and INT96 read as
    * stored. It exposes the rows its row-group and page filtering kept. */
  private final class CountingReader
      extends VectorizedParquetRecordReader(null, "CORRECTED", "UTC", "CORRECTED", "UTC", false, 4096) {
    def filteredRows: Long = totalRowCount
  }

  /** `base` plus what the decoder takes from its Hadoop conf for one
    * file: the requested columns, looked up by exact name, and the
    * file's predicate at the skipping levels the reader uses — row-group
    * stats and page column indexes on; record, dictionary and bloom
    * filtering off (the last two would read more than the footer per
    * row group). */
  private def readerConf(
      base: Configuration,
      requested: StructType,
      predicate: Option[FilterPredicate]
  ): Configuration = {
    val c = new Configuration(base)
    c.set(ParquetInputFormat.READ_SUPPORT_CLASS, classOf[ParquetReadSupport].getName)
    c.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, requested.json)
    c.setBoolean(SQLConf.CASE_SENSITIVE.key, true)
    c.setBoolean(ParquetInputFormat.STATS_FILTERING_ENABLED, true)
    c.setBoolean(ParquetInputFormat.COLUMN_INDEX_FILTERING_ENABLED, true)
    c.setBoolean(ParquetInputFormat.RECORD_FILTERING_ENABLED, false)
    c.setBoolean(ParquetInputFormat.DICTIONARY_FILTERING_ENABLED, false)
    c.setBoolean(ParquetInputFormat.BLOOM_FILTERING_ENABLED, false)
    predicate.foreach(ParquetInputFormat.setFilterPredicate(c, _))
    c
  }

  /** The parquet predicate `filters` make over one file: the
    * comparisons whose column the file holds as a top-level INT64 (for
    * a Long value) or INT32 (for an Int value), ANDed. A comparison is
    * dropped for a file that spells its column otherwise — an older
    * INT32 file under a column since widened to BIGINT, or a file that
    * predates the column (its rows serve a default parquet would read
    * as null). Dropping a comparison only skips less. None when nothing
    * applies. */
  private[sources] def filePredicate(
      filters: Seq[Filter],
      file: MessageType
  ): Option[FilterPredicate] = {
    def physical(c: String): Option[PrimitiveTypeName] =
      if (c.contains('.') || !file.containsField(c)) None
      else Some(file.getType(file.getFieldIndex(c)))
        .filter(t => t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED))
        .map(_.asPrimitiveType.getPrimitiveTypeName)
    def compare(c: String, v: Any)(
        onLong: (LongColumn, java.lang.Long) => FilterPredicate,
        onInt: (IntColumn, java.lang.Integer) => FilterPredicate
    ): Option[FilterPredicate] = (physical(c), v) match {
      case (Some(PrimitiveTypeName.INT64), l: Long) => Some(onLong(FilterApi.longColumn(c), l))
      case (Some(PrimitiveTypeName.INT32), i: Int)  => Some(onInt(FilterApi.intColumn(c), i))
      case _                                        => None
    }
    def eq(c: String, v: Any) = compare(c, v)(FilterApi.eq(_, _), FilterApi.eq(_, _))
    filters.flatMap {
      case EqualTo(c, v)            => eq(c, v)
      case GreaterThan(c, v)        => compare(c, v)(FilterApi.gt(_, _), FilterApi.gt(_, _))
      case GreaterThanOrEqual(c, v) => compare(c, v)(FilterApi.gtEq(_, _), FilterApi.gtEq(_, _))
      case LessThan(c, v)           => compare(c, v)(FilterApi.lt(_, _), FilterApi.lt(_, _))
      case LessThanOrEqual(c, v)    => compare(c, v)(FilterApi.ltEq(_, _), FilterApi.ltEq(_, _))
      case In(c, vs) if vs.nonEmpty =>
        val each = vs.toSeq.map(eq(c, _))
        if (each.forall(_.isDefined)) Some(each.flatten.reduce(FilterApi.or)) else None
      case _ => None
    }.reduceOption(FilterApi.and)
  }
}
