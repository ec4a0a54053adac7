package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
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
  *   - **Executors read raw parquet** through parquet-hadoop's Group
  *     API under the session's Hadoop conf (shipped via
  *     [[SerializableHadoopConf]]): no SparkSession on the executor
  *     path, no directory listing — exactly the manifest's files.
  *     INT96 timestamps (Spark's default parquet timestamp encoding)
  *     are converted with the public Julian-day layout; int→long and
  *     float→double file-vs-table widenings mirror the log's schema
  *     evolution rules, and files predating an added column null-fill.
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
      new SerializableHadoopConf(spark.sessionState.newHadoopConf()),
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

/** Executor-side parquet reader over one manifest file via the Group
  * API, row at a time. It serves every catalog SQL and DML scan
  * ([[SnapshotSqlReader]]) and the streaming source. Column lookup is
  * BY NAME so schema-evolved tables work: absent columns null-fill,
  * int32→long and float→double widen per the log's evolution rules,
  * INT96 timestamps convert via the public Julian-day layout. Anything
  * else unsupported fails loudly.
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
    fileNameTag: Option[String] = None, // appended as a `_file` column
    positionTag: Boolean = false, // appended (last) as a `_pos` column
    filters: Seq[org.apache.spark.sql.sources.Filter] = Nil
) extends PartitionReader[InternalRow] {
  import org.apache.parquet.HadoopReadOptions
  import org.apache.parquet.filter2.compat.FilterCompat
  import org.apache.parquet.hadoop.ParquetFileReader
  import org.apache.parquet.hadoop.util.HadoopInputFile

  private val tagVals: Array[Any] =
    cdfTag
      .map { case (t, v) => Array[Any](UTF8String.fromString(t), v) }
      .getOrElse(Array.empty[Any]) ++
      fileNameTag.map(f => UTF8String.fromString(f): Any).toArray
  private val fileReader: ParquetFileReader = {
    val path = new Path(file)
    val input = HadoopInputFile.fromPath(path, conf)
    val stream = input.newStream()
    try {
      val footer = ParquetFileReader.readFooter(
        input, HadoopReadOptions.builder(conf, path).build(), stream)
      val predicate = GraftSnapshotReader
        .filePredicate(filters, footer.getFileMetaData.getSchema)
        .map(FilterCompat.get)
        .getOrElse(FilterCompat.NOOP)
      val options = HadoopReadOptions.builder(conf, path)
        .withRecordFilter(predicate)
        .useStatsFilter(true)
        .useColumnIndexFilter(true)
        .useRecordFilter(false)
        // each would read more than the footer per row group
        .useDictionaryFilter(false)
        .useBloomFilter(false)
        .build()
      ParquetFileReader.open(input, footer, options, stream)
    } catch { case e: Throwable => stream.close(); throw e }
  }
  private val fileSchema = fileReader.getFooter.getFileMetaData.getSchema
  private val columnIO = new org.apache.parquet.io.ColumnIOFactory(
    fileReader.getFooter.getFileMetaData.getCreatedBy).getColumnIO(fileSchema)
  private val totalRows: Long = fileReader.getFooter.getBlocks.asScala.map(_.getRowCount).sum
  /** Rows the row-group stats and the column indexes ruled out. */
  val rowsSkippedByStats: Long = totalRows - fileReader.getFilteredRecordCount
  /** Rows assembled so far (deletion-vector dead rows included). */
  def rowsDecoded: Long = decoded
  private var decoded = 0L

  // the current row group: its record reader, rows still to assemble,
  // its first row's in-file index and the in-group indexes of the rows
  // its surviving pages hold
  private var records: org.apache.parquet.io.RecordReader[Group] = _
  private var rowsLeft = 0L
  private var groupStart = 0L
  private var groupRows: java.util.PrimitiveIterator.OfLong = _
  private var current: Group = _
  // in-file row index of `current` — what `ParquetReader.getCurrentRowIndex`
  // reports: the row group's offset plus the row's index inside it, so
  // it stays the file position after skipped pages and row groups
  private var rowIdx: Long = -1L
  // existence defaults (ADD COLUMN ... DEFAULT x): a column missing
  // from THIS file serves its ADD-time default, not null — the same
  // EXISTS_DEFAULT fill Spark's own parquet readers apply, evaluated
  // once per reader from the schema's field metadata
  private val existsDefaults: Array[Any] =
    if (org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .hasExistenceDefaultValues(schema))
      org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
        .existenceDefaultValues(schema)
    else null

  private def admit(i: Long): Boolean =
    onlyPositions.forall(a => java.util.Arrays.binarySearch(a, i) >= 0) &&
      skipPositions.forall(a => java.util.Arrays.binarySearch(a, i) < 0)

  /** Assembles the next surviving row into `current`/`rowIdx`; false at
    * the end of the file. */
  private def readRow(): Boolean = {
    while (rowsLeft == 0) {
      val pages = fileReader.readNextFilteredRowGroup()
      if (pages == null) return false
      rowsLeft = pages.getRowCount
      groupStart = pages.getRowIndexOffset.orElseThrow(() =>
        new IllegalStateException(s"graft-snapshot: no row index offset in $file"))
      groupRows = pages.getRowIndexes.orElseGet(() =>
        java.util.stream.LongStream.range(0, rowsLeft).iterator())
      records = columnIO.getRecordReader(
        pages,
        new org.apache.parquet.example.data.simple.convert.GroupRecordConverter(fileSchema),
        FilterCompat.NOOP)
    }
    rowsLeft -= 1
    decoded += 1
    rowIdx = groupStart + groupRows.nextLong()
    current = records.read()
    true
  }

  override def next(): Boolean = {
    while (readRow()) if (admit(rowIdx)) return true
    current = null
    false
  }

  override def get(): InternalRow = {
    val g = current
    val gt = g.getType
    val extra = if (positionTag) 1 else 0
    val vals = new Array[Any](schema.length + tagVals.length + extra)
    var i = 0
    while (i < schema.length) {
      val f = schema(i)
      vals(i) =
        if (!gt.containsField(f.name)) // pre-evolution file: existence
          // default when declared, null-fill otherwise
          (if (existsDefaults != null) existsDefaults(i) else null)
        else {
          val fi = gt.getFieldIndex(f.name)
          if (g.getFieldRepetitionCount(fi) == 0) null
          else readValue(g, gt, fi, f.dataType)
        }
      i += 1
    }
    var j = 0
    while (j < tagVals.length) { // CDF riders: change_type, commit_version
      vals(schema.length + j) = tagVals(j)
      j += 1
    }
    // `_pos`: the in-file row index (counted before the deletion-vector
    // skip, so it names the same position space the sidecars are
    // written in, and taken from the file, so skipped pages keep it)
    if (positionTag) vals(vals.length - 1) = rowIdx
    new GenericInternalRow(vals)
  }

  private def readValue(g: Group, gt: org.apache.parquet.schema.GroupType, fi: Int, dt: DataType): Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val fieldType = gt.getType(fi)
    (dt, fieldType.isPrimitive) match {
      // numeric ARRAY columns (vector embeddings as first-class
      // lakehouse data): standard 3-level LIST encoding —
      //   optional group <name> (LIST) { repeated group list {
      //     optional <prim> element } }
      case (org.apache.spark.sql.types.ArrayType(et, _), false) =>
        val lg = g.getGroup(fi, 0)
        val n = lg.getFieldRepetitionCount(0)
        val elPrim = fieldType.asGroupType().getType(0).asGroupType()
          .getType(0).asPrimitiveType().getPrimitiveTypeName
        val out = new Array[Any](n)
        var j = 0
        while (j < n) {
          val el = lg.getGroup(0, j)
          // an element group with no value is a NULL element (optional
          // element, 3-level encoding) — both our writer and Spark's
          // native parquet writer emit nulls this way
          out(j) =
            if (el.getFieldRepetitionCount(0) == 0) null
            else (et, elPrim) match {
              case (FloatType, FLOAT)    => el.getFloat(0, 0)
              case (DoubleType, DOUBLE)  => el.getDouble(0, 0)
              case (DoubleType, FLOAT)   => el.getFloat(0, 0).toDouble
              case (LongType, INT64)     => el.getLong(0, 0)
              case (LongType, INT32)     => el.getInteger(0, 0).toLong
              case (IntegerType, INT32)  => el.getInteger(0, 0)
              case other =>
                throw new UnsupportedOperationException(
                  s"graft-snapshot: unsupported array element $other in $file")
            }
          j += 1
        }
        return new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
      case _ => ()
    }
    val prim = fieldType.asPrimitiveType().getPrimitiveTypeName
    (dt, prim) match {
      case (LongType, INT64)      => g.getLong(fi, 0)
      case (LongType, INT32)      => g.getInteger(fi, 0).toLong // widened table
      case (IntegerType, INT32)   => g.getInteger(fi, 0)
      case (DoubleType, DOUBLE)   => g.getDouble(fi, 0)
      case (DoubleType, FLOAT)    => g.getFloat(fi, 0).toDouble // widened table
      case (FloatType, FLOAT)     => g.getFloat(fi, 0)
      case (BooleanType, BOOLEAN) => g.getBoolean(fi, 0)
      case (StringType, BINARY)   => UTF8String.fromBytes(g.getBinary(fi, 0).getBytes)
      case (BinaryType, BINARY)   => g.getBinary(fi, 0).getBytes
      case (DateType, INT32)      => g.getInteger(fi, 0)
      case (TimestampType, INT64) => g.getLong(fi, 0) // micros
      case (TimestampNTZType, INT64) => g.getLong(fi, 0) // micros, no zone
      case (TimestampType, INT96) =>
        // Spark's default parquet timestamp: 8 LE bytes nanos-of-day +
        // 4 LE bytes Julian day (epoch day 2440588)
        val b = g.getInt96(fi, 0).getBytes
        val buf = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        val nanos = buf.getLong
        val julian = buf.getInt
        (julian - 2440588L) * 86400L * 1000000L + nanos / 1000L
      case _ =>
        throw new UnsupportedOperationException(
          s"graft-snapshot stream: unsupported column type $dt over parquet $prim " +
            s"in $file (supported: long/int/double/float/boolean/string/binary/date/timestamp)"
        )
    }
  }

  override def close(): Unit = fileReader.close()
}

object GraftSnapshotReader {
  import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
  import org.apache.parquet.filter2.predicate.Operators.{IntColumn, LongColumn}
  import org.apache.parquet.schema.{MessageType, Type}
  import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
  import org.apache.spark.sql.sources._

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
