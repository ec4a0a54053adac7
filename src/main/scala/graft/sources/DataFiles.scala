package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.OutputFile
import org.apache.spark.sql.{DataFrameReader, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.{LegacyBehaviorPolicy, SQLConf}
import org.apache.spark.sql.types.StructType

/** The snapshot format's data files, defined once. Every data file a
  * snapshot table references is parquet that Spark's parquet writer
  * lands, by one of two paths: the catalog's task writer
  * ([[SnapshotSqlDataWriter]]: INSERT, CHECK quarantine, the
  * merge-on-read delta's inserts, the streaming sink), which hands its
  * `InternalRow`s to Spark's `ParquetWriteSupport` through [[rowWriter]],
  * or a Spark parquet write staged by [[SnapshotLog]] (every DataFrame
  * commit: copy-on-write DML, OPTIMIZE, MV create and refresh, bucketed
  * commits) through [[write]]. One decoder reads them all: Spark's
  * vectorized parquet reader, behind `SnapshotLog`'s DataFrame reads
  * ([[read]]) and the catalog's scans ([[GraftSnapshotReader]], under
  * [[hadoopConf]]). Writers and reader take their settings from here:
  *
  *   - column chunks are ZSTD at parquet's default level (3), which
  *     lands the benchmark's lineitem tables about 24 % smaller than
  *     SNAPPY;
  *   - timestamps are INT64 TIMESTAMP_MICROS, never Spark's INT96
  *     default: the manifest's footer-stats lifter reads INT64 only, so
  *     an INT96 file would be stats-blind for every skipping, count_by
  *     and partition-purity claim on a timestamp column;
  *   - the catalog's files carry no key-value metadata in their
  *     footer, so nothing in them says a value was calendar-rebased;
  *     they are written CORRECTED (never rebased, whatever the
  *     session's `datetimeRebaseModeInWrite`), as the catalog's reader
  *     reads them;
  *   - a page holds at most [[PageRows]] rows, against parquet's
  *     default of 20,000: the page index then lets a point or range
  *     read skip inside a compacted file of one whole table (OPTIMIZE
  *     packs a sf0.01 lineitem table into one ~60k-row file, which
  *     20,000-row pages split only three ways). A smaller limit a
  *     caller sets in the Hadoop conf or the session still applies;
  *   - zstd-jni's recycling buffer pool is off, on the engine's writes
  *     and on its reads ([[hadoopConf]] behind the catalog's readers,
  *     [[read]] behind `SnapshotLog`'s Spark reads). The pool keeps its
  *     buffers across full collections, about half a MiB of `byte[]` a
  *     long-running driver never gives back. parquet caches one codec
  *     instance per JVM, so the first ZSTD use fixes the setting.
  *
  * The settings apply per write and per read, never in the session conf
  * or the global Hadoop conf: Spark sinks, `Stage` and callers' own
  * files keep their codec. Files written earlier with other settings
  * (SNAPPY, INT96) stay readable as they are; they take these settings
  * when a DML or OPTIMIZE rewrites them.
  */
object DataFiles {

  /** Column-chunk codec of every data file the engine lands. */
  private val Codec: CompressionCodecName = CompressionCodecName.ZSTD

  /** Most rows in one data page. */
  val PageRows: Int = 8192

  /** parquet's `ParquetOutputFormat.PAGE_ROW_COUNT_LIMIT`. */
  private val PageRowsKey = "parquet.page.row.count.limit"

  /** [[PageRows]], or the smaller limit `conf` sets. */
  private def pageRows(conf: Configuration): Int = math.min(PageRows, conf.getInt(PageRowsKey, PageRows))

  /** parquet's `ZstandardCodec.PARQUET_COMPRESS_ZSTD_BUFFERPOOL_ENABLED`. */
  private val BufferPoolKey = "parquet.compression.codec.zstd.bufferPool.enabled"
  private val TimestampTypeKey = "spark.sql.parquet.outputTimestampType"

  /** The session's parquet schema settings Spark's decoder takes from
    * its Hadoop conf, as Spark's own parquet scans hand them over. */
  private val ReaderSettings = Seq(
    SQLConf.PARQUET_BINARY_AS_STRING, SQLConf.PARQUET_INT96_AS_TIMESTAMP,
    SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED, SQLConf.LEGACY_PARQUET_NANOS_AS_LONG)

  /** The Hadoop-conf settings `ParquetWriteSupport` and its schema
    * converter read, and fail on when one is missing. */
  private val RowWriterSettings = Seq(
    SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key -> "false",
    TimestampTypeKey -> "TIMESTAMP_MICROS",
    SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key -> "false",
    SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key -> "false")

  /** `ParquetWriteSupport` takes its rebase mode from the active
    * `SQLConf` when it is built; this one writes dates and timestamps
    * as they are. */
  private lazy val rowWriterSqlConf: SQLConf = {
    val c = new SQLConf
    c.setConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE, LegacyBehaviorPolicy.CORRECTED)
    c
  }

  /** A fresh copy of the session's Hadoop conf for the executor-side
    * reader ([[GraftSnapshotReader]]) and writers ([[rowWriter]]) of
    * data files. */
  def hadoopConf(spark: SparkSession): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.setBoolean(BufferPoolKey, false)
    ReaderSettings.foreach(e => c.setBoolean(e.key, spark.sessionState.conf.getConf(e)))
    c
  }

  /** Opens a writer of one data file at `path` that lands `schema`'s
    * rows through Spark's `ParquetWriteSupport`; `conf` is a
    * [[hadoopConf]] shipped to the task. */
  def rowWriter(
      path: String,
      schema: StructType,
      conf: Configuration
  ): ParquetWriter[InternalRow] =
    new RowWriterBuilder(HadoopOutputFile.fromPath(new Path(path), conf), schema)
      .withConf(conf)
      .withCompressionCodec(Codec)
      .withPageRowCountLimit(pageRows(conf))
      .build()

  private class RowWriterBuilder(file: OutputFile, schema: StructType)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](file) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      SQLConf.withExistingConf(rowWriterSqlConf)(new RowWriteSupport(schema))
  }

  /** Spark's row write support with the schema and settings above, and
    * a footer without Spark's key-value metadata. */
  private class RowWriteSupport(schema: StructType) extends ParquetWriteSupport {
    override def init(conf: Configuration): WriteSupport.WriteContext = {
      val c = new Configuration(conf)
      ParquetWriteSupport.setSchema(schema, c)
      RowWriterSettings.foreach { case (k, v) => c.set(k, v) }
      new WriteSupport.WriteContext(super.init(c).getSchema, java.util.Collections.emptyMap())
    }
  }

  /** Spark reader of data files. */
  def read(spark: SparkSession): DataFrameReader =
    spark.read.option(BufferPoolKey, "false")

  /** Lands `writer`'s rows as data files under `dir`. The timestamp
    * type is a session-level setting in Spark's parquet writer, so it
    * is set for the duration of this write and restored after. */
  def write(spark: SparkSession, writer: DataFrameWriter[Row], dir: String): Unit = {
    graft.withConf(spark, TimestampTypeKey -> "TIMESTAMP_MICROS") {
      writer
        .option("compression", Codec.name.toLowerCase(java.util.Locale.ROOT))
        .option(BufferPoolKey, "false")
        .option(PageRowsKey, pageRows(spark.sessionState.newHadoopConf()).toString)
        .parquet(dir)
    }
  }
}
