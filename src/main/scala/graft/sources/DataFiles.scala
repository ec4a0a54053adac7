package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrameReader, DataFrameWriter, Row, SparkSession}

/** The snapshot format's data files, defined once. Every data file a
  * snapshot table references is parquet that one of two writers lands:
  * the Group-API task writers of the catalog (INSERT, CHECK quarantine,
  * the merge-on-read delta's inserts, the streaming sink) or a Spark
  * parquet write staged by [[SnapshotLog]] (every DataFrame commit:
  * copy-on-write DML, OPTIMIZE, MV create and refresh, bucketed
  * commits). Both take their settings from here:
  *
  *   - column chunks are ZSTD at parquet's default level (3), which
  *     lands the benchmark's lineitem tables about 24 % smaller than
  *     SNAPPY;
  *   - timestamps are INT64 TIMESTAMP_MICROS, never Spark's INT96
  *     default: the manifest's footer-stats lifter reads INT64 only, so
  *     an INT96 file would be stats-blind for every skipping, count_by
  *     and partition-purity claim on a timestamp column;
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

  /** parquet's `ZstandardCodec.PARQUET_COMPRESS_ZSTD_BUFFERPOOL_ENABLED`. */
  private val BufferPoolKey = "parquet.compression.codec.zstd.bufferPool.enabled"
  private val TimestampTypeKey = "spark.sql.parquet.outputTimestampType"

  /** A fresh copy of the session's Hadoop conf for the executor-side
    * Group-API readers and writers of data files. */
  def hadoopConf(spark: SparkSession): Configuration = {
    val c = spark.sessionState.newHadoopConf()
    c.setBoolean(BufferPoolKey, false)
    c
  }

  /** Opens a Group-API writer of one data file at `path`; `conf` is a
    * [[hadoopConf]] shipped to the task. */
  def groupWriter(
      path: String,
      messageType: MessageType,
      conf: Configuration
  ): ParquetWriter[Group] =
    ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(path), conf))
      .withType(messageType)
      .withConf(conf)
      .withCompressionCodec(Codec)
      .build()

  /** Spark reader of data files. */
  def read(spark: SparkSession): DataFrameReader =
    spark.read.option(BufferPoolKey, "false")

  /** Lands `writer`'s rows as data files under `dir`. The timestamp
    * type is a session-level setting in Spark's parquet writer, so it
    * is set for the duration of this write and restored after. */
  def write(spark: SparkSession, writer: DataFrameWriter[Row], dir: String): Unit = {
    val prevTs = spark.conf.getOption(TimestampTypeKey)
    spark.conf.set(TimestampTypeKey, "TIMESTAMP_MICROS")
    try
      writer
        .option("compression", Codec.name.toLowerCase(java.util.Locale.ROOT))
        .option(BufferPoolKey, "false")
        .parquet(dir)
    finally prevTs match {
      case Some(v) => spark.conf.set(TimestampTypeKey, v)
      case None    => spark.conf.unset(TimestampTypeKey)
    }
  }
}
