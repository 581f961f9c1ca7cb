package graft.streaming

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, SparkToParquetSchemaConverter}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructType}
import scala.jdk.CollectionConverters._

/** The collector's small tables — the registry and watermark snapshots
  * and the per-round manifest, a few dozen rows each — read and written
  * on the driver through parquet-hadoop on the work dir's Hadoop
  * `FileSystem`: no Spark job, no Catalyst plan, no commit protocol.
  * The files are the ones Spark's own writer produces for the same
  * schema (same parquet message type, snappy, the Spark schema in the
  * footer), so `spark.read.parquet` reads them like any other table.
  *
  * A snapshot directory is replaced without ever being empty: the new
  * file is written under a hidden name, renamed next to the old files
  * under a name carrying its round, and only then are the older files
  * deleted. Its footer records the round it commits ([[RoundKey]]);
  * a reader that finds several files takes the highest committed round,
  * and reads a directory of files without the key (Spark-written) as one
  * snapshot. */
private[graft] object StateFiles {

  /** Footer key-value entry holding the round a snapshot file commits. */
  val RoundKey = "graft.collector.round"

  /** Footer key of the writing Spark version, as Spark's writer sets it
    * (its own constant is private to Spark). */
  private val SparkVersionKey = "org.apache.spark.version"

  /** One snapshot: its rows and the round it commits (`None` when it was
    * written by Spark's writer, which records no round). */
  final case class Snapshot(rows: Seq[Row], round: Option[Long])

  private def conf(spark: SparkSession): Configuration = spark.sparkContext.hadoopConfiguration

  private def fsOf(spark: SparkSession, dir: Path): FileSystem = dir.getFileSystem(conf(spark))

  /** Write `rows` (columns in `schema` order) as one snappy parquet file
    * of the message type Spark's writer derives from `schema`, with `meta`
    * and the Spark version and schema in its footer. */
  def write(spark: SparkSession, file: Path, schema: StructType, rows: Seq[Row],
      meta: Map[String, String]): Unit = {
    val mt = new SparkToParquetSchemaConverter(SQLConf.get).convert(schema)
    val footer = meta ++ Map(
      SparkVersionKey -> org.apache.spark.SPARK_VERSION_SHORT,
      ParquetReadSupport.SPARK_METADATA_KEY -> schema.json)
    val writer = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(file, conf(spark)))
      .withConf(conf(spark))
      .withType(mt)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withExtraMetaData(footer.asJava)
      .build()
    try rows.foreach { r =>
      val g = new SimpleGroup(mt)
      schema.fields.indices.filterNot(r.isNullAt).foreach { i =>
        schema(i).dataType match {
          case StringType => g.add(i, r.getString(i))
          case LongType => g.add(i, r.getLong(i))
          case IntegerType => g.add(i, r.getInt(i))
          case t => throw new IllegalArgumentException(s"state column type $t")
        }
      }
      writer.write(g)
    } finally writer.close()
  }

  /** Open one parquet file with read options taken from the session's
    * Hadoop conf: the default options build a fresh `Configuration`,
    * ~10 ms per file. */
  private def open(spark: SparkSession, file: FileStatus): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf(spark)),
      HadoopReadOptions.builder(conf(spark), file.getPath).build())

  /** Rows (columns matched to `schema` by name) and footer key-value
    * metadata of one parquet file. */
  def read(spark: SparkSession, file: FileStatus, schema: StructType): (Seq[Row], Map[String, String]) = {
    val reader = open(spark, file)
    try {
      val meta = reader.getFooter.getFileMetaData
      val fileType = meta.getSchema
      val cols = schema.fields.map(f => (fileType.getFieldIndex(f.name), f.dataType))
      def value(g: Group, i: Int, t: org.apache.spark.sql.types.DataType): Any =
        if (g.getFieldRepetitionCount(i) == 0) null
        else t match {
          case StringType => g.getString(i, 0)
          case LongType => g.getLong(i, 0)
          case IntegerType => g.getInteger(i, 0)
          case other => throw new IllegalArgumentException(s"state column type $other")
        }
      val io = new ColumnIOFactory().getColumnIO(fileType)
      val rows = Seq.newBuilder[Row]
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = io.getRecordReader(pages, new GroupRecordConverter(fileType))
        (0L until pages.getRowCount).foreach { _ =>
          val g = records.read()
          rows += Row.fromSeq(cols.toSeq.map { case (i, t) => value(g, i, t) })
        }
        pages = reader.readNextRowGroup()
      }
      (rows.result(), meta.getKeyValueMetaData.asScala.toMap)
    } finally reader.close()
  }

  /** Everything directly under `dir`, empty when `dir` is missing. Only
    * a missing dir reads as empty; any other FS error propagates. */
  def entries(spark: SparkSession, dir: Path): Seq[FileStatus] =
    if (!CollectorLoop.exists(spark, dir.toString)) Nil
    else fsOf(spark, dir).listStatus(dir).toSeq

  /** Data files directly under `dir`: hidden (`_SUCCESS`, `.crc`, a
    * half-written `.tmp`) and sub-dirs are not data. */
  def dataFiles(spark: SparkSession, dir: Path): Seq[FileStatus] =
    entries(spark, dir).filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }

  /** Rows in the parquet files directly under `dir`, summed from their
    * footers — the metadata Spark's `count()` over the dir reads, without
    * a job. */
  def rowCount(spark: SparkSession, dir: Path): Long =
    dataFiles(spark, dir).map { st =>
      val reader = open(spark, st)
      try reader.getRecordCount finally reader.close()
    }.sum

  /** The snapshot under `dir`, `None` when there is no data file. Of
    * several files carrying [[RoundKey]], the highest round wins (the
    * later name on a tie: a round written twice); files without the
    * key were written together by Spark's writer and form one snapshot. */
  def readSnapshot(spark: SparkSession, dir: Path, schema: StructType): Option[Snapshot] = {
    val files = dataFiles(spark, dir).map(st => st -> read(spark, st, schema))
    val committed = files.flatMap { case (st, (rows, meta)) =>
      meta.get(RoundKey).map(r => (r.toLong, st.getPath.getName, rows))
    }
    if (files.isEmpty) None
    else if (committed.isEmpty) Some(Snapshot(files.flatMap(_._2._1), None))
    else committed.maxBy { case (r, name, _) => (r, name) } match {
      case (r, _, rows) => Some(Snapshot(rows, Some(r)))
    }
  }

  /** Replace the snapshot under `dir` by `rows`, committing `round`:
    * write a hidden file, rename it to `part-r<round>-<n>.snappy.parquet`
    * next to the old files, then delete those. A crash before the rename
    * leaves the old snapshot in place; a failed delete leaves an older
    * file the reader passes over, removed by the next replacement. */
  def writeSnapshot(spark: SparkSession, dir: Path, schema: StructType, rows: Seq[Row],
      round: Long): Unit = {
    val fs = fsOf(spark, dir)
    val old = entries(spark, dir)
    val prefix = s"part-r$round-"
    val name = f"$prefix${old.count(_.getPath.getName.startsWith(prefix))}%03d.snappy.parquet"
    val tmp = new Path(dir, s".$name.tmp")
    write(spark, tmp, schema, rows, Map(RoundKey -> round.toString))
    if (!fs.rename(tmp, new Path(dir, name)))
      throw new java.io.IOException(s"snapshot rename failed: $tmp -> $name")
    old.foreach { st =>
      try fs.delete(st.getPath, true)
      catch {
        case e: java.io.IOException =>
          System.err.println(s"[collector] could not delete old snapshot file ${st.getPath}: ${e.getMessage}")
      }
    }
  }
}
