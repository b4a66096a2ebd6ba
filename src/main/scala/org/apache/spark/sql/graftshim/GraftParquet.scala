package org.apache.spark.sql.graftshim

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.api.InitContext
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Read a small Parquet dataset on the calling thread (companion of
  * [[GraftColumn]]): Spark's own row-based Parquet read support —
  * the `ParquetReadSupport` a file scan task uses, configured the way
  * `ParquetFileFormat` configures it — driven by parquet-hadoop's file
  * reader, with no Spark job. Unlike `ParquetFileFormat`'s reader
  * factory, nothing is broadcast: the Hadoop conf is a per-call copy of
  * the session's, used on this thread only.
  */
object GraftParquet {

  /** The rows of the Parquet files directly under `dir`, read with
    * `schema` (missing columns read as null, as in a file scan), as
    * schema-carrying rows in a file scan's order (largest file first).
    * `dir` must not be partitioned: partition columns are derived by
    * Spark's file index, which this reader does not use. */
  def readLocal(spark: SparkSession, dir: String, schema: StructType): Array[Row] = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sqlConf = session.sessionState.conf
    val conf = session.sessionState.newHadoopConf()
    val path = new Path(dir)
    val (subdirs, files) = path.getFileSystem(conf).listStatus(path).toSeq
      .filterNot(s => hidden(s.getPath.getName))
      .partition(_.isDirectory)
    require(subdirs.isEmpty, s"$dir is partitioned; read it with Spark")
    // ParquetFileFormat's reader settings
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    // a file scan packs files largest first and keeps that order
    val ordered = files.sortBy(f => (-f.getLen, f.getPath.getName))
    SQLConf.withExistingConf(sqlConf) {
      ordered.flatMap(f => readFile(f, conf, sqlConf, toRow)).toArray
    }
  }

  /** Spark's listing filter: `_`- and `.`-prefixed names are metadata. */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** One file's rows, row group by row group (parquet-hadoop's record
    * reader loop), each converted to an external row right away: the
    * materializer reuses its current record. */
  private def readFile(file: FileStatus,
                       conf: org.apache.hadoop.conf.Configuration,
                       sqlConf: SQLConf, toRow: Any => Any): Seq[Row] = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, conf),
      HadoopReadOptions.builder(conf, file.getPath).build())
    try {
      val meta = reader.getFooter.getFileMetaData
      val kv = meta.getKeyValueMetaData
      val options = new ParquetOptions(Map.empty[String, String], sqlConf)
      val convertTz =
        if (sqlConf.isParquetINT96TimestampConversion &&
            !meta.getCreatedBy.startsWith("parquet-mr"))
          Some(DateTimeUtils.getZoneId(sqlConf.sessionLocalTimeZone))
        else None
      val support = new ParquetReadSupport(convertTz,
        enableVectorizedReader = false,
        DataSourceUtils.datetimeRebaseSpec(kv.get, options.datetimeRebaseModeInRead),
        DataSourceUtils.int96RebaseSpec(kv.get, options.int96RebaseModeInRead))
      val context = support.init(new InitContext(conf,
        kv.asScala.map { case (k, v) => k -> java.util.Set.of(v) }.asJava,
        meta.getSchema))
      reader.setRequestedSchema(context.getRequestedSchema)
      val materializer = support.prepareForRead(conf, kv, meta.getSchema, context)
      val columns = new ColumnIOFactory(meta.getCreatedBy)
        .getColumnIO(context.getRequestedSchema, meta.getSchema, true)
      val rows = Seq.newBuilder[Row]
      var pages = reader.readNextRowGroup()
      while (pages != null) {
        val records = columns.getRecordReader(pages, materializer)
        var i = 0L
        while (i < pages.getRowCount) {
          val r: InternalRow = records.read()
          if (r != null) rows += toRow(r).asInstanceOf[Row]
          i += 1
        }
        pages = reader.readNextRowGroup()
      }
      rows.result()
    } finally reader.close()
  }
}
