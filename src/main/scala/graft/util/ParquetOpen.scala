package graft.util

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader, ParquetFileWriter}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{InMemoryFileIndex, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.runtime.MetadataLogFileIndex
import org.apache.spark.sql.execution.streaming.sinks.FileStreamSink
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** The engine's one way to open parquet paths whose schema lives in the
  * files. `spark.read.parquet(p)` without a schema infers it with
  * `ParquetFileFormat.mergeSchemasInParallel`, a one-task Spark job per
  * open even with `mergeSchema` off, just to read one footer. [[read]]
  * reads that same footer on the driver and hands the result to
  * `spark.read.schema(dataSchema).parquet(paths)`, so an open launches
  * no job; partition columns are still inferred from directory names by
  * Spark's own listing, with the same order and types. (Past Spark's
  * parallel-discovery threshold, 32 directories, listing is itself a
  * job: such an open lists twice, two listing jobs where Spark alone ran
  * one listing and one inference job.)
  *
  * The footer is the one Spark's inference would pick with `mergeSchema`
  * off (`ParquetUtils.inferSchema`): `_common_metadata`, else
  * `_metadata`, else the data file whose full path sorts first, listed by
  * the same file index Spark's read uses (the `_spark_metadata` log for a
  * streaming file sink's output). Wherever Spark's answer could differ,
  * the open is plain `spark.read.parquet`: `spark.sql.parquet.mergeSchema`
  * on, a summary file present, a glob or missing path, no data
  * file (so the caller gets Spark's own "Unable to infer schema" error),
  * a data column that is also a partition column, or any failure while
  * listing or reading the footer (so `ignoreCorruptFiles` and Spark's
  * errors behave as before). */
object ParquetOpen {

  def read(spark: SparkSession, paths: String*): DataFrame =
    footerSchema(spark, paths) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** The footer of one parquet file, opened with read options built from
    * `conf`. Plain `ParquetFileReader.open(in)` builds a fresh Hadoop
    * `Configuration` and re-parses the XML defaults on every call: 10.1
    * ms per open against 0.7 ms with options (50 warm opens of the testdata
    * `orders.parquet` on a 4-vCPU VM). */
  def footer(conf: Configuration, file: Path,
      filter: ParquetMetadataConverter.MetadataFilter =
        ParquetMetadataConverter.NO_FILTER): ParquetMetadata = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf),
      HadoopReadOptions.builder(conf, file).withMetadataFilter(filter).build())
    try reader.getFooter finally reader.close()
  }

  private def footerSchema(spark: SparkSession, paths: Seq[String])
      : Option[StructType] = {
    val sqlConf = spark.sessionState.conf
    if (sqlConf.isParquetSchemaMergingEnabled) None
    else try {
      val conf = spark.sessionState.newHadoopConf()
      fileIndex(spark, paths, conf).flatMap { index =>
        val files = index.allFiles().sortBy(_.getPath.toString)
        val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
          ParquetFileWriter.PARQUET_METADATA_FILE)
        if (files.isEmpty || files.exists(f => summaries(f.getPath.getName)))
          None
        else {
          val first = files.head.getPath
          // the converter mergeSchemasInParallel builds: these five
          // settings from the session, the other three at their defaults
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
            nanosAsLong = sqlConf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              sqlConf.parquetReaderRespectUnknownTypeAnnotation)
          val schema = ParquetFileFormat.readSchemaFromFooter(
            new Footer(first, footer(conf, first,
              ParquetMetadataConverter.SKIP_ROW_GROUPS)), converter)
          // a column both in the files and in the directory names keeps
          // its data-schema position only when Spark infers the schema
          val partCols = index.partitionSchema.fieldNames
          Some(schema).filterNot(_.fieldNames.exists(n =>
            partCols.exists(sqlConf.resolver(_, n))))
        }
      }
    } catch { case NonFatal(_) => None }
  }

  /** The index Spark's own read lists `paths` with: the `_spark_metadata`
    * log of a streaming file sink, else the directory listing; None for a
    * glob (`SparkHadoopUtil.isGlobPath`'s characters) or a missing path,
    * which Spark resolves or refuses itself. */
  private def fileIndex(spark: SparkSession, paths: Seq[String],
      conf: Configuration): Option[PartitioningAwareFileIndex] =
    if (FileStreamSink.hasMetadata(paths, conf, spark.sessionState.conf))
      Some(new MetadataLogFileIndex(spark, new Path(paths.head), Map.empty,
        None))
    else {
      val roots = paths.map(new Path(_))
      if (roots.exists(p => p.toString.exists("{}[]*?\\".contains(_)) ||
          !p.getFileSystem(conf).exists(p))) None
      else Some(new InMemoryFileIndex(spark, roots.map { p =>
        val fs = p.getFileSystem(conf)
        p.makeQualified(fs.getUri, fs.getWorkingDirectory)
      }, Map.empty, None))
    }
}
