package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The engine's one batch parquet reader. `spark.read.parquet(...)`
  * without a schema infers it through `mergeSchemasInParallel`: a
  * scheduled 1-task Spark job per read call, even for one tiny file
  * (15 of the 47 jobs of one pass over an 11-query mix of the synthetic
  * tables; ~17 per q80 nightly loop over the store segments). [[read]]
  * reads the schema from one data file's footer on the driver instead.
  *
  * Parity with inference: without `mergeSchema`, inference also reads
  * one file's footer through `readSchemaFromFooter` (the schema a Spark
  * writer stored, else the parquet schema converted under the session's
  * flags, nanos-as-long included), and the reader makes data columns
  * nullable and discovers `k=v` partition columns the same way either
  * way. Lives under org.apache.spark.sql.* for `private[sql]` access to
  * ParquetToSparkSchemaConverter (same pattern as [[ColumnBridge]]).
  */
object ParquetSchemaBridge {

  /** `spark.read.parquet(paths: _*)` with the footer schema of the first
    * data file under `paths` (one table's files share a schema by
    * construction); plain inference when no path holds a data file.
    */
  def read(spark: SparkSession, paths: String*): DataFrame =
    paths.view.flatMap(p => schemaOf(spark, new Path(p))).headOption match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None => spark.read.parquet(paths: _*)
    }

  /** Footer schema (without partition columns) of `path` if it is a
    * file, else of the first non-hidden, non-empty `.parquet` file in
    * the directory or in its `k=v` partition directories. None when
    * `path` does not exist or holds no data file.
    */
  def schemaOf(spark: SparkSession, path: Path): Option[StructType] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val fs = path.getFileSystem(hadoopConf)
    if (!fs.exists(path)) None
    else firstDataFile(fs, path).map { file =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromPath(file, hadoopConf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val sqlConf = spark.sessionState.conf
      ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
        new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = sqlConf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = sqlConf.isParquetINT96AsTimestamp,
          caseSensitive = sqlConf.caseSensitiveAnalysis,
          inferTimestampNTZ = sqlConf.parquetInferTimestampNTZEnabled,
          nanosAsLong = sqlConf.legacyParquetNanosAsLong))
    }
  }

  private def firstDataFile(fs: FileSystem, path: Path): Option[Path] = {
    val st = fs.getFileStatus(path)
    if (st.isFile) Some(path).filter(_ => st.getLen > 0)
    else {
      val visible = fs.listStatus(path).toSeq
        .filterNot(s => "_.".contains(s.getPath.getName.head))
      visible.find(s => s.isFile && s.getLen > 0 &&
          s.getPath.getName.endsWith(".parquet")).map(_.getPath)
        .orElse(visible.iterator
          .filter(s => s.isDirectory && s.getPath.getName.contains("="))
          .flatMap(s => firstDataFile(fs, s.getPath)).nextOption())
    }
  }
}
