package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{classic, SparkSession}
import org.apache.spark.sql.types.StructType

/** Package-placed forwarder, the [[org.apache.spark.sql.execution.datasources.GraftV2Bridge]]
  * policy: Spark's footer-to-schema conversion (`readSchemaFromFooter`)
  * and `StructType.asNullable` are package-private. A bare
  * `spark.read.parquet(file)` reaches the same conversion through a
  * one-task Spark job per call; decoding the one footer here, on the
  * calling thread, gives the identical schema with no job.
  */
object GraftParquetFooter {

  /** The session settings Spark's parquet schema inference reads: a
    * footer without Spark's row metadata decodes differently under
    * each of them, so a memoized schema keys on their values.
    */
  final case class Flags(binaryAsString: Boolean, int96AsTimestamp: Boolean,
                         inferTimestampNTZ: Boolean, nanosAsLong: Boolean,
                         respectUnknownTypeAnnotation: Boolean)

  def flags(s: SparkSession): Flags = {
    val c = s.asInstanceOf[classic.SparkSession].sessionState.conf
    Flags(c.isParquetBinaryAsString, c.isParquetINT96AsTimestamp,
      c.parquetInferTimestampNTZEnabled, c.legacyParquetNanosAsLong,
      c.parquetReaderRespectUnknownTypeAnnotation)
  }

  /** The schema `spark.read.parquet(file)` infers for one parquet file:
    * Spark's row-metadata schema when the writer stored one, otherwise
    * the footer's message type converted under `f`; all fields
    * nullable, as every file-source relation's data schema is. The
    * footer is read through the Hadoop FS, row-group metadata skipped.
    */
  def schema(s: SparkSession, file: String, f: Flags): StructType = {
    val path = new Path(file)
    val conf = s.asInstanceOf[classic.SparkSession].sessionState.newHadoopConf()
    val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(path, conf),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = f.binaryAsString,
      assumeInt96IsTimestamp = f.int96AsTimestamp,
      inferTimestampNTZ = f.inferTimestampNTZ,
      nanosAsLong = f.nanosAsLong,
      respectUnknownTypeAnnotation = f.respectUnknownTypeAnnotation)
    ParquetFileFormat.readSchemaFromFooter(new Footer(path, meta), converter).asNullable
  }
}
