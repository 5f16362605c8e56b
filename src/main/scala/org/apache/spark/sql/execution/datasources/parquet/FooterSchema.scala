package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The Spark internal [[graft.operators.TableStore.readParquet]] reads:
  * `ParquetFileFormat.readSchema` is package-private.
  */
object FooterSchema {

  /** The schema Spark's parquet inference gives `file`, read from its
    * footer on the driver: the same conversion, under `spark`'s confs
    * (nanos-as-long, timestamp-NTZ inference, binary-as-string), without
    * the Spark job inference runs to read that footer.
    */
  def of(spark: SparkSession, file: Path): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file, footer)), spark).get
  }
}
