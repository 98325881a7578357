package org.apache.spark.sql.execution.datasources.parquet

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** One parquet file's Spark schema, read driver-side from its footer
  * through the converter schema inference itself uses (the Spark
  * schema a Spark writer stamps into the footer wins, else the parquet
  * schema converts under the session's settings) — for files whose
  * schema no writer handed over (converted, pre-existing data).
  */
object GraftParquetBridge {
  def footerSchema(spark: SparkSession, file: java.nio.file.Path): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(file.toUri)
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf))
    try ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(path, reader.getFooter),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    finally reader.close()
  }
}
