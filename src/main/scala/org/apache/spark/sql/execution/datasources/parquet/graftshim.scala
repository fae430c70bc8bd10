package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.Footer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** The two steps of Spark's Parquet schema inference job, run on the
  * calling JVM. Spark keeps them package-private, so this one-file shim
  * lives in their package (the `org.apache.spark.sql.graftshim` pattern).
  */
object graftshim {

  /** The footers of `files`, row groups skipped, read by a small thread
    * pool; a corrupt file is left out under `ignoreCorruptFiles`. */
  def footers(spark: SparkSession, files: Seq[FileStatus]): Seq[Footer] =
    ParquetFileFormat.readParquetFootersInParallel(
      spark.sessionState.newHadoopConf(), files,
      spark.sessionState.conf.ignoreCorruptFiles)

  /** Each footer's schema by `readSchema` under the session's current
    * conf, merged in order under the session's case sensitivity, as the
    * job merges them (`readSchema` over many footers would merge
    * case-sensitively). */
  def schema(spark: SparkSession, footers: Seq[Footer]): Option[StructType] =
    footers.flatMap(f => ParquetFileFormat.readSchema(Seq(f), spark))
      .reduceOption(_.merge(_, spark.sessionState.conf.caseSensitiveAnalysis))
}
