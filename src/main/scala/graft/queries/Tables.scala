package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.core.Fs

/** The input tables of the query packs, `<dir>/<name>.parquet`: read in
  * batch through [[Fs.parquet]]'s footer cache, or as a file-stream
  * source over `dir` glob-filtered down to the one table (the file
  * stream source wants a directory). */
private[queries] object Tables {

  def apply(s: SparkSession, dir: String, name: String): DataFrame =
    Fs.parquet(s, s"$dir/$name.parquet")

  def stream(s: SparkSession, dir: String, name: String): DataFrame =
    stream(s, dir, name, apply(s, dir, name).schema)

  /** The stream under a schema the caller resolved (the events `ts`
    * rule of [[Relational.eventsTs]]). */
  def stream(s: SparkSession, dir: String, name: String,
             schema: StructType): DataFrame =
    s.readStream.schema(schema)
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)
}
