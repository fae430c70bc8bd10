package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.storage.RDDBlockId

/** Column <-> Expression bridge. Spark 4 made the classic converters
  * `private[sql]`, so this one-file shim lives under the
  * `org.apache.spark.sql` namespace (the standard pattern for third-party
  * Catalyst extension libraries) and re-exports the two calls the engine
  * needs to lift a custom `Expression` into the public `Column` API. It
  * also reads one `private[spark]` figure: a cached RDD's size as the
  * block manager master holds it.
  */
object shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Bytes, memory plus disk, the block manager master records for the
    * cached blocks of RDD `rddId`. Every block put reports to the master
    * before its task ends, so the figure is complete once the job that
    * cached the RDD has returned; the public
    * `SparkContext.getRDDStorageInfo` reads the listener-fed status
    * store instead, which lags the master and throttles block updates. */
  def cachedBytes(sc: SparkContext, rddId: Int): Long =
    sc.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks).collect {
        case (RDDBlockId(`rddId`, _), s) => s.memSize + s.diskSize
      }.sum
}
