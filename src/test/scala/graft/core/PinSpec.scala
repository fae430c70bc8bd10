package graft.core

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core.Pin.PinOps

/** Pins [[Pin]]'s checkpoint selection and value-identity: the
  * session's checkpoint dir must never change WHAT a pin materializes,
  * only where the blocks live. */
class PinSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def frame() = {
    import spark.implicits._
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .filter(org.apache.spark.sql.functions.col("id") > 1L)
  }

  test("auto without a checkpoint dir pins executor-local, values equal") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "suite premise: the shared test session has no checkpoint dir")
    val p = frame().pinned()
    // localCheckpoint plans as a truncated ExistingRDD scan
    assert(p.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.nodeName.contains("LogicalRDD")))
    assert(p.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
  }

  test("auto with a checkpoint dir pins reliably, values equal") {
    val dir = SparkSpec.tmpDir("graft-pin-ckpt-")
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val p = frame().pinned()
      assert(p.collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
      // a reliable checkpoint writes RDD blocks under the dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        .filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable pin wrote nothing to the checkpoint dir")
    } finally {
      // the shared session must leave no checkpoint dir behind for
      // other suites (auto mode keys on its presence)
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  test("a reliable pin computes its plan once") {
    import org.apache.spark.sql.functions.{col, udf}
    val dir = SparkSpec.tmpDir("graft-pin-once-")
    val calls = spark.sparkContext.longAccumulator("pin-udf-calls")
    val bump = udf { (x: Long) => calls.add(1L); x }.asNondeterministic()
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val p = spark.range(0, 50, 1, 4).toDF("id")
        .select(bump(col("id")).as("id")).pinned()
      assert(calls.sum == 50L,
        s"the pinned plan ran ${calls.sum} UDF calls for 50 rows")
      assert(p.collect().map(_.getLong(0)).sorted.toSeq == (0L until 50L))
      assert(calls.sum == 50L, "reading the pin recomputed the plan")
    } finally spark.sparkContext.setCheckpointDir(null)
  }
}
