package graft.ops

import org.apache.spark.graftshim.Jobs
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark jobs per iterative fit, pinned: a Lloyd fit is one seed collect
  * plus two jobs per iteration (the aggregate's shuffle-map stage and its
  * result), whatever the assignment form and however many subspaces; a
  * trainer is one job per iteration plus the jobs that materialize its
  * cached input (one fold, and one count when the input is reshaped). */
class FitJobsSpec extends AnyFunSuite {
  import graft.SparkSpec.spark
  import spark.implicits._

  private def jobs[A](f: => A): Int = Jobs.count(spark.sparkContext)(f)._2

  /** Deterministic 8-dim float vectors from a hash (no RNG). */
  private def vectors(n: Int) = (0L until n.toLong).map { id =>
    (id, Array.tabulate(8) { j =>
      val h = SimHash64.fmix64(id * 31L + j)
      ((h & 0xffff).toFloat / 65536.0f) - 0.5f
    })
  }.toDF("vec_id", "embedding")

  test("spherical Lloyd runs 1 + 2 * iters jobs at and above the " +
    "literal argmax ceiling") {
    val df = vectors(400)
    for (k <- Seq(16, Similarity.literalArgmaxCeiling,
        Similarity.literalArgmaxCeiling + 36); iters <- Seq(1, 3)) {
      assert(jobs(Similarity.kmeansCentroids(df, k, iters)) == 1 + 2 * iters,
        s"k=$k iters=$iters")
    }
  }

  test("PQ Lloyd over m = 4 subspaces runs 1 + 2 * iters jobs") {
    val df = vectors(400)
    for (iters <- Seq(1, 3))
      assert(jobs(Similarity.lloyd(df, k = 8, iters = iters, "vec_id",
        "embedding", m = 4, sub = 2)(Similarity.assignCentroidL2,
        Similarity.floor6)) == 1 + 2 * iters, s"iters=$iters")
  }

  test("each trainer runs iters jobs plus its cache materialization") {
    val rows = (0 until 200).map { i =>
      val a = i % 5; val b = (i / 5) % 5
      (i.toLong, Seq(a.toDouble, b.toDouble), Array(a, 5 + b),
        if (a > b) 1 else 0)
    }.toDF("id", "f", "idx", "y")
    // four input partitions coalesce to one task: a fold and a count;
    // one input partition is kept: the fold alone
    for ((df, cache) <- Seq(rows -> 2, rows.coalesce(1) -> 1);
         iters <- Seq(1, 3)) {
      val label = df.withColumn("pos", col("y") === 1)
      assert(jobs(Classifier.trainLogistic(label, "f", "pos", 2,
        iters = iters)) == iters + cache, s"trainLogistic $iters")
      assert(jobs(Classifier.trainLogisticSparse(label, "idx", "pos", 10,
        iters = iters)) == iters + cache, s"trainLogisticSparse $iters")
      assert(jobs(Classifier.trainSoftmax(df, "f", "y", 2, 2,
        iters = iters)) == iters + cache, s"trainSoftmax $iters")
      assert(jobs(Classifier.trainSoftmaxSparse(df, "idx", "y", 10, 2,
        iters = iters)) == iters + cache, s"trainSoftmaxSparse $iters")
    }
  }
}
