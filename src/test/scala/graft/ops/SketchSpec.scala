package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KMV/theta sketches: exact below k (the oracle regime), bounded-error
  * estimates above it, partitioning-invariant results, and set algebra
  * consistent with the true distinct sets. */
class SketchSpec extends AnyFunSuite {
  import graft.SparkSpec.spark
  import spark.implicits._

  /** Per-group `(group, est_distinct)` through the KMV aggregate. */
  private def groupDistinct(df: org.apache.spark.sql.DataFrame,
                            groupCol: String,
                            key: org.apache.spark.sql.Column, k: Int) =
    df.groupBy(col(groupCol))
      .agg(round(Sketch.estimate(Sketch.kmvAgg(key, k))).cast("long"))

  test("exact regime: estimate, overlap matrix, and union equal the " +
    "true distinct counts; null keys ignored like COUNT(DISTINCT)") {
    val rnd = new scala.util.Random(7)
    // three groups with engineered overlap, plus nulls and duplicates
    val rows = (0 until 4000).map { i =>
      val g = s"g${i % 3}"
      val v: java.lang.Long = if (i % 97 == 0) null else (i % 700).toLong
      (g, v)
    } ++ Seq(("g0", null: java.lang.Long))
    val df = rows.toDF("g", "v").repartition(13)

    val est = groupDistinct(df, "g", col("v"), k = 1024)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = df.groupBy("g").agg(countDistinct(col("v")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == truth)

    val m = Sketch.overlapMatrix(df, "g", col("v"), k = 1024)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    def dset(g: String): Set[Long] = rows
      .filter(r => r._1 == g && r._2 != null).map(_._2.toLong).toSet
    for (((a, b), (na, nb, nc, nu)) <- m) {
      assert(na == dset(a).size && nb == dset(b).size)
      assert(nc == (dset(a) intersect dset(b)).size)
      assert(nu == (dset(a) union dset(b)).size)
    }
    assert(m.keySet == Set(("g0", "g1"), ("g0", "g2"), ("g1", "g2")))

    // a-not-b completes the algebra: exact |A \ B| per DIRECTED pair
    val sk = df.groupBy(col("g").as("gg"))
      .agg(Sketch.kmvAgg(col("v"), 1024).as("sk"))
    val diff = sk.select(col("gg").as("ga"), col("sk").as("sa"))
      .join(sk.select(col("gg").as("gb"), col("sk").as("sb")),
        col("ga") =!= col("gb"))
      .select(col("ga"), col("gb"),
        round(Sketch.aNotBEstimate(col("sa"), col("sb")))
          .cast("long").as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(diff.size == 6)
    for (((a, b), n) <- diff)
      assert(n == (dset(a) -- dset(b)).size, s"$a \\ $b")
  }

  test("sketch blobs are partitioning-invariant (order-free merge)") {
    val data = (0 until 5000).map(i => ("g", (i * 2654435761L) % 1200))
    val one = data.toDF("g", "v").coalesce(1)
      .groupBy("g").agg(Sketch.kmvAgg(col("v"), 256).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val many = data.toDF("g", "v").repartition(17)
      .groupBy("g").agg(Sketch.kmvAgg(col("v"), 256).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(one, many))
  }

  test("estimate regime: relative error bounded, union/intersection " +
    "track the truth, full-KMV theta view excludes the k-th value") {
    val k = 512
    // two groups of 40k distinct keys with a 10k-key shared band
    val rows =
      (0 until 40000).map(i => ("a", i.toLong)) ++
      (0 until 40000).map(i => ("b", i.toLong + 30000L))
    val df = rows.toDF("g", "v").repartition(31)
    val m = Sketch.overlapMatrix(df, "g", col("v"), k = k).head()
    val (na, nb, nc, nu) =
      (m.getLong(2), m.getLong(3), m.getLong(4), m.getLong(5))
    def relErr(est: Long, truth: Double): Double =
      math.abs(est - truth) / truth
    // rse ~ 1/sqrt(k-2) = 4.4%; 5 sigma would be a broken sketch
    assert(relErr(na, 40000) < 0.15, s"n_a=$na")
    assert(relErr(nb, 40000) < 0.15, s"n_b=$nb")
    assert(relErr(nu, 70000) < 0.15, s"n_union=$nu")
    // intersection error compounds (common-below-theta is a smaller
    // sample); allow a wider band but demand the right magnitude
    assert(nc > 4000 && nc < 20000, s"n_common=$nc (truth 10000)")
    // inclusion-exclusion should roughly close
    assert(math.abs((na + nb - nc) - nu) < 0.2 * nu)
    // a-not-b in the estimate regime: right magnitude (truth 30000)
    val sk2 = df.groupBy(col("g").as("gg"))
      .agg(Sketch.kmvAgg(col("v"), k).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk")).toMap
    val est = Seq(("a", "b"), ("b", "a")).map { case (x, y) =>
      Sketch.aNotBBlobs(sk2(x), sk2(y))
    }
    est.foreach(e => assert(e > 20000 && e < 40000, s"a-not-b est=$e"))
  }

  test("incremental sketch table: any batch split folds to the " +
    "one-shot aggregate bit-for-bit; replay is idempotent") {
    import graft.SparkSpec.tmpDir
    val rnd = new scala.util.Random(23)
    val rows = (0 until 3000).map { i =>
      (s"g${i % 4}", rnd.nextInt(900).toLong)
    }
    val df = rows.toDF("g", "v")
    val oneShot = df.groupBy(col("g").cast("string").as("g"))
      .agg(Sketch.kmvAgg(col("v"), 256).as("sk"))
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk"))
      .toMap
    val p = tmpDir("graft-sketch-inc-") + "/sk"
    // three uneven batches, one of them REPLAYED (at-least-once)
    val b1 = df.filter(col("v") < 300)
    val b2 = df.filter(col("v") >= 300 && col("v") < 400)
    val b3 = df.filter(col("v") >= 400)
    Sketch.incrementalSketch(b1, p, "g", col("v"), k = 256)
    Sketch.incrementalSketch(b2, p, "g", col("v"), k = 256)
    Sketch.incrementalSketch(b2, p, "g", col("v"), k = 256) // replay
    val folded = Sketch.incrementalSketch(b3, p, "g", col("v"), k = 256)
      .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]]("sk"))
      .toMap
    assert(folded.keySet == oneShot.keySet)
    for ((g, blob) <- oneShot)
      assert(java.util.Arrays.equals(folded(g), blob), s"group $g")
    // the overlap matrix from the table == the batch overlap matrix
    val fromTable = Sketch.overlapMatrixFromSketches(
      spark.read.parquet(p)).collect().map(_.toSeq).toSeq
    val fromBatch = Sketch.overlapMatrix(df, "g", col("v"), k = 256)
      .collect().map(_.toSeq).toSeq
    assert(fromTable == fromBatch)
  }

  test("incremental sketch table: a null group key MERGES with the " +
    "stored null-group row (null-safe join), staying bit-identical to " +
    "the one-shot aggregate") {
    import graft.SparkSpec.tmpDir
    val rows = Seq[(String, Long)](
      (null, 1L), (null, 2L), ("g", 1L), (null, 3L), ("g", 9L))
    val df = rows.toDF("g", "v")
    val p = tmpDir("graft-sketch-nullg-") + "/sk"
    // two batches that BOTH contain null-group rows: without a null-safe
    // join the second batch would mint a second null row per fold
    Sketch.incrementalSketch(df.filter(col("v") < 3), p, "g", col("v"), 64)
    val folded = Sketch.incrementalSketch(
      df.filter(col("v") >= 3), p, "g", col("v"), 64)
      .collect().map(r => Option(r.getString(0)) -> r.getAs[Array[Byte]]("sk"))
      .toMap
    val oneShot = df.groupBy(col("g").cast("string").as("g"))
      .agg(Sketch.kmvAgg(col("v"), 64).as("sk"))
      .collect().map(r => Option(r.getString(0)) -> r.getAs[Array[Byte]]("sk"))
      .toMap
    assert(folded.keySet == oneShot.keySet) // exactly ONE null-group row
    for ((g, blob) <- oneShot)
      assert(java.util.Arrays.equals(folded(g), blob), s"group $g")
  }

  test("exactRegimeK sizes k from the data: a 10x-scaled fixture that " +
    "would overflow a fixed k stays exact; over-cap groups throw") {
    // 10x the sf0.1 audience shape: ~15k distinct users in one group —
    // past the old fixed k=4096, so this is exactly the driver-drift
    // scenario the sizing rule exists for
    val rows = (0 until 60000).map { i =>
      (s"t${i % 3}", (i % (15000 + 2000 * (i % 3))).toLong)
    }
    val df = rows.toDF("g", "v").repartition(11)
    val k = Sketch.exactRegimeK(df, "g", col("v"), minK = 4096)
    assert(k >= 16384 && (k & (k - 1)) == 0, s"k=$k")
    val est = groupDistinct(df, "g", col("v"), k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = df.groupBy("g").agg(countDistinct(col("v")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est == truth, s"sized-k sketch left the exact regime: $est")
    // minK floor holds for small data; empty input degrades to minK
    val tiny = Seq(("a", 1L), ("a", 2L)).toDF("g", "v")
    assert(Sketch.exactRegimeK(tiny, "g", col("v"), minK = 1024) == 1024)
    assert(Sketch.exactRegimeK(tiny.filter(col("v") < 0), "g", col("v"),
      minK = 1024) == 1024)
    // a group too large even for the 2^22 cap must FAIL actionably,
    // not silently hand back estimates (synthesized via range, cheap)
    val big = spark.range(0, (1L << 22), 1, 8)
      .select(lit("g").as("g"), col("id").as("v"))
    val e = intercept[IllegalArgumentException](
      Sketch.exactRegimeK(big, "g", col("v")))
    assert(e.getMessage.contains("explicit k"))
  }

  test("sketch algebra edge cases: disjoint sets, identical sets, " +
    "empty groups, and k-mismatch unions") {
    val df = Seq(("a", 1L), ("a", 2L), ("b", 10L), ("b", 11L), ("b", 12L))
      .toDF("g", "v")
    val m = Sketch.overlapMatrix(df, "g", col("v"), k = 64).head()
    assert((m.getLong(2), m.getLong(3), m.getLong(4), m.getLong(5)) ==
      ((2L, 3L, 0L, 5L)))
    // identical sets: intersection == union == size
    val same = Seq(("x", 5L), ("y", 5L), ("x", 6L), ("y", 6L))
      .toDF("g", "v")
    val ms = Sketch.overlapMatrix(same, "g", col("v"), k = 64).head()
    assert((ms.getLong(2), ms.getLong(3), ms.getLong(4), ms.getLong(5)) ==
      ((2L, 2L, 2L, 2L)))
    // all-null group sketches to zero
    val withEmpty = Seq[(String, java.lang.Long)](
      ("e", null), ("f", 1L)).toDF("g", "v")
    val ge = groupDistinct(withEmpty, "g", col("v"), k = 64)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(ge == Map("e" -> 0L, "f" -> 1L))
    // mismatched k: union degrades to the smaller k, stays exact here
    val skA = Seq(1L, 2L, 3L).toDF("v")
      .agg(Sketch.kmvAgg(col("v"), 64).as("s"))
    val skB = Seq(3L, 4L).toDF("v")
      .agg(Sketch.kmvAgg(col("v"), 128).as("s"))
    val u = skA.crossJoin(skB.withColumnRenamed("s", "s2"))
      .select(Sketch.estimate(Sketch.unionSketch(col("s"), col("s2")))
        .as("u"), Sketch.intersectEstimate(col("s"), col("s2")).as("i"))
      .head()
    assert(u.getDouble(0) == 4.0 && u.getDouble(1) == 1.0)
  }

  test("columnProfile: one-scan audit matches naive per-column stats; " +
    "key columns null out the numeric fields; profileK sizes both " +
    "sketch families and fails loudly past the caps") {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 3000).map { i =>
      val k = s"k${i % 137}"
      val s: String = if (i % 31 == 0) null else s"s${i % 5}"
      val v: java.lang.Double =
        if (i % 41 == 0) null else rnd.nextInt(500).toDouble
      (k, s, v)
    }
    val df = rows.toDF("key", "src", "v").repartition(7)

    val (kD, kQ) = Sketch.profileK(df, Seq("key", "src", "v"))
    assert(kD >= 2 * 137 && kQ >= 2 * 3000)

    val prof = Sketch.columnProfile(df, Seq("key", "src"), Seq("v"),
      Seq(0.25, 0.5, 0.95), kD, kQ)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(prof.keySet == Set("key", "src", "v"))

    def naive(vals: Seq[Any]): (Long, Long, Long) = (
      rows.size.toLong,
      vals.count(_ == null).toLong,
      vals.filter(_ != null).distinct.size.toLong)
    for ((c, vals) <- Seq(
        "key" -> rows.map(_._1: Any),
        "src" -> rows.map(_._2: Any),
        "v" -> rows.map(_._3: Any))) {
      val r = prof(c)
      val (n, nulls, d) = naive(vals)
      assert(r.getLong(1) == n && r.getLong(2) == nulls &&
        r.getLong(3) == d, s"column $c")
    }
    // key columns: no numeric stats
    assert(prof("key").isNullAt(4) && prof("key").isNullAt(6))
    // numeric column: min/max and exact inverted-CDF quantiles
    val vs = rows.map(_._3).filter(_ != null).map(_.toDouble).sorted
    val rv = prof("v")
    assert(rv.getDouble(4) == vs.head && rv.getDouble(5) == vs.last)
    def q(p: Double): Double =
      vs(math.max(1, math.ceil(p * vs.size).toLong).toInt - 1)
    assert(rv.getDouble(6) == q(0.25) && rv.getDouble(7) == q(0.5) &&
      rv.getDouble(8) == q(0.95))

    // empty table: zero counts, null extremes/quantiles
    val empty = Sketch.columnProfile(df.limit(0), Seq("key"), Seq("v"),
      Seq(0.5), 64, 64).collect().map(r => r.getString(0) -> r).toMap
    assert(empty("v").getLong(1) == 0L && empty("v").getLong(3) == 0L &&
      empty("v").isNullAt(4) && empty("v").isNullAt(6))

    // the caps fail loudly instead of silently estimating
    val big = spark.range(0, 3000000).select((col("id") % 10).as("v"))
    val eQ = intercept[IllegalArgumentException](
      Sketch.profileK(big, Seq("v")))
    assert(eQ.getMessage.contains("kQuant"))
    val wide = spark.range(0, 3000000).toDF("v")
    val eD = intercept[IllegalArgumentException](
      Sketch.profileK(wide, Seq("v")))
    assert(eD.getMessage.contains("kDistinct"))
  }

  test("incrementalColumnProfile: any batch split folds to the one-shot " +
    "state bit-for-bit (exact regime); ledger'd replay is a no-op; a " +
    "widened audit fails fast") {
    val rnd = new scala.util.Random(12)
    val rows = (0 until 2000).map { i =>
      val s: String = if (i % 29 == 0) null else s"s${i % 7}"
      val v: java.lang.Double =
        if (i % 37 == 0) null else rnd.nextInt(400).toDouble
      (s"k$i", s, v)
    }
    val df = rows.toDF("key", "src", "v").repartition(5)
    val keyCols = Seq("key", "src"); val numCols = Seq("v")
    val (kD, kQ) = Sketch.profileK(df, keyCols ++ numCols)

    val oneShot = Sketch.profileState(df, keyCols, numCols, kD, kQ)
      .collect().map(r => r.getString(0) -> r).toMap

    val dir = java.nio.file.Files
      .createTempDirectory("graft-incprof-").toString + "/state"
    val (h1, h2) = rows.splitAt(1100)
    Sketch.incrementalColumnProfile(h1.toDF("key", "src", "v"), dir,
      keyCols, numCols, kD, kQ, batchId = Some("b0"))
    Sketch.incrementalColumnProfile(h2.toDF("key", "src", "v"), dir,
      keyCols, numCols, kD, kQ, batchId = Some("b1"))
    def folded(): Map[String, org.apache.spark.sql.Row] =
      spark.read.parquet(dir).collect()
        .map(r => r.getString(0) -> r).toMap
    def assertSame(): Unit = for ((c, f) <- folded()) {
      val o = oneShot(c)
      assert(f.getLong(1) == o.getLong(1) && f.getLong(2) == o.getLong(2),
        s"counts for $c")
      assert(java.util.Arrays.equals(
        f.getAs[Array[Byte]]("kmv"), o.getAs[Array[Byte]]("kmv")),
        s"kmv blob for $c")
      if (numCols.contains(c)) {
        assert(f.getDouble(4) == o.getDouble(4) &&
          f.getDouble(5) == o.getDouble(5), s"extremes for $c")
        // exact regime: the folded KLL holds the same multiset, so
        // every quantile probe agrees with the one-shot aggregate
        val probe = Seq(0.1, 0.5, 0.9)
        val both = spark.read.parquet(dir).filter(col("col_name") === c)
          .select(probe.map(q =>
            Quantile.kllQuantile(col("kll"), q)): _*).head()
        val oneDf = Sketch.profileState(df, keyCols, numCols, kD, kQ)
          .filter(col("col_name") === c)
          .select(probe.map(q =>
            Quantile.kllQuantile(col("kll"), q)): _*).head()
        probe.indices.foreach(i =>
          assert(both.getDouble(i) == oneDf.getDouble(i), s"q$i for $c"))
      } else assert(f.isNullAt(4) && f.isNullAt(6), s"key nulls for $c")
    }
    assertSame()
    // crash-replay of an applied batch: the ledger makes it a no-op
    Sketch.incrementalColumnProfile(h2.toDF("key", "src", "v"), dir,
      keyCols, numCols, kD, kQ, batchId = Some("b1"))
    assertSame()
    // the rendered audit from the folded state == columnProfile one-shot
    val rendered = Sketch.columnProfileFromState(
      spark.read.parquet(dir), Seq(0.5)).collect()
      .map(r => r.getString(0) -> r).toMap
    val direct = Sketch.columnProfile(df, keyCols, numCols, Seq(0.5),
      kD, kQ).collect().map(r => r.getString(0) -> r).toMap
    for (c <- keyCols ++ numCols)
      assert(rendered(c) == direct(c), s"rendered audit for $c")
    // a widened audit cannot fold into an existing table
    val e = intercept[IllegalArgumentException] {
      Sketch.incrementalColumnProfile(
        rows.toDF("key", "src", "v").withColumn("extra", lit(1L)),
        dir, keyCols, numCols :+ "extra", kD, kQ)
    }
    assert(e.getMessage.contains("NEW table"))
  }
}
