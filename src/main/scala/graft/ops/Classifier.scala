package graft.ops

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** In-engine trained quality classifier: regularized logistic regression
  * over text features, trained distributed and scored in-plan.
  *
  * This is the published "trained quality filter" of the LLM-pipeline
  * literature — GPT-3 scored CommonCrawl with a logistic-regression
  * classifier over hashed text features (Brown et al. 2020, appendix A),
  * CCNet with an LM-based scorer (Wenzek et al. 2019), fastText-style
  * linear classifiers fill the same role in later pipelines (Joulin et
  * al. 2016); the hashed feature map is the hashing trick (Weinberger et
  * al. 2009). The engine's heuristic signals ([[Text.qualityScore]]) and
  * the external-model seam ([[Score.BatchScorer]]) cover scoring; this
  * object closes the loop by TRAINING the linear model on the cluster.
  *
  * Scale shapes, by piece:
  *   - featurization ([[vocabCountFeatures]], [[hashedCountFeatures]],
  *     [[hashedIndices]]) — per-row codegen'd expressions, no shuffle;
  *   - dense training ([[trainLogistic]]) — IRLS/Newton with L2 ridge:
  *     one job per iteration, each job one `mapPartitions` pass
  *     emitting a per-partition (gradient, Hessian-upper-triangle, n)
  *     partial, driver solves the (d+1)×(d+1) normal system. ~10
  *     iterations to convergence; crosses the wire O(parts · d²) —
  *     right for dense feature maps up to d ≈ 1k. The ridge term keeps
  *     the separable-data MLE finite (plain Newton diverges there);
  *   - sparse training ([[trainLogisticSparse]]) — batch gradient
  *     descent over index features, O(parts · d) per iteration — the
  *     2^18-bin hashing-trick regime where a Hessian cannot exist;
  *   - scoring — [[marginExpr]] inlines small dense models
  *     into whole-stage codegen; [[scoreSparse]] scores index features
  *     via explode → broadcast weight join → map-side partial sum, the
  *     plan that survives a 100 TB corpus and a 2^18-entry model.
  *
  * Determinism: partials are summed on the driver in partition-id
  * order and the solver is pivoted Gaussian elimination, so a retrain
  * over identical partition contents is bit-identical; repartitioning
  * moves float summation order and may shift weights by ulps (never
  * decisions at sane margins — ClassifierSpec pins both).
  */
object Classifier {

  /** Trained linear model: `margin(x) = bias + Σ weights(i)·x(i)`,
    * `p = sigmoid(margin)`. */
  case class LogisticModel(weights: Array[Double], bias: Double) {
    def dim: Int = weights.length
    def margin(x: Seq[Double]): Double = {
      var m = bias; var i = 0
      while (i < weights.length) { m += weights(i) * x(i); i += 1 }
      m
    }
  }

  // ---------------------------------------------------------------- //
  // featurization — per-row, codegen'd, shuffle-free
  // ---------------------------------------------------------------- //

  /** Dense count features over a fixed vocabulary: `array<double>` of
    * per-word occurrence counts in the token array. One codegen'd
    * projection; the dim is the vocab size, so this is the
    * interpretable small-model path. */
  def vocabCountFeatures(tokens: Column, vocab: Seq[String]): Column = {
    require(vocab.nonEmpty && vocab.distinct.size == vocab.size,
      "vocab must be non-empty and duplicate-free")
    array(vocab.map(w =>
      size(filter(tokens, t => t === lit(w))).cast("double")): _*)
  }

  /** Sparse hashed features (the hashing trick): each token maps to
    * bin `xxhash64(token) mod dim`; the result is the index ARRAY with
    * one entry per token occurrence (implicit value 1 each), the input
    * shape of [[trainLogisticSparse]]/[[scoreSparse]]. No vocabulary,
    * no fit step, any dim — the 100 TB featurizer. */
  def hashedIndices(tokens: Column, dim: Int): Column = {
    require(dim > 0, "dim must be positive")
    transform(tokens, t => pmod(xxhash64(t), lit(dim.toLong)).cast("int"))
  }

  /** Dense binned counts: [[hashedIndices]] folded to an
    * `array<double>` histogram of length `dim` — hashed features in
    * the shape [[trainLogistic]] (IRLS) consumes. O(dim) per row: for
    * small dims (≤ a few hundred) where Newton's few-iteration
    * convergence beats GD; past that, stay sparse. */
  def hashedCountFeatures(tokens: Column, dim: Int): Column = {
    val idx = hashedIndices(tokens, dim)
    transform(sequence(lit(0), lit(dim - 1)), i =>
      size(filter(idx, j => j === i)).cast("double"))
  }

  // ---------------------------------------------------------------- //
  // training
  // ---------------------------------------------------------------- //

  /** Decode a trainer's input projection ONCE and cache it as plain
    * JVM rows, spread over a SCALE-ADAPTIVE partition count.
    *
    * Two costs the iterative trainers used to pay per ITERATION now
    * happen once:
    *   - row decode — a cached Dataset stores Tungsten rows, so every
    *     `mapPartitions` pass re-deserialized the whole frame (and
    *     boxed each sparse index through a `Seq[Int]`); caching the
    *     RDD keeps primitive-array tuples the gradient loop reads
    *     directly;
    *   - near-empty tasks — the old "spread a narrow input" rule
    *     repartitioned ANY input below `defaultParallelism` up to it,
    *     a constant tuned to the cluster, so a 30k-row frame ran 32
    *     scheduler round-trips per iteration with microseconds of
    *     compute each (x iterations x concurrent CV folds). The
    *     partition count now derives from the DATA and the trainer's
    *     per-row cost (`ceil(sum(unitsOf(row)) / 2^23)`, 2^23
    *     multiply-adds ≈ a few ms of compute per task, capped at
    *     `defaultParallelism`): tiny frames train in one task per
    *     iteration, a dense-Hessian trainer with its O(d²) row cost
    *     spreads sooner than a sparse-gradient one, corpus-scale
    *     frames still spread across every core, and inputs that
    *     arrive over-partitioned for their row count (a micro-batch,
    *     a filtered fold) coalesce down instead of scheduling
    *     mostly-empty tasks. Inputs already wider than the work
    *     justifies (the 100 TB scan) are left alone — this floor only
    *     ever ADDS spread, never shrinks real data.
    *
    * Reshaping moves float-summation order, so model weights may move
    * by ulps vs the previous constant-spread layout — never decisions
    * at sane margins (the documented [[Classifier]] determinism
    * contract; every gated query's output is pinned to the rule, and
    * retrain-bit-identity within one layout still holds because the
    * derivation is deterministic). Retry caveat (ADVICE r15):
    * `RDD.repartition` here lacks Dataset.repartition's
    * sort-stabilized round-robin, so under block eviction + task retry
    * the row-to-partition assignment can differ between two
    * materializations — weights then differ by the same ulp-level
    * reshaping noise already inside the contract (decisions pinned to
    * rules, never to a particular float). Sort-stabilizing would mean
    * re-decoding through a Dataset, un-doing the decode-once win; the
    * weaker guarantee is the documented trade. Caller must
    * `unpersist()` the returned RDD.
    *
    * `unitsOf` gives each row's work units (multiply-adds per
    * iteration). Dense trainers pass a constant; the SPARSE trainers
    * pass the row's actual index length (ADVICE r15: the old constant
    * 16 under-spread corpora with long documents — hundreds of token
    * indices per row could put per-task work orders of magnitude above
    * the 2^23 target with no spread). The units total is summed in the
    * same pass that materializes the cache, so deriving from data
    * costs no extra action. */
  private def cacheTrainRows[T: scala.reflect.ClassTag](
      ds: org.apache.spark.sql.Dataset[T])(unitsOf: T => Long)
      : org.apache.spark.rdd.RDD[T] = {
    val sc = ds.sparkSession.sparkContext
    val taskWorkUnits = 1L << 23
    val level = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val raw = ds.rdd.persist(level)
    // materializes the cache; the units total drives the spread
    val units = raw.mapPartitions { it =>
      var u = 0L
      it.foreach { t => u += math.max(1L, unitsOf(t)) }
      Iterator.single(u)
    }.fold(0L)(_ + _)
    val want = math.max(1L, (units + taskWorkUnits - 1) / taskWorkUnits)
    val target = math.min(want, sc.defaultParallelism.toLong).toInt
    val reshaped =
      if (raw.getNumPartitions < target) Some(raw.repartition(target))
      else if (want < raw.getNumPartitions) Some(raw.coalesce(target))
      else None
    reshaped match {
      case None => raw
      case Some(r) =>
        val cached = r.persist(level)
        cached.count() // materialize BEFORE dropping the parent cache
        raw.unpersist(blocking = false)
        cached
    }
  }

  /** The one iterative-trainer driver: the shared push/pull iteration
    * of a parameter server (PS2, SIGMOD 2019) with a model-specific
    * per-partition `kernel`. The input is decoded and cached once
    * ([[cacheTrainRows]], `unitsOf` per row); then each of `iters`
    * passes (fixed — no early stop, so the job count is deterministic)
    * broadcasts the weights, runs ONE `mapPartitions` job in which
    * `kernel(w, rows)` returns the partition's `(g, h, n)` partial
    * (gradient, Hessian — empty for gradient descent — and weight
    * total), sums the partials on the driver in partition-id order
    * (deterministic bits), and takes `step(w, g, h, n)`:
    * [[newtonStep]] or [[gdStep]]. The cache is dropped on the way
    * out, failure included. */
  private def fit[T: scala.reflect.ClassTag](
      ds: org.apache.spark.sql.Dataset[T])(
      unitsOf: T => Long, w0: Array[Double], iters: Int)(
      kernel: (Array[Double], Iterator[T]) =>
        (Array[Double], Array[Double], Double))(
      step: (Array[Double], Array[Double], Array[Double], Double) =>
        Array[Double]): Array[Double] = {
    val sc = ds.sparkSession.sparkContext
    val data = cacheTrainRows(ds)(unitsOf)
    try {
      var w = w0
      for (_ <- 0 until iters) {
        val bw = sc.broadcast(w)
        val partials = data.mapPartitions { it =>
          val (g, h, n) = kernel(bw.value, it)
          Iterator.single((TaskContext.getPartitionId(), g, h, n))
        }.collect().sortBy(_._1)
        bw.destroy()
        val n = partials.map(_._4).sum
        require(n > 0, "cannot train on an empty frame")
        val g = new Array[Double](partials.head._2.length)
        val h = new Array[Double](partials.head._3.length)
        partials.foreach { case (_, pg, ph, _) =>
          var i = 0
          while (i < g.length) { g(i) += pg(i); i += 1 }
          i = 0
          while (i < h.length) { h(i) += ph(i); i += 1 }
        }
        w = step(w, g, h, n)
      }
      w
    } finally { data.unpersist(): Unit }
  }

  /** Whether entry `i` of a weight vector made of `d`-blocks (bias last
    * in each) is penalized: the intercept never is — the sklearn/
    * reference-solver convention shared by every trainer in this file
    * (a regularized bias would shrink calibrated probabilities toward
    * 1/2 at high l2). */
  private def penalized(d: Int, i: Int): Boolean = i % d != d - 1

  /** Ridge-regularized Newton step: solve
    * `(H/n + l2·I') δ = g/n + l2·I'w` with pivoted Gaussian elimination
    * ([[solve]]) and return `w − δ`, where `I'` is zero at every bias
    * entry ([[penalized]]). Separability still needs l2 > 0 on the
    * weights; the bias diagonal Σ w·p(1−p) > 0 keeps the system
    * nonsingular on any non-degenerate frame. `h` is the packed upper
    * triangle when `packed`, else the full row-major matrix. */
  private def newtonStep(d: Int, l2: Double, packed: Boolean)(
      w: Array[Double], g: Array[Double], h: Array[Double],
      n: Double): Array[Double] = {
    val m = w.length
    val hm =
      if (!packed) Array.tabulate(m, m)((i, j) => h(i * m + j) / n)
      else {
        val t = Array.ofDim[Double](m, m)
        var k = 0; var a = 0
        while (a < m) {
          var b = a
          while (b < m) {
            t(a)(b) = h(k) / n; t(b)(a) = t(a)(b); k += 1; b += 1
          }
          a += 1
        }
        t
      }
    var i = 0
    while (i < m) { if (penalized(d, i)) hm(i)(i) += l2; i += 1 }
    val rhs = Array.tabulate(m)(i =>
      g(i) / n + (if (penalized(d, i)) l2 * w(i) else 0.0))
    val delta = solve(hm, rhs)
    Array.tabulate(m)(i => w(i) - delta(i))
  }

  /** Full-batch gradient-descent step `w − lr·(g/n + l2·I'w)`, `I'` zero
    * at every bias entry ([[penalized]]). */
  private def gdStep(d: Int, lr: Double, l2: Double)(
      w: Array[Double], g: Array[Double], h: Array[Double],
      n: Double): Array[Double] =
    Array.tabulate(w.length)(i =>
      w(i) - lr * (g(i) / n + (if (penalized(d, i)) l2 * w(i) else 0.0)))

  /** Per-row importance weight column (a DSIR/DoReMi weight, class
    * rebalancing), 1.0 without one: it multiplies the row's gradient
    * and Hessian contribution and its share of n — weight w is exactly
    * w copies of the row. */
  private def rowWeight(weightCol: Option[String]): Column =
    weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))

  /** Non-positive or null weights fail loudly (a silently dropped row
    * would be indistinguishable from converged training). */
  private def checkRowWeight(rw: Double): Unit =
    require(rw > 0.0 && !rw.isNaN && !rw.isInfinite,
      s"row weight must be finite positive, got $rw")

  /** Train by IRLS (Newton) with L2 ridge `l2 > 0` over the WEIGHTS
    * only — the intercept is never penalized, the sklearn/reference-
    * solver convention shared by every trainer in this file (a
    * regularized bias would bias calibrated probabilities toward 1/2
    * at high l2). `featuresCol` is a
    * fixed-width `array<double>` of width `dim`; `labelCol` casts to
    * {0.0, 1.0}. Runs `iters` full Newton steps (no early stop —
    * deterministic job count); the input projection is cached for the
    * duration and unpersisted after. `weightCol` (optional) scales each
    * row's loss contribution — the importance-weighted fit
    * (DSIR/DoReMi weights, class rebalancing): weight w behaves exactly
    * like w copies of the row (ClassifierSpec pins the equivalence);
    * non-positive/null weights fail loudly. */
  def trainLogistic(df: DataFrame, featuresCol: String, labelCol: String,
                    dim: Int, iters: Int = 12, l2: Double = 1e-2,
                    init: Option[LogisticModel] = None,
                    weightCol: Option[String] = None): LogisticModel = {
    require(dim > 0 && iters > 0, "dim and iters must be positive")
    require(l2 > 0.0, "IRLS on separable data needs l2 > 0 (finite MLE)")
    init.foreach(m => require(m.dim == dim,
      s"warm-start model dim ${m.dim} != $dim"))
    val spark = df.sparkSession
    import spark.implicits._
    val d = dim + 1 // bias last
    // decoded once, cached as primitive-array rows, scale-adaptive
    // partition count — see cacheTrainRows (per-row cost: the d² /2
    // Hessian upper triangle dominates)
    val w = fit(df.select(col(labelCol).cast("double"),
      col(featuresCol).cast("array<double>"), rowWeight(weightCol))
      .as[(Double, Array[Double], Double)])(
      _ => d.toLong * (d + 3) / 2,
      init.map(m => m.weights :+ m.bias).getOrElse(new Array[Double](d)),
      iters) { (wv, it) =>
      val g = new Array[Double](d)
      val h = new Array[Double](d * (d + 1) / 2)
      var n = 0.0
      it.foreach { case (y, f, rw) =>
        require(f.length == dim, s"feature width ${f.length} != dim $dim")
        checkRowWeight(rw)
        var m = wv(d - 1); var i = 0
        while (i < dim) { m += wv(i) * f(i); i += 1 }
        val p = 1.0 / (1.0 + math.exp(-m))
        val r = rw * (p - y)
        i = 0
        while (i < dim) { g(i) += r * f(i); i += 1 }
        g(d - 1) += r
        val s = rw * p * (1.0 - p)
        var a = 0; var k = 0
        while (a < d) {
          val xa = if (a == dim) 1.0 else f(a)
          val sxa = s * xa
          var b = a
          while (b < d) {
            val xb = if (b == dim) 1.0 else f(b)
            h(k) += sxa * xb; k += 1; b += 1
          }
          a += 1
        }
        n += rw
      }
      (g, h, n)
    }(newtonStep(d, l2, packed = true))
    LogisticModel(w.take(dim), w(dim))
  }

  /** Train by full-batch gradient descent over SPARSE index features
    * (`array<int>`, one entry per feature occurrence — the
    * [[hashedIndices]] shape). Per iteration: one `mapPartitions` pass
    * scattering `(p−y)` into a length-`dim+1` gradient, partials
    * summed driver-side in partition order — O(parts · d) on the wire,
    * no Hessian, so `dim` can be the 2^18-bin hashing-trick regime.
    * Slower to converge than Newton; use [[trainLogistic]] when the
    * dense dim is small enough to afford it. */
  def trainLogisticSparse(df: DataFrame, idxCol: String, labelCol: String,
                          dim: Int, iters: Int = 200, lr: Double = 0.5,
                          l2: Double = 0.0,
                          init: Option[LogisticModel] = None,
                          weightCol: Option[String] = None)
      : LogisticModel = {
    require(dim > 0 && iters > 0 && lr > 0, "dim/iters/lr must be positive")
    init.foreach(m => require(m.dim == dim,
      s"warm-start model dim ${m.dim} != $dim"))
    val spark = df.sparkSession
    import spark.implicits._
    val d = dim + 1
    // decoded once, cached as primitive-array rows, scale-adaptive
    // partition count — see cacheTrainRows (per-row cost = the row's
    // ACTUAL sparse index length, summed in the cache-materialization
    // pass — a corpus of long documents spreads as its work demands,
    // where the old constant 16 serialized it on a handful of tasks)
    val w = fit(df.select(col(labelCol).cast("double"), col(idxCol),
      rowWeight(weightCol)).as[(Double, Array[Int], Double)])(
      t => 8L + t._2.length,
      init.map(m => m.weights :+ m.bias).getOrElse(new Array[Double](d)),
      iters) { (wv, it) =>
      val g = new Array[Double](d)
      var n = 0.0
      it.foreach { case (y, idx, rw) =>
        checkRowWeight(rw)
        var m = wv(d - 1)
        var k = 0
        while (k < idx.length) {
          val i = idx(k)
          require(i >= 0 && i < dim, s"index $i outside [0, $dim)")
          m += wv(i); k += 1
        }
        val r = rw * (1.0 / (1.0 + math.exp(-m)) - y)
        k = 0
        while (k < idx.length) { g(idx(k)) += r; k += 1 }
        g(d - 1) += r
        n += rw
      }
      (g, Array.emptyDoubleArray, n)
    }(gdStep(d, lr, l2))
    LogisticModel(w.take(dim), w(dim))
  }

  /** In-place pivoted Gaussian elimination — the (d+1)×(d+1) Newton
    * solve. Deterministic; fails loudly on a (numerically) singular
    * system rather than returning garbage weights. */
  private def solve(a: Array[Array[Double]],
                    b: Array[Double]): Array[Double] = {
    val n = b.length
    val x = b.clone()
    var col = 0
    while (col < n) {
      var piv = col; var r = col + 1
      while (r < n) {
        if (math.abs(a(r)(col)) > math.abs(a(piv)(col))) piv = r
        r += 1
      }
      require(math.abs(a(piv)(col)) > 1e-12,
        "singular Newton system (raise l2)")
      if (piv != col) {
        val t = a(piv); a(piv) = a(col); a(col) = t
        val tb = x(piv); x(piv) = x(col); x(col) = tb
      }
      r = col + 1
      while (r < n) {
        val f = a(r)(col) / a(col)(col)
        if (f != 0.0) {
          var c = col
          while (c < n) { a(r)(c) -= f * a(col)(c); c += 1 }
          x(r) -= f * x(col)
        }
        r += 1
      }
      col += 1
    }
    var i = n - 1
    while (i >= 0) {
      var s = x(i); var j = i + 1
      while (j < n) { s -= a(i)(j) * x(j); j += 1 }
      x(i) = s / a(i)(i)
      i -= 1
    }
    x
  }

  // ---------------------------------------------------------------- //
  // scoring — in-plan
  // ---------------------------------------------------------------- //

  /** `bias + Σ w(i)·features[i]` as a left-associated literal
    * expression chain — fully codegen'd, oracle-expressible (the same
    * chain in ANSI SQL), exact for dyadic weights over integer counts.
    * For small dense models; a 2^18-weight literal belongs in
    * [[scoreSparse]]'s broadcast join instead. */
  def marginExpr(features: Column, model: LogisticModel): Column =
    model.weights.zipWithIndex.foldLeft(lit(model.bias)) {
      case (acc, (w, i)) => acc + lit(w) * element_at(features, i + 1)
    }

  /** Score sparse index features at scale: explode the indices, join
    * the broadcast (index → weight) table, re-aggregate per row key —
    * partial map-side sums, one small shuffle on `idCol`, model size
    * bounded by the broadcast (a 2^18-double model is 2 MiB). Rows
    * with EMPTY index arrays still score (margin = bias). `idCol` must
    * be unique per row — colliding ids would silently merge their
    * margins into one (the re-aggregation cannot tell them apart).
    * An index outside `[0, dim)` FAILS LOUDLY in-plan (a dim-mismatched
    * featurizer would otherwise score as silently-dropped features —
    * indistinguishable from a trained zero weight). Returns
    * `(idCol, margin)`; join it back or feed a threshold directly. */
  def scoreSparse(df: DataFrame, idCol: String, idxCol: String,
                  model: LogisticModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val wdf = spark.createDataset(
      model.weights.toIndexedSeq.zipWithIndex.map { case (w, i) => (i, w) })
      .toDF("__i", "__w")
    // a null ELEMENT inside the array fails loudly BEFORE the explode
    // (a null exploded row is indistinguishable from a null/empty
    // array, which legitimately scores as bias-only)
    df.select(col(idCol), nullElementGuard(col(idxCol)).as("__idx"))
      .select(col(idCol), explode_outer(col("__idx")).as("__i"))
      .join(broadcast(wdf), Seq("__i"), "left")
      .groupBy(col(idCol))
      .agg((coalesce(sum(col("__w")), lit(0.0)) + lit(model.bias))
        .as("__m"),
        // a present index that matched no weight row is out of range
        max(when(col("__i").isNotNull && col("__w").isNull, 1)
          .otherwise(0)).as("__oob"))
      .select(col(idCol),
        when(col("__oob") === 1, raise_error(concat(
          lit(s"sparse index outside model dim ${model.dim} at id "),
          col(idCol).cast("string"))))
          .otherwise(col("__m")).as("margin"))
  }

  /** Fail loudly on a null ELEMENT inside a sparse index array (a
    * featurizer bug the broadcast-join scorers would otherwise
    * silently mask as a missing feature, while the literal-fold
    * scorer errors — the scorers must never silently disagree). A
    * null or empty ARRAY is legitimate (scores as bias-only) on every
    * path. */
  private def nullElementGuard(idx: Column): Column =
    when(idx.isNotNull && exists(idx, i => i.isNull),
      raise_error(lit("null element in sparse index array")))
      .otherwise(idx)

  /** Multinomial (softmax) model: `weights(c)` is class `c`'s
    * `dim + 1` coefficients (bias last) for classes `0 .. C-2`; class
    * `C-1` is the reference with implicit zero logits. */
  case class SoftmaxModel(weights: Array[Array[Double]], numClasses: Int) {
    require(weights.length == numClasses - 1, "need C-1 weight rows")
    def dim: Int = weights.head.length - 1
  }

  /** Train a multinomial logistic (softmax) classifier by Newton/IRLS
    * with L2 ridge — the domain/language-bucket classifier of a
    * curation pipeline (CCNet-style routing) when the label space is
    * more than keep/drop. `labelCol` casts to int in `[0, numClasses)`.
    * One `mapPartitions` job per iteration emitting the full
    * `((C−1)(d+1))²` Hessian + gradient partial — right for the small
    * dense feature maps this is for (the per-row cost is that square;
    * require `(C−1)(d+1) ≤ 256`), driver solves the block system.
    * Ridge keeps the separable-data MLE finite; partials sum in
    * partition-id order (deterministic bits, the [[trainLogistic]]
    * discipline). `weightCol` scales per-row loss as in the binary
    * trainer. */
  def trainSoftmax(df: DataFrame, featuresCol: String, labelCol: String,
                   dim: Int, numClasses: Int, iters: Int = 20,
                   l2: Double = 1e-4,
                   weightCol: Option[String] = None): SoftmaxModel = {
    require(dim > 0 && iters > 0, "dim and iters must be positive")
    require(numClasses >= 2, "need at least 2 classes")
    require(l2 > 0.0, "IRLS on separable data needs l2 > 0 (finite MLE)")
    val d = dim + 1
    val m = (numClasses - 1) * d
    require(m <= 256,
      s"softmax Newton solves a ${m}x$m system per iteration — " +
        "keep (numClasses-1)*(dim+1) <= 256 (bin features first)")
    val spark = df.sparkSession
    import spark.implicits._
    val C = numClasses
    // decoded once, cached as primitive-array rows, scale-adaptive
    // partition count — see cacheTrainRows (per-row cost: the m²
    // block Hessian dominates); weights class-major: c*d + i
    val w = fit(df.select(col(labelCol).cast("int"),
      col(featuresCol).cast("array<double>"), rowWeight(weightCol))
      .as[(Int, Array[Double], Double)])(_ => m.toLong * m,
      new Array[Double](m), iters) { (wv, it) =>
      val g = new Array[Double](m)
      val h = new Array[Double](m * m)
      var n = 0.0
      val logits = new Array[Double](C)
      val p = new Array[Double](C)
      val x = new Array[Double](d)
      it.foreach { case (y, f, rw) =>
        require(f.length == dim, s"feature width ${f.length} != dim $dim")
        require(y >= 0 && y < C, s"label $y outside [0, $C)")
        checkRowWeight(rw)
        var i = 0
        while (i < dim) { x(i) = f(i); i += 1 }
        x(dim) = 1.0
        var c = 0; var mx = 0.0
        while (c < C - 1) {
          var s = 0.0; i = 0
          while (i < d) { s += wv(c * d + i) * x(i); i += 1 }
          logits(c) = s
          if (s > mx) mx = s
          c += 1
        }
        logits(C - 1) = 0.0
        var z = 0.0; c = 0
        while (c < C) {
          p(c) = math.exp(logits(c) - mx); z += p(c); c += 1
        }
        c = 0
        while (c < C) { p(c) /= z; c += 1 }
        // gradient blocks
        var a = 0
        while (a < C - 1) {
          val ra = rw * (p(a) - (if (y == a) 1.0 else 0.0))
          i = 0
          while (i < d) { g(a * d + i) += ra * x(i); i += 1 }
          a += 1
        }
        // Hessian blocks: S_ab = w * p_a (δ_ab − p_b)
        a = 0
        while (a < C - 1) {
          var b = 0
          while (b < C - 1) {
            val s = rw * p(a) * ((if (a == b) 1.0 else 0.0) - p(b))
            if (s != 0.0) {
              i = 0
              while (i < d) {
                val sxi = s * x(i)
                var j = 0
                while (j < d) {
                  h((a * d + i) * m + b * d + j) += sxi * x(j)
                  j += 1
                }
                i += 1
              }
            }
            b += 1
          }
          a += 1
        }
        n += rw
      }
      (g, h, n)
    }(newtonStep(d, l2, packed = false))
    SoftmaxModel(Array.tabulate(numClasses - 1)(c =>
      w.slice(c * d, (c + 1) * d)), numClasses)
  }

  /** Train a multinomial softmax classifier by full-batch gradient
    * descent over SPARSE index features (`array<int>`, the
    * [[hashedIndices]] shape) — the multiclass twin of
    * [[trainLogisticSparse]], for the hashed-feature regime
    * [[trainSoftmax]]'s Newton solve cannot reach (its per-iteration
    * system is ((C−1)(d+1))², capped at 256; a 2^18-bin domain router
    * needs a gradient method). Per iteration: one `mapPartitions` pass
    * scattering per-class `(p_c − [y=c])` into a class-major gradient,
    * partials summed driver-side in partition order — O(parts · (C−1)
    * · (dim+1)) on the wire, no Hessian. The partial size is bounded
    * loudly: (C−1)(dim+1) ≤ 2^22 doubles (32 MiB per partition partial
    * — a 2^18-bin 9-class router is 2.1M, well inside). With C = 2 the
    * update is the exact negation of [[trainLogisticSparse]]'s
    * (class 0 here is the binary model's negative logit; spec pins the
    * agreement), so the two optimizers form one family. */
  def trainSoftmaxSparse(df: DataFrame, idxCol: String, labelCol: String,
                         dim: Int, numClasses: Int, iters: Int = 200,
                         lr: Double = 0.5, l2: Double = 0.0,
                         init: Option[SoftmaxModel] = None,
                         weightCol: Option[String] = None): SoftmaxModel = {
    require(dim > 0 && iters > 0 && lr > 0, "dim/iters/lr must be positive")
    require(numClasses >= 2, "need at least 2 classes")
    val d = dim + 1
    val mLen = (numClasses - 1).toLong * d
    require(mLen <= (1L << 22),
      s"gradient partial is $mLen doubles per partition — keep " +
        s"(numClasses-1)*(dim+1) <= ${1L << 22}")
    val m = mLen.toInt
    init.foreach(mo => require(
      mo.dim == dim && mo.numClasses == numClasses,
      s"warm-start model shape (${mo.dim}, ${mo.numClasses}) != " +
        s"($dim, $numClasses)"))
    val spark = df.sparkSession
    import spark.implicits._
    val C = numClasses
    // decoded once, cached as primitive-array rows, scale-adaptive
    // partition count — see cacheTrainRows (per-row cost = (C−1) ×
    // the row's ACTUAL sparse index length, summed in the
    // cache-materialization pass); weights class-major: c*d + i, bias
    // last
    val w = fit(df.select(col(labelCol).cast("int"), col(idxCol),
      rowWeight(weightCol)).as[(Int, Array[Int], Double)])(
      t => (8L + t._2.length) * (numClasses - 1),
      init.map(_.weights.flatten.toArray).getOrElse(new Array[Double](m)),
      iters) { (wv, it) =>
      val g = new Array[Double](m)
      var n = 0.0
      val logits = new Array[Double](C)
      val p = new Array[Double](C)
      it.foreach { case (y, idx, rw) =>
        require(y >= 0 && y < C, s"label $y outside [0, $C)")
        checkRowWeight(rw)
        var k = 0
        while (k < idx.length) {
          val i = idx(k)
          require(i >= 0 && i < dim, s"index $i outside [0, $dim)")
          k += 1
        }
        var c = 0; var mx = 0.0
        while (c < C - 1) {
          var s = wv(c * d + dim) // bias
          k = 0
          while (k < idx.length) { s += wv(c * d + idx(k)); k += 1 }
          logits(c) = s
          if (s > mx) mx = s
          c += 1
        }
        logits(C - 1) = 0.0
        var z = 0.0; c = 0
        while (c < C) {
          p(c) = math.exp(logits(c) - mx); z += p(c); c += 1
        }
        c = 0
        while (c < C) { p(c) /= z; c += 1 }
        var a = 0
        while (a < C - 1) {
          val ra = rw * (p(a) - (if (y == a) 1.0 else 0.0))
          k = 0
          while (k < idx.length) { g(a * d + idx(k)) += ra; k += 1 }
          g(a * d + dim) += ra
          a += 1
        }
        n += rw
      }
      (g, Array.emptyDoubleArray, n)
    }(gdStep(d, lr, l2))
    SoftmaxModel(Array.tabulate(numClasses - 1)(c =>
      w.slice(c * d, (c + 1) * d)), numClasses)
  }

  /** Score sparse index features against a [[SoftmaxModel]] at scale —
    * the multiclass twin of [[scoreSparse]]: explode the indices, join
    * the broadcast (index → per-class weights) table, re-aggregate the
    * per-class sums per row key (partial map-side sums, one small
    * shuffle on `idCol`), add the biases, argmax with FIRST-max
    * tie-break. The model broadcast is (C−1)·dim doubles — a 2^18-bin
    * 9-class router is 16 MiB. Rows with EMPTY index arrays still
    * score (logit = bias). `idCol` must be unique per row (colliding
    * ids would merge their sums); an index outside `[0, dim)` fails
    * loudly in-plan. Returns `(idCol, logits, predicted)` where
    * `logits` carries all C logits (reference class last, 0). */
  def scoreSoftmaxSparse(df: DataFrame, idCol: String, idxCol: String,
                         model: SoftmaxModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val C = model.numClasses
    val wrows = (0 until model.dim).map { i =>
      (i, model.weights.toIndexedSeq.map(_(i)))
    }
    val wdf = spark.createDataset(wrows).toDF("__i", "__w")
    // a present index matching no weight row is out of range — fail
    // loudly in-plan (scoreSparse's contract; the stateless
    // softmaxLogitsSparse path gets the same outcome from ANSI
    // element_at, so the two scorers cannot silently disagree on a
    // dim-mismatched featurizer)
    val sumCols = (0 until C - 1).map(c =>
      (coalesce(sum(element_at(col("__w"), c + 1)), lit(0.0))
        + lit(model.weights(c).last)).as(s"__l$c")) :+
      max(when(col("__i").isNotNull && col("__w").isNull, 1)
        .otherwise(0)).as("__oob")
    val sums = df
      .select(col(idCol), nullElementGuard(col(idxCol)).as("__idx"))
      .select(col(idCol), explode_outer(col("__idx")).as("__i"))
      .join(broadcast(wdf), Seq("__i"), "left")
      .groupBy(col(idCol))
      .agg(sumCols.head, sumCols.tail: _*)
    val logits = (0 until C - 1).map(c => col(s"__l$c")) :+ lit(0.0)
    def guard(out: Column) = when(col("__oob") === 1,
      raise_error(concat(
        lit(s"sparse index outside model dim ${model.dim} at id "),
        col(idCol).cast("string"))))
      .otherwise(out)
    sums.select(col(idCol), guard(array(logits: _*)).as("logits"),
      guard(argmaxExpr(logits)).as("predicted"))
  }

  /** Per-class logits of a [[SoftmaxModel]] as literal expression
    * chains (reference class last, logit 0). */
  def softmaxLogits(features: Column, model: SoftmaxModel): Seq[Column] =
    model.weights.toIndexedSeq.map { row =>
      row.init.zipWithIndex.foldLeft(lit(row.last)) {
        case (acc, (w, i)) => acc + lit(w) * element_at(features, i + 1)
      }
    } :+ lit(0.0)

  /** Argmax over logit columns with FIRST-max tie-break
    * (deterministic, matches the `np.argmax`/SQL CASE convention) —
    * one codegen'd expression, no shuffle. */
  private def argmaxExpr(logits: Seq[Column]): Column = {
    var best: Column = lit(0)
    var bestScore: Column = logits.head
    for (c <- 1 until logits.length) {
      val better = logits(c) > bestScore
      best = when(better, lit(c)).otherwise(best)
      bestScore = when(better, logits(c)).otherwise(bestScore)
    }
    best
  }

  /** Predicted class index: [[argmaxExpr]] over [[softmaxLogits]]. */
  def softmaxPredictExpr(features: Column, model: SoftmaxModel): Column =
    argmaxExpr(softmaxLogits(features, model))

  /** Per-class logits of a [[SoftmaxModel]] over SPARSE index features
    * as literal-ARRAY expressions: `logit_c = bias_c + Σ_{i∈idx}
    * w_c[i]`, each class's weight vector inlined as an array literal
    * and folded per row by `aggregate` — fully codegen'd and
    * STATELESS (no explode, no re-aggregation, no shuffle), so it
    * rides a streaming plan in append mode with no state store: the
    * score-at-ingest shape for the distilled router. Plan size
    * carries (C−1)·dim literal doubles — right for the ≤ few-K dim
    * regime; a 2^18-entry model belongs in [[scoreSoftmaxSparse]]'s
    * broadcast join instead. Summation is array order (vs the
    * scorer's shuffle order), so logits may differ in ulps; decisions
    * at sane margins do not (spec-pinned). */
  def softmaxLogitsSparse(idx: Column, model: SoftmaxModel): Seq[Column] = {
    val dim = model.dim
    // null ARRAY scores as bias-only (same as the broadcast scorer's
    // explode_outer); a null ELEMENT or out-of-range index fails
    // loudly regardless of ANSI mode (scoreSoftmaxSparse's contract —
    // the two scorers must never silently disagree)
    val safeIdx = coalesce(idx, typedLit(Seq.empty[Int]))
    model.weights.toIndexedSeq.map { row =>
      aggregate(safeIdx, lit(row.last), (acc, i) =>
        acc + when(i >= 0 && i < lit(dim),
          element_at(typedLit(row.init.toSeq), i + 1))
          .otherwise(raise_error(concat(
            lit(s"null or out-of-[0, $dim) sparse index: "),
            coalesce(i.cast("string"), lit("null"))))))
    } :+ lit(0.0)
  }

  /** Predicted class: [[argmaxExpr]] over [[softmaxLogitsSparse]]. */
  def softmaxPredictSparseExpr(idx: Column, model: SoftmaxModel): Column =
    argmaxExpr(softmaxLogitsSparse(idx, model))

  // ---------------------------------------------------------------- //
  // the model as an incremental index — persistence + online updates
  // ---------------------------------------------------------------- //

  /** Serialize `model` under `dir` (a directory, so the applied-batch
    * ledger travels with it through the atomic swap). Text format:
    * bias then weights, one `Double.toString` per line — round-trips
    * bit-exactly. */
  private def writeModelInto(dir: String, model: LogisticModel): Unit =
    graft.core.Fs.writeString(s"$dir/model.txt",
      (model.bias +: model.weights.toSeq).mkString("\n"))

  /** Load the model persisted at `dir` (None when absent). */
  def loadModel(dir: String): Option[LogisticModel] = {
    val p = s"$dir/model.txt"
    if (!graft.core.Fs.exists(p)) return None
    val vs = graft.core.Fs.readString(p).split("\n").map(_.trim)
      .filter(_.nonEmpty).map(_.toDouble)
    Some(LogisticModel(vs.tail, vs.head))
  }

  /** Persist a [[SoftmaxModel]] under `dir` (same bit-exact text
    * discipline as the binary model: one class row per line,
    * space-separated `Double.toString`). */
  def saveSoftmax(m: SoftmaxModel, dir: String): Unit = {
    graft.core.Fs.mkdirs(dir)
    graft.core.Fs.writeString(s"$dir/softmax.txt",
      s"${m.numClasses}\n" +
        m.weights.map(_.mkString(" ")).mkString("\n"))
  }

  /** Load the softmax model persisted at `dir` (None when absent). */
  def loadSoftmax(dir: String): Option[SoftmaxModel] = {
    val p = s"$dir/softmax.txt"
    if (!graft.core.Fs.exists(p)) return None
    val lines = graft.core.Fs.readString(p).split("\n")
      .map(_.trim).filter(_.nonEmpty)
    val c = lines.head.toInt
    Some(SoftmaxModel(
      lines.tail.map(_.split(" ").map(_.toDouble)), c))
  }

  /** Online (mini-batch) training: fold one labeled batch into the
    * persisted model at `modelPath` — `iters` warm-started GD steps
    * over the batch's sparse index features, then an atomic
    * swap-commit of model + applied-batch ledger (the
    * [[Quantile.incrementalQuantileSketch]] lifecycle: crash on either
    * side of the swap leaves a consistent pair, a re-delivered
    * `batchId` is a no-op returning the already-committed model, and a
    * racing writer fails fast on the lock file — the lock is held
    * across read-train-swap, so serialized-but-overlapping writers
    * cannot lose an update either: the second reads the first's
    * committed model and ledger). This is the
    * continual-quality-filter shape: the model IS an incremental
    * index, refreshed at ingest from weak labels, never rescanning the
    * corpus. Empty batches short-circuit. With `newton = true` the fold
    * is warm-started IRLS over in-plan densified bin counts (small
    * dims); note IRLS requires ridge, so `l2` is floored at 1e-2 on
    * that path. */
  def updateModelOnline(batch: DataFrame, modelPath: String,
                        idxCol: String, labelCol: String, dim: Int,
                        iters: Int = 50, lr: Double = 1.0,
                        l2: Double = 0.0, newton: Boolean = false,
                        batchId: Option[String] = None): LogisticModel =
    graft.core.Fold.swap(modelPath, batchId) { tmp =>
      Option.when(!batch.isEmpty) {
        val current = loadModel(modelPath)
        // `newton = true` folds warm-started IRLS steps instead of GD —
        // ~5 steps reach what hundreds of GD steps walk toward, at one
        // job each, for dims small enough to afford the O(parts·d²)
        // Hessian partials (online Newton). The indices densify to
        // per-bin counts in-plan; past ~1k bins stay on GD.
        val next =
          if (newton) {
            val dense = batch.withColumn("__f",
              transform(sequence(lit(0), lit(dim - 1)), i =>
                size(filter(col(idxCol), j => j === i)).cast("double")))
            trainLogistic(dense, "__f", labelCol, dim, iters,
              l2 = math.max(l2, 1e-2), init = current)
          } else trainLogisticSparse(batch, idxCol, labelCol, dim, iters,
            lr, l2, init = current)
        writeModelInto(tmp, next)
        next
      }
    }.orElse(loadModel(modelPath))
      .getOrElse(LogisticModel(new Array[Double](dim), 0.0))

  /** Online (mini-batch) MULTICLASS training: fold one labeled batch
    * into the persisted [[SoftmaxModel]] at `modelPath` — the
    * [[updateModelOnline]] lifecycle mirrored over
    * [[trainSoftmaxSparse]]/[[saveSoftmax]], so the domain router the
    * sparse trainers made trainable at 2^18 dims can also TRACK a
    * drifting domain mix at ingest: `iters` warm-started GD steps over
    * the batch's sparse index features, then an atomic swap-commit of
    * model + applied-batch ledger. Same guarantees as the binary
    * path ([[graft.core.Fold.swap]]): the lock brackets the WHOLE
    * repair-read-train-swap cycle (serialized-but-overlapping writers
    * cannot lose an update), a re-delivered `batchId` is a no-op returning
    * the committed model bit-identically, and empty batches
    * short-circuit. A fresh path with no committed model starts from
    * zero weights — seed it with [[saveSoftmax]] (an offline
    * distilled router) for the warm-start-offline / refresh-online
    * deployment. */
  def updateSoftmaxOnline(batch: DataFrame, modelPath: String,
                          idxCol: String, labelCol: String, dim: Int,
                          numClasses: Int, iters: Int = 50,
                          lr: Double = 1.0, l2: Double = 0.0,
                          batchId: Option[String] = None): SoftmaxModel = {
    def load() = loadSoftmax(modelPath).map { m =>
      require(m.dim == dim && m.numClasses == numClasses,
        s"persisted model shape (${m.dim}, ${m.numClasses}) != " +
          s"($dim, $numClasses)")
      m
    }
    graft.core.Fold.swap(modelPath, batchId) { tmp =>
      val current = load()
      Option.when(!batch.isEmpty) {
        val next = trainSoftmaxSparse(batch, idxCol, labelCol, dim,
          numClasses, iters, lr, l2, init = current)
        saveSoftmax(next, tmp)
        next
      }
    }.orElse(load()).getOrElse(SoftmaxModel(
      Array.fill(numClasses - 1)(new Array[Double](dim + 1)), numClasses))
  }

  // ---------------------------------------------------------------- //
  // evaluation — integer-exact, oracle-expressible
  // ---------------------------------------------------------------- //

  /** One-row confusion matrix + derived rates for boolean
    * `predictedCol` vs truthy `labelCol`: `(tp, fp, tn, fn, precision,
    * recall, f1)`. Counts are one map-side-combined aggregate; the
    * rates are IEEE divisions of those exact integers, so every output
    * is reproducible bit-for-bit by any engine. Null label or
    * prediction rows are excluded from every cell (they are neither
    * correct nor incorrect); an empty frame yields zero counts (and
    * NaN rates — none is defined there). */
  def confusion(df: DataFrame, labelCol: String,
                predictedCol: String): DataFrame = {
    val y = col(labelCol).cast("boolean")
    val p = col(predictedCol).cast("boolean")
    val defined = y.isNotNull && p.isNotNull
    def cell(c: Column) =
      coalesce(sum(when(defined && c, 1L).otherwise(0L)), lit(0L))
    df.agg(
        cell(y && p).as("tp"), cell(!y && p).as("fp"),
        cell(!y && !p).as("tn"), cell(y && !p).as("fn"))
      .select(col("tp"), col("fp"), col("tn"), col("fn"),
        (col("tp").cast("double") / (col("tp") + col("fp")))
          .as("precision"),
        (col("tp").cast("double") / (col("tp") + col("fn")))
          .as("recall"),
        (lit(2.0) * col("tp") / (lit(2.0) * col("tp") + col("fp")
          + col("fn"))).as("f1"))
  }

  /** Exact Mann-Whitney AUC as a one-row frame `(n_pos, n_neg, auc)`:
    * `AUC = (Σ_{positives} tie-averaged rank − nPos(nPos+1)/2) /
    * (nPos·nNeg)`, computed from per-DISTINCT-SCORE group counts — one
    * keyed aggregate, then rank arithmetic over the (much smaller)
    * group relation. All integer until the final division, so the
    * value is engine-reproducible at the bit level. Scale shape: the
    * group relation is bounded by DISTINCT scores — right for
    * quantized scores (integer-count margins, binned/decile scores);
    * raw continuous scores should be binned first (the ordering window
    * over the group relation is single-partition by construction).
    * Null scores/labels are excluded; a frame with no positives or no
    * negatives has no defined AUC (the output divides by zero — NaN),
    * which the `n_pos`/`n_neg` columns make diagnosable. NaN scores
    * are excluded like nulls (a NaN would otherwise form its own
    * score group and sort last in Spark's total order — exactly the
    * cross-engine divergence the bit-reproducibility contract bars;
    * exclusion treats "no comparable score" uniformly). */
  def aucExact(df: DataFrame, scoreCol: String,
               labelCol: String): DataFrame = {
    val y = col(labelCol).cast("boolean")
    val s = col(scoreCol).cast("double")
    val groups = df.filter(s.isNotNull && !isnan(s) && y.isNotNull)
      .groupBy(s.as("__s"))
      .agg(count(lit(1)).as("__n"),
        sum(when(y, 1L).otherwise(0L)).as("__np"))
    val w = Window.orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // tie-averaged rank of a score group = rows before it + (n+1)/2
    val ranked = groups
      .withColumn("__cum", sum(col("__n")).over(w))
      .select((col("__np") *
        ((col("__cum") - col("__n")).cast("double")
          + (col("__n") + lit(1)).cast("double") / lit(2.0)))
        .as("__rsum"),
        col("__np"), col("__n"))
    ranked.agg(sum(col("__np")).as("n_pos"),
        (sum(col("__n")) - sum(col("__np"))).as("n_neg"),
        sum(col("__rsum")).as("__r"))
      .select(col("n_pos"), col("n_neg"),
        ((col("__r") - col("n_pos").cast("double") *
          (col("n_pos") + lit(1)).cast("double") / lit(2.0))
          / (col("n_pos").cast("double") * col("n_neg").cast("double")))
          .as("auc"))
  }

  /** Calibration (reliability) curve: rows bucketed into `bins`
    * equal-count score bands (exact SQL `NTILE` semantics over the
    * (score asc, `tieCol` asc) total order), each band reporting its
    * row count, mean score, and empirical positive rate — the
    * reliability diagram that says whether "0.9" means 90%. Means are
    * sums of exact inputs divided by exact counts, so with quantized
    * scores the whole curve reproduces bit-for-bit. Null/NaN scores
    * and null labels are excluded (a NaN would otherwise sort last in
    * Spark's total order but elsewhere in another engine's — the
    * cross-engine divergence the reproducibility contract bars).
    *
    * Scale shape: a bare `ntile` window has no partition key, so Spark
    * would move the WHOLE relation to one task and sort it there — the
    * driver-era bottleneck a 100 TB reliability curve cannot afford.
    * Instead the global rank comes from the distributed prefix-sum
    * fan-out (the [[Sampling.selectByQualityBudget]] /
    * [[Packing.concatChunks]] shape): approximate range edges split
    * the score domain into ~4·parallelism buckets (the edges choose
    * only WHERE the parallel sort splits — any edge set yields the
    * same ranks, so approximate quantiles are exactly right here), a
    * per-bucket count gives each bucket its exclusive rank offset
    * (driver collect bounded by the bucket count), and bucket-local
    * `row_number` + offset equals the global rank EXACTLY: bucket
    * assignment is monotone in score and never splits tied scores.
    * The `ntile` band is then pure integer arithmetic on that rank.
    * Three passes (edges, counts, rank + aggregate), every sort
    * bucket-local; PlanSpec gates the absence of a global window.
    * Heavy TIE BLOCKS (one score carrying a large share of the rows —
    * the quantized-score regime's normal shape) are sub-split by
    * ranges of `tieCol`, so a dominant value cannot funnel its block
    * through one task: numeric-family tie keys (numerics, booleans,
    * timestamps, dates — the temporal types through an order-
    * preserving double image) split on KLL quantile edges of that
    * image; STRING tie keys (quantized score +
    * string doc-id, the common real shape) split on prefix boundaries
    * sampled from the block (native string order — the same order the
    * rank window sorts by); BINARY tie keys (content hashes — the
    * dedup-adjacent scoring shape) split on sampled byte-string
    * boundaries in the same unsigned byte-lexicographic order Spark
    * sorts BinaryType by; STRUCT/ARRAY tie keys (composite keys,
    * feature vectors) split on sampled boundary VALUES compared with
    * Spark's own nested ordering — the sample is sorted by Spark and
    * re-injected as typed literals, so the sub-split cannot drift
    * from the window's sort. MAP tie keys (and nests containing them)
    * have no native Spark ordering at all (the rank window's orderBy
    * would throw), so the op DEFINES their tie order: maps are imaged
    * through sorted-entries arrays (`array_sort(map_entries(m))`,
    * nested maps imaged recursively). The image is injective (a map's
    * entry set determines it), every imaged type is orderable, and the
    * SAME image drives both the rank window and the sub-split — so the
    * exact-NTILE contract holds against the entry-sorted lexicographic
    * order. Any deterministic total order satisfies the tie key's role
    * (making bands reproducible); entry-sorted lexicographic is the
    * canonical one.
    *
    * Contract: the input must be deterministic across executions (the
    * engine-wide reproducibility assumption — same as every
    * hash-ordered selection op): the offsets are collected once and
    * re-applied to a lazy plan, so a score column derived from `rand`
    * or an unstable shuffle is out of contract. */
  private def containsMapType(
      dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case st: org.apache.spark.sql.types.StructType =>
      st.fields.exists(f => containsMapType(f.dataType))
    case org.apache.spark.sql.types.ArrayType(et, _) => containsMapType(et)
    case _ => false
  }

  /** Type of [[mapOrderableImage]]'s output: every MapType node becomes
    * an array of (key, value) structs (keys are non-null by Spark's map
    * contract), everything else keeps its shape. */
  private def mapImageType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case org.apache.spark.sql.types.MapType(kt, vt, vn) =>
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("key", mapImageType(kt),
            nullable = false),
          org.apache.spark.sql.types.StructField("value", mapImageType(vt),
            nullable = vn))),
        containsNull = false)
    case st: org.apache.spark.sql.types.StructType =>
      org.apache.spark.sql.types.StructType(
        st.fields.map(f => f.copy(dataType = mapImageType(f.dataType))))
    case org.apache.spark.sql.types.ArrayType(et, n) =>
      org.apache.spark.sql.types.ArrayType(mapImageType(et), n)
    case other => other
  }

  /** Orderable image of a map-bearing column: each map node becomes its
    * entries sorted ascending by key (`array_sort(map_entries(m))`) with
    * nested maps imaged recursively. Injective — a map IS its entry set
    * — and null-preserving at every node (a null struct is re-wrapped
    * through a typed null, because `struct(f.getField(...))` of a null
    * struct would otherwise yield a non-null struct of nulls and corrupt
    * the order). Non-map-bearing subtrees pass through untouched. */
  private def mapOrderableImage(c: Column,
      dt: org.apache.spark.sql.types.DataType): Column = dt match {
    case org.apache.spark.sql.types.MapType(kt, vt, _) =>
      val entries =
        if (containsMapType(kt) || containsMapType(vt))
          transform(map_entries(c), e => struct(
            mapOrderableImage(e.getField("key"), kt).as("key"),
            mapOrderableImage(e.getField("value"), vt).as("value")))
        else map_entries(c)
      array_sort(entries)
    case st: org.apache.spark.sql.types.StructType if containsMapType(st) =>
      when(c.isNull, lit(null).cast(mapImageType(st)))
        .otherwise(struct(st.fields.map(f =>
          mapOrderableImage(c.getField(f.name), f.dataType).as(f.name)): _*))
    case org.apache.spark.sql.types.ArrayType(et, _) if containsMapType(et) =>
      transform(c, x => mapOrderableImage(x, et))
    case _ => c
  }

  def calibrationCurve(df: DataFrame, scoreCol: String, labelCol: String,
                       tieCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 1, "bins must be positive")
    val spark = df.sparkSession
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("boolean")
    val valid0 = df.filter(s.isNotNull && !isnan(s) && y.isNotNull)
      .select(s.as("__s"), y.as("__y"), col(tieCol).as("__t"))
    // MAP-bearing tie keys are imaged to sorted-entries arrays ONCE,
    // here — every downstream consumer (the rank window's orderBy, the
    // complex sub-split's Spark-sorted sample, the type dispatch below)
    // then sees one orderable column and cannot disagree on the order
    val valid = {
      val dt = valid0.schema("__t").dataType
      if (containsMapType(dt))
        valid0.withColumn("__t", mapOrderableImage(col("__t"), dt))
      else valid0
    }
    // a monotone tie key: a NUMERIC-family tie column sub-splits a tie
    // block via its double cast (order-preserving; a string of digits
    // would not be — "10" < "9" as strings); a STRING tie column
    // sub-splits via native string comparison (the same UTF8 binary
    // order the rank window sorts by), with boundaries from a sampled
    // prefix instead of a KLL sketch (KLL is numeric). Other types
    // keep heavy blocks whole (correct, serial, loud in the plan).
    val tieNumeric = valid.schema("__t").dataType match {
      case _: org.apache.spark.sql.types.NumericType |
          org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType |
          org.apache.spark.sql.types.DateType |
          org.apache.spark.sql.types.BooleanType => true
      case _ => false
    }
    val tieString =
      valid.schema("__t").dataType == org.apache.spark.sql.types.StringType
    // BINARY tie keys (content hashes — the dedup-adjacent scoring
    // shape) sort by unsigned byte-lexicographic order in Spark, so
    // sampled byte-string boundaries are the same construction as the
    // string path, compared natively (no cast)
    val tieBinary =
      valid.schema("__t").dataType == org.apache.spark.sql.types.BinaryType
    // STRUCT/ARRAY tie keys (composite keys, feature vectors) are
    // ORDERABLE in Spark (field-by-field / element-wise, the same
    // interpreted ordering the rank window sorts by), so a dominant
    // block sub-splits on sampled boundary VALUES compared natively.
    // The driver never re-implements the nested ordering: the sample
    // is sorted BY SPARK and its order statistics come back as typed
    // literals. A canonical-encode-to-bytes scheme would have to be
    // ORDER-preserving to be exact — a content-hash encoding is not —
    // so native comparison is the only construction that cannot drift
    // from the window's sort. MAP-bearing tie keys were already imaged
    // to sorted-entries arrays above, so they dispatch through this
    // path like any other orderable nested type.
    val tieComplex = (valid.schema("__t").dataType match {
      case _: org.apache.spark.sql.types.StructType |
          _: org.apache.spark.sql.types.ArrayType => true
      case _ => false
    }) && org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(valid.schema("__t").dataType)
    // order-preserving double image of the tie key. DATE has no direct
    // double cast — unix_date (days since epoch, exact in a double) is
    // its monotone image; TIMESTAMP_NTZ likewise routes through
    // unix_micros of its UTC reinterpretation (sessions run UTC, so the
    // image order IS the column order)
    val td = valid.schema("__t").dataType match {
      case org.apache.spark.sql.types.DateType =>
        unix_date(col("__t")).cast("double")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("__t").cast("timestamp")).cast("double")
      case _ => col("__t").cast("double")
    }
    // tie sub-bucket of a row given the split maps (disjoint keys):
    // numeric blocks bucket on the double cast, string blocks on the
    // native string order, binary blocks on the native unsigned
    // byte-lexicographic order; everything else stays sub-bucket 0
    def subSplitExpr(bktCol: Column, sn: Map[Int, Seq[Double]],
                     ss: Map[Int, Seq[String]],
                     sb: Map[Int, Seq[Array[Byte]]],
                     sc: Map[Int, Seq[Column]]): Column = {
      val base = sn.foldLeft(lit(0)) { case (acc, (b, es)) =>
        when(bktCol === b, size(filter(typedLit(es), x => td > x)))
          .otherwise(acc)
      }
      val withStr = ss.foldLeft(base) { case (acc, (b, es)) =>
        when(bktCol === b,
          size(filter(typedLit(es), x => col("__t").cast("string") > x)))
          .otherwise(acc)
      }
      val withBin = sb.foldLeft(withStr) { case (acc, (b, es)) =>
        when(bktCol === b,
          size(filter(typedLit(es), x => col("__t") > x)))
          .otherwise(acc)
      }
      // complex boundaries arrive as typed literal COLUMNS (typedLit
      // has no encoder for an arbitrary nested runtime type); a null
      // tie key fails every > and lands in sub-bucket 0 as elsewhere
      sc.foldLeft(withBin) { case (acc, (b, es)) =>
        when(bktCol === b,
          es.map(e => when(col("__t") > e, 1).otherwise(0))
            .reduce(_ + _))
          .otherwise(acc)
      }
    }
    val nb = math.max(2, math.min(256,
      spark.sparkContext.defaultParallelism * 4))
    // the driver-side phases (edges, bucket stats, refined counts)
    // would otherwise each re-evaluate the caller's upstream (a
    // tokenize + margin chain is typical) — cache the narrow
    // projection across them and release it before returning (the
    // lazy result recomputes once)
    valid.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (edges, tieSplits, counts) =
      try {
        val e = valid.stat.approxQuantile("__s",
          (1 until nb).map(_.toDouble / nb).toArray, 0.01)
          .distinct.sorted.toSeq
        val bktE =
          if (e.isEmpty) lit(0)
          else size(filter(typedLit(e), x => col("__s") > x))
        // one aggregate serves counts, the pure-tie-block detector
        // (min == max), and — for a numeric tie key only (an ANSI
        // string→double cast would throw on non-numeric values) — a
        // per-bucket tie sketch for the sub-split
        val aggCols = Seq(count(lit(1)).as("__n"),
          min(col("__s")).as("__lo"), max(col("__s")).as("__hi")) ++
          (if (tieNumeric) Seq(Quantile.kllAgg(td, 2048).as("__tk"))
           else Nil)
        val stat = valid.groupBy(bktE.as("__b"))
          .agg(aggCols.head, aggCols.tail: _*)
          .collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2),
            r.getDouble(3),
            if (tieNumeric) r.getAs[Array[Byte]](4)
            else Array.empty[Byte]))
          .sortBy(_._1)
        val total = stat.map(_._2).sum
        // a PURE tie block (one score value) holding far more than a
        // range bucket's share would funnel its whole sort through one
        // task — sub-split it by tie-key ranges from its KLL sketch.
        // (Only pure blocks qualify: a mixed bucket's tie order is not
        // the (score, tie) order. Range buckets with distinct scores
        // are already bounded by the quantile grid, so nothing else
        // can be this heavy.)
        val ideal = math.max(1L, total / nb)
        val heavy = stat.iterator
          .filter { case (_, n, lo, hi, _) => lo == hi && n > 2 * ideal }
          .toSeq
        val splitsNum: Map[Int, Seq[Double]] =
          if (!tieNumeric) Map.empty
          else heavy.iterator
            .flatMap { case (b, n, _, _, blob) =>
              val buf = Quantile.fromBlob(blob)
              // a sketch that saw fewer values than rows means null
              // tie keys — their sub-bucket would not match their sort
              // position; keep that block whole (correct, just serial)
              if (buf.n != n) None
              else {
                val m = math.min(64L, (n + ideal - 1) / ideal).toInt
                val es = (1 until m).iterator
                  .map(i => Quantile.quantileOf(buf, i.toDouble / m))
                  .collect { case d: Double => d }
                  .toSeq.distinct.sorted
                if (es.isEmpty) None else Some(b -> es)
              }
            }.toMap
        // the STRING path (quantized score + string doc-id is the
        // common real shape): boundaries from a deterministic
        // hash-sample of the block's tie keys (~4k strings to the
        // driver), sorted, prefix order statistics. Strings compare
        // lexicographically in the same UTF8 binary order the rank
        // window sorts by, and ANY boundary set yields the same global
        // ranks (bucket assignment is monotone in __t and never splits
        // equal keys) — sampling error costs balance, never bits.
        // Null tie keys sort FIRST under asc and land in sub-bucket 0
        // (every boundary comparison is null → dropped), so unlike the
        // KLL path nulls need no whole-block fallback.
        val splitsStr: Map[Int, Seq[String]] =
          if (!tieString) Map.empty
          else heavy.iterator
            .flatMap { case (b, n, _, _, _) =>
              val rate = math.max(1L, n / 4096)
              val sample = valid
                .filter(bktE === b && col("__t").isNotNull &&
                  pmod(xxhash64(col("__t"), lit(0x517cc1b7L)),
                    lit(rate)) === 0)
                .select(col("__t").cast("string"))
                .collect().map(_.getString(0)).sorted
              if (sample.isEmpty) None
              else {
                val m = math.min(64L, (n + ideal - 1) / ideal).toInt
                val es = (1 until m).iterator
                  .map(i => sample(
                    ((i.toLong * sample.length) / m).toInt))
                  .toSeq.distinct.sorted
                if (es.isEmpty) None else Some(b -> es)
              }
            }.toMap
        // the BINARY path: the string construction with byte-string
        // boundaries, sorted and compared in the same unsigned
        // byte-lexicographic order the rank window sorts BinaryType by.
        // Null tie keys land in sub-bucket 0 like the string path.
        val splitsBin: Map[Int, Seq[Array[Byte]]] =
          if (!tieBinary) Map.empty
          else heavy.iterator
            .flatMap { case (b, n, _, _, _) =>
              val rate = math.max(1L, n / 4096)
              val byteOrd = new Ordering[Array[Byte]] {
                def compare(a: Array[Byte], c: Array[Byte]): Int =
                  java.util.Arrays.compareUnsigned(a, c)
              }
              val sample = valid
                .filter(bktE === b && col("__t").isNotNull &&
                  pmod(xxhash64(col("__t"), lit(0x517cc1b7L)),
                    lit(rate)) === 0)
                .select(col("__t"))
                .collect().map(_.getAs[Array[Byte]](0)).sorted(byteOrd)
              if (sample.isEmpty) None
              else {
                val m = math.min(64L, (n + ideal - 1) / ideal).toInt
                val es = (1 until m).iterator
                  .map(i => sample(
                    ((i.toLong * sample.length) / m).toInt))
                  .toSeq
                val distinct = es.foldLeft(Seq.empty[Array[Byte]]) {
                  (acc, e) =>
                    if (acc.exists(a => java.util.Arrays.equals(a, e))) acc
                    else acc :+ e
                }.sorted(byteOrd)
                if (distinct.isEmpty) None else Some(b -> distinct)
              }
            }.toMap
        // the COMPLEX path: sample the block's tie keys, let SPARK sort
        // them (orderBy __t — the exact ordering the rank window uses),
        // take order statistics back as typed literals. Duplicate
        // boundaries cost only empty sub-buckets (assignment stays
        // monotone and never splits equal keys), so no dedupe — nested
        // external equality is not worth relying on.
        val splitsCx: Map[Int, Seq[Column]] =
          if (!tieComplex) Map.empty
          else {
            val tieType = valid.schema("__t").dataType
            heavy.iterator
              .flatMap { case (b, n, _, _, _) =>
                val rate = math.max(1L, n / 4096)
                val sample = valid
                  .filter(bktE === b && col("__t").isNotNull &&
                    pmod(xxhash64(col("__t"), lit(0x517cc1b7L)),
                      lit(rate)) === 0)
                  .select(col("__t")).orderBy(col("__t"))
                  .collect().map(_.get(0))
                if (sample.isEmpty) None
                else {
                  val m = math.min(64L, (n + ideal - 1) / ideal).toInt
                  val es = (1 until m).iterator
                    .map(i => sample(
                      ((i.toLong * sample.length) / m).toInt))
                    .toSeq
                  if (es.isEmpty) None
                  else Some(b -> es.map(v =>
                    org.apache.spark.sql.graftshim.shim.column(
                      org.apache.spark.sql.catalyst.expressions.Literal
                        .create(v, tieType))))
                }
              }.toMap
          }
        // refined counts only when a block actually split — and only
        // over the split blocks' rows (every other bucket's count is
        // already in `stat`; re-aggregating the whole relation for
        // them would be a pure waste)
        val c: Seq[(Int, Long)] =
          if (splitsNum.isEmpty && splitsStr.isEmpty &&
              splitsBin.isEmpty && splitsCx.isEmpty)
            stat.map(t => (t._1 * 128, t._2)).toSeq
          else {
            val sub = subSplitExpr(bktE, splitsNum, splitsStr,
              splitsBin, splitsCx)
            val splitKeys = (splitsNum.keySet ++ splitsStr.keySet ++
              splitsBin.keySet ++ splitsCx.keySet).toSeq
            val splitCounts = valid
              .filter(bktE.isin(splitKeys: _*))
              .groupBy((bktE * lit(128) + sub).as("__b2"))
              .agg(count(lit(1)).as("__n"))
              .collect().map(r => (r.getInt(0), r.getLong(1)))
            val kept = stat.iterator
              .filterNot(t => splitsNum.contains(t._1) ||
                splitsStr.contains(t._1) || splitsBin.contains(t._1) ||
                splitsCx.contains(t._1))
              .map(t => (t._1 * 128, t._2))
            (kept ++ splitCounts).toSeq.sortBy(_._1)
          }
        (e, (splitsNum, splitsStr, splitsBin, splitsCx), c)
      } finally { valid.unpersist(): Unit }
    val bkt =
      if (edges.isEmpty) lit(0)
      else size(filter(typedLit(edges), e => col("__s") > e))
    val subExpr = subSplitExpr(bkt, tieSplits._1, tieSplits._2,
      tieSplits._3, tieSplits._4)
    // composite bucket id: (score bucket, tie sub-bucket), sub < 64,
    // lexicographic in the (__s, __t) total order by construction
    val tagged = valid.withColumn("__b", bkt * lit(128) + subExpr)
    def grouped(binned: DataFrame, bin: Column) = binned
      .groupBy(bin.cast("int").as("bin"))
      .agg(count(lit(1)).as("n"),
        avg(col("__s")).as("mean_score"),
        avg(when(col("__y"), 1.0).otherwise(0.0)).as("pos_rate"))
      .orderBy(col("bin"))
    val total = counts.map(_._2).sum
    // empty input: the grouped shape of an empty frame IS the answer
    if (total == 0L) return grouped(tagged, col("__b"))
    val offsets = {
      var acc = 0L
      counts.map { case (b, n) => val o = acc; acc += n; (b, o) }
    }
    import spark.implicits._
    val offDF = broadcast(offsets.toDF("__b", "__off"))
    val rankW = Window.partitionBy(col("__b"))
      .orderBy(col("__s").asc, col("__t").asc)
    // exact integer floor division: the numerator is reduced to a
    // multiple of the divisor first, so the double division is exact
    // for any rank below 2^53 (a bare `/` rounds)
    def idiv(a: Column, b: Long): Column =
      ((a - pmod(a, lit(b))) / lit(b)).cast("long")
    // SQL NTILE(bins) over global rank rn in [1, total]: the first
    // (total mod bins) bands hold ceil(total/bins) rows, the rest floor
    val q = total / bins
    val r = total % bins
    def band(rn: Column): Column =
      if (q == 0L) rn // fewer rows than bands: band i = row i
      else if (r == 0L) idiv(rn - 1L, q) + 1L
      else when(rn <= lit(r * (q + 1)),
        idiv(rn - 1L, q + 1) + 1L)
        .otherwise(lit(r) + idiv(rn - lit(r * (q + 1)) - 1L, q) + 1L)
    // LEFT join + loud null guard: an inner join would silently DROP
    // rows landing in a bucket absent from the collected counts (an
    // out-of-contract nondeterministic input — rand-derived scores, a
    // concurrent append — recomputing differently after unpersist),
    // shifting every band without a trace. Every other contract
    // violation in this op fails loudly; so must this one.
    val ranked = tagged.join(offDF, Seq("__b"), "left")
      .withColumn("__rn", row_number().over(rankW).cast("long")
        + when(col("__off").isNull, raise_error(concat(
            lit("calibrationCurve: rows landed in a bucket the counting" +
              " pass never saw (bucket id "),
            col("__b").cast("string"),
            lit(") — the input recomputed differently across passes;" +
              " the op requires a deterministic input (no rand-derived" +
              " scores, no concurrent appends)"))))
          .otherwise(col("__off")))
    grouped(ranked, band(col("__rn")))
  }

  /** Histogram-binning calibration map (Zadrozny & Elkan 2001): score
    * range `(edges(i-1), edges(i)]`-style bands (strict `> edge`
    * bucketing, same convention as every range bucketing in this
    * file) each carry their empirical positive rate. `rates(b)` is
    * bin b's rate; an EMPTY bin inherits the global prior (documented
    * fallback — a calibrator must answer for every score). All rates
    * are exact-integer divisions, bit-reproducible in any engine. */
  case class CalibrationModel(edges: Seq[Double], rates: Seq[Double],
                              prior: Double) {
    require(edges == edges.distinct.sorted, "edges must be strictly " +
      "increasing")
    require(rates.length == edges.length + 1, "need edges+1 rates")
  }

  /** Fit a histogram-binning calibrator on labeled scores: one
    * map-side-combined keyed aggregate (driver collect bounded by the
    * bin count), rates = exact positives/n per bin. Null/NaN scores
    * and null labels are excluded (the [[aucExact]] discipline). With
    * caller-chosen literal `edges` the whole model is
    * oracle-reproducible; derive edges from a KLL sketch
    * ([[Quantile]]) when the score domain is unknown. Scale shape:
    * one aggregate pass, nothing driver-side beyond bins+1 longs. */
  def fitHistogramCalibration(df: DataFrame, scoreCol: String,
                              labelCol: String, edges: Seq[Double])
      : CalibrationModel = {
    require(edges.nonEmpty && edges == edges.distinct.sorted,
      "edges must be non-empty and strictly increasing")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("boolean")
    val bin = size(filter(typedLit(edges), e => col("__s") > e))
    val rows = df.filter(s.isNotNull && !isnan(s) && y.isNotNull)
      .select(s.as("__s"), y.as("__y"))
      .groupBy(bin.as("__b"))
      .agg(count(lit(1)).as("__n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("__np"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val n = rows.map(_._2).sum
    val np = rows.map(_._3).sum
    require(n > 0, "cannot calibrate on an empty frame")
    val prior = np.toDouble / n
    val byBin = rows.map(t => t._1 -> (t._2, t._3)).toMap
    val rates = (0 to edges.length).map { b =>
      byBin.get(b) match {
        case Some((bn, bp)) => bp.toDouble / bn
        case None => prior // empty bin: the documented prior fallback
      }
    }
    CalibrationModel(edges, rates, prior)
  }

  /** [[fitHistogramCalibration]] with the edges DERIVED from the score
    * distribution: a KLL sketch (one map-side-combined aggregate, a
    * few-KiB blob to the driver) yields up to `bins − 1` quantile
    * edges, so the bins are equal-mass wherever the scores allow and
    * the caller never has to know the score domain. A constant-score
    * frame degrades to one bin carrying the prior (documented, still a
    * total calibrator). Edge derivation is data-dependent — use the
    * literal-edges overload when the calibrator must be
    * oracle-reproducible. */
  def fitHistogramCalibration(df: DataFrame, scoreCol: String,
                              labelCol: String, bins: Int,
                              sketchK: Int): CalibrationModel = {
    require(bins >= 2, "need at least 2 bins")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("boolean")
    val valid = df.filter(s.isNotNull && !isnan(s) && y.isNotNull)
      .select(s.as("__s"), y.as("__y"))
    val blob = valid.agg(Quantile.kllAgg(col("__s"), sketchK).as("sk"))
      .head().getAs[Array[Byte]](0)
    val buf = Quantile.fromBlob(blob)
    val edges = (1 until bins).iterator
      .map(i => Quantile.quantileOf(buf, i.toDouble / bins))
      .collect { case d: Double => d }.toSeq.distinct.sorted
    if (edges.isEmpty) {
      // constant-score/empty-edge frame: one bin IS the binning — fit
      // the single rate directly (the literal overload requires a
      // non-empty edge set)
      val r = valid.agg(count(lit(1)).as("n"),
        sum(when(col("__y"), 1L).otherwise(0L)).as("np")).head()
      require(r.getLong(0) > 0, "cannot calibrate on an empty frame")
      val prior = r.getLong(1).toDouble / r.getLong(0)
      // a single-bin model still needs one edge below every score so
      // both rates serve the prior
      CalibrationModel(Seq(Double.NegativeInfinity),
        Seq(prior, prior), prior)
    } else fitHistogramCalibration(valid, "__s", "__y", edges)
  }

  /** Class `c`'s one-vs-rest decision margin off a logits ARRAY
    * column: `logit_c − max(other logits)` — positive iff class c wins
    * the argmax STRICTLY. A pure projection, so the calibrated router
    * serves as the same codegen'd literal chain the binary pipeline
    * does. */
  def softmaxClassMargin(logits: Column, c: Int,
                         numClasses: Int): Column = {
    require(c >= 0 && c < numClasses, s"class $c outside [0, $numClasses)")
    val mine = element_at(logits, c + 1)
    val others = (0 until numClasses).filter(_ != c)
      .map(o => element_at(logits, o + 1))
    mine - others.reduce(greatest(_, _))
  }

  /** The calibrated probability of a score — a codegen'd literal
    * array lookup (edge-count bucketing into the rate table), zero
    * shuffle, streams in append mode. A NaN score fails loudly: under
    * Spark's NaN-greatest comparison it would silently land in the
    * top bin while other engines disagree — exactly the divergence
    * the reproducibility contract bars. Null scores calibrate to
    * null. */
  def calibratedExpr(score: Column, m: CalibrationModel): Column = {
    val sd = score.cast("double")
    // explicit null-first: the edge-count bucketing would otherwise
    // silently file a null score under bin 0 (every null predicate
    // drops its element)
    when(sd.isNull, lit(null).cast("double"))
      .when(isnan(sd), raise_error(lit(
        "cannot calibrate a NaN score (exclude or repair upstream)")))
      .otherwise(element_at(typedLit(m.rates),
        size(filter(typedLit(m.edges), e => sd > e)) + 1))
  }

  /** K-fold cross-validated OUT-OF-FOLD predictions: rows are assigned
    * folds by `xxhash64(idCol) mod k` (deterministic, reproducible,
    * stratum-free — the leakage-safe default when rows are
    * exchangeable; use [[Sampling]]'s cluster-aware splits first when
    * near-duplicates exist), one [[trainLogistic]] per fold on the
    * complement, and every row is scored by the model that never saw
    * it. Returns `(idCol, fold, margin)` — feed [[confusion]] /
    * [[aucExact]] / [[calibrationCurve]] for honest generalization
    * metrics instead of training-set ones. Cost: k trainings (k·iters
    * jobs) over one cached projection, then ONE combined scoring pass
    * (a CASE chain over the k literal margin expressions — a k-branch
    * filtered union would re-scan the input k times at every
    * downstream action). The folds are INDEPENDENT, so they train as
    * k concurrent driver threads submitting jobs against the shared
    * cluster (wall-clock tracks the slowest fold, not the sum; each
    * fold's model is a pure function of its complement's partition
    * contents, so concurrency cannot move a bit — ClassifierSpec pins
    * the OOF frame). */
  def crossValidate(df: DataFrame, featuresCol: String, labelCol: String,
                    idCol: String, dim: Int, k: Int = 5,
                    iters: Int = 12, l2: Double = 1e-2): DataFrame =
    crossValidateWith(df, featuresCol, labelCol, idCol, k) {
      (folded, fold) =>
        trainLogistic(folded.filter(col("__fold") =!= fold),
          "__f", labelCol, dim, iters, l2)
    } { (folded, models) =>
      // ONE pass scores every row with its own fold's model: a CASE
      // chain over the k small literal margin expressions. (A k-branch
      // filtered union would re-scan the input k times at every
      // downstream action — the pipeline gate pays that scan after the
      // internal cache is released.)
      val margin = models.zipWithIndex
        .foldLeft(lit(null).cast("double")) { case (acc, (m, f)) =>
          when(col("__fold") === f, marginExpr(col("__f"), m))
            .otherwise(acc)
        }
      folded.select(col(idCol), col("__fold").as("fold"),
        margin.as("margin"))
    }

  /** [[crossValidate]] for the SPARSE hashed-feature regime — the
    * 2^18-bin featurizer the engine calls the 100 TB shape
    * ([[hashedIndices]]) gets the same honest OOF metrics the dense
    * path has, so a deployment gate (the q_doc_classifier_pipeline
    * discipline) can be built for a sparse router too. Fold models
    * train concurrently ([[trainLogisticSparse]] on each complement);
    * OOF margins come from ONE [[scoreSparse]]-shaped pass — explode
    * the indices, broadcast the composite (fold, index) → weight
    * table of ALL k models (k· dim doubles: a 5-fold 2^18 model is
    * 10 MiB, still broadcast-bounded), re-aggregate per (id, fold) —
    * never a 2^18-literal chain and never k scans of the corpus.
    * Same deterministic hash-fold assignment, same
    * `(idCol, fold, margin)` frame, same loud OOB contract. */
  def crossValidateSparse(df: DataFrame, idxCol: String, labelCol: String,
                          idCol: String, dim: Int, k: Int = 5,
                          iters: Int = 200, lr: Double = 0.5,
                          l2: Double = 0.0): DataFrame =
    crossValidateWith(df, idxCol, labelCol, idCol, k) { (folded, fold) =>
      trainLogisticSparse(folded.filter(col("__fold") =!= fold), "__f",
        labelCol, dim, iters, lr, l2)
    } { (folded, models) =>
      val spark = folded.sparkSession
      import spark.implicits._
      val wdf = spark.createDataset(
        models.zipWithIndex.flatMap { case (m, f) =>
          m.weights.toIndexedSeq.zipWithIndex.map { case (w, i) =>
            (f, i, w)
          }
        }).toDF("__fold", "__i", "__w")
      val bias = models.zipWithIndex.foldLeft(lit(0.0)) {
        case (acc, (m, f)) =>
          when(col("__fold") === f, lit(m.bias)).otherwise(acc)
      }
      folded
        .select(col(idCol), col("__fold"),
          nullElementGuard(col("__f")).as("__idx"))
        .select(col(idCol), col("__fold"),
          explode_outer(col("__idx")).as("__i"))
        .join(broadcast(wdf), Seq("__fold", "__i"), "left")
        .groupBy(col(idCol), col("__fold"))
        .agg(coalesce(sum(col("__w")), lit(0.0)).as("__m"),
          max(when(col("__i").isNotNull && col("__w").isNull, 1)
            .otherwise(0)).as("__oob"))
        .select(col(idCol), col("__fold").as("fold"),
          when(col("__oob") === 1, raise_error(concat(
            lit(s"sparse index outside model dim $dim at id "),
            col(idCol).cast("string"))))
            .otherwise(col("__m") + bias).as("margin"))
    }

  /** [[crossValidateSparse]] for the MULTICLASS router — the domain-
    * routing lifecycle (train → calibrate → online fold) gets the same
    * honest OOF deployment gate the binary classifier has. Fold models
    * train concurrently ([[trainSoftmaxSparse]] on each complement);
    * OOF predictions come from ONE [[scoreSoftmaxSparse]]-shaped pass —
    * explode the indices, broadcast the composite (fold, index) →
    * per-class-weights table of ALL k models (k·dim·(C−1) doubles: a
    * 5-fold 2^18 × 3-class table is ~20 MiB, broadcast-bounded),
    * re-aggregate per (id, fold), codegen argmax. Output
    * `(idCol, fold, logits, predicted)`; an OOB index fails loudly
    * in-plan (the scorer contract).
    *
    * `init(fold)` optionally warm-starts that fold's GD (the
    * distill-then-polish recipe cold sparse GD needs at corpus scale).
    * HONESTY CONTRACT: the warm start must be derived from data
    * excluding that fold — build it on `df.filter(foldExpr(id, k) =!=
    * fold)` (the exact assignment this pool uses) or the OOF metric
    * silently stops being out-of-fold. */
  def crossValidateSoftmaxSparse(df: DataFrame, idxCol: String,
                                 labelCol: String, idCol: String,
                                 dim: Int, numClasses: Int, k: Int = 5,
                                 iters: Int = 200, lr: Double = 0.5,
                                 l2: Double = 0.0,
                                 init: Int => Option[SoftmaxModel] =
                                   _ => None): DataFrame =
    crossValidateWith(df, idxCol, labelCol, idCol, k) { (folded, fold) =>
      trainSoftmaxSparse(folded.filter(col("__fold") =!= fold), "__f",
        labelCol, dim, numClasses, iters, lr, l2, init = init(fold))
    } { (folded, models) =>
      val spark = folded.sparkSession
      import spark.implicits._
      val C = numClasses
      val wdf = spark.createDataset(
        models.zipWithIndex.flatMap { case (m, f) =>
          (0 until dim).map { i =>
            (f, i, m.weights.toIndexedSeq.map(_(i)))
          }
        }).toDF("__fold", "__i", "__w")
      val sumCols = (0 until C - 1).map(c =>
        coalesce(sum(element_at(col("__w"), c + 1)), lit(0.0))
          .as(s"__s$c")) :+
        max(when(col("__i").isNotNull && col("__w").isNull, 1)
          .otherwise(0)).as("__oob")
      val sums = folded
        .select(col(idCol), col("__fold"),
          nullElementGuard(col("__f")).as("__idx"))
        .select(col(idCol), col("__fold"),
          explode_outer(col("__idx")).as("__i"))
        .join(broadcast(wdf), Seq("__fold", "__i"), "left")
        .groupBy(col(idCol), col("__fold"))
        .agg(sumCols.head, sumCols.tail: _*)
      val logits = (0 until C - 1).map { c =>
        val bias = models.zipWithIndex.foldLeft(lit(0.0)) {
          case (acc, (m, f)) =>
            when(col("__fold") === f, lit(m.weights(c).last))
              .otherwise(acc)
        }
        col(s"__s$c") + bias
      } :+ lit(0.0)
      def guard(out: Column) = when(col("__oob") === 1,
        raise_error(concat(
          lit(s"sparse index outside model dim $dim at id "),
          col(idCol).cast("string"))))
        .otherwise(out)
      sums.select(col(idCol), col("__fold").as("fold"),
        guard(array(logits: _*)).as("logits"),
        guard(argmaxExpr(logits)).as("predicted"))
    }

  /** The deterministic fold assignment every crossValidate* entry
    * point uses — public so a warm-start provider can build each
    * fold's complement with the EXACT split the pool will use. */
  def foldExpr(id: Column, k: Int): Column =
    pmod(xxhash64(id), lit(k.toLong)).cast("int")

  /** The shared fold pool: hash-fold assignment, one cached
    * projection, k concurrent fail-fast driver threads training the
    * fold models (one job group — the first failed fold cancels the
    * siblings' jobs, submitted or not), then `combine(folded, models)`
    * builds the OOF frame in ONE pass over the projection (models are
    * driver values, so the returned plan scans the input once per
    * downstream action, not k times). Each model is a pure function of
    * its complement's partition contents, so concurrency cannot move a
    * bit (ClassifierSpec pins both OOF frames). */
  private def crossValidateWith[M](df: DataFrame, featuresCol: String,
                                   labelCol: String, idCol: String,
                                   k: Int)
                                  (trainFold: (DataFrame, Int) => M)
                                  (combine: (DataFrame, Seq[M]) => DataFrame)
      : DataFrame = {
    require(k >= 2, "need at least 2 folds")
    val folded = df.select(col(idCol), col(labelCol),
      col(featuresCol).as("__f"),
      foldExpr(col(idCol), k).as("__fold"))
    folded.persist()
    try {
      val sc = df.sparkSession.sparkContext
      val group = s"graft-cv-${java.util.UUID.randomUUID()}"
      val pool = java.util.concurrent.Executors.newFixedThreadPool(k)
      val ec = scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val models =
        try {
          import scala.concurrent.{Await, Future, Promise}
          // fail-FAST collection: the first failed fold completes the
          // promise immediately (a sequential await would not notice a
          // mid-index failure until every earlier fold finished)
          val done = Promise[Seq[M]]()
          val results = new Array[Any](k)
          val remaining = new java.util.concurrent.atomic.AtomicInteger(k)
          (0 until k).foreach { fold =>
            Future {
              // job-group per fold thread: one failed fold cancels the
              // siblings' jobs — including ones they have not
              // submitted yet — instead of leaving k-1 orphan
              // trainings burning the cluster after the throw
              sc.setJobGroup(group, s"crossValidate fold $fold",
                interruptOnCancel = true)
              trainFold(folded, fold)
            }(ec).onComplete {
              case scala.util.Success(m) =>
                results(fold) = m
                if (remaining.decrementAndGet() == 0)
                  done.trySuccess(
                    results.toIndexedSeq.map(_.asInstanceOf[M])): Unit
              case scala.util.Failure(e) => done.tryFailure(e): Unit
            }(ec)
          }
          try Await.result(done.future,
            scala.concurrent.duration.Duration.Inf)
          catch {
            case e: Throwable =>
              sc.cancelJobGroupAndFutureJobs(group); throw e
          }
        } finally { pool.shutdown() }
      combine(folded, models)
    } finally { folded.unpersist(): Unit }
  }

  /** Fraction of rows the model classifies correctly (`margin > 0`
    * vs truthy label) — the fail-loud convergence check for pipelines
    * contracted on a separable concept. */
  def trainAccuracy(df: DataFrame, featuresCol: String, labelCol: String,
                    model: LogisticModel): Double =
    df.select(avg(
      when((marginExpr(col(featuresCol), model) > 0) ===
        col(labelCol).cast("boolean"), 1.0).otherwise(0.0)).as("acc"))
      .head().getDouble(0)
}
