package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** In-engine logistic-regression quality classifier: IRLS and sparse-GD
  * trainers converge on separable concepts, training is deterministic,
  * dense in-plan scoring and the sparse broadcast-join scorer agree, and
  * the featurizers count what they claim. */
class ClassifierSpec extends AnyFunSuite {
  import graft.SparkSpec.spark
  import spark.implicits._

  /** Synthetic separable corpus: label = text mentions "spark" at least
    * twice; vocab features carry the concept plus noise words. */
  private val vocab = Seq("spark", "flink", "duck", "noise")
  private def corpus(n: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val ns = rnd.nextInt(5)
      val words = Seq.fill(ns)("spark") ++
        Seq.fill(rnd.nextInt(4))("flink") ++
        Seq.fill(rnd.nextInt(3))("duck") ++ Seq("pad")
      (i.toLong, rnd.shuffle(words).mkString(" "), ns >= 2)
    }.toDF("id", "text", "label")
  }

  test("vocabCountFeatures: exact per-word counts, fixed width") {
    val df = Seq((1L, "spark spark duck"), (2L, ""), (3L, "flink"))
      .toDF("id", "text")
    val f = df.select(col("id"), Classifier.vocabCountFeatures(
      Text.tokens(col("text")), vocab).as("f")).orderBy("id")
      .collect().map(r => r.getSeq[Double](1))
    assert(f(0) == Seq(2.0, 0.0, 1.0, 0.0))
    // empty text: split yields one "" token — counts of real words are 0
    assert(f(1) == Seq(0.0, 0.0, 0.0, 0.0))
    assert(f(2) == Seq(0.0, 1.0, 0.0, 0.0))
  }

  test("trainLogistic (IRLS): separable concept reaches 100% training " +
    "accuracy; retrain is bit-identical; ridge shrinks weights") {
    val df = corpus(400, seed = 7)
    val feats = df.select(col("id"), col("label"),
      Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
        .as("f"))
    val m = Classifier.trainLogistic(feats, "f", "label", dim = 4)
    assert(Classifier.trainAccuracy(feats, "f", "label", m) == 1.0)
    // the concept's word dominates the learned direction
    assert(m.weights(0) > 0 && m.weights(0) > m.weights.tail.map(
      math.abs).max)
    // determinism: identical partition contents => identical bits
    val m2 = Classifier.trainLogistic(feats, "f", "label", dim = 4)
    assert(m.bias == m2.bias && m.weights.sameElements(m2.weights))
    // stronger ridge => smaller norm, same decisions here
    val mReg = Classifier.trainLogistic(feats, "f", "label", dim = 4,
      l2 = 1.0)
    def norm(w: Array[Double]) = math.sqrt(w.map(x => x * x).sum)
    assert(norm(mReg.weights) < norm(m.weights))
  }

  test("repartitioning moves float summation order: weights agree to " +
    "1e-9 and decisions are identical") {
    val df = corpus(400, seed = 11)
    val feats = df.select(col("id"), col("label"),
      Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
        .as("f"))
    val a = Classifier.trainLogistic(feats.repartition(2), "f", "label", 4)
    val b = Classifier.trainLogistic(feats.repartition(8), "f", "label", 4)
    (a.weights :+ a.bias).zip(b.weights :+ b.bias).foreach {
      case (x, y) => assert(math.abs(x - y) < 1e-9, s"$x vs $y")
    }
    val pa = feats.select(col("id"),
      (Classifier.marginExpr(col("f"), a) > 0).as("p"))
    val pb = feats.select(col("id"),
      (Classifier.marginExpr(col("f"), b) > 0).as("p"))
    assert(pa.except(pb).count() == 0 && pb.except(pa).count() == 0)
  }

  test("trainLogisticSparse (GD over hashed indices): converges on the " +
    "separable concept; empty index arrays train and score") {
    val df = corpus(300, seed = 13)
    val dim = 64
    val feats = df.select(col("id"), col("label"),
      Classifier.hashedIndices(Text.tokens(col("text")), dim).as("idx"))
    val m = Classifier.trainLogisticSparse(feats, "idx", "label", dim,
      iters = 300, lr = 1.0)
    // accuracy via the sparse scorer
    val scored = Classifier.scoreSparse(feats, "id", "idx", m)
    val acc = feats.join(scored, "id")
      .select(avg(when((col("margin") > 0) === col("label"), 1.0)
        .otherwise(0.0))).head().getDouble(0)
    assert(acc == 1.0, s"sparse GD under-converged: acc=$acc")
  }

  test("dense IRLS model scored sparsely: scoreSparse over binned " +
    "indices equals the dense marginExpr over binned counts") {
    val df = corpus(200, seed = 17)
    val dim = 32
    val withBoth = df.select(col("id"), col("label"),
      Classifier.hashedCountFeatures(Text.tokens(col("text")), dim)
        .as("f"),
      Classifier.hashedIndices(Text.tokens(col("text")), dim).as("idx"))
    val m = Classifier.trainLogistic(withBoth, "f", "label", dim)
    val dense = withBoth.select(col("id"),
      Classifier.marginExpr(col("f"), m).as("md"))
    val sparse = Classifier.scoreSparse(withBoth, "id", "idx", m)
    val joined = dense.join(sparse, "id")
      .select(max(abs(col("md") - col("margin")))).head().getDouble(0)
    assert(joined < 1e-9, s"dense/sparse margin drift: $joined")
  }

  test("updateModelOnline: warm-started folds converge across batches; " +
    "a re-delivered batch id is a no-op returning the committed bits; " +
    "empty batches are no-ops; the crash window recovers") {
    import graft.core.Fs
    val dim = 32
    val root = java.nio.file.Files.createTempDirectory("graft-clf-online-")
      .toString
    val modelPath = s"$root/model"
    val df = corpus(300, seed = 23)
    val feats = df.select(col("id"), col("label"),
      Classifier.hashedIndices(Text.tokens(col("text")), dim).as("idx"))
    val b1 = feats.filter(col("id") % 2 === 0)
    val b2 = feats.filter(col("id") % 2 === 1)
    val m1 = Classifier.updateModelOnline(b1, modelPath, "idx", "label",
      dim, iters = 150, batchId = Some("s:1"))
    val m2 = Classifier.updateModelOnline(b2, modelPath, "idx", "label",
      dim, iters = 150, batchId = Some("s:2"))
    // warm start: batch 2 continued from batch 1's weights, not zero
    assert(!m2.weights.sameElements(
      Classifier.trainLogisticSparse(b2, "idx", "label", dim, 150, 1.0)
        .weights))
    // replay of batch 2 returns the committed model bit-identically
    // without touching the weights (the GD fold is non-idempotent)
    val replay = Classifier.updateModelOnline(b2, modelPath, "idx",
      "label", dim, iters = 150, batchId = Some("s:2"))
    assert(replay.bias == m2.bias &&
      replay.weights.sameElements(m2.weights))
    // empty batch: committed model unchanged
    val mEmpty = Classifier.updateModelOnline(feats.filter(lit(false)),
      modelPath, "idx", "label", dim, iters = 10, batchId = Some("s:3"))
    assert(mEmpty.weights.sameElements(m2.weights))
    // the two folds classify the full corpus (two passes over halves)
    val scored = Classifier.scoreSparse(feats, "id", "idx", m2)
    val acc = feats.join(scored, "id")
      .select(avg(when((col("margin") > 0) === col("label"), 1.0)
        .otherwise(0.0))).head().getDouble(0)
    assert(acc == 1.0, s"online folds under-converged: acc=$acc")
    // crash window: a parked swap (model at __old, live dir missing)
    // recovers to the committed state on the next call
    Fs.rename(modelPath, s"$modelPath.__old")
    val recovered = Classifier.updateModelOnline(b2, modelPath, "idx",
      "label", dim, iters = 150, batchId = Some("s:2"))
    assert(recovered.weights.sameElements(m2.weights))
    // a LIVE writer's lock makes a second writer fail fast BEFORE it
    // reads or trains (the lock brackets read-train-swap, so an
    // overlapping writer can never fold from a stale model); a crashed
    // holder is repaired by deleting the lock, per the message
    assert(Fs.createExclusive(s"$modelPath.__lock", "pid=test"))
    val raced = intercept[IllegalStateException](
      Classifier.updateModelOnline(b1, modelPath, "idx", "label", dim,
        iters = 1, batchId = Some("s:9")))
    assert(raced.getMessage.contains("lock"), raced.getMessage)
    Fs.delete(s"$modelPath.__lock")
    val after = Classifier.updateModelOnline(b2, modelPath, "idx",
      "label", dim, iters = 150, batchId = Some("s:2"))
    assert(after.weights.sameElements(m2.weights))
  }

  test("confusion + aucExact: hand-computed cells, tie-averaged ranks, " +
    "null rows excluded, perfect/inverted/random AUC anchors") {
    // 8 rows: scores with a tie straddling the labels
    //   label:  1    1    0    1    0    0   null  1(score null)
    //   score: 0.9  0.7  0.7  0.4  0.3  0.1  0.8   null
    val rows = Seq[(java.lang.Boolean, java.lang.Double)](
      (true, 0.9), (true, 0.7), (false, 0.7), (true, 0.4),
      (false, 0.3), (false, 0.1), (null, 0.8), (true, null))
      .toDF("label", "score")
    val withPred = rows.withColumn("predicted", col("score") > 0.5)
    val c = Classifier.confusion(withPred, "label", "predicted")
      .head()
    // defined rows: scores .9T .7T .7F .4T .3F .1F -> pred T,T,T,F,F,F
    // => tp=2 (.9,.7), fp=1 (.7F), tn=2 (.3,.1), fn=1 (.4)
    assert((c.getLong(0), c.getLong(1), c.getLong(2), c.getLong(3))
      == ((2L, 1L, 2L, 1L)))
    assert(c.getDouble(4) == 2.0 / 3.0)          // precision
    assert(c.getDouble(5) == 2.0 / 3.0)          // recall
    assert(c.getDouble(6) == 4.0 / (4.0 + 1 + 1)) // f1
    val a = Classifier.aucExact(rows, "score", "label").head()
    // ranks asc: .1->1, .3->2, .4->3, .7 tie->(4+5)/2=4.5, .9->6
    // positives: .4(3) + .7(4.5) + .9(6) = 13.5; nPos=3, nNeg=3
    // AUC = (13.5 - 3*4/2) / 9 = 7.5/9
    assert((a.getLong(0), a.getLong(1)) == ((3L, 3L)))
    assert(a.getDouble(2) == 7.5 / 9.0)
    // anchors: perfectly separated = 1.0, inverted = 0.0
    val sep = Seq((true, 2.0), (true, 3.0), (false, 1.0), (false, 0.5))
      .toDF("label", "score")
    assert(Classifier.aucExact(sep, "score", "label")
      .head().getDouble(2) == 1.0)
    val inv = sep.withColumn("score", -col("score"))
    assert(Classifier.aucExact(inv, "score", "label")
      .head().getDouble(2) == 0.0)
    // all-tied scores: AUC = 0.5 exactly (pure tie mass)
    val tied = Seq((true, 1.0), (false, 1.0), (true, 1.0), (false, 1.0))
      .toDF("label", "score")
    assert(Classifier.aucExact(tied, "score", "label")
      .head().getDouble(2) == 0.5)
  }

  test("trainSoftmax: argmax concept recovered on unique-max rows; " +
    "C=2 softmax agrees with the binary trainer; retrain bit-identical; " +
    "predict tie-breaks to the first max; bad labels fail loudly") {
    val rnd = new scala.util.Random(37)
    val df = (0 until 400).map { i =>
      val a = rnd.nextInt(5); val b = rnd.nextInt(5); val c = rnd.nextInt(5)
      val label = if (a >= b && a >= c) 0 else if (b >= c) 1 else 2
      val unique = (a > b && a > c) || (b > a && b > c) || (c > a && c > b)
      (i.toLong, Seq(a.toDouble, b.toDouble, c.toDouble), label, unique)
    }.toDF("id", "f", "label", "unique_max")
    val m = Classifier.trainSoftmax(df, "f", "label", dim = 3,
      numClasses = 3)
    val acc = df.filter(col("unique_max"))
      .select(avg(when(Classifier.softmaxPredictExpr(col("f"), m) ===
        col("label"), 1.0).otherwise(0.0))).head().getDouble(0)
    assert(acc == 1.0, s"softmax under-converged: acc=$acc")
    // determinism
    val m2 = Classifier.trainSoftmax(df, "f", "label", 3, 3)
    assert(m.weights.flatMap(_.toSeq)
      .sameElements(m2.weights.flatMap(_.toSeq)))
    // C=2 softmax (reference class 1) == binary logistic, same ridge
    val bin = corpus(300, seed = 41)
    val bf = bin.select(col("id"),
      when(col("label"), 0).otherwise(1).as("y01"),
      Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
        .as("f"))
    val sm = Classifier.trainSoftmax(bf, "f", "y01", dim = 4,
      numClasses = 2, iters = 12, l2 = 1e-2)
    val lr = Classifier.trainLogistic(
      bf.withColumn("pos", col("y01") === 0), "f", "pos", dim = 4,
      iters = 12, l2 = 1e-2)
    (sm.weights.head.init :+ sm.weights.head.last)
      .zip(lr.weights :+ lr.bias).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"softmax $a vs logistic $b")
      }
    // first-max tie-break: all-zero model => every logit ties => class 0
    val zero = Classifier.SoftmaxModel(
      Array(Array(0.0, 0.0, 0.0, 0.0), Array(0.0, 0.0, 0.0, 0.0)), 3)
    val pred = df.select(Classifier.softmaxPredictExpr(
      col("f").cast("array<double>"), zero)).distinct().collect()
    assert(pred.map(_.getInt(0)).toSeq == Seq(0))
    val bad = Seq((1L, Seq(1.0, 0.0, 0.0), 9)).toDF("id", "f", "label")
    intercept[Exception](
      Classifier.trainSoftmax(bad, "f", "label", 3, 3, iters = 1))
    // persistence round-trips bit-exactly
    val dir = java.nio.file.Files.createTempDirectory("graft-sm-")
      .toString
    Classifier.saveSoftmax(m, dir)
    val back = Classifier.loadSoftmax(dir).get
    assert(back.numClasses == m.numClasses)
    assert(back.weights.flatMap(_.toSeq)
      .sameElements(m.weights.flatMap(_.toSeq)))
    assert(Classifier.loadSoftmax(dir + "/nope").isEmpty)
  }

  test("weighted training: weight w == w copies of the row (IRLS and " +
    "sparse GD); bad weights fail loudly") {
    val base = corpus(200, seed = 31)
    val feats = base.select(col("id"), col("label"),
      Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
        .as("f"),
      Classifier.hashedIndices(Text.tokens(col("text")), 16).as("idx"))
    // triple-weight the even ids vs physically tripling those rows
    val weighted = feats.withColumn("w",
      when(col("id") % 2 === 0, 3.0).otherwise(1.0))
    val tripled = feats.unionByName(
      feats.filter(col("id") % 2 === 0)).unionByName(
      feats.filter(col("id") % 2 === 0))
    val mw = Classifier.trainLogistic(weighted, "f", "label", dim = 4,
      weightCol = Some("w"))
    val mt = Classifier.trainLogistic(tripled, "f", "label", dim = 4)
    (mw.weights :+ mw.bias).zip(mt.weights :+ mt.bias).foreach {
      case (a, b) => assert(math.abs(a - b) < 1e-9, s"$a vs $b")
    }
    val sw = Classifier.trainLogisticSparse(weighted, "idx", "label",
      16, iters = 40, lr = 0.5, weightCol = Some("w"))
    val st = Classifier.trainLogisticSparse(tripled, "idx", "label",
      16, iters = 40, lr = 0.5)
    (sw.weights :+ sw.bias).zip(st.weights :+ st.bias).foreach {
      case (a, b) => assert(math.abs(a - b) < 1e-9, s"$a vs $b")
    }
    val bad = feats.withColumn("w",
      when(col("id") === 7, 0.0).otherwise(1.0))
    intercept[Exception](Classifier.trainLogistic(bad, "f", "label",
      dim = 4, iters = 1, weightCol = Some("w")))
  }

  test("crossValidateSparse: OOF margins recover the concept through " +
    "the broadcast-join scorer; the OOF frame is deterministic across " +
    "runs and matches fold-by-fold sequential training") {
    val df = corpus(300, seed = 31)
    val dim = 64
    val feats = df.select(col("id"), col("label"),
      Classifier.hashedIndices(Text.tokens(col("text")), dim).as("idx"))
    def oof() = Classifier.crossValidateSparse(feats, "idx", "label",
      "id", dim, k = 3, iters = 300, lr = 1.0)
    val a = oof().orderBy("id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    // honest generalization: every out-of-fold margin sides with the
    // concept (the models never saw their scored rows)
    val labels = df.select(col("id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    a.foreach { case (id, _, m) =>
      assert((m > 0) == labels(id), s"OOF miss at id=$id margin=$m")
    }
    // concurrency moves no bit: a second run is identical
    val b = oof().orderBy("id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(a.sameElements(b))
    // and equals the sequential per-fold replay (same hash folds)
    val fold0 = feats
      .filter(pmod(xxhash64(col("id")), lit(3L)).cast("int") === 0)
    val m0 = Classifier.trainLogisticSparse(
      feats.filter(pmod(xxhash64(col("id")), lit(3L)).cast("int") =!= 0),
      "idx", "label", dim, iters = 300, lr = 1.0)
    val seq0 = Classifier.scoreSparse(fold0, "id", "idx", m0)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    val par0 = a.filter(_._2 == 0).map(t => (t._1, t._3))
    assert(seq0.sameElements(par0))
  }

  test("crossValidateSoftmaxSparse: OOF predictions recover the " +
    "3-class concept; deterministic across runs; fold-0 matches " +
    "sequential training; the warm-start hook reaches its fold") {
    val words = Seq("red", "green", "blue")
    val rnd = new scala.util.Random(6)
    val docs3 = (0 until 360).map { i =>
      val c = i % 3
      val base = Seq.fill(4 + rnd.nextInt(3))(words(c))
      val other = Seq.fill(rnd.nextInt(2))(words((c + 1) % 3))
      (i.toLong, rnd.shuffle(base ++ other ++ Seq("pad")).mkString(" "), c)
    }.toDF("id", "text", "y")
    val dim = 512
    val idx3 = docs3.select(col("id"), col("y"),
      Classifier.hashedIndices(filter(Text.tokens(col("text")),
        t => t.isin(words.map(w => w: Any): _*)), dim).as("idx"))
    def oof() = Classifier.crossValidateSoftmaxSparse(idx3, "idx", "y",
      "id", dim, numClasses = 3, k = 3, iters = 150, lr = 0.5)
    val a = oof().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(3)))
    // honest generalization: every OUT-OF-FOLD prediction recovers the
    // concept (the fold models never saw their scored rows)
    val labels = docs3.select(col("id"), col("y")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    a.foreach { case (id, _, p) =>
      assert(p == labels(id), s"OOF miss at id=$id predicted=$p")
    }
    // concurrency moves no bit
    val b = oof().orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(3)))
    assert(a.sameElements(b))
    // fold-0 parity with the sequential replay over the SAME split
    // (foldExpr is the public face of the pool's assignment)
    val m0 = Classifier.trainSoftmaxSparse(
      idx3.filter(Classifier.foldExpr(col("id"), 3) =!= 0), "idx", "y",
      dim, numClasses = 3, iters = 150, lr = 0.5)
    val seq0 = Classifier.scoreSoftmaxSparse(
      idx3.filter(Classifier.foldExpr(col("id"), 3) === 0),
      "id", "idx", m0)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getInt(2)))
    val par0 = a.filter(_._2 == 0).map(t => (t._1, t._3))
    assert(seq0.sameElements(par0))
    // the warm-start hook is wired per fold: an init crushing classes
    // 0/1 with one near-zero GD step makes every OOF prediction the
    // reference class — only possible if init() reached the trainers
    val biased = Classifier.SoftmaxModel(
      Array.fill(2)(Array.fill(dim + 1)(-100.0)), 3)
    val w = Classifier.crossValidateSoftmaxSparse(idx3, "idx", "y",
      "id", dim, numClasses = 3, k = 3, iters = 1, lr = 1e-9,
      init = _ => Some(biased))
    assert(w.select(col("predicted")).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(2))
  }

  test("updateSoftmaxOnline: warm-started folds converge across " +
    "batches; a re-delivered batch id is a no-op returning the " +
    "committed bits; empty batches are no-ops; a racing writer fails " +
    "fast; a shape-mismatched persisted model is loud") {
    import graft.core.Fs
    val dim = 32
    val root = java.nio.file.Files
      .createTempDirectory("graft-smx-online-").toString
    val modelPath = s"$root/model"
    // 3-class concept: argmax of (spark, flink, duck) counts
    val df = corpus(300, seed = 29)
    val f = Classifier.vocabCountFeatures(Text.tokens(col("text")),
      vocab)
    val c0 = element_at(col("f"), 1); val c1 = element_at(col("f"), 2)
    val c2 = element_at(col("f"), 3)
    val feats = df.withColumn("f", f)
      .select(col("id"),
        Classifier.hashedIndices(Text.tokens(col("text")), dim)
          .as("idx"),
        when(c0 >= c1 && c0 >= c2, 0).when(c1 >= c2, 1).otherwise(2)
          .as("y"))
    val b1 = feats.filter(col("id") % 2 === 0)
    val b2 = feats.filter(col("id") % 2 === 1)
    val m1 = Classifier.updateSoftmaxOnline(b1, modelPath, "idx", "y",
      dim, numClasses = 3, iters = 100, batchId = Some("s:1"))
    val m2 = Classifier.updateSoftmaxOnline(b2, modelPath, "idx", "y",
      dim, numClasses = 3, iters = 100, batchId = Some("s:2"))
    // warm start: batch 2 continued from batch 1's weights, not zero
    assert(!m2.weights(0).sameElements(
      Classifier.trainSoftmaxSparse(b2, "idx", "y", dim, 3, 100)
        .weights(0)))
    // replay of batch 2 — with DIFFERENT data in hand — returns the
    // committed model bit-identically without folding
    val replay = Classifier.updateSoftmaxOnline(b1, modelPath, "idx",
      "y", dim, numClasses = 3, iters = 100, batchId = Some("s:2"))
    assert(replay.weights.length == m2.weights.length &&
      replay.weights.indices.forall(c =>
        replay.weights(c).sameElements(m2.weights(c))))
    // empty batch: committed model unchanged
    val empty = Classifier.updateSoftmaxOnline(
      feats.filter(lit(false)), modelPath, "idx", "y", dim,
      numClasses = 3, iters = 100, batchId = Some("s:3"))
    assert(empty.weights(0).sameElements(m2.weights(0)))
    // racing writer: a live lock fails fast (recoverIndex's crash-
    // repair guard fires first — same loud outcome as the binary path)
    assert(Fs.createExclusive(s"$modelPath.__lock", "pid=other"))
    val race = intercept[IllegalStateException](
      Classifier.updateSoftmaxOnline(b1, modelPath, "idx", "y", dim,
        numClasses = 3, iters = 1, batchId = Some("s:4")))
    assert(race.getMessage.contains("lock"))
    Fs.delete(s"$modelPath.__lock")
    // shape mismatch against the persisted model is loud, not silent
    intercept[IllegalArgumentException](
      Classifier.updateSoftmaxOnline(b1, modelPath, "idx", "y", dim,
        numClasses = 4, iters = 1, batchId = Some("s:5")))
  }

  test("the intercept is NEVER penalized: under crushing l2 the " +
    "weights vanish but the bias still carries the class prior " +
    "(all four trainers)") {
    // 75% positive, features informative — with l2 huge the weights
    // must shrink to ~0 while the UNREGULARIZED bias converges to the
    // prior's log-odds logit(0.75) ≈ 1.0986 (a penalized bias would be
    // dragged toward 0, predicting p ≈ 1/2 on an obviously 3:1 frame)
    val logOdds = math.log(3.0)
    val df = (0 until 400).map { i =>
      val pos = i % 4 != 0
      (i.toLong, if (pos) "spark spark" else "flink", pos)
    }.toDF("id", "text", "label")
    val feats = df.select(col("id"), col("label"),
      Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
        .as("f"),
      Classifier.hashedIndices(Text.tokens(col("text")), 16).as("idx"))
    val dense = Classifier.trainLogistic(feats, "f", "label", dim = 4,
      iters = 30, l2 = 1e6)
    assert(dense.weights.map(math.abs).max < 1e-3,
      s"l2=1e6 left weights at ${dense.weights.mkString(",")}")
    assert(math.abs(dense.bias - logOdds) < 1e-3,
      s"dense bias ${dense.bias} != log-odds $logOdds")
    // dense softmax twin: C=2, class 0 logit vs reference class 1;
    // its unpenalized bias must land at -log-odds
    val y = feats.withColumn("y", when(col("label"), 1).otherwise(0))
    val sm = Classifier.trainSoftmax(y, "f", "y", dim = 4,
      numClasses = 2, iters = 30, l2 = 1e6)
    assert(sm.weights(0).init.map(math.abs).max < 1e-3)
    assert(math.abs(sm.weights(0).last + logOdds) < 1e-3,
      s"softmax bias ${sm.weights(0).last} != ${-logOdds}")
    // GD twins pin ONE update step algebraically (crushing l2 would
    // make GD diverge — lr·l2 > 1 oscillates): one row y=1, idx=[0],
    // warm start (0.5, 0.25, bias 1.0). The weight at idx 0 takes
    // gradient + ridge, the untouched weight takes pure ridge decay,
    // the bias takes the gradient and NO ridge term.
    val one = Seq((1L, Seq(0), true)).toDF("id", "idx", "label")
    val lr = 0.1; val l2s = 0.5
    val init = Classifier.LogisticModel(Array(0.5, 0.25), 1.0)
    val g1 = Classifier.trainLogisticSparse(one, "idx", "label", dim = 2,
      iters = 1, lr = lr, l2 = l2s, init = Some(init))
    val r = 1.0 / (1.0 + math.exp(-1.5)) - 1.0
    assert(g1.weights(0) == 0.5 - lr * (r + l2s * 0.5))
    assert(g1.weights(1) == 0.25 - lr * (l2s * 0.25))
    assert(g1.bias == 1.0 - lr * r,
      s"sparse GD bias ${g1.bias} carries a ridge term")
    val smInit = Classifier.SoftmaxModel(
      Array(Array(0.5, 0.25, 1.0)), 2)
    val one2 = Seq((1L, Seq(0), 1)).toDF("id", "idx", "y")
    val g2 = Classifier.trainSoftmaxSparse(one2, "idx", "y", dim = 2,
      numClasses = 2, iters = 1, lr = lr, l2 = l2s,
      init = Some(smInit))
    val p0 = 1.0 / (1.0 + math.exp(-1.5)) // σ of class-0 logit 1.5
    assert(g2.weights(0)(0) == 0.5 - lr * (p0 + l2s * 0.5))
    assert(g2.weights(0)(1) == 0.25 - lr * (l2s * 0.25))
    assert(g2.weights(0)(2) == 1.0 - lr * p0,
      s"sparse softmax bias ${g2.weights(0)(2)} carries a ridge term")
  }

  test("calibrationCurve: hand-computed bands — equal-count ntile, " +
    "exact means, nulls excluded") {
    // 6 defined rows into 3 bins of 2, ordered by (score, id)
    val rows = Seq[(Long, java.lang.Double, java.lang.Boolean)](
      (1L, 0.0, false), (2L, 1.0, false), (3L, 2.0, true),
      (4L, 3.0, false), (5L, 4.0, true), (6L, 5.0, true),
      (7L, null, true), (8L, 6.0, null))
      .toDF("id", "score", "label")
    val c = Classifier.calibrationCurve(rows, "score", "label", "id",
      bins = 3).collect()
    assert(c.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(c.forall(_.getLong(1) == 2L))
    assert(c.map(_.getDouble(2)).toSeq == Seq(0.5, 2.5, 4.5))
    assert(c.map(_.getDouble(3)).toSeq == Seq(0.0, 0.5, 1.0))
  }

  test("calibrationCurve: exact NTILE parity with the single-window " +
    "replay on a non-divisible N; NaN excluded; fewer rows than bins; " +
    "no global window in the plan") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(41)
    // quantized (dyadic) scores with heavy ties — the regime the
    // bit-reproducibility contract targets; 103 rows / 10 bins leaves
    // a remainder, exercising the ceil/floor band split
    val rows = (0 until 103).map { i =>
      (i.toLong, math.floor(rnd.nextDouble() * 8) / 4.0,
        rnd.nextBoolean())
    }.toDF("id", "score", "label")
    val got = Classifier.calibrationCurve(rows, "score", "label", "id",
      bins = 10)
    val expect = rows
      .withColumn("bin", ntile(10).over(
        Window.orderBy(col("score").asc, col("id").asc)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), avg(col("score")).as("mean_score"),
        avg(when(col("label"), 1.0).otherwise(0.0)).as("pos_rate"))
      .orderBy(col("bin"))
    assert(got.collect().toSeq == expect.collect().toSeq)
    // a NaN score is excluded like a null, not sorted into a band
    val withNaN = rows.union(
      Seq((999L, Double.NaN, true)).toDF("id", "score", "label"))
    val got2 = Classifier.calibrationCurve(withNaN, "score", "label",
      "id", bins = 10)
    assert(got2.collect().toSeq == expect.collect().toSeq)
    // N < bins: band i holds exactly row i
    val tiny = Seq((1L, 2.0, true), (2L, 1.0, false), (3L, 3.0, true))
      .toDF("id", "score", "label")
    val t = Classifier.calibrationCurve(tiny, "score", "label", "id",
      bins = 10).collect()
    assert(t.map(_.getInt(0)).toSeq == Seq(1, 2, 3))
    assert(t.forall(_.getLong(1) == 1L))
    // the scale gate: every window in the plan is PARTITIONED — the
    // unpartitioned ntile this op replaced moved the full relation to
    // one task
    val findings = graft.plans.PlanAudit.audit(got)
    assert(!findings.exists(_.kind == "GLOBAL_WINDOW"),
      findings.mkString("\n"))
  }

  test("trainSoftmaxSparse: C=2 recovers trainLogisticSparse (class 0 " +
    "= the binary logit); 3-class hashed router converges and " +
    "scoreSoftmaxSparse argmax matches; weight w = w copies; loud " +
    "guards") {
    val df = corpus(300, seed = 11)
    val feats = df.select(col("id"), col("label"),
      Classifier.hashedIndices(filter(Text.tokens(col("text")),
        t => t.isin(vocab.map(v => v: Any): _*)), 16).as("idx"))
    val bin = Classifier.trainLogisticSparse(feats, "idx", "label", 16,
      iters = 60, lr = 0.5)
    // softmax class 0 := binary positive (class 1 the zero-logit
    // reference), so l0 = the binary margin and the GD updates are the
    // same arithmetic — agreement to float tolerance (the sigmoid is
    // computed via the max-subtracted softmax, not bit-identically)
    val sm = Classifier.trainSoftmaxSparse(
      feats.withColumn("y", when(col("label"), 0).otherwise(1)),
      "idx", "y", dim = 16, numClasses = 2, iters = 60, lr = 0.5)
    sm.weights(0).zip(bin.weights :+ bin.bias).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-9, s"$a vs $b")
    }
    // 3-class separable concept over a 4096-bin hashed space — the
    // domain-router regime the dense Newton trainer's 256-cap bars
    val words = Seq("red", "green", "blue")
    val rnd = new scala.util.Random(5)
    val docs3 = (0 until 300).map { i =>
      val c = i % 3
      val base = Seq.fill(3 + rnd.nextInt(3))(words(c))
      val other = Seq.fill(rnd.nextInt(2))(words((c + 1) % 3))
      (i.toLong, rnd.shuffle(base ++ other ++ Seq("pad")).mkString(" "), c)
    }.toDF("id", "text", "y")
    val dim = 4096
    val idx3 = docs3.select(col("id"), col("y"),
      Classifier.hashedIndices(filter(Text.tokens(col("text")),
        t => t.isin(words.map(w => w: Any): _*)), dim).as("idx"))
    val m3 = Classifier.trainSoftmaxSparse(idx3, "idx", "y", dim,
      numClasses = 3, iters = 150, lr = 0.5)
    assert(m3.dim == dim && m3.numClasses == 3)
    val scored = Classifier.scoreSoftmaxSparse(idx3, "id", "idx", m3)
    assert(scored.columns.toSeq == Seq("id", "logits", "predicted"))
    val acc = idx3.join(scored, "id")
      .select(avg(when(col("predicted") === col("y"), 1.0)
        .otherwise(0.0))).head().getDouble(0)
    assert(acc == 1.0, s"sparse softmax under-converged: acc=$acc")
    assert(scored.head().getSeq[Double](1).length == 3)
    // the STATELESS literal-array scorer (the streaming shape) decides
    // identically to the broadcast-join scorer on the same model
    val statelessAcc = idx3.select(col("y"),
      Classifier.softmaxPredictSparseExpr(col("idx"), m3).as("p"))
      .select(avg(when(col("p") === col("y"), 1.0).otherwise(0.0)))
      .head().getDouble(0)
    assert(statelessAcc == 1.0,
      s"stateless sparse scorer disagreed: acc=$statelessAcc")
    // importance weight w behaves exactly like w copies of the row
    val weighted = idx3.withColumn("w",
      when(col("id") < 30, 3.0).otherwise(1.0))
    val tripled = idx3.filter(col("id") < 30)
      .union(idx3.filter(col("id") < 30)).union(idx3)
    val mw = Classifier.trainSoftmaxSparse(weighted, "idx", "y", dim,
      numClasses = 3, iters = 20, lr = 0.5, weightCol = Some("w"))
    val mt = Classifier.trainSoftmaxSparse(tripled, "idx", "y", dim,
      numClasses = 3, iters = 20, lr = 0.5)
    mw.weights.flatMap(_.toSeq).zip(mt.weights.flatMap(_.toSeq))
      .foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"$a vs $b")
      }
    // loud guards: label outside [0, C); partial-size cap
    intercept[Exception](Classifier.trainSoftmaxSparse(
      idx3.withColumn("y", lit(7)), "idx", "y", dim, numClasses = 3,
      iters = 1))
    intercept[IllegalArgumentException](Classifier.trainSoftmaxSparse(
      idx3, "idx", "y", dim = 1 << 22, numClasses = 3, iters = 1))
  }

  test("calibrationCurve: a dominant tie block (the quantized-score " +
    "regime's normal shape) still matches the NTILE replay — the tie " +
    "sub-split is exact; a non-numeric tie column degrades gracefully") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(9)
    // 95% of rows share one score: without the tie sub-split this
    // block funnels through ONE bucket-local sort task
    val rows = (0 until 2000).map { i =>
      val sc = if (i % 20 == 0) rnd.nextInt(4) + 1.0 else 0.25
      (i.toLong, sc, rnd.nextBoolean())
    }.toDF("id", "score", "label")
    def replay(df: org.apache.spark.sql.DataFrame, tie: String) = df
      .withColumn("bin", ntile(10).over(
        Window.orderBy(col("score").asc, col(tie).asc)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), avg(col("score")).as("mean_score"),
        avg(when(col("label"), 1.0).otherwise(0.0)).as("pos_rate"))
      .orderBy(col("bin"))
    val got = Classifier.calibrationCurve(rows, "score", "label", "id",
      bins = 10)
    assert(got.collect().toSeq == replay(rows, "id").collect().toSeq)
    // string tie key: the dominant block SUB-SPLITS on sampled prefix
    // boundaries (native string order — the same order the replay's
    // window sorts by); zero-padded ids keep the replay's order
    // comparable — result exact AND the block no longer serial
    val rowsS = rows.withColumn("ids",
      concat(lit("k"), lpad(col("id").cast("string"), 6, "0")))
    val gotS = Classifier.calibrationCurve(rowsS, "score", "label",
      "ids", bins = 10)
    // the sampled string boundaries are plan literals — their presence
    // IS the >1-sub-bucket proof (the no-split path tags sub = 0 with
    // no string literals)
    assert(gotS.queryExecution.analyzed.toString.contains("k0"),
      "string tie block was not sub-split")
    assert(gotS.collect().toSeq == replay(rowsS, "ids").collect().toSeq)
    // ALL-TIED frame with STRING ties (one pure tie block holding
    // everything) + null tie keys: nulls sort first in both the op's
    // rank window and the replay, land in sub-bucket 0, and the bands
    // still match NTILE exactly
    val allTied = (0 until 1500).map { i =>
      val ids = if (i % 97 == 0) null
        else s"d${"%05d".format(i)}"
      (ids, 2.5, i % 3 == 0)
    }.toDF("ids", "score", "label")
    val gotT = Classifier.calibrationCurve(allTied, "score", "label",
      "ids", bins = 10)
    assert(gotT.queryExecution.analyzed.toString.contains("d0"),
      "all-tied string block was not sub-split")
    assert(gotT.collect().toSeq == replay(allTied, "ids").collect().toSeq)
    // all-tied corpus (constant score): bands are pure tie arithmetic
    val const = (0 until 997).map(i => (i.toLong, 1.5, i % 3 == 0))
      .toDF("id", "score", "label")
    val gotC = Classifier.calibrationCurve(const, "score", "label",
      "id", bins = 10)
    assert(gotC.collect().toSeq == replay(const, "id").collect().toSeq)
    // infinite scores participate in the total order (only NaN is
    // excluded) — ±Inf rows band like any extreme value
    val inf = ((0 until 200).map { i =>
      (i.toLong, rnd.nextInt(3).toDouble, i % 2 == 0)
    } ++ Seq((900L, Double.NegativeInfinity, true),
      (901L, Double.PositiveInfinity, false),
      (902L, Double.PositiveInfinity, true)))
      .toDF("id", "score", "label")
    val gotI = Classifier.calibrationCurve(inf, "score", "label", "id",
      bins = 10)
    assert(gotI.collect().toSeq == replay(inf, "id").collect().toSeq)
  }

  test("calibrationCurve: DATE and TIMESTAMP_NTZ tie keys ride the " +
    "numeric sub-split through an order-preserving double image") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    def replay(df: org.apache.spark.sql.DataFrame, tie: String) = df
      .withColumn("bin", ntile(10).over(
        Window.orderBy(col("score").asc, col(tie).asc)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), avg(col("score")).as("mean_score"),
        avg(when(col("label"), 1.0).otherwise(0.0)).as("pos_rate"))
      .orderBy(col("bin"))
    // 96% of rows share one score — the dominant block must sub-split
    // on the DATE tie key (no double cast exists for dates; unix_date
    // is the monotone image the KLL edges and bucketing share)
    val dated = (0 until 1500).map { i =>
      val sc = if (i % 25 == 0) rnd.nextInt(3) + 1.0 else 0.5
      (java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(1000L + i)),
        sc, i % 3 == 0)
    }.toDF("d", "score", "label")
    val gotD = Classifier.calibrationCurve(dated, "score", "label", "d",
      bins = 10)
    // the image function appears in the plan only when the heavy block
    // actually split (the no-split path tags sub = 0 with no tie expr)
    assert(gotD.queryExecution.analyzed.toString.contains("unix_date"),
      "date tie block was not sub-split")
    assert(gotD.collect().toSeq == replay(dated, "d").collect().toSeq)
    // TIMESTAMP_NTZ tie key (LocalDateTime column): unix_micros of the
    // session-UTC reinterpretation is its monotone image
    val ntz = (0 until 1500).map { i =>
      val sc = if (i % 25 == 0) rnd.nextInt(3) + 1.0 else 0.5
      (java.time.LocalDateTime.of(2025, 1, 1, 0, 0, 0)
        .plusMinutes(i.toLong), sc, i % 3 == 0)
    }.toDF("t", "score", "label")
    val gotN = Classifier.calibrationCurve(ntz, "score", "label", "t",
      bins = 10)
    assert(gotN.queryExecution.analyzed.toString.contains("unix_micros"),
      "timestamp_ntz tie block was not sub-split")
    assert(gotN.collect().toSeq == replay(ntz, "t").collect().toSeq)
  }

  test("calibrationCurve: BINARY tie keys (content hashes) sub-split " +
    "a dominant tie block on sampled byte-string boundaries — exact " +
    "NTILE parity, >1 sub-bucket in the plan") {
    import org.apache.spark.sql.expressions.Window
    def replay(df: org.apache.spark.sql.DataFrame, tie: String) = df
      .withColumn("bin", ntile(10).over(
        Window.orderBy(col("score").asc, col(tie).asc)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), avg(col("score")).as("mean_score"),
        avg(when(col("label"), 1.0).otherwise(0.0)).as("pos_rate"))
      .orderBy(col("bin"))
    // ALL-TIED frame keyed by a sha1-style digest: one pure tie block
    // holds everything — the exact shape of scoring keyed on a content
    // hash. Unsigned byte order matters: digests with high bit set
    // (>= 0x80) must sort AFTER ascii-range ones, as Spark's BinaryType
    // comparator does — a signed-byte comparison would flip them.
    val allTied = (0 until 1500).map { i =>
      val h = java.security.MessageDigest.getInstance("SHA-1")
        .digest(s"doc-$i".getBytes("UTF-8"))
      (h, 2.5, i % 3 == 0)
    }.toDF("hash", "score", "label")
    val gotB = Classifier.calibrationCurve(allTied, "score", "label",
      "hash", bins = 10)
    // sampled binary boundaries are plan literals — their presence IS
    // the >1-sub-bucket proof (the no-split path tags sub = 0 with no
    // binary array literal)
    assert(gotB.queryExecution.analyzed.toString.toLowerCase
      .contains("[b@"),
      "binary tie block was not sub-split:\n" +
        gotB.queryExecution.analyzed.toString.take(2000))
    assert(gotB.collect().toSeq == replay(allTied, "hash").collect().toSeq)
    // null hashes sort first in both the op and the replay
    val withNulls = (0 until 1200).map { i =>
      val h = if (i % 89 == 0) null
        else java.security.MessageDigest.getInstance("SHA-1")
          .digest(s"d$i".getBytes("UTF-8"))
      (h, 1.0, i % 2 == 0)
    }.toDF("hash", "score", "label")
    val gotN = Classifier.calibrationCurve(withNulls, "score", "label",
      "hash", bins = 10)
    assert(gotN.collect().toSeq ==
      replay(withNulls, "hash").collect().toSeq)
  }

  test("calibrationCurve: STRUCT and ARRAY tie keys sub-split a " +
    "dominant tie block on Spark-sorted sampled boundaries — exact " +
    "NTILE parity, >1 sub-bucket in the plan") {
    import org.apache.spark.sql.expressions.Window
    def replay(df: org.apache.spark.sql.DataFrame, tie: String) = df
      .withColumn("bin", ntile(10).over(
        Window.orderBy(col("score").asc, col(tie).asc)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), avg(col("score")).as("mean_score"),
        avg(when(col("label"), 1.0).otherwise(0.0)).as("pos_rate"))
      .orderBy(col("bin"))
    // ALL-TIED frame keyed by a (group, seq) STRUCT — the composite-
    // key scoring shape. Field-by-field struct ordering must drive the
    // sub-split: group alone is 5-way ambiguous, so a split ignoring
    // the second field would split ties and break ranks.
    val structTied = (0 until 1500).map { i =>
      ((s"g${i % 5}", (i * 7919) % 1500), 2.5, i % 3 == 0)
    }.toDF("k", "score", "label")
    val gotS = Classifier.calibrationCurve(structTied, "score", "label",
      "k", bins = 10)
    // sampled struct boundaries are plan literals — their presence IS
    // the >1-sub-bucket proof (no-split tags sub = 0 with no literal)
    assert(gotS.queryExecution.analyzed.toString.contains("[g"),
      "struct tie block was not sub-split:\n" +
        gotS.queryExecution.analyzed.toString.take(2000))
    assert(gotS.collect().toSeq == replay(structTied, "k").collect().toSeq)
    // ARRAY tie key (element-wise order, shorter-prefix-first), with
    // varying lengths so the prefix rule is exercised, plus nulls
    val arrTied = (0 until 1400).map { i =>
      val k = if (i % 83 == 0) null
        else Seq.tabulate(1 + i % 3)(j => ((i * 31 + j) % 997).toLong)
      (k, 1.0, i % 2 == 0)
    }.toDF("k", "score", "label")
    val gotA = Classifier.calibrationCurve(arrTied, "score", "label",
      "k", bins = 10)
    assert(gotA.collect().toSeq == replay(arrTied, "k").collect().toSeq)
    // a MIXED frame (dominant struct tie block + spread scores) stays
    // exact end to end
    val rnd = new scala.util.Random(13)
    val mixed = (0 until 1600).map { i =>
      val sc = if (i % 25 == 0) rnd.nextInt(3) + 1.0 else 0.5
      ((i % 11, s"s${"%04d".format(i)}"), sc, i % 3 == 0)
    }.toDF("k", "score", "label")
    val gotM = Classifier.calibrationCurve(mixed, "score", "label",
      "k", bins = 10)
    assert(gotM.collect().toSeq == replay(mixed, "k").collect().toSeq)
  }

  test("calibrationCurve: MAP tie keys ride the sorted-entries image — " +
    "exact NTILE parity against the defined order, >1 sub-bucket, " +
    "insertion-order-insensitive") {
    import org.apache.spark.sql.expressions.Window
    // maps have no native Spark ordering (a plain orderBy on the map
    // column throws), so the op images them to array_sort(map_entries)
    // and the replay must order by the SAME image — that IS the
    // defined-order contract
    def img(c: org.apache.spark.sql.Column) = array_sort(map_entries(c))
    def replay(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("bin", ntile(10).over(
        Window.orderBy(col("score").asc, img(col("k")).asc)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), avg(col("score")).as("mean_score"),
        avg(when(col("label"), 1.0).otherwise(0.0)).as("pos_rate"))
      .orderBy(col("bin"))
    // ALL-TIED frame keyed by map<string,bigint>: one pure tie block
    // holds everything. Unique keys (entry b -> i) keep the total order
    // strict; insertion order is deliberately scrambled so the test
    // fails if the image ever depends on it.
    val mapTied = (0 until 1500).map { i =>
      val m = if (i % 2 == 0)
        Map("a" -> ((i * 7919) % 1500).toLong, "b" -> i.toLong)
      else Map("b" -> i.toLong, "a" -> ((i * 7919) % 1500).toLong)
      (m, 2.5, i % 3 == 0)
    }.toDF("k", "score", "label")
    val gotM = Classifier.calibrationCurve(mapTied, "score", "label",
      "k", bins = 10)
    val plan = gotM.queryExecution.analyzed.toString
    assert(plan.contains("map_entries"), "map tie key was not imaged")
    // sampled boundaries are array<struct> literals — their presence IS
    // the >1-sub-bucket proof (no-split tags sub = 0 with no literal)
    assert(plan.contains("[[a,") || plan.contains("[[a "),
      "map tie block was not sub-split:\n" + plan.take(2000))
    assert(gotM.collect().toSeq == replay(mapTied).collect().toSeq)
    // two insertion orders of the SAME entries are the same tie key
    // under the image (entry-sorted): both orders collapse to one value
    val twoOrders = Seq(
      Map("x" -> 1L, "y" -> 2L), Map("y" -> 2L, "x" -> 1L))
      .toDF("k")
    assert(twoOrders.select(img(col("k"))).distinct().count() == 1L)
    // NESTED map (map inside a struct) rides the recursive image, and
    // null structs stay null (not struct-of-nulls) through the rebuild
    val nested = (0 until 1200).map { i =>
      val k = if (i % 89 == 0) null
        else (s"g${i % 7}", Map("n" -> i.toLong))
      (k, 1.0, i % 2 == 0)
    }.toDF("k", "score", "label")
    val gotN = Classifier.calibrationCurve(nested, "score", "label",
      "k", bins = 10)
    def imgNested(c: org.apache.spark.sql.Column) =
      when(c.isNull, lit(null))
        .otherwise(struct(c.getField("_1").as("_1"),
          array_sort(map_entries(c.getField("_2"))).as("_2")))
    val repN = nested
      .withColumn("bin", ntile(10).over(
        Window.orderBy(col("score").asc, imgNested(col("k")).asc)))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), avg(col("score")).as("mean_score"),
        avg(when(col("label"), 1.0).otherwise(0.0)).as("pos_rate"))
      .orderBy(col("bin"))
    assert(gotN.collect().toSeq == repN.collect().toSeq)
  }

  test("sparse scorers fail loudly on an index outside the model dim " +
    "— a dim-mismatched featurizer cannot silently score as dropped " +
    "features") {
    val m = Classifier.LogisticModel(new Array[Double](64), 0.0)
    val sm = Classifier.SoftmaxModel(Array(new Array[Double](65)), 2)
    val bad = Seq((1L, Seq(0, 5000)), (2L, Seq(1))).toDF("id", "idx")
    intercept[Exception](
      Classifier.scoreSparse(bad, "id", "idx", m).collect())
    intercept[Exception](
      Classifier.scoreSoftmaxSparse(bad, "id", "idx", sm).collect())
    intercept[Exception](bad.select(
      Classifier.softmaxPredictSparseExpr(col("idx"), sm)).collect())
    // in-range (and empty-array) rows still score
    val ok = Seq((1L, Seq(0, 1)), (2L, Seq.empty[Int])).toDF("id", "idx")
    assert(Classifier.scoreSparse(ok, "id", "idx", m)
      .collect().map(_.getDouble(1)).toSeq == Seq(0.0, 0.0))
    assert(Classifier.scoreSoftmaxSparse(ok, "id", "idx", sm)
      .collect().length == 2)
    // a null ARRAY scores as bias-only on BOTH multiclass paths (the
    // scorers must agree); bias(class 0) = -1 < 0 => predicted 1
    val smB = Classifier.SoftmaxModel(
      Array(Array.fill(64)(0.0) :+ -1.0), 2)
    val nullArr = Seq((1L, null.asInstanceOf[Seq[Int]]))
      .toDF("id", "idx")
    assert(Classifier.scoreSoftmaxSparse(nullArr, "id", "idx", smB)
      .head().getInt(2) == 1)
    assert(nullArr.select(
      Classifier.softmaxPredictSparseExpr(col("idx"), smB))
      .head().getInt(0) == 1)
    // a null ELEMENT is a featurizer bug — loud on all three paths
    val nullEl = Seq((1L, Seq[Integer](0, null))).toDF("id", "idx")
    intercept[Exception](
      Classifier.scoreSparse(nullEl, "id", "idx", m).collect())
    intercept[Exception](
      Classifier.scoreSoftmaxSparse(nullEl, "id", "idx", sm).collect())
    intercept[Exception](nullEl.select(
      Classifier.softmaxPredictSparseExpr(col("idx"), sm)).collect())
  }

  test("histogram calibration: hand-computed bin rates, empty-bin " +
    "prior fallback, exact lookup expression, loud NaN, null " +
    "passthrough, loud guards") {
    val rows = Seq[(Long, java.lang.Double, java.lang.Boolean)](
      (1L, -2.0, false), (2L, -1.5, false), (3L, 0.5, true),
      (4L, 0.5, false), (5L, 2.0, true), (6L, 3.0, true),
      (7L, null, true), (8L, 1.0, null)).toDF("id", "score", "label")
    val m = Classifier.fitHistogramCalibration(rows, "score", "label",
      edges = Seq(-1.0, 0.0, 1.0))
    // valid rows 1-6; bins (<=-1, (-1,0], (0,1], >1): counts 2,0,2,2;
    // positives 0,-,1,2; the empty bin inherits the prior 3/6
    assert(m.prior == 0.5)
    assert(m.rates == Seq(0.0, 0.5, 0.5, 1.0))
    val scored = Seq[(Long, java.lang.Double)](
      (1L, -2.0), (2L, -0.5), (3L, 0.5), (4L, 3.0), (5L, null))
      .toDF("id", "s")
      .select(col("id"), Classifier.calibratedExpr(col("s"), m).as("c"))
      .orderBy(col("id")).collect()
    assert(scored.map(r =>
      if (r.isNullAt(1)) null else r.getDouble(1)).toSeq ==
      Seq(0.0, 0.5, 0.5, 1.0, null))
    intercept[Exception](Seq((1L, Double.NaN)).toDF("id", "s")
      .select(Classifier.calibratedExpr(col("s"), m)).collect())
    intercept[IllegalArgumentException](Classifier
      .fitHistogramCalibration(rows, "score", "label", Seq(1.0, 1.0)))
    intercept[Exception](Classifier.fitHistogramCalibration(
      rows.filter(lit(false)), "score", "label", Seq(0.0)))
  }

  test("auto-edges calibration (KLL): bins are ~equal-mass over an " +
    "unknown score domain and rates are monotone on a monotone " +
    "concept; a constant-score frame degrades to one prior bin") {
    // scores 0..999, concept = score >= 600: a 10-bin equal-mass
    // calibrator must place ~100 per bin, rates stepping 0 -> 1
    val rows = (0 until 1000).map(i => (i.toLong, i.toDouble, i >= 600))
      .toDF("id", "score", "label")
    val m = Classifier.fitHistogramCalibration(rows, "score", "label",
      bins = 10, sketchK = 4096)
    assert(m.edges.size >= 8 && m.edges.size <= 9,
      s"expected ~9 quantile edges, got ${m.edges}")
    assert(m.rates == m.rates.sorted,
      s"rates not monotone on a monotone concept: ${m.rates}")
    assert(m.rates.head == 0.0 && m.rates.last == 1.0)
    // each bin's mass is within KLL tolerance of equal (group by BIN,
    // not by served rate — same-rate bins would collapse)
    val counts = rows
      .select(size(filter(typedLit(m.edges), e => col("score") > e))
        .as("b"))
      .groupBy(col("b")).count().collect().map(_.getLong(1))
    assert(counts.length >= 9 && counts.forall(n => n > 50 && n < 200),
      s"bins far from equal-mass: ${counts.toSeq}")
    // constant scores: no derivable edges — one bin serving the prior
    val const = (0 until 40).map(i => (i.toLong, 7.0, i % 4 == 0))
      .toDF("id", "score", "label")
    val mc = Classifier.fitHistogramCalibration(const, "score", "label",
      bins = 10, sketchK = 4096)
    assert(mc.rates.forall(_ == 0.25) && mc.prior == 0.25)
    val served = const
      .select(Classifier.calibratedExpr(col("score"), mc)).head()
    assert(served.getDouble(0) == 0.25)
  }

  test("crossValidate: every row scored out-of-fold exactly once; " +
    "folds partition by the id hash; OOF decisions recover a " +
    "well-separated concept") {
    val df = corpus(400, seed = 29)
    val feats = df.select(col("id"), col("label"),
      Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
        .as("f"))
    val oof = Classifier.crossValidate(feats, "f", "label", "id",
      dim = 4, k = 3, iters = 16, l2 = 1e-3)
    val rows = oof.collect()
    assert(rows.length == 400)
    assert(rows.map(_.getLong(0)).distinct.length == 400) // once each
    // fold column matches the hash assignment
    val folds = oof.select(col("id"),
      pmod(xxhash64(col("id")), lit(3L)).cast("int").as("expect"),
      col("fold")).collect()
    assert(folds.forall(r => r.getInt(1) == r.getInt(2)))
    // the synthetic concept (margin 1 count, strong signal) holds OOF
    val acc = feats.join(oof, "id")
      .select(avg(when((col("margin") > 0) === col("label"), 1.0)
        .otherwise(0.0))).head().getDouble(0)
    assert(acc == 1.0, s"OOF under-generalization: acc=$acc")
    intercept[IllegalArgumentException](
      Classifier.crossValidate(feats, "f", "label", "id", 4, k = 1))
  }

  test("edge cases: empty frame fails loudly; width mismatch fails " +
    "loudly; out-of-range sparse index fails loudly") {
    val empty = Seq.empty[(Long, Boolean, Seq[Double])]
      .toDF("id", "label", "f")
    intercept[Exception](
      Classifier.trainLogistic(empty, "f", "label", dim = 4, iters = 1))
    val bad = Seq((1L, true, Seq(1.0, 2.0))).toDF("id", "label", "f")
    intercept[Exception](
      Classifier.trainLogistic(bad, "f", "label", dim = 4, iters = 1))
    val badIdx = Seq((1L, true, Seq(99))).toDF("id", "label", "idx")
    intercept[Exception](Classifier.trainLogisticSparse(
      badIdx, "idx", "label", dim = 4, iters = 1))
  }
}
