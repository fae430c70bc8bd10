package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Classifier, Dedup, Dsir, Freq, Multimodal, Profile, Quantile, Retrieval, Similarity, Sketch, Text}
import graft.core.Fs
import graft.core.Pin.PinOps

/** The training-data pipeline operators (dedup / similarity / multimodal /
  * text analysis) exposed as driver-verifiable queries over the documents
  * and embeddings tables. EVERY query here carries a DuckDB oracle: the
  * engine's hash functions (winnowing polynomial, SimHash token hash, LSH
  * hyperplanes, stub decoders) are deliberately portable integer/dyadic
  * arithmetic, so the oracle recomputes them exactly — the approximate
  * operators are additionally cross-verified against their exact
  * counterparts (recall bounds) in the ScalaTest suite.
  */
object TrainingData {

  /** Scratch directory for a per-invocation incremental index, deleted
    * recursively at JVM exit: the demo queries build their index from
    * scratch each run, so without cleanup every harness run leaked one
    * directory of parquet per incremental query. */
  private[queries] def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(d.toFile)
    }))
    d.toString
  }

  /** Per-process cache of built PQ indexes keyed on sf dir: index
    * serving's steady state is SEARCH over a built index, so the build
    * + frozen appends run once per process (the frozenRouters
    * offline/online discipline) and every repeated invocation pays the
    * code-table scan, not retraining. */
  private val pqIndexes =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Same per-process memo for the persisted BM25 inverted index —
    * steady state is search, not the build+append. */
  private val bm25Indexes =
    scala.collection.concurrent.TrieMap.empty[String, String]

  /** Trained quality-classifier models, memoized per sf dir (steady
    * state is scoring; a fresh process — the correctness run — always
    * retrains). */
  private val lrModels = scala.collection.concurrent.TrieMap
    .empty[String, graft.ops.Classifier.LogisticModel]

  private val softmaxModels = scala.collection.concurrent.TrieMap
    .empty[String, graft.ops.Classifier.SoftmaxModel]

  /** The distillation half alone: dense Newton router transported into
    * the hashed bins (exact — the hashed logit is the same linear
    * form), NOT yet polished. The online-router query seeds its
    * persisted model with this and lets the STREAMED GD folds do the
    * polishing the batch path does in one warm-started call. */
  private def distilledDomainInit(s: SparkSession, dir: String,
                                  feats: DataFrame, words: Seq[String],
                                  dim: Int)
      : graft.ops.Classifier.SoftmaxModel = {
    val dense = softmaxModels.getOrElseUpdate(dir,
      Classifier.trainSoftmax(feats, "f", "label", dim = words.size,
        numClasses = 3))
    distillDense(s, dense, words, dim)
  }

  /** Transport a vocab-space dense router into the hashed bins —
    * exact, since the hashed logit is the same linear form. */
  private def distillDense(s: SparkSession,
                           dense: graft.ops.Classifier.SoftmaxModel,
                           words: Seq[String], dim: Int)
      : graft.ops.Classifier.SoftmaxModel = {
    // += guards the astronomically-unlikely word-bin collision
    val bins = s.range(1).select(words.map(w =>
      pmod(xxhash64(lit(w)), lit(dim.toLong)).cast("int").as(w)): _*)
      .head()
    val wInit = Array.tabulate(2) { c =>
      val row = new Array[Double](dim + 1)
      words.indices.foreach(i =>
        row(bins.getInt(i)) += dense.weights(c)(i))
      row(dim) = dense.weights(c)(words.size) // bias last
      row
    }
    Classifier.SoftmaxModel(wInit, 3)
  }

  /** The distilled-and-polished hashed-bin sparse domain router shared
    * by the batch and streaming sparse-router queries, memoized per sf
    * dir: dense Newton router (itself memoized with the dense query)
    * distilled into the hashed bins — each vocab word's class weight
    * lands at its xxhash bin, exact since the hashed logit is the same
    * linear form — then polished by warm-started sparse GD. `feats`
    * must carry `f` (vocab counts), `idx` (hashed indices), `label`. */
  private def sparseDomainModel(s: SparkSession, dir: String,
                                feats: DataFrame, words: Seq[String],
                                dim: Int)
      : graft.ops.Classifier.SoftmaxModel =
    softmaxModels.getOrElseUpdate(s"$dir#sparse",
      Classifier.trainSoftmaxSparse(feats, "idx", "label", dim,
        numClasses = 3, iters = 30, lr = 0.5,
        init = Some(distilledDomainInit(s, dir, feats, words, dim))))

  /** Unique memory-sink names for repeated streaming runs within one
    * session (the Relational.streamQueryId convention). */
  private val streamQueryId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Id columns normalize to LONG on read — the events ns->us lesson
    * (TESTDATA.md "events schema contract") applied to the id space: a
    * testdata regeneration shipping int32 ids would otherwise crash
    * every driver-side `getLong` collect site at runtime. A no-op cast
    * when the type already matches; DuckDB reads the same file, and
    * the oracle compare is value-based, so the contract is symmetric. */
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
      .withColumn("doc_id", col("doc_id").cast("long"))

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")
      .withColumn("vec_id", col("vec_id").cast("long"))

  private val stop = Seq("the", "a", "data", "value")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // text statistics: tokens / chars / vocabulary richness / mean token len
    "q_doc_stats" -> ((s, dir) => {
      docs(s, dir).filter(col("doc_id") < 50)
        .select(col("doc_id"),
          Text.tokenCount(col("text")).as("n_tokens"),
          Text.charCount(col("text")).as("n_chars"),
          Text.typeTokenRatio(col("text")).as("ttr"),
          Text.meanTokenLen(col("text")).as("mean_tok_len"),
          Text.stopwordRatio(col("text"), stop).as("stop_ratio"),
          Text.bpeTokenCount(col("text")).as("n_bpe_tokens"))
        .orderBy(col("doc_id"))
    }),

    // composite quality score + threshold filter
    "q_doc_quality" -> ((s, dir) => {
      docs(s, dir)
        .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
        .filter(col("quality") >= 0.7)
        .orderBy(col("doc_id"))
    }),

    // GPT-3-style TRAINED quality classifier (Brown et al. 2020 App. A):
    // logistic regression over vocab-count features, trained in-engine
    // by distributed IRLS (one mapPartitions partial per iteration), on
    // a separable concept the oracle can state independently — "text
    // mentions 'hash' at least twice". The query FAILS LOUDLY if
    // training under-converges (acc < 100%), so a data change can never
    // silently red the oracle; predictions come from the codegen'd
    // in-plan margin chain
    "q_doc_quality_classifier" -> ((s, dir) => {
      val vocab = Seq("hash", "join", "sort", "scan",
        "batch", "data", "merge", "filter")
      val feats = docs(s, dir).select(col("doc_id"),
        Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
          .as("f"))
        .withColumn("label", element_at(col("f"), 1) >= 2.0)
      val model = lrModels.getOrElseUpdate(s"$dir#vocab",
        Classifier.trainLogistic(feats, "f", "label", dim = vocab.size))
      val acc = Classifier.trainAccuracy(feats, "f", "label", model)
      require(acc == 1.0,
        s"classifier under-converged on the oracle concept: acc=$acc")
      feats.select(col("doc_id"),
        element_at(col("f"), 1).cast("long").as("n_hash"),
        (Classifier.marginExpr(col("f"), model) > 0).as("predicted"))
        .orderBy(col("doc_id"))
    }),

    // the scoring half in isolation: a FIXED dyadic-weight model (every
    // weight a binary fraction, counts integers, so the margin doubles
    // are exact in any engine) scored by the in-plan literal chain —
    // selection is margin > 0
    "q_doc_classifier_score" -> ((s, dir) => {
      val vocab = Seq("hash", "join", "sort", "scan",
        "batch", "data", "merge", "filter")
      val model = Classifier.LogisticModel(
        Array(1.0, 0.5, -0.5, 0.25, -0.25, 0.75, -0.75, 0.125), -1.5)
      val f = Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
      docs(s, dir)
        .withColumn("f", f)
        .select(col("doc_id"),
          Classifier.marginExpr(col("f"), model).as("margin"),
          (Classifier.marginExpr(col("f"), model) > 0).as("selected"))
        .orderBy(col("doc_id"))
    }),

    // hashing-trick twin: the same concept learned over xxhash64-binned
    // features (vocab-restricted tokens -> 64 bins), trained dense
    // (IRLS over binned counts) and PREDICTED through the sparse path —
    // explode -> broadcast weight join -> per-doc margin — the plan
    // shape a 2^18-bin model needs at 100 TB. Same fail-loud
    // convergence gate, same engine-independent oracle rule
    "q_doc_classifier_hashed" -> ((s, dir) => {
      val vocab = Seq("hash", "join", "sort", "scan",
        "batch", "data", "merge", "filter")
      val dim = 64
      val kept = filter(Text.tokens(col("text")),
        t => t.isin(vocab.map(v => v: Any): _*))
      val feats = docs(s, dir).select(col("doc_id"),
        Classifier.hashedCountFeatures(kept, dim).as("f"),
        Classifier.hashedIndices(kept, dim).as("idx"),
        (size(filter(Text.tokens(col("text")), t => t === "hash")) >= 2)
          .as("label"))
      val model = lrModels.getOrElseUpdate(s"$dir#hashed",
        Classifier.trainLogistic(feats, "f", "label", dim = dim))
      // the convergence gate reads the SPARSE margins the query already
      // computes (the dense chain would re-expand the 64-bin histogram
      // featurization once per weight reference — plan bloat for zero
      // information; ClassifierSpec pins dense/sparse margin parity)
      val scored = Classifier.scoreSparse(feats, "doc_id", "idx", model)
      val acc = feats.join(scored, "doc_id")
        .select(avg(when((col("margin") > 0) === col("label"), 1.0)
          .otherwise(0.0))).head().getDouble(0)
      require(acc == 1.0,
        s"hashed classifier under-converged (bin collision?): acc=$acc")
      scored
        .select(col("doc_id"), (col("margin") > 0).as("predicted"))
        .orderBy(col("doc_id"))
    }),

    // LSH banding auto-tuner: (bands, rowsPerBand) minimizing the
    // S-curve's weighted FP+FN integral for a (signature size, target
    // Jaccard) grid — pure driver arithmetic, pinned against the
    // hand-audited optima (the (1/b)^(1/r)=0.5 case lands exactly on
    // 16x4 at n=64)
    "q_dedup_lsh_tune" -> ((s, _) => {
      import s.implicits._
      val rows = for {
        n <- Seq(64, 128, 256); t <- Seq(0.3, 0.5, 0.8)
      } yield {
        val (b, r) = Dedup.tuneLshBands(n, t)
        (n, t, b, r)
      }
      rows.toDF("num_hashes", "threshold", "bands", "rows_per_band")
        .orderBy(col("num_hashes"), col("threshold"))
    }),

    // classifier EVALUATION: confusion counts, precision/recall/F1, and
    // exact Mann-Whitney AUC of the fixed dyadic model's margins against
    // the concept labels — every number integer-derived (counts, then
    // IEEE divisions of exact ints; AUC from tie-averaged ranks over
    // distinct quantized margins), so the whole metrics row is
    // engine-reproducible bit-for-bit
    "q_doc_classifier_metrics" -> ((s, dir) => {
      val vocab = Seq("hash", "join", "sort", "scan",
        "batch", "data", "merge", "filter")
      val model = Classifier.LogisticModel(
        Array(1.0, 0.5, -0.5, 0.25, -0.25, 0.75, -0.75, 0.125), -1.5)
      val f = Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
      val scored = docs(s, dir).withColumn("f", f)
        .select(col("doc_id"),
          (element_at(col("f"), 1) >= 2.0).as("label"),
          Classifier.marginExpr(col("f"), model).as("margin"))
        .withColumn("predicted", col("margin") > 0)
      Classifier.confusion(scored, "label", "predicted")
        .crossJoin(Classifier.aucExact(scored, "margin", "label"))
    }),

    // MULTICLASS (softmax) domain routing: class = argmax of three word
    // counts (first-max tie-break), learned by multinomial IRLS over
    // the raw counts and gated at 100% on the UNIQUELY-argmaxed docs
    // (tie docs sit exactly on softmax decision boundaries — no finite
    // model pins their side, so they are excluded from both the gate
    // and the output); the oracle states the argmax rule itself
    "q_doc_domain_classifier" -> ((s, dir) => {
      val words = Seq("hash", "join", "sort")
      val f = Classifier.vocabCountFeatures(Text.tokens(col("text")), words)
      val c0 = element_at(col("f"), 1); val c1 = element_at(col("f"), 2)
      val c2 = element_at(col("f"), 3)
      val feats = docs(s, dir).withColumn("f", f)
        .withColumn("label",
          when(c0 >= c1 && c0 >= c2, 0)
            .when(c1 >= c2, 1).otherwise(2))
        .withColumn("unique_max",
          (c0 > c1 && c0 > c2) || (c1 > c0 && c1 > c2) ||
            (c2 > c0 && c2 > c1))
      val model = softmaxModels.getOrElseUpdate(dir,
        Classifier.trainSoftmax(feats, "f", "label", dim = words.size,
          numClasses = 3))
      // pinned: the gate forces evaluation; the returned projection
      // reads the checkpointed rows instead of re-tokenizing the
      // corpus through the literal argmax chain (per-invocation)
      val out = feats.filter(col("unique_max"))
        .select(col("doc_id"), col("label"),
          Classifier.softmaxPredictExpr(col("f"), model).as("predicted"))
        .pinned()
      val acc = out.select(avg(when(col("predicted") === col("label"),
        1.0).otherwise(0.0))).head().getDouble(0)
      require(acc == 1.0,
        s"softmax under-converged on uniquely-argmaxed docs: acc=$acc")
      out.select(col("doc_id"), col("predicted")).orderBy(col("doc_id"))
    }),

    // the SPARSE multiclass router: the q_doc_domain_classifier
    // concept served from a 2^12-bin hashed index space — the
    // CCNet-style domain-router shape at corpus scale (the dense
    // Newton path caps at (C-1)(d+1) <= 256; the hashed space has no
    // Hessian). Production lifecycle demonstrated end to end: train
    // the small dense router by Newton, DISTILL it into the hashed
    // bins (each vocab word's weight lands at its xxhash bin — exact,
    // since the hashed logit is the same linear form), then POLISH
    // with warm-started sparse GD (the from-scratch sparse convergence
    // is ClassifierSpec's pin; pure GD needs thousands of steps to
    // place margin-1 boundary docs that Newton places in 20).
    // Prediction through the broadcast-join multiclass scorer. Gate
    // and output restricted to uniquely-argmaxed docs; the oracle
    // states the argmax rule itself
    "q_doc_domain_classifier_sparse" -> ((s, dir) => {
      val words = Seq("hash", "join", "sort")
      val dim = 4096
      val f = Classifier.vocabCountFeatures(Text.tokens(col("text")), words)
      val c0 = element_at(col("f"), 1); val c1 = element_at(col("f"), 2)
      val c2 = element_at(col("f"), 3)
      val feats = docs(s, dir).withColumn("f", f)
        .withColumn("idx", Classifier.hashedIndices(
          filter(Text.tokens(col("text")),
            t => t.isin(words.map(w => w: Any): _*)), dim))
        .withColumn("label",
          when(c0 >= c1 && c0 >= c2, 0).when(c1 >= c2, 1).otherwise(2))
        .withColumn("unique_max",
          (c0 > c1 && c0 > c2) || (c1 > c0 && c1 > c2) ||
            (c2 > c0 && c2 > c1))
      val model = sparseDomainModel(s, dir, feats, words, dim)
      val uniq = feats.filter(col("unique_max"))
      val out = uniq.select(col("doc_id"), col("label"))
        .join(Classifier.scoreSoftmaxSparse(uniq, "doc_id", "idx", model)
          .select(col("doc_id"), col("predicted")), "doc_id")
      val acc = out.select(avg(when(col("predicted") === col("label"),
        1.0).otherwise(0.0))).head().getDouble(0)
      require(acc == 1.0,
        s"sparse softmax under-converged on uniquely-argmaxed docs: " +
          s"acc=$acc")
      out.select(col("doc_id"), col("predicted")).orderBy(col("doc_id"))
    }),

    // OOF deployment gate for the SPARSE domain router — the
    // q_doc_classifier_cv discipline on the multiclass lifecycle: k
    // hash folds, each fold's model trained on its COMPLEMENT only
    // (dense Newton on the complement → exact distillation into the
    // hashed bins → warm-started sparse-GD polish: the deployed
    // router's own recipe, honest because every ingredient sees only
    // the complement — foldExpr reproduces the pool's assignment), OOF
    // predictions from ONE broadcast (fold, index)→weights pass.
    // Gate: held-out accuracy 1.0 on uniquely-argmaxed docs → the
    // oracle states the argmax rule itself
    "q_doc_domain_router_cv" -> ((s, dir) => {
      val words = Seq("hash", "join", "sort")
      val dim = 4096
      val kF = 3
      val f = Classifier.vocabCountFeatures(Text.tokens(col("text")), words)
      val c0 = element_at(col("f"), 1); val c1 = element_at(col("f"), 2)
      val c2 = element_at(col("f"), 3)
      val feats = docs(s, dir).withColumn("f", f)
        .withColumn("idx", Classifier.hashedIndices(
          filter(Text.tokens(col("text")),
            t => t.isin(words.map(w => w: Any): _*)), dim))
        .withColumn("label",
          when(c0 >= c1 && c0 >= c2, 0).when(c1 >= c2, 1).otherwise(2))
        .withColumn("unique_max",
          (c0 > c1 && c0 > c2) || (c1 > c0 && c1 > c2) ||
            (c2 > c0 && c2 > c1))
      // shared by k complement Newton trainings + the CV pool's passes
      feats.persist()
      try {
        // the dense warm-start is built LAZILY inside init(fold), so
        // each fold's Newton training runs on that fold's CV-pool
        // thread — the three 20-iteration trainings overlap instead of
        // running as a sequential prologue (the pool already proves
        // fold-concurrency moves no bit; wall-clock tracks one
        // training, not three)
        val oof = Classifier.crossValidateSoftmaxSparse(feats, "idx",
          "label", "doc_id", dim, numClasses = 3, k = kF, iters = 30,
          lr = 0.5, init = fold => {
            val comp = feats.filter(
              Classifier.foldExpr(col("doc_id"), kF) =!= fold)
            Some(distillDense(s, Classifier.trainSoftmax(comp, "f",
              "label", dim = words.size, numClasses = 3), words, dim))
          })
        // pinned while feats is still cached: the gate below already
        // forces evaluation, and the lazily-returned plan would re-run
        // the scoring join uncached at every downstream action (the
        // q_doc_classifier_pipeline report discipline; per-invocation,
        // nothing crosses runs)
        val out = feats.filter(col("unique_max"))
          .select(col("doc_id"), col("label"))
          .join(oof.select(col("doc_id"), col("predicted")), "doc_id")
          .pinned()
        val acc = out.select(avg(when(col("predicted") === col("label"),
          1.0).otherwise(0.0))).head().getDouble(0)
        require(acc == 1.0,
          "router OOF under-generalization on uniquely-argmaxed docs: " +
            s"acc=$acc — do not deploy this router")
        out.select(col("doc_id"), col("predicted"))
          .orderBy(col("doc_id"))
      } finally { feats.unpersist(): Unit }
    }),

    // CALIBRATED deployment for the sparse multiclass router — the
    // binary pipeline's calibrate-then-serve step on the softmax
    // lifecycle (round-14 gap: q_doc_classifier_pipeline deployed a
    // calibrated probability while the router deployed raw argmax
    // scores). OOF logits come from the honest CV pool; per-class
    // one-vs-rest histogram binning over the OOF decision margins is
    // ONE keyed aggregate; deployment gates
    // require OOF accuracy 1.0 AND every class's bin rates to be the
    // exact 0/1 split. The served probability is a codegen'd literal
    // lookup per class, so with gates green the output is exact
    // integers and the oracle states the rule itself: p_cal = 1.0 for
    // the rule-argmax class, 0.0 otherwise, on uniquely-argmaxed docs.
    "q_doc_domain_router_calibrated" -> ((s, dir) => {
      val words = Seq("hash", "join", "sort")
      val dim = 4096
      val kF = 3
      val f = Classifier.vocabCountFeatures(Text.tokens(col("text")), words)
      val c0 = element_at(col("f"), 1); val c1 = element_at(col("f"), 2)
      val c2 = element_at(col("f"), 3)
      val feats = docs(s, dir).withColumn("f", f)
        .withColumn("idx", Classifier.hashedIndices(
          filter(Text.tokens(col("text")),
            t => t.isin(words.map(w => w: Any): _*)), dim))
        .withColumn("label",
          when(c0 >= c1 && c0 >= c2, 0).when(c1 >= c2, 1).otherwise(2))
        .withColumn("unique_max",
          (c0 > c1 && c0 > c2) || (c1 > c0 && c1 > c2) ||
            (c2 > c0 && c2 > c1))
      feats.persist()
      try {
        // lazy per-fold dense warm-start — trains inside the CV pool's
        // fold threads (see q_doc_domain_router_cv)
        val oof = Classifier.crossValidateSoftmaxSparse(feats, "idx",
          "label", "doc_id", dim, numClasses = 3, k = kF, iters = 30,
          lr = 0.5, init = fold => {
            val comp = feats.filter(
              Classifier.foldExpr(col("doc_id"), kF) =!= fold)
            Some(distillDense(s, Classifier.trainSoftmax(comp, "f",
              "label", dim = words.size, numClasses = 3), words, dim))
          })
        // pinned while feats is still cached (the router_cv/pipeline
        // discipline): the fused gate forces evaluation anyway, and
        // both it and the returned projection read the checkpointed
        // rows instead of re-running the scoring join
        val uniq = feats.filter(col("unique_max"))
          .select(col("doc_id"), col("label"))
          .join(oof.select(col("doc_id"), col("logits"),
            col("predicted")), "doc_id")
          .pinned()
        // gate + per-class calibration counts FUSED into one aggregate
        // over one pass of uniq (the q_doc_classifier_pipeline
        // discipline): one scheduler round-trip over a persisted frame
        // instead of an accuracy head() plus a grouped collect. Per
        // class the row carries n above the 0-edge, positives above and
        // positives overall — exactly a one-edge (Seq(0.0)) one-vs-rest
        // histogram calibration. Any null/NaN-margin row aborts via
        // bad_c rather than being excluded (ADVICE r15): a corpus that
        // produces bad margins needs repair, not silent exclusion,
        // before a deploy gate. Labels are non-null by construction
        // (the when/otherwise chain is total).
        val margins = (0 until 3).map(c =>
          Classifier.softmaxClassMargin(col("logits"), c, 3))
        val aggs =
          avg(when(col("predicted") === col("label"), 1.0)
            .otherwise(0.0)).as("acc") +:
          count(lit(1)).as("n") +:
          (0 until 3).flatMap { c =>
            val m = margins(c)
            Seq(
              sum(when(m > 0.0, 1L).otherwise(0L)).as(s"n_hi_$c"),
              sum(when(m > 0.0 && col("label") === c, 1L)
                .otherwise(0L)).as(s"np_hi_$c"),
              sum(when(col("label") === c, 1L).otherwise(0L))
                .as(s"np_$c"),
              sum(when(m.isNull || isnan(m), 1L).otherwise(0L))
                .as(s"bad_$c"))
          }
        val g = uniq.agg(aggs.head, aggs.tail: _*).head()
        require(g.getAs[Double]("acc") == 1.0,
          "router gate: OOF accuracy " + g.getAs[Double]("acc") +
            " < 1 on uniquely-argmaxed docs — do not deploy this router")
        val n = g.getAs[Long]("n")
        val cals = (0 until 3).map { c =>
          require(g.getAs[Long](s"bad_$c") == 0L,
            s"router gate: class $c has null/NaN OOF margins — repair " +
              "the feature chain before calibrating")
          require(n > 0, s"cannot calibrate class $c on an empty frame")
          val nHi = g.getAs[Long](s"n_hi_$c")
          val npHi = g.getAs[Long](s"np_hi_$c")
          val np = g.getAs[Long](s"np_$c")
          val prior = np.toDouble / n
          val rateLo =
            if (n - nHi > 0) (np - npHi).toDouble / (n - nHi) else prior
          val rateHi = if (nHi > 0) npHi.toDouble / nHi else prior
          Classifier.CalibrationModel(Seq(0.0), Seq(rateLo, rateHi),
            prior)
        }
        cals.zipWithIndex.foreach { case (cal, c) =>
          require(cal.rates.toSet == Set(0.0, 1.0),
            s"router gate: class $c calibrated rates ${cal.rates} " +
              "are not the gated 0/1 split — gates and calibration " +
              "disagree")
        }
        uniq.select(col("doc_id"),
          explode(array((0 until 3).map { c =>
            struct(lit(c).as("cls"),
              Classifier.calibratedExpr(
                Classifier.softmaxClassMargin(col("logits"), c, 3),
                cals(c)).as("p_cal"))
          }: _*)).as("e"))
          .select(col("doc_id"), col("e.cls").as("cls"),
            col("e.p_cal").as("p_cal"))
          .orderBy(col("doc_id"), col("cls"))
      } finally { feats.unpersist(): Unit }
    }),

    // STREAMING domain routing: the batch-trained softmax rides the
    // stream as a codegen'd argmax chain — stateless projection, no
    // state store, the multiclass twin of q_stream_classifier; gate
    // and output restricted to uniquely-argmaxed docs as in the batch
    // query, one shared argmax-rule oracle
    "q_stream_domain_classifier" -> ((s, dir) => {
      val words = Seq("hash", "join", "sort")
      def f(c: Column) = Classifier.vocabCountFeatures(Text.tokens(c),
        words)
      val c0 = element_at(col("f"), 1); val c1 = element_at(col("f"), 2)
      val c2 = element_at(col("f"), 3)
      val feats = docs(s, dir).withColumn("f", f(col("text")))
        .withColumn("label",
          when(c0 >= c1 && c0 >= c2, 0).when(c1 >= c2, 1).otherwise(2))
      val model = softmaxModels.getOrElseUpdate(dir,
        Classifier.trainSoftmax(feats, "f", "label", dim = words.size,
          numClasses = 3))
      val stream = Tables.stream(s, dir, "documents")
        .withColumn("f", f(col("text")))
        .filter((c0 > c1 && c0 > c2) || (c1 > c0 && c1 > c2) ||
          (c2 > c0 && c2 > c1))
        .select(col("doc_id").cast("long").as("doc_id"),
          Classifier.softmaxPredictExpr(col("f"), model).as("predicted"),
          when(c0 >= c1 && c0 >= c2, 0).when(c1 >= c2, 1).otherwise(2)
            .as("label"))
      val name = s"graft_stream_domclf_${streamQueryId.incrementAndGet()}"
      val q = stream.writeStream
        .outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val drained = s.table(name)
      val acc = drained.select(avg(when(col("predicted") === col("label"),
        1.0).otherwise(0.0))).head().getDouble(0)
      require(acc == 1.0,
        s"streamed softmax diverged from the argmax rule: acc=$acc")
      drained.select(col("doc_id"), col("predicted"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING sparse routing: the distilled 2^12-bin router rides
    // the stream as the STATELESS literal-array logit fold
    // (softmaxPredictSparseExpr) — no explode, no re-aggregation, no
    // state store, append mode, constant memory: score-at-ingest for
    // the hashed serving space (the broadcast-join scorer stays the
    // batch/2^18 path). Offline half trains via the shared
    // distill-and-polish helper; gate and oracle are the argmax rule
    // on uniquely-argmaxed docs, shared with the batch router
    "q_stream_domain_classifier_sparse" -> ((s, dir) => {
      val words = Seq("hash", "join", "sort")
      val dim = 4096
      def f(c: Column) = Classifier.vocabCountFeatures(Text.tokens(c),
        words)
      def kept(c: Column) = filter(Text.tokens(c),
        t => t.isin(words.map(w => w: Any): _*))
      val c0 = element_at(col("f"), 1); val c1 = element_at(col("f"), 2)
      val c2 = element_at(col("f"), 3)
      val label = when(c0 >= c1 && c0 >= c2, 0).when(c1 >= c2, 1)
        .otherwise(2)
      val featsB = docs(s, dir).withColumn("f", f(col("text")))
        .withColumn("idx", Classifier.hashedIndices(kept(col("text")),
          dim))
        .withColumn("label", label)
      val model = sparseDomainModel(s, dir, featsB, words, dim)
      val stream = Tables.stream(s, dir, "documents")
        .withColumn("f", f(col("text")))
        .withColumn("idx", Classifier.hashedIndices(kept(col("text")),
          dim))
        .filter((c0 > c1 && c0 > c2) || (c1 > c0 && c1 > c2) ||
          (c2 > c0 && c2 > c1))
        .select(col("doc_id").cast("long").as("doc_id"),
          Classifier.softmaxPredictSparseExpr(col("idx"), model)
            .as("predicted"),
          label.as("label"))
      val name = s"graft_stream_domsparse_${streamQueryId.incrementAndGet()}"
      val q = stream.writeStream
        .outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val drained = s.table(name)
      val acc = drained.select(avg(when(col("predicted") === col("label"),
        1.0).otherwise(0.0))).head().getDouble(0)
      require(acc == 1.0,
        s"streamed sparse router diverged from the argmax rule: acc=$acc")
      drained.select(col("doc_id"), col("predicted"))
        .orderBy(col("doc_id"))
    }),

    // ONLINE multiclass routing: the domain router REFRESHED at ingest
    // with the full ledger/lock/swap discipline the binary model has
    // (updateSoftmaxOnline) — warm-start-offline / refresh-online: the
    // persisted model is seeded with the DISTILLED dense router
    // (exact weight transport, unpolished), then each micro-batch
    // folds warm-started sparse-GD steps over weak labels computed
    // in-stream (the argmax rule), two checkpointed drains = two
    // folds; a crash-replayed batch returns the committed weights
    // (exactly-once via the ledger). The final model must classify
    // every uniquely-argmaxed doc to the rule (fail-loud), so the
    // oracle is the shared engine-independent argmax rule
    "q_stream_domain_router_online" -> ((s, dir) => {
      val words = Seq("hash", "join", "sort")
      val dim = 4096
      def f(c: Column) = Classifier.vocabCountFeatures(Text.tokens(c),
        words)
      def kept(c: Column) = filter(Text.tokens(c),
        t => t.isin(words.map(w => w: Any): _*))
      val c0 = element_at(col("f"), 1); val c1 = element_at(col("f"), 2)
      val c2 = element_at(col("f"), 3)
      val label = when(c0 >= c1 && c0 >= c2, 0).when(c1 >= c2, 1)
        .otherwise(2)
      val featsB = docs(s, dir).withColumn("f", f(col("text")))
        .withColumn("idx", Classifier.hashedIndices(kept(col("text")),
          dim))
        .withColumn("label", label)
        .withColumn("unique_max",
          (c0 > c1 && c0 > c2) || (c1 > c0 && c1 > c2) ||
            (c2 > c0 && c2 > c1))
      val seed = distilledDomainInit(s, dir, featsB, words, dim)
      val tmp = scratchDir("graft-domonline-")
      Classifier.saveSoftmax(seed, s"$tmp/model")
      def stream = Tables.stream(s, dir, "documents")
        .withColumn("f", f(col("text")))
        .select(col("doc_id").cast("long").as("doc_id"),
          Classifier.hashedIndices(kept(col("text")), dim).as("idx"),
          label.as("label"))
      val q1 = graft.streaming.Monitor.softmaxSink(stream, s"$tmp/model",
        s"$tmp/ckpt1", "idx", "label", dim, numClasses = 3, iters = 15,
        lr = 0.5)
      try q1.processAllAvailable() finally q1.stop()
      val q2 = graft.streaming.Monitor.softmaxSink(stream, s"$tmp/model",
        s"$tmp/ckpt2", "idx", "label", dim, numClasses = 3, iters = 15,
        lr = 0.5)
      try q2.processAllAvailable() finally q2.stop()
      val model = Classifier.loadSoftmax(s"$tmp/model").getOrElse(
        sys.error("online domain router never committed a model"))
      val uniq = featsB.filter(col("unique_max"))
      val out = uniq.select(col("doc_id"), col("label"))
        .join(Classifier.scoreSoftmaxSparse(uniq, "doc_id", "idx", model)
          .select(col("doc_id"), col("predicted")), "doc_id")
      val acc = out.select(avg(when(col("predicted") === col("label"),
        1.0).otherwise(0.0))).head().getDouble(0)
      require(acc == 1.0,
        s"online domain router diverged from the argmax rule: acc=$acc")
      out.select(col("doc_id"), col("predicted")).orderBy(col("doc_id"))
    }),

    // k-fold cross-validation: every doc predicted by the model that
    // NEVER saw it (hash-fold assignment, one IRLS per complement) —
    // out-of-fold predictions must still recover the separable concept
    // (fail-loud gate), making the oracle the engine-independent rule;
    // the honest-generalization twin of q_doc_quality_classifier
    "q_doc_classifier_cv" -> ((s, dir) => {
      val vocab = Seq("hash", "join", "sort", "scan",
        "batch", "data", "merge", "filter")
      val feats = docs(s, dir).select(col("doc_id"),
        Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
          .as("f"))
        .withColumn("label", element_at(col("f"), 1) >= 2.0)
      // lighter ridge than the fit-only query: the OOF gate needs the
      // boundary placed from 2/3 of the data to hold on the held-out
      // third, and 1e-2 shrinkage misplaces unit-margin edge docs
      val oof = Classifier.crossValidate(feats, "f", "label", "doc_id",
        dim = vocab.size, k = 3, iters = 16, l2 = 1e-3)
      // pinned: the gate forces evaluation, so the returned projection
      // reads the checkpointed rows instead of re-running the OOF
      // scoring join (per-invocation — the router_cv discipline)
      val out = feats.select(col("doc_id"), col("label"))
        .join(oof, "doc_id")
        .select(col("doc_id"), col("label"), (col("margin") > 0)
          .as("predicted"))
        .pinned()
      val acc = out.select(avg(when(col("predicted") === col("label"),
        1.0).otherwise(0.0))).head().getDouble(0)
      require(acc == 1.0, s"out-of-fold under-generalization: acc=$acc")
      out.select(col("doc_id"), col("predicted")).orderBy(col("doc_id"))
    }),

    // calibration: decile reliability curve of the fixed model's
    // margins vs the concept rate — ntile bands over (margin, doc_id)
    // total order; every mean is a sum of exact dyadic margins over an
    // integer count, bit-reproducible in both engines
    "q_doc_classifier_calibration" -> ((s, dir) => {
      val vocab = Seq("hash", "join", "sort", "scan",
        "batch", "data", "merge", "filter")
      val model = Classifier.LogisticModel(
        Array(1.0, 0.5, -0.5, 0.25, -0.25, 0.75, -0.75, 0.125), -1.5)
      val f = Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
      val scored = docs(s, dir).withColumn("f", f)
        .select(col("doc_id"),
          (element_at(col("f"), 1) >= 2.0).as("label"),
          Classifier.marginExpr(col("f"), model).as("margin"))
      Classifier.calibrationCurve(scored, "margin", "label", "doc_id")
    }),

    // histogram-binning CALIBRATION (Zadrozny & Elkan 2001) deployed:
    // fit per-bin empirical rates over literal dyadic margin edges
    // (one keyed aggregate, driver holds bins+1 exact fractions), then
    // serve every doc its bin's rate through a codegen'd literal
    // lookup — no join in the serving plan. Rates are exact integer
    // divisions over exact dyadic bin assignments, so the oracle
    // replays them with a GROUP BY + join
    "q_doc_classifier_calibrated" -> ((s, dir) => {
      val vocab = Seq("hash", "join", "sort", "scan",
        "batch", "data", "merge", "filter")
      val model = Classifier.LogisticModel(
        Array(1.0, 0.5, -0.5, 0.25, -0.25, 0.75, -0.75, 0.125), -1.5)
      val f = Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
      val scored = docs(s, dir).withColumn("f", f)
        .select(col("doc_id"),
          (element_at(col("f"), 1) >= 2.0).as("label"),
          Classifier.marginExpr(col("f"), model).as("margin"))
      val cal = Classifier.fitHistogramCalibration(scored, "margin",
        "label", edges = Seq(-1.0, 0.0, 1.0, 2.5))
      scored.select(col("doc_id"),
        Classifier.calibratedExpr(col("margin"), cal).as("calibrated"))
        .orderBy(col("doc_id"))
    }),

    // the classifier driving SELECTION: per-source token budgets filled
    // in classifier-margin order (GPT-3's "select by classifier score"
    // step as a budgeted stratified selection) — the fixed dyadic model
    // keeps the ranking margins exact in both engines, so the oracle is
    // the single-window replay with the same (margin desc, hash, id)
    // order the op's bucketed fan-out provably equals
    "q_doc_classifier_budget" -> ((s, dir) => {
      val vocab = Seq("hash", "join", "sort", "scan",
        "batch", "data", "merge", "filter")
      val model = Classifier.LogisticModel(
        Array(1.0, 0.5, -0.5, 0.25, -0.25, 0.75, -0.75, 0.125), -1.5)
      val f = Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
      graft.ops.Sampling.selectByQualityBudget(
        docs(s, dir).withColumn("f", f),
        col("source"), col("doc_id"), Text.tokenCount(col("text")),
        Classifier.marginExpr(col("f"), model),
        Map("src0" -> 400L, "src1" -> 300L, "src2" -> 200L),
        qMin = -2.0, qMax = 25.0)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // the trained-quality-filter LIFECYCLE as one composed query (the
    // Brown et al. 2020 App. A workflow end to end): train the
    // classifier on the labeled seed, GATE deployment on out-of-fold
    // accuracy (models that never saw a row must still recover the
    // concept — the honest-generalization check, fail-loud), CALIBRATE
    // the gated margins (histogram binning, served as a codegen'd
    // literal lookup), let the CALIBRATED PROBABILITY drive the
    // budgeted selection (approved docs fill each source's token
    // budget first, hash-first within a class — the bucketed fan-out,
    // never a single-task sort), and emit the mixture report. The
    // gates pin decisions to the concept and the calibrated rates to
    // the exact integers 1/0, so the oracle is the same selection
    // replay with quality = the rule — every output an exact integer
    "q_doc_classifier_pipeline" -> ((s, dir) => {
      val vocab = Seq("hash", "join", "sort", "scan",
        "batch", "data", "merge", "filter")
      val feats = docs(s, dir).select(col("doc_id"), col("source"),
        col("text"),
        Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
          .as("f"))
        .withColumn("label", element_at(col("f"), 1) >= 2.0)
      // stage 1: train (shared with the flagship classifier query)
      val model = lrModels.getOrElseUpdate(s"$dir#vocab",
        Classifier.trainLogistic(feats, "f", "label", dim = vocab.size))
      // stage 2: deployment gates — OOF and fit accuracy both 100%.
      // Everything downstream of training consumes the NARROW cached
      // projection (id, source, label, token count, margin) — the
      // gates, the calibration fit, and the budget selection's
      // driver-side phases each take a full pass, and re-tokenizing
      // the corpus per pass dominated the composed query's cost
      // (round-13 bench: 12s -> the components' ~6s once cached). The
      // cache is released before returning; the lazy result recomputes
      // the projection once.
      val oof = Classifier.crossValidate(feats, "f", "label", "doc_id",
        dim = vocab.size, k = 3, iters = 16, l2 = 1e-3)
      val proj = feats.select(col("doc_id"), col("source"), col("label"),
        Text.tokenCount(col("text")).as("tok"),
        Classifier.marginExpr(col("f"), model).as("margin"))
      proj.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val report =
        try {
          // stages 2+3 FUSED: both deployment gates and the
          // calibration's bin counts are plain aggregates over the same
          // cached projection (joined with the OOF margins), so ONE
          // driver action serves all three — the round-13 shape was
          // three scheduler round-trips (OOF head, fit head, calibration
          // fit) over the same cache. The LEFT join keeps a missing OOF
          // margin visible: it scores as a wrong prediction and fails
          // the gate loudly instead of vanishing from an inner join.
          // The OOF side pre-aggregates to ONE row per doc_id (a
          // partial-agg on the same join key, no extra shuffle) so a
          // duplicated OOF row cannot silently inflate the fit-accuracy
          // denominator or the calibration counts; __oofc > 1 is the
          // loud witness (ADVICE r14). fitHistogramCalibration's
          // null/NaN-margin filter is likewise preserved as a loud
          // count instead of silently dropped by the fusion.
          val g = proj
            .join(oof.groupBy(col("doc_id"))
                .agg(max(col("margin")).as("__oofm"),
                  count(lit(1)).as("__oofc")),
              Seq("doc_id"), "left")
            .agg(
              avg(when((col("__oofm") > 0) === col("label"), 1.0)
                .otherwise(0.0)).as("oof_acc"),
              avg(when((col("margin") > 0) === col("label"), 1.0)
                .otherwise(0.0)).as("fit_acc"),
              count(lit(1)).as("n"),
              sum(when(col("label"), 1L).otherwise(0L)).as("np"),
              sum(when(col("margin") > 0, 1L).otherwise(0L)).as("n_hi"),
              sum(when(col("margin") > 0 && col("label"), 1L)
                .otherwise(0L)).as("np_hi"),
              max(col("__oofc")).as("__oofdup"),
              sum(when(col("margin").isNull || isnan(col("margin")), 1L)
                .otherwise(0L)).as("__badm"))
            .head()
          require(g.isNullAt(g.fieldIndex("__oofdup")) ||
            g.getAs[Long]("__oofdup") == 1L,
            "pipeline gate: duplicate doc_ids in the OOF frame " +
              s"(max ${g.getAs[Long]("__oofdup")} rows per doc) — the " +
              "fused gate/calibration aggregates would be inflated")
          require(g.getAs[Long]("__badm") == 0L,
            s"pipeline gate: ${g.getAs[Long]("__badm")} null/NaN fit " +
              "margins — repair the feature chain before calibrating")
          val oofAcc = g.getAs[Double]("oof_acc")
          require(oofAcc == 1.0,
            s"pipeline gate: out-of-fold accuracy $oofAcc < 1 — do not " +
              "deploy this classifier")
          val fitAcc = g.getAs[Double]("fit_acc")
          require(fitAcc == 1.0,
            s"pipeline gate: fit accuracy $fitAcc < 1")
          // stage 3: CALIBRATE the gated model (Zadrozny & Elkan
          // histogram binning on the trained margins — the same bin
          // counts fitHistogramCalibration(edges=Seq(0.0)) aggregates,
          // read from the fused row: bin 1 is margin>0, bin 0 the
          // rest, an empty bin serves the prior). The Brown et al.
          // 2020 shape thresholds a calibrated PROBABILITY, not a raw
          // margin. With the deployment gates green the margin>0 bin
          // holds only positives and the other only negatives, so the
          // served rates are the exact integers 1.0/0.0 — the oracle
          // replays the selection with quality = the rule unchanged
          val (n, np) = (g.getAs[Long]("n"), g.getAs[Long]("np"))
          val (nHi, npHi) = (g.getAs[Long]("n_hi"), g.getAs[Long]("np_hi"))
          require(n > 0, "cannot calibrate on an empty frame")
          val prior = np.toDouble / n
          val rateLo =
            if (n - nHi > 0) (np - npHi).toDouble / (n - nHi) else prior
          val rateHi = if (nHi > 0) npHi.toDouble / nHi else prior
          val cal = Classifier.CalibrationModel(Seq(0.0),
            Seq(rateLo, rateHi), prior)
          require(cal.rates.toSet == Set(0.0, 1.0),
            s"pipeline gate: calibrated rates ${cal.rates} are not " +
              "the gated 0/1 split — gates and calibration disagree")
          // stage 4: the CALIBRATED probability drives the budget
          // selection
          val scored = proj.withColumn("q",
            Classifier.calibratedExpr(col("margin"), cal))
          val sel = graft.ops.Sampling.selectByQualityBudget(scored,
            col("source"), col("doc_id"), col("tok"), col("q"),
            Map("src0" -> 400L, "src1" -> 300L, "src2" -> 200L),
            qMin = 0.0, qMax = 1.0)
          // stage 5: the mixture report — PINNED while proj is still
          // cached: the gates already forced the whole pipeline to run
          // eagerly, and the lazily-returned plan used to re-run the
          // scoring + selection chain from scratch (uncached, ~2x the
          // whole query) at every downstream action. localCheckpoint is
          // per-invocation — each bench/verify run re-executes this
          // closure from the parquet inputs — so nothing is reused
          // across runs; the 3-row report is just not computed twice
          // WITHIN one.
          sel.groupBy(col("source"))
            .agg(count(lit(1)).as("n_docs"),
              sum(col("tok")).as("n_tokens"))
            .orderBy(col("source"))
            .pinned()
        } finally { proj.unpersist(): Unit }
      report
    }),

    // STREAMING score-at-ingest: the batch-trained model rides the
    // stream's plan as a literal margin chain — a STATELESS projection,
    // no state store, append mode, constant memory forever (the
    // offline-train / online-score split of a production quality
    // filter). Same fail-loud convergence gate on the offline half,
    // same engine-independent oracle rule
    "q_stream_classifier" -> ((s, dir) => {
      val vocab = Seq("hash", "join", "sort", "scan",
        "batch", "data", "merge", "filter")
      val featsB = docs(s, dir).select(col("doc_id"),
        Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
          .as("f"))
        .withColumn("label", element_at(col("f"), 1) >= 2.0)
      val model = lrModels.getOrElseUpdate(s"$dir#vocab",
        Classifier.trainLogistic(featsB, "f", "label", dim = vocab.size))
      val acc = Classifier.trainAccuracy(featsB, "f", "label", model)
      require(acc == 1.0,
        s"classifier under-converged on the oracle concept: acc=$acc")
      val stream = Tables.stream(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"),
          Classifier.vocabCountFeatures(Text.tokens(col("text")), vocab)
            .as("f"))
        .select(col("doc_id"),
          (Classifier.marginExpr(col("f"), model) > 0).as("predicted"))
      val name = s"graft_stream_clf_${streamQueryId.incrementAndGet()}"
      val q = stream.writeStream
        .outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name).select(col("doc_id"), col("predicted"))
        .orderBy(col("doc_id"))
    }),

    // ONLINE training at ingest: weak labels computed in-stream, each
    // micro-batch folds warm-started GD steps into the persisted model
    // (exactly-once via the ledger — a crash-replayed batch returns the
    // committed weights), two checkpointed drains = two passes; the
    // final model must classify the whole corpus to the concept
    // (fail-loud), so the oracle stays the engine-independent rule.
    // Predictions go through the sparse broadcast-join scorer
    "q_stream_classifier_online" -> ((s, dir) => {
      val vocab = Seq("hash", "join", "sort", "scan",
        "batch", "data", "merge", "filter")
      val dim = 64
      def kept(c: Column) = filter(Text.tokens(c),
        t => t.isin(vocab.map(v => v: Any): _*))
      def labeled(idc: Column, txt: Column) = Seq(
        idc.cast("long").as("doc_id"),
        Classifier.hashedIndices(kept(txt), dim).as("idx"),
        (size(filter(Text.tokens(txt), t => t === "hash")) >= 2)
          .as("label"))
      def stream = Tables.stream(s, dir, "documents")
        .select(labeled(col("doc_id"), col("text")): _*)
      val tmp = scratchDir("graft-clfonline-")
      // online NEWTON folds: ~6 warm-started IRLS steps per batch reach
      // what hundreds of GD steps walk toward, one job each (the GD
      // path stays the >1k-bin regime's default)
      val q1 = graft.streaming.Monitor.classifierSink(stream,
        s"$tmp/model", s"$tmp/ckpt1", "idx", "label", dim, iters = 5,
        newton = true)
      try q1.processAllAvailable() finally q1.stop()
      val q2 = graft.streaming.Monitor.classifierSink(stream,
        s"$tmp/model", s"$tmp/ckpt2", "idx", "label", dim, iters = 5,
        newton = true)
      try q2.processAllAvailable() finally q2.stop()
      val model = Classifier.loadModel(s"$tmp/model").getOrElse(
        sys.error("online classifier never committed a model"))
      val featsB = docs(s, dir)
        .select(labeled(col("doc_id"), col("text")): _*)
      val scored = Classifier.scoreSparse(featsB, "doc_id", "idx", model)
      val acc = featsB.join(scored, "doc_id")
        .select(avg(when((col("margin") > 0) === col("label"), 1.0)
          .otherwise(0.0))).head().getDouble(0)
      require(acc == 1.0, s"online classifier under-converged: acc=$acc")
      scored.select(col("doc_id"), (col("margin") > 0).as("predicted"))
        .orderBy(col("doc_id"))
    }),

    // Gopher-style quality rule gate, aggregated to per-rule failure
    // counts over the whole corpus. The synthetic corpus never trips the
    // symbol/alpha rules, so deterministic noise is injected (mirrored in
    // the oracle, the q_doc_redact discipline): '#' runs for doc_id%7,
    // digit-word runs for doc_id%11 — every rule decides something.
    // C4-style cleanup + page gate over deterministically synthesized
    // line structure (the flat fixture has no newlines/punctuation, so
    // both engines build the same six-line page: three token-slice
    // sentences, a javascript line, a no-punctuation line, and per-id
    // cookie/lorem/brace injections)
    "q_doc_c4" -> ((s, dir) => {
      val toks = Text.tokens(col("text"))
      def sent(a: Int) = concat(concat_ws(" ", slice(toks, a, 6)), lit("."))
      val synth = concat_ws("\n",
        sent(1),
        lit("click here javascript required."),
        sent(7),
        concat_ws(" ", slice(toks, 13, 6)),
        when(col("doc_id") % 5 === 0,
          lit("This site uses cookies; accept our privacy policy."))
          .otherwise(sent(19)),
        when(col("doc_id") % 13 === 0,
          lit("Lorem ipsum dolor sit amet.")).otherwise(sent(25)))
      val aug = docs(s, dir).withColumn("text",
        when(col("doc_id") % 11 === 0, concat(synth, lit("\n{ config")))
          .otherwise(synth))
      val rules = Text.c4Rules(col("text"))
      aug.select(Seq(col("doc_id")) ++
        rules.map { case (n, c) => c.as(n) } ++
        Seq(Text.c4Keep(col("text")).as("keep"),
          md5(Text.c4CleanLines(col("text"))).as("clean_fp")): _*)
        .orderBy(col("doc_id"))
    }),

    "q_doc_gopher" -> ((s, dir) => {
      val aug = docs(s, dir).withColumn("text",
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" # # # # # # # #"))
            .otherwise(lit("")),
          when(col("doc_id") % 11 === 0,
            lit(" 42 42 42 42 42 42 42 42 42 42 42 42 42 42 42"))
            .otherwise(lit(""))))
      val rules = Text.gopherRules(col("text"), minWords = 20)
      val failCounts = rules.map { case (name, c) =>
        sum(when(!c, 1L).otherwise(0L)).as(name.replace("rule_", "fail_"))
      }
      val aggs =
        sum(when(Text.gopherKeep(col("text"), minWords = 20), 1L)
          .otherwise(0L)).as("n_keep") +: failCounts
      aug.agg(count(lit(1)).as("n_docs"), aggs: _*)
    }),

    // normalization-powered fuzzy-exact dedup: every doc gets a mangled
    // twin (case flip, junk punctuation, whitespace noise; id offset by
    // 1e8) that normalizeForDedup must fold onto the same fingerprint —
    // output is the group table for the first 25 keepers, md5 hex and all
    "q_doc_normalize" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val mangled = base.select(
        (col("doc_id") + 100000000L).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit(" !! ")).as("text"))
      base.unionByName(mangled)
        .groupBy(Text.normalizedFingerprint(col("text")).as("norm_fp"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
        .filter(col("keeper") < 25)
        .select(col("keeper"), col("norm_fp"), col("n_copies"))
        .orderBy(col("keeper"))
    }),

    // source-preference dedup (the multi-source merge rule): every doc
    // gets a mangled 'mirror'-source twin; priority src3 > src1 >
    // mirror > everything else, so for src3/src1 originals the original
    // wins, for every OTHER source the mirror copy wins — the keeper is
    // chosen by source trust, not by id
    "q_doc_prefer_source" -> ((s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val mirrored = base.select(
        (col("doc_id") + 100000000L).as("doc_id"),
        concat(lit("  "), upper(col("text")), lit(" !! ")).as("text"),
        lit("mirror").as("source"))
      graft.ops.Dedup.preferSource(base.unionByName(mirrored),
        priority = Seq("src3", "src1", "mirror"))
        .select(col("doc_id"), col("source"), col("n_copies"))
        .orderBy(col("doc_id"))
    }),

    // DoReMi Group-DRO mixture reweighting over the 20 sources: excess
    // loss proxied by chars-per-token above 4.5 (real proxy/reference
    // losses enter through the Score seam), two exponentiated-gradient
    // steps. Integer-grid sums and normalizations make the whole
    // recursion engine-portable; exp carries the documented 1-ulp caveat
    "q_doc_doremi" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Dsir.domainReweight(d,
        excess = length(col("text")).cast("double")
          / Text.tokenCount(col("text")) - lit(4.5),
        domain = col("source"), eta = 1.0, smoothing = 0.1, steps = 2)
        .orderBy(col("domain"))
    }),

    // token-budget mixture resampling to a 6:3:1 TOKEN mixture over three
    // sources (integer arithmetic end-to-end: supply sums, floor-division
    // budget inversion, cumulative-sum cutoff — the oracle replays the
    // exact row set)
    "q_doc_token_mixture" -> ((s, dir) => {
      graft.ops.Sampling.mixtureByTokens(docs(s, dir), col("source"),
        col("doc_id"), Text.tokenCount(col("text")),
        Map("src0" -> 6L, "src1" -> 3L, "src2" -> 1L))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // stopword-profile language id, aggregated
    "q_doc_langid" -> ((s, dir) => {
      docs(s, dir)
        .select(Text.langId(col("text")).as("pred_lang"))
        .groupBy(col("pred_lang")).agg(count(lit(1)).as("n"))
        .orderBy(col("pred_lang"))
    }),

    // canonical-text fingerprint (exact-dedup key)
    "q_doc_fingerprint" -> ((s, dir) => {
      docs(s, dir).filter(col("doc_id") < 20)
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),

    // intra-document repetition ratio (quality signal)
    "q_doc_repetition" -> ((s, dir) => {
      docs(s, dir).filter(col("doc_id") < 100)
        .select(col("doc_id"),
          Text.repetitionRatio(col("text"), 3).as("rep_ratio"))
        .orderBy(col("doc_id"))
    }),

    // benchmark decontamination: corpus docs sharing >= 5 3-gram shingles
    // with the "benchmark" slice (doc_id < 20)
    "q_doc_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Contamination.report(
        d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20),
        n = 3, minShared = 5)
        .orderBy(col("id"))
    }),

    // cross-corpus decontamination with the reference side treated as
    // too big to broadcast (doc_id < 40 plays "last year's corpus"): a
    // Bloom filter over reference shingle hashes prunes corpus grams
    // map-side, a real shuffled shingle join re-verifies survivors — the
    // result is EXACT (false positives die in the verify join), so the
    // oracle is the plain n-gram join
    "q_doc_contamination_bloom" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Contamination.bloomReport(
        d.filter(col("doc_id") >= 40), d.filter(col("doc_id") < 40),
        n = 3, minShared = 3, expectedItems = 500000L)
        .orderBy(col("id"))
    }),

    // deterministic hash sampling: ~25% of docs by id hash
    "q_doc_sample" -> ((s, dir) => {
      graft.ops.Sampling.hashSample(docs(s, dir), col("doc_id"), 0.25)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    }),

    // priority sampling (Duffield-Lund-Thorup): 50 docs weighted by
    // token count, with the Horvitz-Thompson est_weight that makes any
    // subset sum unbiased; priorities are one exact IEEE division, so
    // the oracle reproduces the row set AND the weights bit-for-bit
    "q_doc_priority_sample" -> ((s, dir) =>
      graft.ops.Sampling.prioritySample(docs(s, dir), col("doc_id"),
        graft.ops.Text.tokenCount(col("text")).cast("double"), n = 50)
        .select(col("doc_id"), col("est_weight"))
        .orderBy(col("doc_id"))),

    // the ingest twin: even docs, then odd docs, then the even batch
    // RE-DELIVERED (a retried pipeline stage) folded through a persisted
    // reservoir — the final sample must equal the single-shot answer,
    // so it shares q_doc_priority_sample's oracle
    "q_doc_priority_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      val w = graft.ops.Text.tokenCount(col("text")).cast("double")
      val b1 = d.filter(col("doc_id") % 2 === 0)
      val b2 = d.filter(col("doc_id") % 2 === 1)
      val idx = scratchDir("graft-priodx-") + "/reservoir"
      graft.ops.Sampling.incrementalPrioritySample(b1, idx,
        col("doc_id"), w, n = 50)
      graft.ops.Sampling.incrementalPrioritySample(b2, idx,
        col("doc_id"), w, n = 50)
      graft.ops.Sampling.incrementalPrioritySample(b1, idx,
        col("doc_id"), w, n = 50)
        .select(col("key").cast("long").as("doc_id"), col("est_weight"))
        .orderBy(col("doc_id"))
    }),

    // curriculum ordering: dense global training positions with stages
    // in the given order (zh -> es -> de -> fr -> en) and a
    // deterministic hash shuffle within each stage — no global sort
    "q_doc_curriculum" -> ((s, dir) => {
      graft.ops.Sampling.curriculumOrder(docs(s, dir), col("lang"),
        col("doc_id"), stages = Seq("zh", "es", "de", "fr", "en"))
        .select(col("doc_id"), col("lang"), col("position"))
        .orderBy(col("position"))
    }),

    // temperature (alpha=0.5) resampling over a synthetic 4:2:1 skewed
    // stratum: the smallest stratum keeps everything, bigger ones
    // downsample by sqrt(n_min/n) — IEEE sqrt is correctly rounded, so
    // the fractions (and the hash-selected row set) are engine-exact
    "q_doc_temperature" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("bucket",
        when(col("doc_id") % 7 < 4, lit("web"))
          .when(col("doc_id") % 7 < 6, lit("books"))
          .otherwise(lit("wiki")))
      graft.ops.Sampling.temperatureSample(d, col("bucket"), col("doc_id"))
        .select(col("doc_id"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // END-TO-END training-data funnel as ONE oracle-checked query:
    // quality gate -> near-dup dedup (pair mining + connected components
    // + canonical survivor) -> leakage-safe split -> per-part stats.
    // Every stage is the real operator; the oracle replays the whole
    // funnel in SQL (gate formula, pair CTEs over the gated corpus,
    // recursive-CTE closure, hash split).
    "q_doc_funnel" -> ((s, dir) => {
      val gated = docs(s, dir)
        .filter(graft.ops.Text.qualityScore(col("text")) >= 0.6)
      val pairs = Dedup.ngramJaccardPairs(gated, n = 3, threshold = 0.5,
        maxShingleFreq = Some(500))
      val kept = Dedup.keepClusterCanonical(gated, pairs)
      kept
        .withColumn("part", graft.ops.Sampling.splitColumn(col("source"),
          Seq("train" -> 0.8, "test" -> 0.1, "val" -> 0.1)))
        .groupBy(col("part"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"),
          sum(graft.ops.Text.tokenCount(col("text")).cast("long"))
            .as("tok_total"))
        .orderBy(col("part"))
    }),

    // sliding-window chunking: 40-token windows advancing by 32 (overlap
    // 8) — docs over 40 tokens split, the rest pass through as chunk 0
    "q_doc_chunk" -> ((s, dir) =>
      graft.ops.Packing.chunkOversized(docs(s, dir).filter(col("doc_id") < 30),
        maxTokens = 40, overlap = 8)
        .select(col("doc_id"), col("chunk_idx"),
          graft.ops.Text.tokenCount(col("chunk")).as("n_tok"),
          md5(col("chunk")).as("chunk_fp"))
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // concat-and-chunk sequence assembly in epoch-1 order: the engine's
    // two-phase distributed prefix sum must equal the oracle's naive
    // global window cumsum exactly
    "q_doc_pack" -> ((s, dir) =>
      graft.ops.Packing.concatChunks(docs(s, dir), maxTokens = 2048,
        graft.ops.Sampling.shufflePosition(col("doc_id"), epoch = 1))
        .orderBy(col("doc_id"))),

    // per-source cap: at most 5 hash-first docs per source (the per-host
    // cap of a crawl pipeline; WindowGroupLimit prunes before the shuffle)
    "q_doc_hostcap" -> ((s, dir) => {
      graft.ops.Sampling.capPerGroup(docs(s, dir), col("source"),
        col("doc_id"), k = 5)
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // exact-count mixture resampling to a 5:3:2 target over three sources
    // (integer arithmetic end-to-end, so the oracle reproduces the exact
    // row set)
    "q_doc_mixture" -> ((s, dir) => {
      graft.ops.Sampling.mixtureByCount(docs(s, dir), col("source"),
        col("doc_id"), Map("src0" -> 5L, "src1" -> 3L, "src2" -> 2L))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // mixture feasibility plan: which source binds a 3:2:1 token
    // mixture and how many tokens each can contribute — the sizing
    // answer a pipeline wants before any sampling pass runs
    "q_doc_mixture_plan" -> ((s, dir) => {
      graft.ops.Sampling.mixturePlan(docs(s, dir), col("source"),
        graft.ops.Text.tokenCount(col("text")),
        Map("src0" -> 3.0, "src1" -> 2.0, "src2" -> 1.0))
    }),

    // first 20 docs of the epoch-1 training order (deterministic
    // per-epoch permutation; ORDER BY = range-partitioned global sort)
    "q_doc_shuffle" -> ((s, dir) => {
      val pos = graft.ops.Sampling.shufflePosition(col("doc_id"), epoch = 1)
      docs(s, dir).select(col("doc_id"), pos.as("pos"))
        .orderBy(col("pos"), col("doc_id")).limit(20)
    }),

    // token-length histogram over BPE-ish token counts (bucket width 25)
    "q_doc_length_hist" -> ((s, dir) => {
      docs(s, dir)
        .select(graft.ops.Text.bpeTokenCount(col("text")).as("n_tok"))
        .withColumn("bucket", floor(col("n_tok") / lit(25)).cast("long"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tok")).cast("long").as("min_tok"),
          max(col("n_tok")).cast("long").as("max_tok"))
        .orderBy(col("bucket"))
    }),

    // leakage-safe train/test/val split keyed on the source group
    "q_doc_split" -> ((s, dir) => {
      docs(s, dir)
        .withColumn("split", graft.ops.Sampling.splitColumn(col("source"),
          Seq("train" -> 0.8, "test" -> 0.1, "val" -> 0.1)))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("split"))
    }),

    // leakage-safe split: near-dup clusters (exact n-gram pairs) must
    // never straddle train/test — assignment keys on the cluster
    // representative, docs in no pair on themselves
    "q_doc_leakage_split" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.Sampling.leakageSafeSplit(d,
        Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.5,
          maxShingleFreq = Some(500)),
        Seq("train" -> 0.8, "test" -> 0.2))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // deterministic integer upsampling: src0 x3, src1 x2, rest x1,
    // copies tagged 0..r-1
    "q_doc_upsample" -> ((s, dir) => {
      graft.ops.Sampling.upsampleByRepeats(docs(s, dir), col("source"),
        Map("src0" -> 3, "src1" -> 2))
        .select(col("doc_id"), col("source"), col("copy_idx"))
        .orderBy(col("doc_id"), col("copy_idx"))
    }),

    // per-document top-3 TF-IDF terms (rounded-score ranking)
    "q_doc_tfidf" -> ((s, dir) => {
      // N passed explicitly: count() on the parquet table is served from
      // footer metadata (no data scan), so the query tokenizes the corpus
      // exactly twice (tf + df) — the minimal shape for TF-IDF
      val d = docs(s, dir)
      Text.tfIdfTopTerms(d, k = 3, numDocs = Some(d.count()))
        .filter(col("id") < 30)
        .orderBy(col("id"), col("rank"))
    }),

    // corpus vocabulary: top-30 tokens by occurrences with doc frequency
    "q_doc_vocab" -> ((s, dir) => {
      Text.vocabulary(docs(s, dir))
        .orderBy(col("occurrences").desc, col("token"))
        .limit(30)
    }),

    // BM25 top-15 for a 4-term probe query: per-doc tf computed
    // map-side from the token array (no (doc, term) shuffle), one
    // single-row stats broadcast, TakeOrderedAndProject top-k
    "q_doc_bm25" -> ((s, dir) => {
      Retrieval.bm25TopK(docs(s, dir),
        Seq("hash", "join", "spark", "window"), k = 15)
    }),

    // persisted BM25 inverted index lifecycle: build from the even
    // half, compact, append the odd half — search over the accumulated
    // postings equals the map-side scorer over the full corpus (the
    // oracle is q_doc_bm25's replay, shared verbatim)
    "q_doc_bm25_index" -> ((s, dir) => {
      val idx = bm25Indexes.getOrElseUpdate(dir, {
        val d = docs(s, dir)
        val p = scratchDir("graft-bm25idx-") + "/idx"
        Retrieval.appendToBm25Index(d.filter(col("doc_id") % 2 === 0), p)
        Retrieval.compactBm25Index(s, p)
        Retrieval.appendToBm25Index(d.filter(col("doc_id") % 2 === 1), p)
        p
      })
      Retrieval.bm25Search(s, idx,
        Seq("hash", "join", "spark", "window"), k = 15)
    }),

    // the SAME lifecycle fed by Structured Streaming: the corpus flows
    // through the bm25IndexSink (one postings+stats append per
    // micro-batch), then search over the drained index — equal to the
    // batch scorer over everything that arrived, one shared oracle
    "q_stream_bm25" -> ((s, dir) => {
      val docsStream = Tables.stream(s, dir, "documents")
      val tmp = scratchDir("graft-bm25stream-")
      val q = graft.streaming.Monitor.bm25IndexSink(docsStream,
        s"$tmp/idx", s"$tmp/ckpt")
      try q.processAllAvailable() finally q.stop()
      Retrieval.bm25Search(s, s"$tmp/idx",
        Seq("hash", "join", "spark", "window"), k = 15)
    }),

    // batched BM25 over the inverted index: three probe queries served
    // from one posting pass, top-5 each
    "q_doc_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "hash"), (1L, "join"),
        (2L, "window"), (2L, "sort"), (2L, "merge"),
        (3L, "spark")).toDF("query_id", "term")
      Retrieval.bm25TopKBatch(docs(s, dir), queries, k = 5)
    }),

    // DSIR importance resampling: score every non-src0 document by the
    // log-likelihood ratio of its hashed unigram+bigram profile under
    // the src0 (target) vs rest-of-corpus (raw) bucket models, keep the
    // top-100 most target-like
    "q_doc_dsir" -> ((s, dir) => {
      val d = docs(s, dir)
      Dsir.dsirSelect(d.filter(col("source") =!= "src0"),
        d.filter(col("source") === "src0"), n = 100, buckets = 1024)
        .orderBy(col("dsir_logw").desc, col("id"))
    }),

    // domain routing: score every doc outside src1/src2 against BOTH
    // source profiles, keep the best domain per doc with the
    // runner-up margin — K importance scorings sharing one corpus pass
    "q_doc_domain_route" -> ((s, dir) => {
      val d = docs(s, dir)
      Dsir.domainRoute(d.filter(!col("source").isin("src1", "src2")),
        Seq("src1" -> d.filter(col("source") === "src1"),
          "src2" -> d.filter(col("source") === "src2")),
        buckets = 1024)
        .orderBy(col("id"))
    }),

    // hard-negative mining: BM25 top-8 per query, drop the "known
    // relevant" docs (id % 3 == 0 — a fixture qrels set scattered
    // across ranks), re-rank the survivors, keep 4 negatives per query
    "q_doc_hard_negatives" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "hash"), (1L, "join"),
        (2L, "window"), (2L, "sort"), (2L, "merge"),
        (3L, "spark")).toDF("query_id", "term")
      val retrieved = Retrieval
        .bm25TopKBatch(docs(s, dir), queries, k = 8)
        .pinned()
      val positives = retrieved.filter(col("id") % 3 === 0)
        .select(col("query_id"), col("id"))
      Retrieval.hardNegatives(retrieved, positives, m = 4)
    }),

    // hybrid retrieval: the BM25 lexical top-15 fused with the exact
    // cosine semantic top-15 (query = vec 0) by reciprocal-rank fusion;
    // two lists, so the fused doubles are engine-exact (pairwise sum)
    "q_doc_rrf" -> ((s, dir) => {
      val lex = Retrieval.bm25TopK(docs(s, dir),
        Seq("hash", "join", "spark", "window"), k = 15)
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score").desc, col("id"))))
        .select(col("id"), col("rank"))
      val e = emb(s, dir)
      val sem = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id") === 0L), k = 15)
        .select(col("vec_id").as("id"), col("rank"))
      Retrieval.rrfFuse(Seq(lex, sem), topK = 10)
    }),

    // hybrid retrieval at TABLE scale: batched BM25 (3 probe queries,
    // top-5 each, one posting pass) fused per query with the batched
    // exact-cosine top-5 (query vectors 1-3) — rrfFuseBatch's rank
    // window is partitioned on query_id, so nothing concentrates
    "q_doc_rrf_batch" -> ((s, dir) => {
      import s.implicits._
      val queries = Seq(
        (1L, "hash"), (1L, "join"),
        (2L, "window"), (2L, "sort"), (2L, "merge"),
        (3L, "spark")).toDF("query_id", "term")
      val lex = Retrieval.bm25TopKBatch(docs(s, dir), queries, k = 5)
        .select(col("query_id"), col("id"), col("rank"))
      val e = emb(s, dir)
      val sem = Similarity
        .bruteForceTopK(e, e.filter(col("vec_id").isin(1L, 2L, 3L)), k = 5)
        .select(col("query_id"), col("vec_id").as("id"), col("rank"))
      Retrieval.rrfFuseBatch(Seq(lex, sem), topK = 8)
    }),

    // CCNet-style unigram surprisal under the corpus's own top-500
    // distribution (Laplace-1 + shared OOV bucket): the LM-perplexity
    // quality signal
    "q_doc_surprisal" -> ((s, dir) => {
      Text.unigramSurprisal(docs(s, dir), topV = 500)
        .orderBy(col("id"))
    }),

    // bigram LM log-loss with stupid backoff (the CCNet-style LM
    // perplexity filter, one exp from perplexity): model trained on the
    // corpus itself over the top-500 vocabulary
    "q_doc_bigram_lm" -> ((s, dir) => {
      Text.bigramLogLoss(docs(s, dir), topV = 500)
        .orderBy(col("id"))
    }),

    // gate attribution for an ordered quality-rule chain: per rule,
    // fails-in-isolation / first-blame (sums to total dropped) /
    // survivors-so-far — the audit that explains where the corpus went
    "q_doc_gate_funnel" -> ((s, dir) => {
      Profile.gateAttribution(docs(s, dir), Seq(
        "nonempty" -> col("text").isNotNull,
        "min_tokens" -> (Text.tokenCount(col("text")) >= 10),
        "mean_tok_len" -> (Text.meanTokenLen(col("text")) <= lit(12.0)),
        "quality" -> (Text.qualityScore(col("text")) >= lit(0.5))))
    }),

    // the STREAMING gate monitor: the same rule chain as a
    // complete-mode aggregation over continuous ingestion (one row of
    // counters in state), drained under AvailableNow == the batch
    // attribution — one shared oracle
    "q_stream_gate_funnel" -> ((s, dir) => {
      val docsStream = Tables.stream(s, dir, "documents")
      val name =
        s"graft_stream_gate_${streamQueryId.incrementAndGet()}"
      val q = graft.streaming.Monitor.gateMonitor(docsStream, Seq(
        "nonempty" -> col("text").isNotNull,
        "min_tokens" -> (Text.tokenCount(col("text")) >= 10),
        "mean_tok_len" -> (Text.meanTokenLen(col("text")) <= lit(12.0)),
        "quality" -> (Text.qualityScore(col("text")) >= lit(0.5))))
        .writeStream
        .outputMode("complete").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.table(name).orderBy(col("rule_idx"))
    }),

    // KMV/theta sketch audience-overlap matrix: per-event-type distinct
    // user sketches (one scan, 32 KiB each) -> pairwise exact-regime
    // intersection/union — the corpus-slice overlap audit that at
    // 100 TB replaces ten pairwise distinct joins with sketch algebra
    // k is SIZED FROM THE DATA (Sketch.exactRegimeK: 2x the largest
    // group's approx distinct count, next power of two) so the oracle's
    // exact-integer comparison survives any driver scale bump — a fixed
    // k would silently leave the exact regime the first time a group
    // outgrew it
    "q_sketch_audience" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("long").as("user_id"))
      val k = Sketch.exactRegimeK(ev, "event_type", col("user_id"),
        minK = 4096)
      Sketch.overlapMatrix(ev, "event_type", col("user_id"), k = k)
        .withColumnRenamed("g_a", "type_a")
        .withColumnRenamed("g_b", "type_b")
    }),

    // the sketch algebra's third set operation: per-type-pair a-NOT-b
    // (users of A that B never saw — the "what does this slice add"
    // growth audit). Same one-scan sketch table as the overlap matrix;
    // every directed pair is 32 KiB algebra, never a distinct
    // anti-join. Exact regime (sized like q_sketch_audience, shared
    // probe via the stats cache) -> exact integers for the oracle
    "q_sketch_newaudience" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("long").as("user_id"))
      val k = Sketch.exactRegimeK(ev, "event_type", col("user_id"),
        minK = 4096)
      val sk = ev.groupBy(col("event_type").as("g"))
        .agg(Sketch.kmvAgg(col("user_id"), k).as("sk"))
      val a = sk.select(col("g").as("type_a"), col("sk").as("__a"))
      val b = sk.select(col("g").as("type_b"), col("sk").as("__b"))
      // directed pairs; null types drop out of the inequality join
      // exactly as they drop from the oracle's NOT NULL filter
      a.join(b, col("type_a") =!= col("type_b"))
        .select(col("type_a"), col("type_b"),
          round(Sketch.aNotBEstimate(col("__a"), col("__b")))
            .cast("long").as("n_new"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // the same sketch machinery over the text modality: per-source
    // distinct-vocabulary overlap (tokens as keys) — "do these two
    // crawls even speak the same words" before any expensive dedup
    // same sized-from-the-data rule as q_sketch_audience (the synthetic
    // vocab is sf-invariant, but the rule costs one aggregate and makes
    // the exact-regime contract unconditional)
    "q_sketch_vocab" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("source"),
        explode(Text.tokens(col("text"))).as("tok"))
      val k = Sketch.exactRegimeK(toks, "source", col("tok"), minK = 1024)
      Sketch.overlapMatrix(toks, "source", col("tok"), k = k)
        .withColumnRenamed("g_a", "src_a")
        .withColumnRenamed("g_b", "src_b")
    }),

    // STREAMING sketch maintenance: events flow through the persisted
    // per-group sketch sink (order-free idempotent KMV fold), and the
    // drained table serves the SAME overlap matrix — one shared oracle
    // with the batch query; the cross-batch bit-identity is pinned by
    // SketchSpec/MonitorSpec
    "q_stream_sketch_audience" -> ((s, dir) => {
      val batchEv = Tables(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("long").as("user_id"))
      // size k from the (batch view of the) data, like q_sketch_audience:
      // the sink must stay in the exact regime for the shared oracle
      val k = Sketch.exactRegimeK(batchEv, "event_type", col("user_id"),
        minK = 4096)
      val evStream = Tables.stream(s, dir, "events")
        .select(col("event_type"), col("user_id").cast("long").as("user_id"))
      val tmp = scratchDir("graft-sketchstream-")
      val q = graft.streaming.Monitor.sketchSink(evStream,
        s"$tmp/sketches", s"$tmp/ckpt", "event_type", col("user_id"),
        k = k)
      try q.processAllAvailable() finally q.stop()
      Sketch.overlapMatrixFromSketches(
        Fs.parquet(s, s"$tmp/sketches"))
        .withColumnRenamed("g_a", "type_a")
        .withColumnRenamed("g_b", "type_b")
    }),

    // KLL/MRL quantile sketch: per-event-type value DISTRIBUTIONS from
    // one scan, 8 KiB-ish blobs merged map-side — the per-slice
    // latency/length audit every 100 TB pipeline needs without a
    // per-slice global sort. k is sized from the data
    // (Quantile.exactRegimeK, count-based) so the inverted-CDF
    // discrete quantiles are EXACT elements of the input and the
    // oracle compares doubles bit-for-bit at any sf
    "q_sketch_quantiles" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type"), col("value").cast("double").as("value"))
        .filter(col("event_type").isNotNull)
      val k = Quantile.exactRegimeK(ev, "event_type", col("value"),
        minK = 4096)
      Quantile.groupQuantiles(ev, "event_type", col("value"),
        Seq(0.25, 0.5, 0.75, 0.95), k)
        .orderBy(col("event_type"))
    }),

    // Misra-Gries heavy hitters: per-source top-10 tokens from ONE
    // scan — the distribution-head audit (dominant tokens, domains,
    // hosts per slice) without materializing a (slice, item) count
    // table. k sized from the data (Freq.exactRegimeK), so counts are
    // exact and the oracle's naive GROUP BY replay matches bit-for-bit
    "q_sketch_heavyhitters" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("source"),
        explode(Text.tokens(col("text"))).as("tok"))
      val k = Freq.exactRegimeK(toks, "source", col("tok"), minK = 1024)
      Freq.groupTopItems(toks, "source", col("tok"), n = 10, k)
    }),

    // STREAMING heavy-hitter maintenance: documents flow through the
    // persisted per-source Misra-Gries sink (checkpoint = at-most-once,
    // the KLL-sink contract), and the drained table serves the SAME
    // top-10 probe — one shared oracle with the batch query; the
    // exact-regime fold bit-identity is pinned by FreqSpec
    "q_stream_heavyhitters" -> ((s, dir) => {
      val batchToks = docs(s, dir).select(col("source"),
        explode(Text.tokens(col("text"))).as("tok"))
      val k = Freq.exactRegimeK(batchToks, "source", col("tok"),
        minK = 1024)
      val docStream = Tables.stream(s, dir, "documents")
        .select(col("source"), explode(Text.tokens(col("text"))).as("tok"))
      val tmp = scratchDir("graft-mgstream-")
      val q = graft.streaming.Monitor.freqSketchSink(docStream,
        s"$tmp/sketches", s"$tmp/ckpt", "source", col("tok"), k)
      try q.processAllAvailable() finally q.stop()
      Fs.parquet(s, s"$tmp/sketches")
        .select(col("g").as("source"),
          explode(Freq.topItems(col("sk"), 10)).as("__t"))
        .select(col("source"), col("__t.item").as("item"),
          col("__t.est").as("cnt"))
        .orderBy(col("source"), col("cnt").desc, col("item"))
    }),

    // ONE-SCAN slice audit: row count + KMV distinct-user estimate +
    // KLL value quantiles per event type from a single pass — both
    // custom aggregates share one ObjectHashAggregate (PlanSpec gates
    // the single scan). Sizing probes run once, combined, before the
    // query is built; exact regime on both sketches, so every column
    // is an exact integer / an exact input element
    "q_sketch_profile" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
        .select(col("event_type"),
          col("user_id").cast("long").as("user_id"),
          col("value").cast("double").as("value"))
        .filter(col("event_type").isNotNull)
      // one combined probe for both k's (count and distinct max) —
      // the library fn, not inline pow2: same over-cap fail-loud
      // contract as exactRegimeK, and the probe rides the stats cache
      val (kD, kQ) = Sketch.sliceProfileK(ev, "event_type", col("user_id"),
        minKDistinct = 4096, minKQuant = 4096)
      Sketch.sliceProfile(ev, "event_type", col("user_id"), col("value"),
        Seq(0.5, 0.95), kDistinct = kD, kQuant = kQ)
        .orderBy(col("event_type"))
    }),

    // STREAMING quantile maintenance: events flow through the
    // persisted per-group KLL sink (checkpoint = at-most-once, the
    // span-dedup contract), and the drained table serves the SAME
    // quantile probe — one shared oracle with the batch query; the
    // exact-regime fold bit-identity is pinned by QuantileSpec
    "q_stream_quantiles" -> ((s, dir) => {
      val batchEv = Tables(s, dir, "events")
        .select(col("event_type"), col("value").cast("double").as("value"))
        .filter(col("event_type").isNotNull)
      val k = Quantile.exactRegimeK(batchEv, "event_type", col("value"),
        minK = 4096)
      val evStream = Tables.stream(s, dir, "events")
        .select(col("event_type"), col("value").cast("double").as("value"))
        .filter(col("event_type").isNotNull)
      val tmp = scratchDir("graft-kllstream-")
      val q = graft.streaming.Monitor.quantileSketchSink(evStream,
        s"$tmp/sketches", s"$tmp/ckpt", "event_type", col("value"), k)
      try q.processAllAvailable() finally q.stop()
      Fs.parquet(s, s"$tmp/sketches")
        .select(col("g").as("event_type"),
          Quantile.kllQuantile(col("sk"), 0.25).as("p25"),
          Quantile.kllQuantile(col("sk"), 0.5).as("p50"),
          Quantile.kllQuantile(col("sk"), 0.75).as("p75"),
          Quantile.kllQuantile(col("sk"), 0.95).as("p95"))
        .orderBy(col("event_type"))
    }),

    // ONE-SCAN whole-table column audit (the Deequ/TFDV statistics
    // pass): per column, row/null counts, KMV distinct, min/max and
    // KLL quantiles for the numerics — every aggregate in a single
    // ObjectHashAggregate pair, transposed in-plan over the one
    // aggregated row. Both k's are sized from the data in one probe
    // (Sketch.profileK), so every number is an exact integer or an
    // exact input element at any sf until the documented caps, where
    // the probe fails loudly instead of silently estimating
    "q_table_profile" -> ((s, dir) => {
      val d = docs(s, dir).select(
        col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("long").as("n_chars"),
        Text.tokenCount(col("text")).cast("long").as("n_toks"))
      val cols = Seq("doc_id", "lang", "source", "n_chars", "n_toks")
      val (kD, kQ) = Sketch.profileK(d, cols)
      Sketch.columnProfile(d, Seq("doc_id", "lang", "source"),
        Seq("n_chars", "n_toks"), Seq(0.25, 0.5, 0.95), kD, kQ)
        .orderBy(col("col_name"))
    }),

    // STREAMING whole-table audit maintenance: documents flow through
    // the persisted column-profile sink (per batch: ONE scan into the
    // per-column count/KMV/min-max/KLL state, folded exactly-once via
    // the ledger), and the drained state renders the SAME audit — one
    // shared oracle with q_table_profile; the fold's exact-regime
    // bit-identity to the one-shot state is pinned by SketchSpec
    "q_stream_table_profile" -> ((s, dir) => {
      val d = docs(s, dir).select(
        col("doc_id"), col("lang"), col("source"),
        col("n_chars").cast("long").as("n_chars"),
        Text.tokenCount(col("text")).cast("long").as("n_toks"))
      val cols = Seq("doc_id", "lang", "source", "n_chars", "n_toks")
      // size from the (batch view of the) data, like q_table_profile:
      // the folded state must stay in the exact regime for the shared
      // oracle; the probe rides the stats cache
      val (kD, kQ) = Sketch.profileK(d, cols)
      val docStream = Tables.stream(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          col("n_chars").cast("long").as("n_chars"),
          Text.tokenCount(col("text")).cast("long").as("n_toks"))
      val tmp = scratchDir("graft-profstream-")
      val q = graft.streaming.Monitor.profileSink(docStream,
        s"$tmp/profile", s"$tmp/ckpt",
        Seq("doc_id", "lang", "source"), Seq("n_chars", "n_toks"),
        kD, kQ)
      try q.processAllAvailable() finally q.stop()
      Sketch.columnProfileFromState(
        Fs.parquet(s, s"$tmp/profile"), Seq(0.25, 0.5, 0.95))
        .orderBy(col("col_name"))
    }),

    // one order up: trigram stupid backoff with the recursive
    // trigram -> bigram -> smoothed-unigram chain (the shape of the
    // 5-gram KenLM CCNet deploys, demonstrated at order 3)
    "q_doc_trigram_lm" -> ((s, dir) => {
      Text.trigramLogLoss(docs(s, dir), topV = 500)
        .orderBy(col("id"))
    }),

    // the CCNet deployment shape: the bigram LM trains on a TRUSTED
    // reference slice (src1+src3 standing in for their Wikipedia) and
    // scores the rest of the crawl — low logloss = reads like the
    // reference, not like the crawl's own average
    "q_doc_bigram_ref" -> ((s, dir) => {
      val d = docs(s, dir)
      Text.bigramLogLossAgainst(
        d.filter(col("source").isin("src1", "src3")),
        d.filter(!col("source").isin("src1", "src3")),
        topV = 500)
        .orderBy(col("id"))
    }),

    // CCNet's head/middle/tail split: per-source LM-score tertiles
    // (bucket 1 = head = most corpus-like) with doc and token budgets
    // per stratum — the table a perplexity-filtered mixture reads.
    // ntile over the TOTAL order (logloss, id) is engine-deterministic
    // (logloss is floor-rounded identically on both sides); docs with
    // no bigrams carry no LM evidence and are absent (inner join)
    "q_doc_ppl_buckets" -> ((s, dir) => {
      val d = docs(s, dir)
      val ll = Text.bigramLogLoss(d, topV = 500)
      val meta = d.select(col("doc_id").as("id"), col("source"),
        Text.tokenCount(col("text")).cast("long").as("tok"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("logloss"), col("id"))
      ll.join(meta, Seq("id"))
        .withColumn("bucket", ntile(3).over(w))
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("tok_total"),
          min(col("logloss")).as("ll_min"), max(col("logloss")).as("ll_max"))
        .orderBy(col("source"), col("bucket"))
    }),

    // per-source KL drift from the corpus distribution over the
    // global top-50 tokens — the mixture-monitoring statistic
    "q_doc_drift" -> ((s, dir) => {
      Text.termDrift(docs(s, dir), topV = 50)
    }),

    // top-20 adjacent-bigram collocations by PMI (min pair count 5)
    "q_doc_colloc" -> ((s, dir) => {
      Text.collocations(docs(s, dir), k = 20, minCount = 5L)
    }),

    // top-30 source pairs by exact 3-gram-shingle Jaccard — the
    // cross-dump overlap matrix
    "q_doc_overlap" -> ((s, dir) => {
      Text.sourceNgramOverlap(docs(s, dir), n = 3).limit(30)
    }),

    // per-source quality deciles — the calibration table a threshold
    // choice reads ("what does quality >= 0.7 cost each source?").
    // ntile over a TOTAL order (quality, doc_id) is engine-deterministic
    "q_doc_deciles" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(col("quality"), col("doc_id"))
      docs(s, dir)
        .filter(col("source").isin("src0", "src1", "src2", "src3"))
        .withColumn("quality",
          floor(Text.qualityScore(col("text")) * 1e6) / 1e6)
        .withColumn("decile", ntile(10).over(w))
        .groupBy(col("source"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("quality")).as("q_min"),
          max(col("quality")).as("q_max"))
        .orderBy(col("source"), col("decile"))
    }),

    // robust per-source length outliers: modified z-score over exact
    // median/MAD — two group-keyed aggregate rounds broadcast back
    "q_doc_outliers" -> ((s, dir) => {
      graft.ops.Profile.robustOutliers(docs(s, dir), "n_chars", "source",
        z = 2.0)
        .select(col("doc_id"), col("source"), col("n_chars_v"),
          col("med"), col("mad"), col("robust_z"))
        .orderBy(col("doc_id"))
    }),

    // best-quality docs per source within per-source token budgets —
    // the post-scoring selection step (quality desc, hash tiebreak,
    // strict prefix, doc never split)
    "q_doc_qualitysel" -> ((s, dir) => {
      graft.ops.Sampling.selectByQualityBudget(docs(s, dir),
        col("source"), col("doc_id"),
        Text.tokenCount(col("text")),
        Text.qualityScore(col("text")),
        Map("src0" -> 400L, "src1" -> 300L, "src2" -> 200L))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    }),

    // winnowing rolling-hash fingerprints, exploded to one (doc_id, hash)
    // row each so the driver can sort/hash the output. The polynomial
    // hash (B=1000000007 mod 2^64 over the canonicalized text) is plain
    // arithmetic, so the oracle recomputes it in DuckDB — signed-long
    // window minima and all (the fixture slice is ASCII, making Java
    // charAt and DuckDB codepoint indexing coincide)
    "q_doc_winnow" -> ((s, dir) => {
      docs(s, dir).filter(col("doc_id") < 20)
        .select(col("doc_id"),
          explode(Text.winnowingFingerprint(col("text"))).as("fp_hash"))
        .orderBy(col("doc_id"), col("fp_hash"))
    }),

    // PII scrub: the corpus carries no natural PII, so the query injects
    // deterministic spans (email/phone/IP/SSN derived from doc_id) —
    // identically in the oracle SQL — then redacts and audits them
    "q_doc_redact" -> ((s, dir) => {
      val dirty = docs(s, dir).filter(col("doc_id") < 40)
        .withColumn("dirty", concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or 555-"),
          lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-6789 from 10.0."),
          (col("doc_id") % 256).cast("string"),
          lit(".7 ssn 123-45-6789")))
      dirty
        .withColumn("redacted", Text.redactPii(col("dirty")))
        .select(col("doc_id"),
          Text.piiCount(col("dirty")).as("n_pii"),
          expr("right(redacted, 120)").as("tail_redacted"))
        .orderBy(col("doc_id"))
    }),

    // repeated-line (boilerplate) removal: inject a shared header/footer
    // around every doc (mirrored in the oracle), drop lines occurring in
    // >= 100 distinct docs, keep per-doc line order
    "q_doc_lines" -> ((s, dir) => {
      val aug = docs(s, dir).withColumn("text",
        concat(lit("SHARED HEADER|"), col("text"),
          lit("|COPYRIGHT FOOTER|unique tail "),
          col("doc_id").cast("string")))
      Text.removeBoilerplateLines(aug, minDocs = 100, sep = "|")
        .filter(col("doc_id") < 30)
        .orderBy(col("doc_id"))
    }),

    // ingest-validation column profile: one aggregation pass (EXPAND
    // plan for the multi-distinct), exact counts, native-typed min/max
    // rendered as strings
    "q_doc_profile" -> ((s, dir) =>
      Profile.columnStats(docs(s, dir),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy(col("col_name"))),

    // global paragraph-level dedup: a shared promo block is planted in
    // every doc (5 variants); each variant survives only in its first
    // (doc_id, pos) occurrence corpus-wide, unique tails stay everywhere
    "q_doc_par_dedup" -> ((s, dir) => {
      val aug = docs(s, dir).withColumn("text",
        concat(col("text"), lit("|PROMO BLOCK "),
          (col("doc_id") % 5).cast("string"),
          lit("|tail "), col("doc_id").cast("string")))
      Text.dedupParagraphsGlobal(aug, sep = "|")
        .filter(col("doc_id") < 40)
        .orderBy(col("doc_id"))
    }),

    // exact duplicate groups (empty at SFs without injected dups — still
    // verified: oracle is empty too)
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir)).orderBy(col("fp"))),

    // corpus-level dedup statistics (non-empty at every SF)
    "q_dedup_stats" -> ((s, dir) => {
      val d = docs(s, dir)
      val n = d.count()
      Dedup.exactDedup(d)
        .agg(count(lit(1)).as("n_unique"))
        .withColumn("n_total", lit(n))
        .select(col("n_total"), col("n_unique"))
    }),

    // incremental exact dedup across two batches via the persisted
    // fingerprint index: batch 1 = even doc_ids; batch 2 = odd doc_ids
    // plus re-crawled copies of every 6th doc under shifted ids. The
    // copies must be dropped by the INDEX (their originals are in batch
    // 1), which is what distinguishes this from in-batch dedup; oracle =
    // keep-first by (batch, doc_id) per fingerprint
    "q_dedup_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val b1 = d.filter(col("doc_id") % 2 === 0)
      val dups = b1.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      val b2 = d.filter(col("doc_id") % 2 === 1).unionByName(dups)
      val idx = scratchDir("graft-incdx-")
      val s1 = Dedup.incrementalExactDedup(b1, idx)
      val s2 = Dedup.incrementalExactDedup(b2, idx)
      s1.unionByName(s2).select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // incremental NEAR-dup dedup across two batches via the persisted
    // signature+shingle index (exactVerify=true, the stored-sh opt-in
    // since the round-11 default flip to the compact estimator index):
    // batch 1 = even
    // doc_ids; batch 2 = odd doc_ids plus a near-edited re-crawl of
    // every 6th doc (one appended token, J = (L-2)/(L-1)) under shifted
    // ids. The re-crawls are NEAR- (not exact-) dups of batch-1 docs, so
    // only the exact cross-batch verify can drop them soundly — the
    // estimator mode could flip boundary pairs either way. Oracle = the
    // full two-batch decision replay: in-batch min-id survivors of the
    // exact-Jaccard closure over batch 1, cross-batch drop of batch-2
    // docs near-dupping a kept batch-1 doc, then in-batch survivors
    // among the remaining batch-2 docs (LSH recall 1.0 on this corpus,
    // the same stronger-oracle premise as q_dedup_minhash)
    "q_dedup_incremental_near" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val b1 = d.filter(col("doc_id") % 2 === 0)
      val dups = b1.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" recrawlmarker")).as("text"))
      val b2 = d.filter(col("doc_id") % 2 === 1).unionByName(dups)
      val idx = scratchDir("graft-mhndx-") + "/idx"
      val s1 = Dedup.incrementalMinhashDedup(b1, idx, exactVerify = true)
      val s2 = Dedup.incrementalMinhashDedup(b2, idx, exactVerify = true)
      s1.unionByName(s2).select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // the SAME two-batch ingest through Structured Streaming: batch 1
    // (evens) drains through the minhashDedupSink, then batch 2 (odds +
    // near-edited re-crawls) arrives and must drop against the
    // PERSISTED index — survivors accumulate in the sink's output, so
    // the drained outPath equals the batch incremental replay and the
    // oracle is shared verbatim
    "q_stream_neardedup" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val b1 = d.filter(col("doc_id") % 2 === 0)
      val dups = b1.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" recrawlmarker")).as("text"))
      val b2 = d.filter(col("doc_id") % 2 === 1).unionByName(dups)
      val tmp = scratchDir("graft-mhsink-")
      def drain(): Unit = {
        val stream = s.readStream.schema(b1.schema).parquet(s"$tmp/in")
        val q = graft.streaming.Monitor.minhashDedupSink(stream,
          s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt", exactVerify = true)
        try q.processAllAvailable() finally q.stop()
      }
      b1.coalesce(1).write.mode("append").parquet(s"$tmp/in")
      drain()
      b2.coalesce(1).write.mode("append").parquet(s"$tmp/in")
      drain()
      Fs.parquet(s, s"$tmp/out")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // the SAME two-batch ingest through the index LIFECYCLE path: the
    // compact signature-only index (rereadFrom exact verify — candidate
    // shingle sets recomputed from the accumulated kept corpus) with a
    // compactIndex() rewrite between the batches. Decisions are provably
    // identical to the stored-sh default, so the oracle is shared —
    // the driver gate now covers compaction + compact verify end-to-end
    "q_dedup_incremental_compact" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val b1 = d.filter(col("doc_id") % 2 === 0)
      val dups = b1.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          concat(col("text"), lit(" recrawlmarker")).as("text"))
      val b2 = d.filter(col("doc_id") % 2 === 1).unionByName(dups)
      val idx = scratchDir("graft-mhcdx-") + "/idx"
      val s1 = Dedup.incrementalMinhashDedup(b1, idx,
        rereadFrom = Some(d.limit(0))).pinned()
      Dedup.compactIndex(s, idx)
      val s2 = Dedup.incrementalMinhashDedup(b2, idx,
        rereadFrom = Some(s1))
      s1.unionByName(s2).select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // the simhash two-batch ingest through Structured Streaming: the
    // whitespace-doubled re-crawls of batch 2 must drop against the
    // PERSISTED signature index; survivors accumulate in the sink's
    // output, equal to the batch incremental replay (shared oracle)
    "q_stream_simdedup_index" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val b1 = d.filter(col("doc_id") % 2 === 0)
      val dups = b1.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("replace(text, ' ', '  ')").as("text"))
      val b2 = d.filter(col("doc_id") % 2 === 1).unionByName(dups)
      val tmp = scratchDir("graft-shsink-")
      def drain(): Unit = {
        val stream = s.readStream.schema(b1.schema).parquet(s"$tmp/in")
        val q = graft.streaming.Monitor.simhashDedupSink(stream,
          s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt")
        try q.processAllAvailable() finally q.stop()
      }
      b1.coalesce(1).write.mode("append").parquet(s"$tmp/in")
      drain()
      b2.coalesce(1).write.mode("append").parquet(s"$tmp/in")
      drain()
      Fs.parquet(s, s"$tmp/out")
        .select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // incremental near-IDENTICAL dedup across two batches via the
    // persisted 64-bit SimHash index: batch 2 re-crawls every 6th doc
    // with doubled internal whitespace (identical token stream ->
    // identical signature -> Hamming 0), so the cross-batch band join
    // must drop every re-crawl of a KEPT batch-1 doc; natural
    // hamming<=3 neighbors exercise the in-batch closure. Oracle = the
    // full two-batch decision replay over bit-exact rebuilt signatures
    "q_dedup_incremental_simhash" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val b1 = d.filter(col("doc_id") % 2 === 0)
      val dups = b1.filter(col("doc_id") % 6 === 0)
        .select((col("doc_id") + 100000).as("doc_id"),
          expr("replace(text, ' ', '  ')").as("text"))
      val b2 = d.filter(col("doc_id") % 2 === 1).unionByName(dups)
      val idx = scratchDir("graft-shdx-") + "/idx"
      val s1 = Dedup.incrementalSimhashDedup(b1, idx)
      val s2 = Dedup.incrementalSimhashDedup(b2, idx)
      s1.unionByName(s2).select(col("doc_id")).orderBy(col("doc_id"))
    }),

    // near-dup pairs by exact 3-gram Jaccard via shingle inverted index.
    // The hot-shingle cap (500 docs) bounds candidate fan-out per shingle
    // — the skew guard that keeps this sub-quadratic on boilerplate-heavy
    // corpora; candidates are verified with exact Jaccard over full
    // shingle sets, so the output equals the uncapped answer unless a
    // pair's entire overlap is >500-doc boilerplate (OpsSpec asserts
    // equivalence on this corpus; ScaleUpExperiment bounds growth at 10x)
    "q_dedup_ngram" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(docs(s, dir), n = 3, threshold = 0.5,
        maxShingleFreq = Some(500))
        .withColumn("jaccard", floor(col("jaccard") * 1e6) / 1e6)
        .orderBy(col("id1"), col("id2"))),

    // MinHash + LSH banding, verified with exact Jaccard — every emitted
    // pair carries its exact full-set score, and banding at 64/16 has
    // measured recall 1.0 on this corpus, so the query shares the exact
    // n-gram oracle (the stronger check VERDICT r1 asked for;
    // recall vs q_dedup_ngram asserted in DedupSpec)
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashLshPairs(docs(s, dir), n = 3, numHashes = 64,
        bands = 16, threshold = 0.5)
        .withColumn("jaccard", floor(col("jaccard") * 1e6) / 1e6)
        .orderBy(col("id1"), col("id2"))),

    // near-dup clusters: pair output -> connected components (the step
    // that turns pairs into per-cluster dedup decisions); oracle is the
    // transitive closure of the same exact pair set via recursive CTE
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.duplicateClusters(
        Dedup.ngramJaccardPairs(docs(s, dir), n = 3, threshold = 0.5,
          maxShingleFreq = Some(500)))
        .orderBy(col("doc_id"))),

    // snapshot diff: two corpus versions synthesized deterministically
    // (%7 ids absent from old -> added, %5 absent from new -> removed,
    // %11 texts mangled -> changed), statuses by canonical fingerprint
    "q_doc_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
      val newSnap = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" "), col("text")))
          .otherwise(col("text")))
      Dedup.corpusDiff(oldSnap, newSnap)
        .select(col("doc_id"), col("status"))
        .orderBy(col("doc_id"))
    }),

    // quality-argmax survivor selection: each near-dup cluster keeps its
    // BEST-scoring member (ties on id), not the min-id one
    "q_dedup_best" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.keepClusterBest(d,
        Dedup.ngramJaccardPairs(d, n = 3, threshold = 0.5,
          maxShingleFreq = Some(500)),
        Text.qualityScore(col("text")))
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // SimHash near-dup candidates. The token hash (polynomial over UTF-8
    // bytes + fmix64 finalizer) is portable arithmetic, so the oracle
    // rebuilds the full 64-bit signatures in DuckDB and checks the pair
    // set exactly
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(docs(s, dir), maxHamming = 3)
        .orderBy(col("id1"), col("id2"))),

    // STREAMING priority sampling: the corpus arrives as a stream and
    // folds through the persisted reservoir sink; the drained reservoir
    // must equal the batch sample, so all three priority queries share
    // one oracle
    "q_stream_priority" -> ((s, dir) => {
      val docsStream = Tables.stream(s, dir, "documents")
      val tmp = scratchDir("graft-priostream-")
      val q = graft.streaming.Monitor.prioritySampleSink(docsStream,
        s"$tmp/reservoir", s"$tmp/ckpt", col("doc_id"),
        graft.ops.Text.tokenCount(col("text")).cast("double"), n = 50)
      try q.processAllAvailable() finally q.stop()
      graft.ops.Sampling.incrementalPrioritySample(
        Tables(s, dir, "documents").limit(0),
        s"$tmp/reservoir", col("doc_id"),
        graft.ops.Text.tokenCount(col("text")).cast("double"), n = 50)
        .select(col("key").cast("long").as("doc_id"), col("est_weight"))
        .orderBy(col("doc_id"))
    }),

    // STREAMING exact-substring dedup: the corpus arrives as a stream
    // and each micro-batch's re-arriving passages append through the
    // persisted fingerprint index sink. A single AvailableNow drain is
    // one batch, whose in-batch marking equals the batch operator
    // exactly — so this shares q_doc_span_dedup's oracle; the genuine
    // cross-batch fold is pinned by MonitorSpec's two-drop test
    "q_stream_span" -> ((s, dir) => {
      val docsStream = Tables.stream(s, dir, "documents")
      val tmp = scratchDir("graft-spanstream-")
      val q = graft.streaming.Monitor.spanDedupSink(docsStream,
        s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt", k = 8)
      try q.processAllAvailable() finally q.stop()
      Fs.parquet(s, s"$tmp/out")
        .orderBy(col("doc_id"), col("span_start"))
    }),

    // STREAMING cross-corpus decontamination: the reference (doc_id <
    // 40) is aggregated ONCE into a Bloom bitmap + shingle table; each
    // micro-batch probes the bitmap map-side and exact-verifies only
    // the survivors — the corpus-scale-reference regime where
    // q_stream_contamination's plan-literal shingle set can't go.
    // Output: per-source clean counts (shared < 3), exact
    "q_stream_contamination_bloom" -> ((s, dir) => {
      val d = Tables(s, dir, "documents")
      val (bloomBytes, refSh) = graft.ops.Contamination.buildReferenceBloom(
        d.filter(col("doc_id") < 40), n = 3, expectedItems = 500000L)
      // pin the shingle table so batches re-verify, not re-derive
      val pinned = refSh.pinned()
      val stream = Tables.stream(s, dir, "documents", d.schema)
        .filter(col("doc_id") >= 40)
      val tmp = scratchDir("graft-bloomstream-")
      val q = graft.streaming.Monitor.bloomDecontaminationSink(stream,
        bloomBytes, pinned, n = 3, minShared = 3,
        s"$tmp/out", s"$tmp/ckpt")
      try q.processAllAvailable() finally q.stop()
      Fs.parquet(s, s"$tmp/out")
        .groupBy(col("source")).agg(count(lit(1)).as("n_clean"))
        .orderBy(col("source"))
    }),

    // corpus duplication profile (the Lee et al. 2022 "how much of the
    // corpus is duplicated text" statistic): per source, the fraction
    // of tokens sitting inside 8-token duplicated spans — the
    // observability face of span dedup, and the number that decides
    // whether running it pays
    "q_doc_span_ratio" -> ((s, dir) => {
      val d = docs(s, dir)
      val dupPerDoc = graft.ops.SpanDedup.duplicatedSpans(
        d.select(col("doc_id"), col("text")), k = 8)
        .groupBy(col("doc_id"))
        .agg(sum(col("span_end") - col("span_start")).as("dup_tokens"))
      d.select(col("doc_id"), col("source"),
          Text.tokenCount(col("text")).cast("long").as("toks"))
        .join(dupPerDoc, Seq("doc_id"), "left")
        .na.fill(0L, Seq("dup_tokens"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("total_tokens"),
          sum(col("dup_tokens")).as("dup_tokens"))
        .withColumn("dup_ratio",
          floor(col("dup_tokens").cast("double") / col("total_tokens")
            * 1e6) / 1e6)
        .orderBy(col("source"))
    }),

    // exact-substring dedup (Lee et al. 2022 ExactSubstr at 8-token
    // granularity): maximal duplicated passages per doc — the spans a
    // license header or quoted paragraph occupies, invisible to
    // whole-document dedup
    "q_doc_span_dedup" -> ((s, dir) =>
      graft.ops.SpanDedup.duplicatedSpans(docs(s, dir), k = 8)
        .orderBy(col("doc_id"), col("span_start"))),

    // cross-batch ExactSubstr through the persisted fingerprint-count
    // index: even docs arrive first (only in-batch dups marked), odd
    // docs second (marked against history + themselves) — keep-one
    // semantics, replayed in SQL with per-batch count arithmetic
    "q_doc_span_incremental" -> ((s, dir) => {
      val d = docs(s, dir).select(col("doc_id"), col("text"))
      val idx = scratchDir("graft-spandx-") + "/idx"
      val s1 = graft.ops.SpanDedup.incrementalDuplicatedSpans(
        d.filter(col("doc_id") % 2 === 0), idx, k = 8)
      val s2 = graft.ops.SpanDedup.incrementalDuplicatedSpans(
        d.filter(col("doc_id") % 2 === 1), idx, k = 8)
      s1.unionByName(s2).orderBy(col("doc_id"), col("span_start"))
    }),

    // SURGICAL decontamination: benchmark-leaked passages (8-token
    // windows matching any fingerprint of the doc_id < 20 benchmark
    // slice) are cut from the corpus docs, keeping the rest of each
    // document — the passage-granular complement of the doc-dropping
    // q_doc_contamination
    "q_doc_span_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      graft.ops.SpanDedup.removeContaminatedSpans(
        d.filter(col("doc_id") >= 20), d.filter(col("doc_id") < 20), k = 8)
        .select(col("doc_id"), col("n_removed_tokens"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy(col("doc_id"))
    }),

    // the removal pass over the same spans: every duplicated passage is
    // cut, survivors re-joined on single spaces; clean text compared by
    // fingerprint
    "q_doc_span_clean" -> ((s, dir) =>
      graft.ops.SpanDedup.removeDuplicatedSpans(docs(s, dir), k = 8)
        .select(col("doc_id"), col("n_removed_tokens"),
          md5(col("clean_text")).as("clean_fp"))
        .orderBy(col("doc_id"))),

    // incremental SEMANTIC dedup across two batches via the persisted
    // (id, sig, v) LSH index: batch 1 = even vec_ids; batch 2 = odd
    // plus a re-arrival of every 6th vector under a shifted id
    // (identical embedding -> identical signature -> cosine 1), so the
    // cross-batch probe join must drop every re-arrival of a kept
    // batch-1 vector; natural high-cosine neighbors within Hamming 2
    // exercise the in-batch closure. Oracle = the full two-batch
    // decision replay over bit-exact rebuilt signatures (the LSH
    // candidate restriction is replayed too, so no recall premise)
    "q_embed_incremental" -> ((s, dir) => {
      val e = emb(s, dir).select(col("vec_id"), col("embedding"))
      val b1 = e.filter(col("vec_id") % 2 === 0)
      val dups = e.filter(col("vec_id") % 6 === 0)
        .select((col("vec_id") + 100000).as("vec_id"), col("embedding"))
      val b2 = e.filter(col("vec_id") % 2 === 1).unionByName(dups)
      val idx = scratchDir("graft-semidx-") + "/idx"
      val s1 = Similarity.incrementalSemanticDedup(b1, idx, threshold = 0.9)
      val s2 = Similarity.incrementalSemanticDedup(b2, idx, threshold = 0.9)
      s1.unionByName(s2).select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // STREAMING semantic dedup: the embedding corpus arrives as a
    // stream and survivors append through the persisted (id, sig, v)
    // index sink. One AvailableNow drain = one batch = the in-batch
    // canonical closure, replayed exactly (LSH candidates included) by
    // the oracle; the cross-batch fold is pinned by MonitorSpec
    "q_stream_semantic" -> ((s, dir) => {
      val vecsStream = Tables.stream(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val tmp = scratchDir("graft-semstream-")
      val q = graft.streaming.Monitor.semanticDedupSink(vecsStream,
        s"$tmp/idx", s"$tmp/out", s"$tmp/ckpt", threshold = 0.9)
      try q.processAllAvailable() finally q.stop()
      Fs.parquet(s, s"$tmp/out")
        .select(col("vec_id")).orderBy(col("vec_id"))
    }),

    // brute-force exact top-5 cosine neighbors for 3 query vectors
    "q_embed_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id").isin(0L, 1L, 2L))
      Similarity.bruteForceTopK(e, q, k = 5)
        .withColumn("score", floor(col("score") * 1e4) / 1e4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // embedding-cosine near-dup pairs above threshold, over the FULL
    // embeddings table (the round-3 vec_id<300 oracle-feasibility cap is
    // gone: the all-pairs DuckDB oracle is fine at verify SF, and the
    // driver signal now exercises the cell blocking at full cardinality)
    "q_embed_pairs" -> ((s, dir) =>
      Similarity.cosinePairs(emb(s, dir), 0.4)
        .withColumn("score", floor(col("score") * 1e4) / 1e4)
        .orderBy(col("id1"), col("id2"))),

    // SemDeDup-shaped embedding dedup: cosine pairs -> connected
    // components -> keep the smallest-id survivor per semantic cluster
    "q_embed_semdedup" -> ((s, dir) =>
      Similarity.semanticDedup(emb(s, dir), 0.4)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))),

    // embedding-space benchmark contamination: vec_id < 100 is the "eval
    // set", the rest the corpus; any corpus vector within cosine 0.42 of
    // a benchmark vector is reported (threshold chosen with >= 3e-4
    // margin to the nearest pair at both verify SFs — far above float
    // accumulation noise)
    "q_embed_contamination" -> ((s, dir) => {
      val e = emb(s, dir)
      graft.ops.Contamination.semanticReport(
        e.filter(col("vec_id") >= 100), e.filter(col("vec_id") < 100), 0.42)
        .withColumn("max_cos", floor(col("max_cos") * 1e4) / 1e4)
        .orderBy(col("id"))
    }),

    // LSH-bucketed approximate top-k. Hyperplanes are fmix64-derived
    // dyadic rationals — bit-exact in any engine — so the oracle rebuilds
    // signatures, Hamming-1 probes, and the candidate ranking in DuckDB
    // and checks the full result (recall vs brute force additionally
    // asserted in SimilaritySpec)
    "q_embed_ann" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id").isin(0L, 1L, 2L))
      Similarity.lshTopK(e, q, k = 5)
        .withColumn("score", floor(col("score") * 1e4) / 1e4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // per-vector int8 quantization (4x embedding storage/shuffle at
    // corpus scale): scale + codes exploded to rows so the driver can
    // hash-compare arrays; arithmetic is engine-exact (float max, one
    // double division, plain floor)
    "q_embed_quantize" -> ((s, dir) => {
      val e = emb(s, dir)
        .withColumn("scale", Similarity.quantScale(col("embedding")))
      e.select(col("vec_id"), col("scale"),
        posexplode(Similarity.quantize(col("embedding"), col("scale")))
          .as(Seq("pos", "qv")))
        .select(col("vec_id"), col("pos"), col("qv").cast("int").as("qv"),
          col("scale"))
        .orderBy(col("vec_id"), col("pos"))
    }),

    // product-quantization ADC top-k: 4 subspaces x 16 L2 codewords
    // (trained on the derived hash sample), 4-byte codes per vector —
    // the 64x index-bandwidth path — per-query LUTs on the broadcast
    // side, top-100 ADC candidates reranked by exact cosine. Training,
    // encoding, LUTs, and the candidate cut all replay in the oracle
    "q_embed_pq" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id").isin(0L, 1L, 2L))
      Similarity.pqTopK(e, q, k = 5, m = 4, codewords = 16,
        candidates = 100, targetTrain = 16000L)
        .withColumn("score", floor(col("score") * 1e4) / 1e4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF-PQ: coarse cells prune the ADC scan to each query's 2 probed
    // cells (the sublinear production layout; pqTopK's code scan is
    // O(corpus) per query), PQ codes score the probed candidates, top
    // 50 rerank exact. Both quantizers share one derived hash sample
    "q_embed_ivfpq" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id").isin(0L, 1L, 2L))
      Similarity.ivfPqTopK(e, q, k = 5, numCentroids = 8, nprobe = 2,
        m = 4, codewords = 16, candidates = 50, targetTrain = 16000L)
        .withColumn("score", floor(col("score") * 1e4) / 1e4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // persisted PQ index lifecycle: codebooks train on the EVEN half
    // (the build corpus), the odd half arrives later and encodes with
    // the FROZEN books (appendToPqIndex) — arrival order can't move a
    // code — then ADC search scans only the code table. The oracle
    // trains on the even slice and encodes everything
    "q_embed_pq_index" -> ((s, dir) => {
      val e = emb(s, dir)
      val idx = pqIndexes.getOrElseUpdate(dir, {
        val p = scratchDir("graft-pqidx-") + "/idx"
        Similarity.buildPqIndex(e.filter(col("vec_id") % 2 === 0), p,
          m = 4, codewords = 16, targetTrain = 16000L)
        Similarity.appendToPqIndex(e.filter(col("vec_id") % 2 === 1), p)
        p
      })
      Similarity.pqSearch(e, e.filter(col("vec_id").isin(0L, 1L, 2L)),
        idx, k = 5, candidates = 100)
        .withColumn("score", floor(col("score") * 1e4) / 1e4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // two-stage quantized top-k: int8 integer-dot ranking over the whole
    // corpus (1/4 the scan bytes of floats), exact-cosine rerank of the
    // top-20 candidates only. Stage 1 is integer-exact times two
    // correctly-rounded scale multiplies, so the oracle replays the
    // candidate CUT itself — the approximate stage verifies bit-for-bit,
    // recall vs brute force is additionally pinned in OpsSpec
    "q_embed_quant_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id").isin(0L, 1L, 2L))
      Similarity.quantizedTopK(e, q, k = 5, candidates = 20)
        .withColumn("score", floor(col("score") * 1e4) / 1e4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // ANN-candidate cosine pair mining (the opt-in recall<1 scale path
    // past cosinePairs' exactness): LSH buckets + Hamming<=2 multi-probe
    // generate candidates, exact cosine verifies each. The oracle
    // rebuilds the bit-exact signatures and the same hamming<=2
    // candidate set in DuckDB (recall floor vs exact pairs in OpsSpec)
    "q_embed_annpairs" -> ((s, dir) =>
      Similarity.annCosinePairs(emb(s, dir), 0.4, radius = 2)
        .withColumn("score", floor(col("score") * 1e4) / 1e4)
        .orderBy(col("id1"), col("id2"))),

    // IVF-bucketed approximate top-k; the coarse quantizer trains on the
    // DERIVED hash sample (trainFraction = 0 default: keep ~targetTrain
    // vectors — Lloyd scans a sample, assignment covers the corpus).
    // targetTrain = 16000 exercises the derivation at the verify SFs: a
    // 32k corpus trains on the md5 < '8000' half, a 3.2k corpus keeps
    // everything. The oracle recomputes the same fraction from count(*)
    // (same float op order, same floor(x+0.5) rounding).
    "q_embed_ivf" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id").isin(0L, 1L, 2L))
      Similarity.ivfTopK(e, q, k = 5, targetTrain = 16000L)
        .withColumn("score", floor(col("score") * 1e4) / 1e4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // the distributed-probe IVF twin over a query TABLE (every 10th
    // vector — 50 queries at verify SF): probe lists are computed
    // map-side from the literal
    // centroid array — no driver collect, no maxQueries bound — and the
    // candidates ride one cid equi-join; same quantizer and ranking as
    // q_embed_ivf, so the oracle shares its centroid CTE chain
    "q_embed_ivf_batch" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") % 10 === 7)
      Similarity.ivfTopKBatch(e, q, k = 5, targetTrain = 16000L)
        .withColumn("score", floor(col("score") * 1e4) / 1e4)
        .orderBy(col("query_id"), col("rank"))
    }),

    // the ANN deployment gate: recall@5 of the served IVF path against
    // the exact brute-force top-5 on the same sampled query set (every
    // 10th vector — the q_embed_ivf_batch sample). Both sides are
    // deterministic (same cosine arithmetic, same score-desc/id
    // tiebreak), so per-query recall is oracle-replayable exactly
    "q_embed_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") % 10 === 7)
      Similarity.recallAtK(
        Similarity.bruteForceTopK(e, q, k = 5),
        Similarity.ivfTopKBatch(e, q, k = 5, targetTrain = 16000L))
        .orderBy(col("query_id"))
    }),

    // The nprobe tuning curve the recall gate feeds: micro-averaged
    // recall@5 (SUM hits / SUM exact — integer sums, so the double is
    // order-independent and replayable) at nprobe 1/2/4/8 over the
    // same sampled query set. Ground truth is computed ONCE and cached
    // (it is the expensive side — one corpus scan); each sweep point
    // re-probes the same deterministic quantizer. This is the
    // operational question the gate raises ("0.53 at nprobe=2 — at
    // what probe cost does the index meet its recall bar?") answered
    // as one 4-row artifact.
    "q_embed_recall_sweep" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") % 10 === 7)
      // ground truth computed once (it is the expensive side — one
      // corpus scan) and pinned: the four union branches below all read
      // the |queries|*k checkpointed rows instead of re-scanning
      val exact = Similarity.bruteForceTopK(e, q, k = 5)
        .pinned()
      // fit ONCE, probe four times — the quantizer is deterministic,
      // so re-fitting per point would repeat identical k-means work.
      // The four sweep points UNION into one frame so the whole curve
      // is ONE driver action (the r13 gate-fusion discipline): the old
      // shape collected each point with its own agg().head(), paying
      // four sequential scheduler round-trips where the union's
      // branches schedule together. Micro-averaged recall stays
      // h.toDouble / x — integer sums then one IEEE division, computed
      // in-plan now, value-identical and order-independent.
      val (centroids, bucketed) =
        Similarity.ivfQuantize(e, targetTrain = 16000L)
      Seq(1, 2, 4, 8).map { np =>
        Similarity.recallAtK(exact,
          Similarity.ivfProbeTopK(centroids, bucketed, q, k = 5,
            nprobe = np))
          .agg(sum(col("n_hit")).as("n_hit"),
            sum(col("n_exact")).as("n_exact"))
          .select(lit(np).as("nprobe"), col("n_hit"), col("n_exact"),
            (col("n_hit").cast("double") / col("n_exact")).as("recall"))
      }.reduce(_ unionByName _).orderBy("nprobe")
    }),

    // prototypicality pruning: cluster with the IVF quantizer, keep the
    // 10 LEAST prototypical (hardest) vectors per cluster — the
    // diversity-preserving data-pruning selection
    "q_embed_proto" -> ((s, dir) => {
      Similarity.prototypicalityPrune(emb(s, dir), keepPerCluster = 10,
        targetTrain = 16000L)
        .orderBy(col("cid"), col("rank"))
    }),

    // multimodal asset metadata (payload stays columnar-pruned away)
    "q_multimodal_meta" -> ((s, dir) => {
      Multimodal.toAssets(docs(s, dir)).filter(col("asset_id") < 50)
        .select(col("asset_id"), col("meta.modality"), col("meta.byte_len"))
        .orderBy(col("asset_id"))
    }),

    // perceptual-hash near-dup pairs over binary payloads: byte-bigram
    // histogram hash + 4x16 banding + exact Hamming verify — the
    // multimodal twin of SimHash text dedup
    "q_multimodal_phash" -> ((s, dir) => {
      Multimodal.phashPairs(Multimodal.toAssets(docs(s, dir)),
        maxHamming = 2)
        .orderBy(col("id1"), col("id2"))
    }),

    // batched stub decode + feature extraction; the histogram array is
    // exploded to (bucket, bucket_count) rows so the driver can sort and
    // hash the output. The stub checksum ((acc*31+byte) mod 2^63) and
    // byte%16 histogram are portable arithmetic, so the oracle recomputes
    // them in DuckDB from the same UTF-8 payload bytes (hex + list_reduce)
    "q_multimodal_features" -> ((s, dir) => {
      Multimodal.extractFeatures(
        Multimodal.toAssets(docs(s, dir).filter(col("doc_id") < 50)))
        .select(col("asset_id"), col("byte_len"), col("checksum"),
          col("head_hex"), posexplode(col("histogram"))
            .as(Seq("bucket", "bucket_count")))
        .orderBy(col("asset_id"), col("bucket"))
    }),

    // frame-sampling stub over byte payloads; same portable checksum per
    // 64-byte chunk, every 2nd chunk — the oracle slices the byte list
    "q_multimodal_frames" -> ((s, dir) => {
      Multimodal.sampleFrames(
        Multimodal.toAssets(docs(s, dir).filter(col("doc_id") < 10)),
        frameSize = 64, stride = 2)
        .orderBy(col("asset_id"), col("frame_idx"))
    })
  )

  /** Shared CTE chain rebuilding Dedup.simhash64 bit-for-bit in DuckDB
    * (per-token polynomial hash over UTF-8 bytes mod 2^64, fmix64 via
    * HUGEINT half-multiplies, per-bit votes, signed conversion) — ends
    * in `fp(id, f)`. Composed into q_dedup_simhash (all-pairs hamming)
    * and q_stream_simdedup (distinct signatures per source). */
  /** Shared by q_dedup_incremental_simhash (batch two-batch ingest)
    * and q_stream_simdedup_index (the same ingest streamed through
    * simhashDedupSink). */
  private lazy val incrementalSimhashOracleSql: String =
      ("""WITH RECURSIVE b1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |), b2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 100000, replace(text, ' ', '  ') FROM documents
        |  WHERE doc_id % 6 = 0
        |), allr AS (
        |  SELECT doc_id, text, 0 AS bt FROM b1
        |  UNION ALL
        |  SELECT doc_id, text, 1 FROM b2
        |), """.stripMargin + simhashFpCtes("allr") + """
        |, fpb AS (
        |  SELECT f.id, f.f, a.bt FROM fp f JOIN allr a ON a.doc_id = f.id
        |), prs AS (
        |  SELECT a.id AS id1, a.bt AS bt1, b.id AS id2, b.bt AS bt2
        |  FROM fpb a JOIN fpb b ON a.id < b.id
        |  WHERE bit_count(xor(a.f, b.f)) <= 3
        |), e1 AS (
        |  SELECT id1 AS a, id2 AS b FROM prs WHERE bt1 = 0 AND bt2 = 0
        |  UNION
        |  SELECT id2, id1 FROM prs WHERE bt1 = 0 AND bt2 = 0
        |), reach1(a, b) AS (
        |  SELECT a, b FROM e1
        |  UNION
        |  SELECT r.a, e.b FROM reach1 r JOIN e1 e ON r.b = e.a
        |), kept1 AS (
        |  SELECT doc_id FROM b1 WHERE doc_id NOT IN (
        |    SELECT a FROM reach1 GROUP BY a HAVING a > min(b))
        |), dropx AS (
        |  SELECT CASE WHEN bt1 = 1 THEN id1 ELSE id2 END AS doc_id FROM prs
        |  WHERE (bt1 = 1 AND bt2 = 0 AND id2 IN (SELECT doc_id FROM kept1))
        |     OR (bt1 = 0 AND bt2 = 1 AND id1 IN (SELECT doc_id FROM kept1))
        |), fresh AS (
        |  SELECT doc_id FROM b2 WHERE doc_id NOT IN (SELECT doc_id FROM dropx)
        |), e2 AS (
        |  SELECT id1 AS a, id2 AS b FROM prs
        |  WHERE bt1 = 1 AND bt2 = 1
        |    AND id1 IN (SELECT doc_id FROM fresh)
        |    AND id2 IN (SELECT doc_id FROM fresh)
        |  UNION
        |  SELECT id2, id1 FROM prs
        |  WHERE bt1 = 1 AND bt2 = 1
        |    AND id1 IN (SELECT doc_id FROM fresh)
        |    AND id2 IN (SELECT doc_id FROM fresh)
        |), reach2(a, b) AS (
        |  SELECT a, b FROM e2
        |  UNION
        |  SELECT r.a, e.b FROM reach2 r JOIN e2 e ON r.b = e.a
        |), kept2 AS (
        |  SELECT doc_id FROM fresh WHERE doc_id NOT IN (
        |    SELECT a FROM reach2 GROUP BY a HAVING a > min(b))
        |)
        |SELECT doc_id FROM kept1
        |UNION ALL SELECT doc_id FROM kept2 ORDER BY doc_id""".stripMargin)

  /** Shared by q_sketch_audience (batch aggregate) and
    * q_stream_sketch_audience (the persisted-sink fold drained under
    * AvailableNow — bit-identical table, so one oracle). */
  private lazy val sketchAudienceOracleSql: String =
      """WITH d AS (
        |  SELECT DISTINCT event_type, user_id FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |), cnt AS (
        |  SELECT event_type, COUNT(*) AS c FROM d GROUP BY 1
        |), inter AS (
        |  SELECT x.event_type AS ta, y.event_type AS tb, COUNT(*) AS c
        |  FROM d x JOIN d y
        |    ON x.user_id = y.user_id AND x.event_type < y.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT ca.event_type AS type_a, cb.event_type AS type_b,
        |  CAST(ca.c AS BIGINT) AS n_a, CAST(cb.c AS BIGINT) AS n_b,
        |  CAST(COALESCE(i.c, 0) AS BIGINT) AS n_common,
        |  CAST(ca.c + cb.c - COALESCE(i.c, 0) AS BIGINT) AS n_union
        |FROM cnt ca JOIN cnt cb ON ca.event_type < cb.event_type
        |LEFT JOIN inter i
        |  ON i.ta = ca.event_type AND i.tb = cb.event_type
        |ORDER BY type_a, type_b""".stripMargin

  /** Shared by q_sketch_quantiles (batch aggregate) and
    * q_stream_quantiles (the persisted KLL sink drained under
    * AvailableNow — exact-regime fold is bit-identical, so one
    * oracle). The quantile definition is the engine's inverted-CDF
    * discrete quantile: the element at rank max(1, ceil(q*n)) of the
    * sorted non-null values — spelled out with row_number instead of
    * quantile_disc so the rank arithmetic (IEEE double q*n on both
    * sides) is pinned, not DuckDB's interpolation policy. */
  private lazy val sketchQuantilesOracleSql: String = {
    val cols = Seq(0.25 -> "p25", 0.5 -> "p50", 0.75 -> "p75",
      0.95 -> "p95").map { case (q, name) =>
      s"""  max(CASE WHEN rn = greatest(1, CAST(ceil($q * n) AS BIGINT))
         |    THEN value END) AS $name""".stripMargin
    }.mkString(",\n")
    s"""WITH ranked AS (
       |  SELECT event_type, value,
       |    row_number() OVER (PARTITION BY event_type ORDER BY value)
       |      AS rn,
       |    count(*) OVER (PARTITION BY event_type) AS n
       |  FROM events
       |  WHERE value IS NOT NULL AND event_type IS NOT NULL)
       |SELECT event_type,
       |$cols
       |FROM ranked GROUP BY event_type ORDER BY event_type""".stripMargin
  }

  /** q_table_profile: the one-scan column audit replayed naively —
    * counts and COUNT(DISTINCT) exactly, min/max as doubles, and the
    * numeric columns' quantiles with the engine's inverted-CDF rank
    * arithmetic (rank max(1, ceil(q*n)), IEEE double q*n on both
    * sides) spelled out per column. The engine pays ONE scan for all
    * of this; the oracle is free to pay one per statistic. */
  private lazy val tableProfileOracleSql: String = {
    val qs = Seq(0.25 -> "p25", 0.5 -> "p50", 0.95 -> "p95")
    def branch(c: String, isNum: Boolean): String = {
      val quants = qs.map { case (q, name) =>
        if (!isNum) s"    CAST(NULL AS DOUBLE) AS $name"
        else
          s"""    (SELECT max(CASE WHEN rn = greatest(1,
             |        CAST(ceil($q * cnt) AS BIGINT)) THEN v END)
             |     FROM (SELECT CAST($c AS DOUBLE) AS v,
             |        row_number() OVER (ORDER BY CAST($c AS DOUBLE))
             |          AS rn,
             |        count(*) OVER () AS cnt
             |      FROM d WHERE $c IS NOT NULL)) AS $name""".stripMargin
      }.mkString(",\n")
      val mm =
        if (isNum)
          s"    CAST(MIN($c) AS DOUBLE) AS vmin,\n" +
            s"    CAST(MAX($c) AS DOUBLE) AS vmax,"
        else
          "    CAST(NULL AS DOUBLE) AS vmin,\n" +
            "    CAST(NULL AS DOUBLE) AS vmax,"
      s"""  SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |    COUNT(*) - COUNT($c) AS n_nulls,
         |    COUNT(DISTINCT $c) AS est_distinct,
         |$mm
         |$quants
         |  FROM d""".stripMargin
    }
    val branches = Seq("doc_id" -> false, "lang" -> false,
      "source" -> false, "n_chars" -> true, "n_toks" -> true)
      .map { case (c, n) => branch(c, n) }.mkString("\n  UNION ALL\n")
    val head =
      """WITH d AS (
        |  SELECT doc_id, lang, source,
        |    CAST(n_chars AS BIGINT) AS n_chars,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT)
        |      AS n_toks
        |  FROM documents
        |)""".stripMargin
    head + "\n" + branches + "\nORDER BY col_name"
  }

  /** Shared by q_doc_gate_funnel (batch) and q_stream_gate_funnel
    * (the same chain as a complete-mode streaming aggregation). */
  private lazy val gateFunnelOracleSql: String =
      """WITH f AS (
        |  SELECT
        |    COALESCE(text IS NOT NULL, FALSE) AS p0,
        |    COALESCE(len(string_split_regex(text, '\s+')) >= 10, FALSE)
        |      AS p1,
        |    COALESCE(CAST(length(text)
        |        - len(string_split_regex(text, '\s+')) + 1 AS DOUBLE)
        |      / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE)
        |      <= 12.0, FALSE) AS p2,
        |    COALESCE(
        |      (least(CAST(len(string_split_regex(text, '\s+')) AS DOUBLE)
        |         / 64.0, 1.0) * 0.5)
        |      + (CAST(len(list_distinct(string_split_regex(text, '\s+')))
        |           AS DOUBLE)
        |         / CAST(len(string_split_regex(text, '\s+')) AS DOUBLE)
        |         * 0.5) >= 0.5, FALSE) AS p3
        |  FROM documents
        |)
        |SELECT rule_idx, rule,
        |  CAST(n_fail_alone AS BIGINT) AS n_fail_alone,
        |  CAST(n_first_blame AS BIGINT) AS n_first_blame,
        |  CAST(n_surviving_after AS BIGINT) AS n_surviving_after
        |FROM (
        |  SELECT CAST(0 AS BIGINT) AS rule_idx, 'nonempty' AS rule,
        |    SUM(CASE WHEN NOT p0 THEN 1 ELSE 0 END) AS n_fail_alone,
        |    SUM(CASE WHEN NOT p0 THEN 1 ELSE 0 END) AS n_first_blame,
        |    SUM(CASE WHEN p0 THEN 1 ELSE 0 END) AS n_surviving_after
        |  FROM f
        |  UNION ALL
        |  SELECT 1, 'min_tokens',
        |    SUM(CASE WHEN NOT p1 THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN p0 AND NOT p1 THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN p0 AND p1 THEN 1 ELSE 0 END)
        |  FROM f
        |  UNION ALL
        |  SELECT 2, 'mean_tok_len',
        |    SUM(CASE WHEN NOT p2 THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN p0 AND p1 AND NOT p2 THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN p0 AND p1 AND p2 THEN 1 ELSE 0 END)
        |  FROM f
        |  UNION ALL
        |  SELECT 3, 'quality',
        |    SUM(CASE WHEN NOT p3 THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN p0 AND p1 AND p2 AND NOT p3 THEN 1 ELSE 0 END),
        |    SUM(CASE WHEN p0 AND p1 AND p2 AND p3 THEN 1 ELSE 0 END)
        |  FROM f
        |) ORDER BY rule_idx""".stripMargin

  private def simhashFpCtes(from: String = "documents"): String =
    s"""pow2(b, p) AS (
        |  SELECT 0, CAST(1 AS HUGEINT)
        |  UNION ALL SELECT b + 1, p * 2 FROM pow2 WHERE b < 63
        |), toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok
        |  FROM $from
        |), ph AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      list_transform(range(1, octet_length(encode(tok)) + 1),
        |        i -> CAST(strpos('0123456789ABCDEF',
        |                         substr(hex(encode(tok)), CAST(2*i-1 AS INT), 1)) - 1
        |               AS HUGEINT) * 16
        |             + (strpos('0123456789ABCDEF',
        |                       substr(hex(encode(tok)), CAST(2*i AS INT), 1)) - 1))),
        |      (acc, x) -> (acc * 1000000007 + x)
        |                  % CAST('18446744073709551616' AS HUGEINT)) AS p
        |  FROM toks
        |), fm1 AS (
        |  SELECT doc_id, xor(p, p // 8589934592) AS x FROM ph
        |), fm1m AS (
        |  SELECT doc_id,
        |    (((x // 4294967296) * CAST('18397679294719823053' AS HUGEINT))
        |       % 4294967296 * 4294967296
        |     + (x % 4294967296) * CAST('18397679294719823053' AS HUGEINT))
        |    % CAST('18446744073709551616' AS HUGEINT) AS x
        |  FROM fm1
        |), fm2 AS (
        |  SELECT doc_id, xor(x, x // 8589934592) AS x FROM fm1m
        |), fm2m AS (
        |  SELECT doc_id,
        |    (((x // 4294967296) * CAST('14181476777654086739' AS HUGEINT))
        |       % 4294967296 * 4294967296
        |     + (x % 4294967296) * CAST('14181476777654086739' AS HUGEINT))
        |    % CAST('18446744073709551616' AS HUGEINT) AS x
        |  FROM fm2
        |), th AS (
        |  SELECT doc_id, xor(x, x // 8589934592) AS h FROM fm2m
        |), votes AS (
        |  SELECT doc_id, b, p,
        |    SUM(CASE WHEN (h // p) % 2 = 1 THEN 1 ELSE -1 END) AS vote
        |  FROM th CROSS JOIN pow2 GROUP BY doc_id, b, p
        |), sigs AS (
        |  SELECT doc_id,
        |    SUM(CASE WHEN vote > 0 THEN p ELSE CAST(0 AS HUGEINT) END) AS sig_u
        |  FROM votes GROUP BY doc_id
        |), fp AS (
        |  SELECT doc_id AS id,
        |    CAST(CASE WHEN sig_u >= CAST('9223372036854775808' AS HUGEINT)
        |         THEN sig_u - CAST('18446744073709551616' AS HUGEINT)
        |         ELSE sig_u END AS BIGINT) AS f
        |  FROM sigs
        |)""".stripMargin

  /** Shared by the one-shot and incremental priority-sampling queries
    * (the reservoir fold provably equals the single-shot answer). */
  private def prioritySampleOracleSql: String =
    """WITH p AS (
      |  SELECT doc_id,
      |    CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS w,
      |    CAST(len(string_split_regex(text, '\s+')) AS DOUBLE)
      |      / ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))::BIGINT
      |          + 1) / 4503599627370496.0) AS prio
      |  FROM documents
      |  WHERE len(string_split_regex(text, '\s+')) > 0
      |), top AS (
      |  SELECT * FROM p ORDER BY prio DESC, doc_id LIMIT 51
      |), r AS (
      |  SELECT *, row_number() OVER (ORDER BY prio DESC, doc_id) AS rn,
      |    MIN(prio) OVER () AS mn, COUNT(*) OVER () AS cnt
      |  FROM top
      |)
      |SELECT doc_id,
      |  greatest(w, CASE WHEN cnt = 51 THEN mn ELSE 0 END) AS est_weight
      |FROM r WHERE rn <= 50 ORDER BY doc_id""".stripMargin

  /** Shared CTE chain for the ExactSubstr queries: `toks` (token
    * arrays), `spans` (maximal merged duplicated 8-token spans, the
    * engine's interval merge replayed as two window levels). */
  private def spanDedupCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
      |), g AS (
      |  SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+7], ' ')) AS h
      |  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
      |  WHERE len(t) >= 8
      |), dup AS (
      |  SELECT h FROM g GROUP BY h HAVING COUNT(*) >= 2
      |), mk AS (
      |  SELECT g.doc_id, g.pos AS s, g.pos + 8 AS e FROM g JOIN dup USING (h)
      |), m1 AS (
      |  SELECT doc_id, s, e,
      |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      |      THEN 1 ELSE 0 END AS f
      |  FROM mk
      |), m2 AS (
      |  SELECT doc_id, s, e,
      |    SUM(f) OVER (PARTITION BY doc_id ORDER BY s
      |      ROWS UNBOUNDED PRECEDING) AS gid
      |  FROM m1
      |), spans AS (
      |  SELECT doc_id, gid, MIN(s) AS span_start, MAX(e) AS span_end
      |  FROM m2 GROUP BY 1, 2
      |)""".stripMargin

  /** Shared CTE chain producing exact 3-gram Jaccard pairs at threshold
    * 0.5 (`qual`), composed into the ngram/minhash oracle and the
    * recursive-CTE cluster oracle. */
  private def ngramPairCtes(src: String = "documents"): String =
    s"""toks AS (
      |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM $src
      |), sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(1, len(t) - 2),
      |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
      |  FROM toks WHERE len(t) >= 3
      |), ex AS (
      |  SELECT doc_id, unnest(shingles) AS s, len(shingles) AS n FROM sh
      |  WHERE len(shingles) > 0
      |), pairs AS (
      |  SELECT a.doc_id AS id1, b.doc_id AS id2, COUNT(*) AS inter,
      |         ANY_VALUE(a.n) AS n1, ANY_VALUE(b.n) AS n2
      |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), qual AS (
      |  SELECT id1, id2,
      |    floor(CAST(inter AS DOUBLE) / (n1 + n2 - inter) * 1e6) / 1e6
      |      AS jaccard
      |  FROM pairs
      |  WHERE CAST(inter AS DOUBLE) / (n1 + n2 - inter) >= 0.5
      |)""".stripMargin

  /** Exact 3-gram Jaccard pairs at threshold 0.5 — the shared oracle for
    * q_dedup_ngram (capped candidates + exact verify) and q_dedup_minhash
    * (LSH candidates + exact verify): both must reproduce the exact
    * answer on this corpus. */
  private val ngramJaccardOracleSql: String =
    s"WITH ${ngramPairCtes()}\n" +
      "SELECT id1, id2, jaccard FROM qual ORDER BY id1, id2"

  /** Connected components over the exact pair set, via transitive closure
    * (recursive CTE) — component id = smallest doc id reachable. */
  private val clusterOracleSql: String =
    s"WITH RECURSIVE ${ngramPairCtes()},\n" +
      """edges AS (
        |  SELECT id1 AS a, id2 AS b FROM qual
        |  UNION
        |  SELECT id2, id1 FROM qual
        |), reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |)
        |SELECT a AS doc_id, least(a, min(b)) AS cluster_id
        |FROM reach GROUP BY a
        |ORDER BY doc_id""".stripMargin

  /** The whole training-data funnel replayed in SQL: the quality-gate
    * formula scopes a `gated` corpus, the shared pair CTEs mine near-dup
    * pairs over it, the recursive closure picks min-id survivors, and the
    * md5-range split assigns parts. */
  private val funnelOracleSql: String =
    s"""WITH RECURSIVE gated AS (
      |  SELECT doc_id, text, source FROM (
      |    SELECT doc_id, text, source,
      |      (least(CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE)
      |         / 64.0, 1.0) * 0.5) +
      |      ((CAST(len(list_distinct(string_split_regex(text, '\\s+')))
      |          AS DOUBLE)
      |        / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE))
      |        * 0.5) AS q
      |    FROM documents) t
      |  WHERE q >= 0.6
      |), ${ngramPairCtes("gated")},
      |edges AS (
      |  SELECT id1 AS a, id2 AS b FROM qual
      |  UNION
      |  SELECT id2, id1 FROM qual
      |), reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
      |), drop_ids AS (
      |  SELECT a AS doc_id FROM reach GROUP BY a HAVING MIN(b) < a
      |), kept AS (
      |  SELECT * FROM gated
      |  WHERE doc_id NOT IN (SELECT doc_id FROM drop_ids)
      |), assigned AS (
      |  SELECT *,
      |    CASE WHEN substr(md5(source), 1, 4) < 'cccd' THEN 'train'
      |         WHEN substr(md5(source), 1, 4) < 'e666' THEN 'test'
      |         ELSE 'val' END AS part
      |  FROM kept
      |)
      |SELECT part, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources,
      |  CAST(SUM(len(string_split_regex(text, '\\s+'))) AS BIGINT)
      |    AS tok_total
      |FROM assigned GROUP BY part ORDER BY part""".stripMargin

  // the q_embed_ivf centroid/bucketing chain (3 Lloyd iterations on the
  // derived train sample, full-corpus assignment) is query-independent —
  // shared between the single-probe-set and batched IVF oracles
  private val ivfCentroidCtes: String =
      """WITH thresh AS (
        |  SELECT CAST(floor(16000.0 / count(*) * 65536 + 0.5) AS BIGINT) AS t
        |  FROM embeddings
        |), train AS (
        |  SELECT e.* FROM embeddings e, thresh
        |  WHERE thresh.t >= 65536
        |     OR substring(md5(CAST(vec_id AS VARCHAR)), 1, 4) <
        |        printf('%04x', thresh.t)
        |), seedraw AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS raw
        |  FROM (SELECT * FROM train ORDER BY vec_id LIMIT 8)
        |), seedn AS (
        |  SELECT cid, raw,
        |    sqrt(list_reduce(list_prepend(0.0, list_transform(raw, x -> x * x)),
        |      (a, b) -> a + b)) AS n
        |  FROM seedraw
        |), cents0 AS (
        |  SELECT cid, CASE WHEN n = 0 THEN raw
        |    ELSE list_transform(raw, x -> floor(x / n * 1e6) / 1e6) END AS vals
        |  FROM seedn
        |),
        |s1 AS (
        |  SELECT e.vec_id, c.cid, list_reduce(list_prepend(0.0, list_transform(range(1, 65), j -> CAST(e.embedding[CAST(j AS INT)] AS DOUBLE) * c.vals[CAST(j AS INT)])), (acc, x) -> acc + x) AS score
        |  FROM train e CROSS JOIN cents0 c
        |), a1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id
        |                         ORDER BY score DESC, cid DESC) AS rn
        |    FROM s1) WHERE rn = 1
        |), m1 AS (
        |  SELECT a.cid, p.range AS pos,
        |    AVG(CAST(e.embedding[CAST(p.range + 1 AS INT)] AS DOUBLE)) AS m
        |  FROM a1 a JOIN embeddings e USING (vec_id)
        |  CROSS JOIN range(64) p
        |  GROUP BY 1, 2
        |), mv1 AS (
        |  SELECT cid, list(m ORDER BY pos) AS raw,
        |    sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(list(m ORDER BY pos), x -> x * x)), (a, b) -> a + b)) AS n
        |  FROM m1 GROUP BY cid
        |), cents1 AS (
        |  SELECT c0.cid,
        |    COALESCE(CASE WHEN mv.n = 0 THEN mv.raw
        |      ELSE list_transform(mv.raw, x -> floor(x / mv.n * 1e6) / 1e6) END,
        |      c0.vals) AS vals
        |  FROM cents0 c0 LEFT JOIN mv1 mv USING (cid)
        |),
        |s2 AS (
        |  SELECT e.vec_id, c.cid, list_reduce(list_prepend(0.0, list_transform(range(1, 65), j -> CAST(e.embedding[CAST(j AS INT)] AS DOUBLE) * c.vals[CAST(j AS INT)])), (acc, x) -> acc + x) AS score
        |  FROM train e CROSS JOIN cents1 c
        |), a2 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id
        |                         ORDER BY score DESC, cid DESC) AS rn
        |    FROM s2) WHERE rn = 1
        |), m2 AS (
        |  SELECT a.cid, p.range AS pos,
        |    AVG(CAST(e.embedding[CAST(p.range + 1 AS INT)] AS DOUBLE)) AS m
        |  FROM a2 a JOIN embeddings e USING (vec_id)
        |  CROSS JOIN range(64) p
        |  GROUP BY 1, 2
        |), mv2 AS (
        |  SELECT cid, list(m ORDER BY pos) AS raw,
        |    sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(list(m ORDER BY pos), x -> x * x)), (a, b) -> a + b)) AS n
        |  FROM m2 GROUP BY cid
        |), cents2 AS (
        |  SELECT c0.cid,
        |    COALESCE(CASE WHEN mv.n = 0 THEN mv.raw
        |      ELSE list_transform(mv.raw, x -> floor(x / mv.n * 1e6) / 1e6) END,
        |      c0.vals) AS vals
        |  FROM cents1 c0 LEFT JOIN mv2 mv USING (cid)
        |),
        |s3 AS (
        |  SELECT e.vec_id, c.cid, list_reduce(list_prepend(0.0, list_transform(range(1, 65), j -> CAST(e.embedding[CAST(j AS INT)] AS DOUBLE) * c.vals[CAST(j AS INT)])), (acc, x) -> acc + x) AS score
        |  FROM train e CROSS JOIN cents2 c
        |), a3 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT vec_id, cid,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id
        |                         ORDER BY score DESC, cid DESC) AS rn
        |    FROM s3) WHERE rn = 1
        |), m3 AS (
        |  SELECT a.cid, p.range AS pos,
        |    AVG(CAST(e.embedding[CAST(p.range + 1 AS INT)] AS DOUBLE)) AS m
        |  FROM a3 a JOIN embeddings e USING (vec_id)
        |  CROSS JOIN range(64) p
        |  GROUP BY 1, 2
        |), mv3 AS (
        |  SELECT cid, list(m ORDER BY pos) AS raw,
        |    sqrt(list_reduce(list_prepend(0.0,
        |      list_transform(list(m ORDER BY pos), x -> x * x)), (a, b) -> a + b)) AS n
        |  FROM m3 GROUP BY cid
        |), cents3 AS (
        |  SELECT c0.cid,
        |    COALESCE(CASE WHEN mv.n = 0 THEN mv.raw
        |      ELSE list_transform(mv.raw, x -> floor(x / mv.n * 1e6) / 1e6) END,
        |      c0.vals) AS vals
        |  FROM cents2 c0 LEFT JOIN mv3 mv USING (cid)
        |),
        |bucketed AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT e.vec_id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |        ORDER BY list_reduce(list_prepend(0.0, list_transform(range(1, 65), j -> CAST(e.embedding[CAST(j AS INT)] AS DOUBLE) * c.vals[CAST(j AS INT)])), (acc, x) -> acc + x) DESC, c.cid DESC) AS rn
        |    FROM embeddings e CROSS JOIN cents3 c) WHERE rn = 1
        |)""".stripMargin

  /** PQ oracle CTEs for one subspace `s` (16 dims at `lo = s*16`, `cw`
    * codewords): seeds = the train set's `cw` lowest-id subvectors
    * (1e-6 floored), three unrolled L2-Lloyd iterations (assign by
    * `dot - ||c||^2/2`, ties to HIGHER cid; per-dimension means 1e-6
    * floored, no normalization — codewords keep magnitudes), then the
    * full-corpus encode `p{s}b(vec_id, c{s})` and the per-query LUT
    * `l{s}(query_id, cid, d)` — mirroring Similarity's PQ training
    * (`pqBooks`, the L2 form of `lloyd`) and `pqTopK` exactly. */
  private def pqSubspaceCtes(s: Int, cw: Int): String = {
    val lo = s * 16
    def scoreExpr(tbl: String): String =
      s"""list_reduce(list_prepend(0.0, list_transform(range(1, 17), j -> CAST($tbl.embedding[CAST($lo + j AS INT)] AS DOUBLE) * c.vals[CAST(j AS INT)])), (a, b) -> a + b) - 0.5 * list_reduce(list_prepend(0.0, list_transform(c.vals, x -> x * x)), (a, b) -> a + b)"""
    val seed =
      s"""p${s}c0 AS (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         |    list_transform(embedding[${lo + 1}:${lo + 16}],
         |      x -> floor(CAST(x AS DOUBLE) * 1e6) / 1e6) AS vals
         |  FROM (SELECT * FROM train ORDER BY vec_id LIMIT $cw)
         |)""".stripMargin
    val iters = (1 to 3).map { it =>
      s"""p${s}s$it AS (
         |  SELECT t.vec_id, c.cid, ${scoreExpr("t")} AS score
         |  FROM train t CROSS JOIN p${s}c${it - 1} c
         |), p${s}a$it AS (
         |  SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |      ORDER BY score DESC, cid DESC) AS rn FROM p${s}s$it)
         |  WHERE rn = 1
         |), p${s}m$it AS (
         |  SELECT a.cid, p.range AS pos,
         |    AVG(CAST(e.embedding[CAST($lo + p.range + 1 AS INT)] AS DOUBLE))
         |      AS mval
         |  FROM p${s}a$it a JOIN embeddings e USING (vec_id)
         |  CROSS JOIN range(16) p
         |  GROUP BY 1, 2
         |), p${s}v$it AS (
         |  SELECT cid, list(floor(mval * 1e6) / 1e6 ORDER BY pos) AS vals
         |  FROM p${s}m$it GROUP BY cid
         |), p${s}c$it AS (
         |  SELECT c0.cid, COALESCE(mv.vals, c0.vals) AS vals
         |  FROM p${s}c${it - 1} c0 LEFT JOIN p${s}v$it mv USING (cid)
         |)""".stripMargin
    }
    val encode =
      s"""p${s}b AS (
         |  SELECT vec_id, cid AS c$s FROM (
         |    SELECT e.vec_id, c.cid, ROW_NUMBER() OVER (
         |      PARTITION BY e.vec_id
         |      ORDER BY ${scoreExpr("e")} DESC, c.cid DESC) AS rn
         |    FROM embeddings e CROSS JOIN p${s}c3 c) WHERE rn = 1
         |), l$s AS (
         |  SELECT q.query_id, c.cid,
         |    list_reduce(list_prepend(0.0, list_transform(range(1, 17),
         |      j -> CAST(q.qv[CAST($lo + j AS INT)] AS DOUBLE)
         |           * c.vals[CAST(j AS INT)])), (a, b) -> a + b) AS d
         |  FROM qs q CROSS JOIN p${s}c3 c
         |)""".stripMargin
    (seed +: iters :+ encode).mkString(",\n")
  }

  /** Full q_embed_pq oracle: the shared IVF train-sample CTEs, the four
    * per-subspace chains, ADC candidate scoring (4 LUT lookups + 3 adds
    * in subspace order), top-`cand` cut by `(approx DESC, vec_id)`, and
    * the exact-cosine rerank. */
  private def pqOracleSql(cw: Int, cand: Int, k: Int,
                          trainPred: String = ""): String =
    s"""WITH thresh AS (
       |  SELECT CAST(floor(16000.0 / count(*) * 65536 + 0.5) AS BIGINT) AS t
       |  FROM embeddings${if (trainPred.isEmpty) ""
      else s"\n  WHERE $trainPred"}
       |), train AS (
       |  SELECT e.* FROM embeddings e, thresh
       |  WHERE ${if (trainPred.isEmpty) ""
      else s"$trainPred AND ("}thresh.t >= 65536
       |     OR substring(md5(CAST(vec_id AS VARCHAR)), 1, 4) <
       |        printf('%04x', thresh.t)${if (trainPred.isEmpty) "" else ")"}
       |), qs AS (
       |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       |  WHERE vec_id IN (0, 1, 2)
       |),
       |""".stripMargin +
      (0 until 4).map(s => pqSubspaceCtes(s, cw)).mkString(",\n") +
      s""",
       |appx AS (
       |  SELECT q.query_id, b0.vec_id,
       |    ((l0.d + l1.d) + l2.d) + l3.d AS approx
       |  FROM p0b b0
       |  JOIN p1b b1 USING (vec_id)
       |  JOIN p2b b2 USING (vec_id)
       |  JOIN p3b b3 USING (vec_id)
       |  CROSS JOIN qs q
       |  JOIN l0 ON l0.query_id = q.query_id AND l0.cid = b0.c0
       |  JOIN l1 ON l1.query_id = q.query_id AND l1.cid = b1.c1
       |  JOIN l2 ON l2.query_id = q.query_id AND l2.cid = b2.c2
       |  JOIN l3 ON l3.query_id = q.query_id AND l3.cid = b3.c3
       |  WHERE b0.vec_id <> q.query_id
       |), cand AS (
       |  SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY approx DESC, vec_id) AS crank FROM appx
       |), rr AS (
       |  SELECT c.query_id, c.vec_id,
       |    list_cosine_similarity(e.embedding, q.qv) AS raw
       |  FROM cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN qs q ON q.query_id = c.query_id
       |  WHERE c.crank <= $cand
       |), ranked AS (
       |  SELECT query_id, vec_id, raw,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |                       ORDER BY raw DESC, vec_id) AS rank
       |  FROM rr)
       |SELECT query_id, vec_id, floor(raw * 1e4) / 1e4 AS score,
       |  CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin

  private def ivfProbeRankSql(queryPred: String, nprobe: Int,
                              k: Int): String =
    ivfProbeChainSql(queryPred, nprobe) + s"""
        |SELECT query_id, vec_id, floor(raw * 1e4) / 1e4 AS score,
        |  CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= $k
        |ORDER BY query_id, rank""".stripMargin

  // the probe -> candidate -> exact-rerank chain up through the `ranked`
  // CTE, shared between the top-k selects and the recall gate
  private def ivfProbeChainSql(queryPred: String, nprobe: Int): String =
      s"""
        |, probes AS (
        |  SELECT query_id, cid FROM (
        |    SELECT q.vec_id AS query_id, c.cid,
        |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
        |        ORDER BY list_reduce(list_prepend(0.0, list_transform(range(1, 65), j -> CAST(q.embedding[CAST(j AS INT)] AS DOUBLE) * c.vals[CAST(j AS INT)])), (acc, x) -> acc + x) DESC, c.cid ASC) AS rn
        |    FROM embeddings q CROSS JOIN cents3 c
        |    WHERE $queryPred) WHERE rn <= $nprobe
        |), cand AS (
        |  SELECT p.query_id, b.vec_id
        |  FROM probes p JOIN bucketed b USING (cid)
        |  WHERE b.vec_id <> p.query_id
        |), scored AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65), j ->
        |      CAST(ce.embedding[CAST(j AS INT)] AS DOUBLE) *
        |      CAST(qe.embedding[CAST(j AS INT)] AS DOUBLE))),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(0.0,
        |        list_transform(range(1, 65), j ->
        |          CAST(ce.embedding[CAST(j AS INT)] AS DOUBLE) *
        |          CAST(ce.embedding[CAST(j AS INT)] AS DOUBLE))),
        |        (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(0.0,
        |        list_transform(range(1, 65), j ->
        |          CAST(qe.embedding[CAST(j AS INT)] AS DOUBLE) *
        |          CAST(qe.embedding[CAST(j AS INT)] AS DOUBLE))),
        |        (acc, x) -> acc + x))) AS raw
        |  FROM cand
        |  JOIN embeddings ce ON ce.vec_id = cand.vec_id
        |  JOIN embeddings qe ON qe.vec_id = cand.query_id
        |), ranked AS (
        |  SELECT query_id, vec_id, raw,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY raw DESC, vec_id) AS rank
        |  FROM scored
        |)""".stripMargin

  /** Recall@k gate oracle: the IVF chain's `ranked` CTE supplies the
    * approximate side; the exact side is a brute-force window over the
    * same sampled query set with the same cosine arithmetic and the
    * same (score DESC, vec_id) tiebreak the Spark path ranks by. */
  private def ivfRecallSql(queryPred: String, nprobe: Int,
                           k: Int): String =
    ivfProbeChainSql(queryPred, nprobe) + s"""
        |, approx AS (
        |  SELECT query_id, vec_id FROM ranked WHERE rank <= $k
        |), escored AS (
        |  SELECT q.vec_id AS query_id, e.vec_id,
        |    list_reduce(list_prepend(0.0, list_transform(range(1, 65), j ->
        |      CAST(e.embedding[CAST(j AS INT)] AS DOUBLE) *
        |      CAST(q.embedding[CAST(j AS INT)] AS DOUBLE))),
        |      (acc, x) -> acc + x)
        |    / (sqrt(list_reduce(list_prepend(0.0,
        |        list_transform(range(1, 65), j ->
        |          CAST(e.embedding[CAST(j AS INT)] AS DOUBLE) *
        |          CAST(e.embedding[CAST(j AS INT)] AS DOUBLE))),
        |        (acc, x) -> acc + x))
        |     * sqrt(list_reduce(list_prepend(0.0,
        |        list_transform(range(1, 65), j ->
        |          CAST(q.embedding[CAST(j AS INT)] AS DOUBLE) *
        |          CAST(q.embedding[CAST(j AS INT)] AS DOUBLE))),
        |        (acc, x) -> acc + x))) AS raw
        |  FROM embeddings e CROSS JOIN embeddings q
        |  WHERE ($queryPred) AND e.vec_id <> q.vec_id
        |), exact AS (
        |  SELECT query_id, vec_id FROM (
        |    SELECT query_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY query_id
        |                         ORDER BY raw DESC, vec_id) AS rn
        |    FROM escored) WHERE rn <= $k
        |)
        |SELECT x.query_id, COUNT(*) AS n_exact, COUNT(a.vec_id) AS n_hit,
        |  CAST(COUNT(a.vec_id) AS DOUBLE) / COUNT(*) AS recall
        |FROM exact x LEFT JOIN approx a
        |  ON a.query_id = x.query_id AND a.vec_id = x.vec_id
        |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared by q_doc_bm25 (map-side scorer) and q_doc_bm25_index
    * (persisted inverted index over the same accumulated corpus). */
  private val bm25OracleSql: String =
      """WITH base AS (
        |  SELECT doc_id AS id, string_split_regex(text, '\s+') AS toks
        |  FROM documents
        |), d AS (
        |  SELECT id, CAST(len(toks) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf2,
        |    CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf3
        |  FROM base
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(dl) AS sumdl,
        |    SUM(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |    SUM(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |    SUM(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2,
        |    SUM(CASE WHEN tf3 > 0 THEN 1.0 ELSE 0.0 END) AS df3
        |  FROM d
        |)
        |SELECT id, floor((
        |    ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
        |      / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |  + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
        |      / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |  + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
        |      / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |  + ln(1 + (n - df3 + 0.5) / (df3 + 0.5)) * tf3 * 2.2
        |      / (tf3 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |  ) * 1e6) / 1e6 AS score
        |FROM d CROSS JOIN stats
        |WHERE tf0 + tf1 + tf2 + tf3 > 0
        |ORDER BY score DESC, id LIMIT 15""".stripMargin

  private val incrementalNearOracleSql: String =
      """WITH RECURSIVE b1 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
        |), b2 AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' recrawlmarker' FROM documents
        |  WHERE doc_id % 6 = 0
        |), allr AS (
        |  SELECT doc_id, text, 0 AS bt FROM b1
        |  UNION ALL
        |  SELECT doc_id, text, 1 FROM b2
        |), toks AS (
        |  SELECT doc_id, bt, string_split_regex(text, '\s+') AS t FROM allr
        |), shs AS (
        |  SELECT doc_id, bt, list_distinct(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingles
        |  FROM toks WHERE len(t) >= 3
        |), ex AS (
        |  SELECT doc_id, bt, unnest(shingles) AS s, len(shingles) AS n
        |  FROM shs WHERE len(shingles) > 0
        |), prs AS (
        |  SELECT a.doc_id AS id1, ANY_VALUE(a.bt) AS bt1,
        |         b.doc_id AS id2, ANY_VALUE(b.bt) AS bt2, COUNT(*) AS inter,
        |         ANY_VALUE(a.n) AS n1, ANY_VALUE(b.n) AS n2
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY a.doc_id, b.doc_id
        |  HAVING CAST(COUNT(*) AS DOUBLE)
        |    / (ANY_VALUE(a.n) + ANY_VALUE(b.n) - COUNT(*)) >= 0.5
        |), e1 AS (
        |  SELECT id1 AS a, id2 AS b FROM prs WHERE bt1 = 0 AND bt2 = 0
        |  UNION
        |  SELECT id2, id1 FROM prs WHERE bt1 = 0 AND bt2 = 0
        |), reach1(a, b) AS (
        |  SELECT a, b FROM e1
        |  UNION
        |  SELECT r.a, e.b FROM reach1 r JOIN e1 e ON r.b = e.a
        |), kept1 AS (
        |  SELECT doc_id FROM b1 WHERE doc_id NOT IN (
        |    SELECT a FROM reach1 GROUP BY a HAVING a > min(b))
        |), dropx AS (
        |  SELECT CASE WHEN bt1 = 1 THEN id1 ELSE id2 END AS doc_id FROM prs
        |  WHERE (bt1 = 1 AND bt2 = 0 AND id2 IN (SELECT doc_id FROM kept1))
        |     OR (bt1 = 0 AND bt2 = 1 AND id1 IN (SELECT doc_id FROM kept1))
        |), fresh AS (
        |  SELECT doc_id FROM b2 WHERE doc_id NOT IN (SELECT doc_id FROM dropx)
        |), e2 AS (
        |  SELECT id1 AS a, id2 AS b FROM prs
        |  WHERE bt1 = 1 AND bt2 = 1
        |    AND id1 IN (SELECT doc_id FROM fresh)
        |    AND id2 IN (SELECT doc_id FROM fresh)
        |  UNION
        |  SELECT id2, id1 FROM prs
        |  WHERE bt1 = 1 AND bt2 = 1
        |    AND id1 IN (SELECT doc_id FROM fresh)
        |    AND id2 IN (SELECT doc_id FROM fresh)
        |), reach2(a, b) AS (
        |  SELECT a, b FROM e2
        |  UNION
        |  SELECT r.a, e.b FROM reach2 r JOIN e2 e ON r.b = e.a
        |), kept2 AS (
        |  SELECT doc_id FROM fresh WHERE doc_id NOT IN (
        |    SELECT a FROM reach2 GROUP BY a HAVING a > min(b))
        |)
        |SELECT doc_id FROM kept1
        |UNION ALL SELECT doc_id FROM kept2 ORDER BY doc_id""".stripMargin

  /** Shared oracle prefix: rebuilds Similarity.hyperplanes (fmix64 on
    * HUGEINT, split 32-bit mulmods so the 128-bit intermediates never
    * overflow) and the 8-plane LSH signatures bit-for-bit in DuckDB.
    * Ends with the `sigs(vec_id, sig)` CTE; consumers append further
    * CTEs with a leading ", name AS (" or go straight to SELECT. */
  /** The LSH signature CTE chain (fmix64-derived hyperplanes + sign-of-
    * dot signatures), parameterized on the source relation so the
    * incremental replay can feed a re-arrival-augmented corpus. */
  private def lshSigCteFor(src: String): String = lshSigCteBody
    .replace("FROM embeddings e", s"FROM $src e")

  private val lshSigCteBody: String =
    """keys AS (
      |  SELECT p.range AS p, i.range AS i,
      |    CAST(42 + p.range * 64 + i.range AS HUGEINT) AS x
      |  FROM range(8) p CROSS JOIN range(64) i
      |), f1 AS (
      |  SELECT p, i, xor(x, x // 8589934592) AS x FROM keys
      |), f1m AS (
      |  SELECT p, i,
      |    (((x // 4294967296) * CAST('18397679294719823053' AS HUGEINT))
      |       % 4294967296 * 4294967296
      |     + (x % 4294967296) * CAST('18397679294719823053' AS HUGEINT))
      |    % CAST('18446744073709551616' AS HUGEINT) AS x
      |  FROM f1
      |), f2 AS (
      |  SELECT p, i, xor(x, x // 8589934592) AS x FROM f1m
      |), f2m AS (
      |  SELECT p, i,
      |    (((x // 4294967296) * CAST('14181476777654086739' AS HUGEINT))
      |       % 4294967296 * 4294967296
      |     + (x % 4294967296) * CAST('14181476777654086739' AS HUGEINT))
      |    % CAST('18446744073709551616' AS HUGEINT) AS x
      |  FROM f2
      |), hp AS (
      |  SELECT p,
      |    list(CAST(xor(x, x // 8589934592) // 2048 AS DOUBLE)
      |         / 9007199254740992.0 * 2 - 1 ORDER BY i) AS vals
      |  FROM f2m GROUP BY p
      |), dots AS (
      |  SELECT e.vec_id, hp.p,
      |    list_reduce(list_prepend(0.0, list_transform(range(1, 65),
      |      j -> CAST(e.embedding[CAST(j AS INT)] AS DOUBLE)
      |           * vals[CAST(j AS INT)])),
      |      (acc, x) -> acc + x) AS dot
      |  FROM embeddings e CROSS JOIN hp
      |), sigs AS (
      |  SELECT vec_id,
      |    SUM(CASE WHEN dot >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS sig
      |  FROM dots GROUP BY vec_id
      |)""".stripMargin

  private val lshSigCte: String = "WITH " + lshSigCteBody

  val oracle: Map[String, String] = Map(
    "q_doc_funnel" -> funnelOracleSql,

    "q_doc_stats" ->
      """WITH t AS (SELECT doc_id, text, string_split_regex(text, '\s+') AS l
        |           FROM documents WHERE doc_id < 50)
        |SELECT doc_id,
        |  len(l) AS n_tokens,
        |  length(text) AS n_chars,
        |  CAST(len(list_distinct(l)) AS DOUBLE) / CAST(len(l) AS DOUBLE) AS ttr,
        |  CAST(length(text) - len(l) + 1 AS DOUBLE) / CAST(len(l) AS DOUBLE)
        |    AS mean_tok_len,
        |  CAST(len(list_filter(l, x -> x IN ('the', 'a', 'data', 'value')))
        |       AS DOUBLE) / CAST(len(l) AS DOUBLE) AS stop_ratio,
        |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
        |    AS n_bpe_tokens
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_doc_quality" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, '\s+') AS l
        |           FROM documents),
        |q AS (SELECT doc_id,
        |  (least(CAST(len(l) AS DOUBLE) / 64.0, 1.0) * 0.5) +
        |  ((CAST(len(list_distinct(l)) AS DOUBLE) / CAST(len(l) AS DOUBLE)) * 0.5)
        |    AS quality
        |FROM t)
        |SELECT doc_id, quality FROM q WHERE quality >= 0.7
        |ORDER BY doc_id""".stripMargin,

    // the trained classifier must recover the labeling concept exactly
    // (the query fails loudly otherwise), so the oracle states the
    // concept itself — engine-independent of the training arithmetic
    "q_doc_quality_classifier" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t = 'hash')) AS BIGINT) AS n_hash,
        |  len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t = 'hash')) >= 2 AS predicted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_doc_classifier_hashed" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t = 'hash')) >= 2 AS predicted
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the tuner's optima, hand-audited against the S-curve integral
    "q_dedup_lsh_tune" ->
      """SELECT CAST(n AS INT) AS num_hashes, CAST(t AS DOUBLE) AS threshold,
        |  CAST(b AS INT) AS bands, CAST(r AS INT) AS rows_per_band
        |FROM (VALUES
        |  (64, 0.3, 32, 2), (64, 0.5, 16, 4), (64, 0.8, 4, 16),
        |  (128, 0.3, 32, 4), (128, 0.5, 32, 4), (128, 0.8, 8, 16),
        |  (256, 0.3, 64, 4), (256, 0.5, 32, 8), (256, 0.8, 16, 16))
        |  v(n, t, b, r)
        |ORDER BY num_hashes, threshold""".stripMargin,

    // confusion cells as filtered counts; AUC via the same
    // tie-averaged-rank arithmetic over distinct margins
    "q_doc_classifier_metrics" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'hash')) >= 2 AS label,
        |    CAST(-1.5 AS DOUBLE)
        |      + 1.0   * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'hash'))   AS DOUBLE)
        |      + 0.5   * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'join'))   AS DOUBLE)
        |      + -0.5  * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'sort'))   AS DOUBLE)
        |      + 0.25  * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'scan'))   AS DOUBLE)
        |      + -0.25 * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'batch'))  AS DOUBLE)
        |      + 0.75  * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'data'))   AS DOUBLE)
        |      + -0.75 * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'merge'))  AS DOUBLE)
        |      + 0.125 * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'filter')) AS DOUBLE)
        |      AS margin
        |  FROM documents
        |), p AS (SELECT label, margin, margin > 0 AS predicted FROM s),
        |conf AS (
        |  SELECT
        |    SUM(CASE WHEN label AND predicted THEN 1 ELSE 0 END)::BIGINT AS tp,
        |    SUM(CASE WHEN NOT label AND predicted THEN 1 ELSE 0 END)::BIGINT AS fp,
        |    SUM(CASE WHEN NOT label AND NOT predicted THEN 1 ELSE 0 END)::BIGINT AS tn,
        |    SUM(CASE WHEN label AND NOT predicted THEN 1 ELSE 0 END)::BIGINT AS fn
        |  FROM p
        |), g AS (
        |  SELECT margin AS s_, COUNT(*)::BIGINT AS n_,
        |    SUM(CASE WHEN label THEN 1 ELSE 0 END)::BIGINT AS np_
        |  FROM p GROUP BY margin
        |), r AS (
        |  SELECT np_, n_,
        |    np_ * (CAST(SUM(n_) OVER (ORDER BY s_
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_
        |      AS DOUBLE) + CAST(n_ + 1 AS DOUBLE) / 2.0) AS rsum
        |  FROM g
        |), a AS (
        |  SELECT SUM(np_)::BIGINT AS n_pos,
        |    (SUM(n_) - SUM(np_))::BIGINT AS n_neg, SUM(rsum) AS r_
        |  FROM r
        |)
        |SELECT tp, fp, tn, fn,
        |  CAST(tp AS DOUBLE) / (tp + fp) AS precision,
        |  CAST(tp AS DOUBLE) / (tp + fn) AS recall,
        |  2.0 * tp / (2.0 * tp + fp + fn) AS f1,
        |  n_pos, n_neg,
        |  (r_ - CAST(n_pos AS DOUBLE) * CAST(n_pos + 1 AS DOUBLE) / 2.0)
        |    / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)) AS auc
        |FROM conf, a""".stripMargin,

    // the argmax rule over uniquely-argmaxed docs, first-max tie-break
    // mirrored in the CASE order
    "q_doc_domain_classifier" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'hash')) AS c0,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'join')) AS c1,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'sort')) AS c2
        |  FROM documents
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(CASE WHEN c0 >= c1 AND c0 >= c2 THEN 0
        |            WHEN c1 >= c2 THEN 1 ELSE 2 END AS INT) AS predicted
        |FROM c
        |WHERE (c0 > c1 AND c0 > c2) OR (c1 > c0 AND c1 > c2)
        |   OR (c2 > c0 AND c2 > c1)
        |ORDER BY doc_id""".stripMargin,

    // the sparse router converges to the same rule (the query fails
    // loudly otherwise) — the shared argmax oracle
    "q_doc_domain_classifier_sparse" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'hash')) AS c0,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'join')) AS c1,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'sort')) AS c2
        |  FROM documents
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(CASE WHEN c0 >= c1 AND c0 >= c2 THEN 0
        |            WHEN c1 >= c2 THEN 1 ELSE 2 END AS INT) AS predicted
        |FROM c
        |WHERE (c0 > c1 AND c0 > c2) OR (c1 > c0 AND c1 > c2)
        |   OR (c2 > c0 AND c2 > c1)
        |ORDER BY doc_id""".stripMargin,

    // the streamed sparse router shares the argmax oracle too
    "q_stream_domain_classifier_sparse" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'hash')) AS c0,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'join')) AS c1,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'sort')) AS c2
        |  FROM documents
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(CASE WHEN c0 >= c1 AND c0 >= c2 THEN 0
        |            WHEN c1 >= c2 THEN 1 ELSE 2 END AS INT) AS predicted
        |FROM c
        |WHERE (c0 > c1 AND c0 > c2) OR (c1 > c0 AND c1 > c2)
        |   OR (c2 > c0 AND c2 > c1)
        |ORDER BY doc_id""".stripMargin,

    // the OOF-gated router CV: the gate pins held-out predictions to
    // the concept on uniquely-argmaxed docs, so the oracle is the same
    // argmax rule
    "q_doc_domain_router_cv" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'hash')) AS c0,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'join')) AS c1,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'sort')) AS c2
        |  FROM documents
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(CASE WHEN c0 >= c1 AND c0 >= c2 THEN 0
        |            WHEN c1 >= c2 THEN 1 ELSE 2 END AS INT) AS predicted
        |FROM c
        |WHERE (c0 > c1 AND c0 > c2) OR (c1 > c0 AND c1 > c2)
        |   OR (c2 > c0 AND c2 > c1)
        |ORDER BY doc_id""".stripMargin,

    // calibrated router deployment: the gates pin every class's bin
    // rates to exact 0/1, so the served probability IS the rule —
    // p_cal = 1.0 for the rule-argmax class, 0.0 otherwise
    "q_doc_domain_router_calibrated" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'hash')) AS c0,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'join')) AS c1,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'sort')) AS c2
        |  FROM documents
        |), u AS (
        |  SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |    CAST(CASE WHEN c0 >= c1 AND c0 >= c2 THEN 0
        |              WHEN c1 >= c2 THEN 1 ELSE 2 END AS INT) AS pred
        |  FROM c
        |  WHERE (c0 > c1 AND c0 > c2) OR (c1 > c0 AND c1 > c2)
        |     OR (c2 > c0 AND c2 > c1)
        |)
        |SELECT u.doc_id, CAST(k.cls AS INT) AS cls,
        |  CAST(CASE WHEN k.cls = u.pred THEN 1 ELSE 0 END AS DOUBLE)
        |    AS p_cal
        |FROM u CROSS JOIN (SELECT unnest(range(0, 3)) AS cls) k
        |ORDER BY doc_id, cls""".stripMargin,

    // the ONLINE-refreshed router must land on the same rule (the
    // query fails loudly otherwise) — the shared argmax oracle
    "q_stream_domain_router_online" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'hash')) AS c0,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'join')) AS c1,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'sort')) AS c2
        |  FROM documents
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(CASE WHEN c0 >= c1 AND c0 >= c2 THEN 0
        |            WHEN c1 >= c2 THEN 1 ELSE 2 END AS INT) AS predicted
        |FROM c
        |WHERE (c0 > c1 AND c0 > c2) OR (c1 > c0 AND c1 > c2)
        |   OR (c2 > c0 AND c2 > c1)
        |ORDER BY doc_id""".stripMargin,

    // the streamed router shares the batch argmax oracle
    "q_stream_domain_classifier" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'hash')) AS c0,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'join')) AS c1,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'sort')) AS c2
        |  FROM documents
        |)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(CASE WHEN c0 >= c1 AND c0 >= c2 THEN 0
        |            WHEN c1 >= c2 THEN 1 ELSE 2 END AS INT) AS predicted
        |FROM c
        |WHERE (c0 > c1 AND c0 > c2) OR (c1 > c0 AND c1 > c2)
        |   OR (c2 > c0 AND c2 > c1)
        |ORDER BY doc_id""".stripMargin,

    // out-of-fold predictions gated to equal the concept
    "q_doc_classifier_cv" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t = 'hash')) >= 2 AS predicted
        |FROM documents ORDER BY doc_id""".stripMargin,

    // ntile decile replay over the same margin chain and total order
    "q_doc_classifier_calibration" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'hash')) >= 2 AS label,
        |    CAST(-1.5 AS DOUBLE)
        |      + 1.0   * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'hash'))   AS DOUBLE)
        |      + 0.5   * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'join'))   AS DOUBLE)
        |      + -0.5  * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'sort'))   AS DOUBLE)
        |      + 0.25  * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'scan'))   AS DOUBLE)
        |      + -0.25 * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'batch'))  AS DOUBLE)
        |      + 0.75  * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'data'))   AS DOUBLE)
        |      + -0.75 * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'merge'))  AS DOUBLE)
        |      + 0.125 * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'filter')) AS DOUBLE)
        |      AS margin
        |  FROM documents
        |), b AS (
        |  SELECT label, margin,
        |    ntile(10) OVER (ORDER BY margin ASC, doc_id ASC) AS bin
        |  FROM s
        |)
        |SELECT CAST(bin AS INT) AS bin, COUNT(*)::BIGINT AS n,
        |  AVG(margin) AS mean_score,
        |  AVG(CASE WHEN label THEN 1.0 ELSE 0.0 END) AS pos_rate
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // the q_doc_qualitysel single-window replay with quality = the
    // exact dyadic margin chain
    "q_doc_classifier_budget" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS l
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')
        |), q AS (
        |  SELECT doc_id, source, CAST(len(l) AS BIGINT) AS tok,
        |    CAST(-1.5 AS DOUBLE)
        |      + 1.0   * CAST(len(list_filter(l, t -> t = 'hash'))   AS DOUBLE)
        |      + 0.5   * CAST(len(list_filter(l, t -> t = 'join'))   AS DOUBLE)
        |      + -0.5  * CAST(len(list_filter(l, t -> t = 'sort'))   AS DOUBLE)
        |      + 0.25  * CAST(len(list_filter(l, t -> t = 'scan'))   AS DOUBLE)
        |      + -0.25 * CAST(len(list_filter(l, t -> t = 'batch'))  AS DOUBLE)
        |      + 0.75  * CAST(len(list_filter(l, t -> t = 'data'))   AS DOUBLE)
        |      + -0.75 * CAST(len(list_filter(l, t -> t = 'merge'))  AS DOUBLE)
        |      + 0.125 * CAST(len(list_filter(l, t -> t = 'filter')) AS DOUBLE)
        |      AS quality
        |  FROM t WHERE len(l) > 0
        |), c AS (
        |  SELECT doc_id, source,
        |    SUM(tok) OVER (PARTITION BY source
        |      ORDER BY quality DESC,
        |               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM q
        |)
        |SELECT doc_id, source FROM c
        |WHERE cum <= CASE source WHEN 'src0' THEN 400
        |                         WHEN 'src1' THEN 300 ELSE 200 END
        |ORDER BY doc_id""".stripMargin,

    // calibration replay: same dyadic margin chain, bin by the literal
    // edges, per-bin empirical rate via GROUP BY, each doc joined to
    // its bin's rate (the engine serves the same rates via a literal
    // lookup — no join — but the values are identical exact fractions)
    "q_doc_classifier_calibrated" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    len(list_filter(string_split_regex(text, '\s+'),
        |      t -> t = 'hash')) >= 2 AS label,
        |    CAST(-1.5 AS DOUBLE)
        |      + 1.0   * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'hash'))   AS DOUBLE)
        |      + 0.5   * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'join'))   AS DOUBLE)
        |      + -0.5  * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'sort'))   AS DOUBLE)
        |      + 0.25  * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'scan'))   AS DOUBLE)
        |      + -0.25 * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'batch'))  AS DOUBLE)
        |      + 0.75  * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'data'))   AS DOUBLE)
        |      + -0.75 * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'merge'))  AS DOUBLE)
        |      + 0.125 * CAST(len(list_filter(string_split_regex(text, '\s+'), t -> t = 'filter')) AS DOUBLE)
        |      AS margin
        |  FROM documents
        |), b AS (
        |  SELECT doc_id, label, margin,
        |    CASE WHEN margin > 2.5 THEN 4 WHEN margin > 1.0 THEN 3
        |         WHEN margin > 0.0 THEN 2 WHEN margin > -1.0 THEN 1
        |         ELSE 0 END AS bin
        |  FROM s
        |), r AS (
        |  SELECT bin, AVG(CASE WHEN label THEN 1.0 ELSE 0.0 END) AS rate
        |  FROM b GROUP BY bin
        |)
        |SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
        |  r.rate AS calibrated
        |FROM b JOIN r USING (bin) ORDER BY doc_id""".stripMargin,

    // the composed lifecycle: the deployment gates pin the trained
    // decisions to the concept, so the oracle replays the budget
    // selection with quality = the rule and reports the mixture —
    // exact integers end to end
    "q_doc_classifier_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS l
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')
        |), q AS (
        |  SELECT doc_id, source, CAST(len(l) AS BIGINT) AS tok,
        |    CASE WHEN len(list_filter(l, t -> t = 'hash')) >= 2
        |         THEN 1.0 ELSE 0.0 END AS quality
        |  FROM t WHERE len(l) > 0
        |), c AS (
        |  SELECT doc_id, source, tok,
        |    SUM(tok) OVER (PARTITION BY source
        |      ORDER BY quality DESC,
        |               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM q
        |)
        |SELECT source, COUNT(*)::BIGINT AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS n_tokens
        |FROM c
        |WHERE cum <= CASE source WHEN 'src0' THEN 400
        |                         WHEN 'src1' THEN 300 ELSE 200 END
        |GROUP BY source ORDER BY source""".stripMargin,

    // both streaming variants must land on the same concept (the
    // queries fail loudly otherwise) — one shared rule oracle
    "q_stream_classifier" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t = 'hash')) >= 2 AS predicted
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_stream_classifier_online" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  len(list_filter(string_split_regex(text, '\s+'),
        |    t -> t = 'hash')) >= 2 AS predicted
        |FROM documents ORDER BY doc_id""".stripMargin,

    // fixed dyadic weights over integer counts: both engines' doubles
    // are exact, the left-associated chain mirrors marginExpr verbatim
    "q_doc_classifier_score" ->
      """WITH c AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS l
        |  FROM documents),
        |f AS (SELECT doc_id,
        |  CAST(len(list_filter(l, t -> t = 'hash'))   AS DOUBLE) AS f0,
        |  CAST(len(list_filter(l, t -> t = 'join'))   AS DOUBLE) AS f1,
        |  CAST(len(list_filter(l, t -> t = 'sort'))   AS DOUBLE) AS f2,
        |  CAST(len(list_filter(l, t -> t = 'scan'))   AS DOUBLE) AS f3,
        |  CAST(len(list_filter(l, t -> t = 'batch'))  AS DOUBLE) AS f4,
        |  CAST(len(list_filter(l, t -> t = 'data'))   AS DOUBLE) AS f5,
        |  CAST(len(list_filter(l, t -> t = 'merge'))  AS DOUBLE) AS f6,
        |  CAST(len(list_filter(l, t -> t = 'filter')) AS DOUBLE) AS f7
        |FROM c)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        |  CAST(-1.5 AS DOUBLE) + 1.0 * f0 + 0.5 * f1 + -0.5 * f2
        |    + 0.25 * f3 + -0.25 * f4 + 0.75 * f5 + -0.75 * f6
        |    + 0.125 * f7 AS margin,
        |  (CAST(-1.5 AS DOUBLE) + 1.0 * f0 + 0.5 * f1 + -0.5 * f2
        |    + 0.25 * f3 + -0.25 * f4 + 0.75 * f5 + -0.75 * f6
        |    + 0.125 * f7) > 0 AS selected
        |FROM f ORDER BY doc_id""".stripMargin,

    // the same six-line synthesis, line filter, and integer/string rule
    // arithmetic replayed in SQL
    "q_doc_c4" ->
      """WITH t0 AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
        |), syn AS (
        |  -- COALESCE: DuckDB's array_to_string of an EMPTY slice is
        |  -- NULL where Spark's concat_ws is '' (short docs)
        |  SELECT doc_id,
        |    COALESCE(array_to_string(t[1:6], ' '), '') || '.' || chr(10) ||
        |    'click here javascript required.' || chr(10) ||
        |    COALESCE(array_to_string(t[7:12], ' '), '') || '.' || chr(10) ||
        |    COALESCE(array_to_string(t[13:18], ' '), '') || chr(10) ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN 'This site uses cookies; accept our privacy policy.'
        |      ELSE COALESCE(array_to_string(t[19:24], ' '), '') || '.' END
        |      || chr(10) ||
        |    CASE WHEN doc_id % 13 = 0
        |      THEN 'Lorem ipsum dolor sit amet.'
        |      ELSE COALESCE(array_to_string(t[25:30], ' '), '') || '.' END
        |      AS s
        |  FROM t0
        |), syn2 AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN s || chr(10) || '{ config'
        |      ELSE s END AS s
        |  FROM syn
        |), cl AS (
        |  SELECT doc_id, s,
        |    list_filter(string_split(s, chr(10)), l ->
        |      regexp_matches(l, '[.!?"]$')
        |      AND len(string_split_regex(l, '\s+')) >= 5
        |      AND NOT contains(lower(l), 'javascript')
        |      AND NOT contains(lower(l), 'uses cookies')
        |      AND NOT contains(lower(l), 'cookie policy')
        |      AND NOT contains(lower(l), 'privacy policy')
        |      AND NOT contains(lower(l), 'terms of use')) AS kept
        |  FROM syn2
        |)
        |SELECT doc_id,
        |  NOT contains(s, '{') AS rule_brace,
        |  NOT contains(lower(s), 'lorem ipsum') AS rule_lorem,
        |  len(kept) >= 3 AS rule_sentences,
        |  (NOT contains(s, '{') AND NOT contains(lower(s), 'lorem ipsum')
        |   AND len(kept) >= 3) AS keep,
        |  md5(COALESCE(array_to_string(kept, chr(10)), '')) AS clean_fp
        |FROM cl ORDER BY doc_id""".stripMargin,

    "q_doc_gopher" ->
      """WITH aug AS (
        |  SELECT text
        |    || CASE WHEN doc_id % 7 = 0 THEN ' # # # # # # # #' ELSE '' END
        |    || CASE WHEN doc_id % 11 = 0
        |         THEN ' 42 42 42 42 42 42 42 42 42 42 42 42 42 42 42'
        |         ELSE '' END AS text
        |  FROM documents
        |), t AS (
        |  SELECT CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n,
        |    CAST(length(text) AS BIGINT) AS chars,
        |    CAST((length(text) - length(replace(text, '#', '')))
        |      + (length(text) - length(replace(text, '...', ''))) // 3
        |      AS BIGINT) AS sym,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'),
        |      x -> x IN ('the','be','to','of','and','that','have','with')))
        |      AS BIGINT) AS stop
        |  FROM aug
        |), r AS (
        |  SELECT (n >= 20 AND n <= 100000) AS r_words,
        |    (chars - n + 1 >= 3 * n AND chars - n + 1 <= 10 * n) AS r_mean,
        |    (sym * 10 <= n) AS r_sym,
        |    (alpha * 10 >= n * 8) AS r_alpha,
        |    (stop >= 2) AS r_stop
        |  FROM t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  COUNT(*) FILTER (WHERE r_words AND r_mean AND r_sym AND r_alpha
        |    AND r_stop) AS n_keep,
        |  COUNT(*) FILTER (WHERE NOT r_words) AS fail_words,
        |  COUNT(*) FILTER (WHERE NOT r_mean) AS fail_mean_len,
        |  COUNT(*) FILTER (WHERE NOT r_sym) AS fail_symbol,
        |  COUNT(*) FILTER (WHERE NOT r_alpha) AS fail_alpha,
        |  COUNT(*) FILTER (WHERE NOT r_stop) AS fail_stop
        |FROM r""".stripMargin,

    "q_doc_normalize" ->
      """WITH aug AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000000, '  ' || upper(text) || ' !! '
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, md5(trim(regexp_replace(regexp_replace(
        |    lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')))
        |    AS norm_fp
        |  FROM aug)
        |SELECT min(doc_id) AS keeper, norm_fp, COUNT(*) AS n_copies
        |FROM n GROUP BY norm_fp HAVING min(doc_id) < 25
        |ORDER BY keeper""".stripMargin,

    // source-preference keeper: CASE prio mirrors Dedup.preferSource's
    // when-chain (unlisted sources rank last), same normalized md5 key
    // as q_doc_normalize, keeper = min (prio, doc_id) per group
    "q_doc_prefer_source" ->
      """WITH aug AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000000, '  ' || upper(text) || ' !! ',
        |    'mirror'
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, source,
        |    md5(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9\s]', ' ', 'g'), '\s+', ' ', 'g')))
        |      AS fp,
        |    CASE source WHEN 'src3' THEN 0 WHEN 'src1' THEN 1
        |                WHEN 'mirror' THEN 2 ELSE 3 END AS prio
        |  FROM aug
        |), r AS (
        |  SELECT doc_id, source,
        |    COUNT(*) OVER (PARTITION BY fp) AS n_copies,
        |    ROW_NUMBER() OVER (PARTITION BY fp
        |                       ORDER BY prio, doc_id) AS rn
        |  FROM n)
        |SELECT doc_id, source, n_copies FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin,

    // replays Dsir.domainReweight's exact recursion (eta=1, c=0.1, two
    // steps): per-doc excess on a 1e-6 integer grid summed as BIGINT,
    // per-step raw weights on a 1e-9 grid so Z is an exact integer sum,
    // every double op in the driver's evaluation order
    "q_doc_doremi" ->
      """WITH ex AS (
        |  SELECT source AS domain,
        |    SUM(CAST(floor(greatest((CAST(length(text) AS DOUBLE)
        |      / len(string_split_regex(text, '\s+'))) - 4.5, 0.0)
        |      * 1e6 + 0.5) AS BIGINT)) AS s,
        |    COUNT(*) AS n
        |  FROM documents GROUP BY source
        |), d AS (
        |  SELECT domain, (CAST(s AS DOUBLE) / 1e6) / n AS excess,
        |    (SELECT COUNT(*) FROM ex) AS k
        |  FROM ex
        |), s1 AS (
        |  SELECT domain, excess, k,
        |    CAST(floor(((1.0 / k) * exp(1.0 * excess)) * 1e9 + 0.5)
        |         AS BIGINT) AS rn
        |  FROM d
        |), a1 AS (
        |  SELECT domain, excess, k,
        |    (1.0 - 0.1) * (CAST(rn AS DOUBLE)
        |      / CAST((SELECT SUM(rn) FROM s1) AS DOUBLE)) + 0.1 / k
        |      AS alpha
        |  FROM s1
        |), s2 AS (
        |  SELECT domain, excess, k,
        |    CAST(floor((alpha * exp(1.0 * excess)) * 1e9 + 0.5)
        |         AS BIGINT) AS rn
        |  FROM a1
        |), a2 AS (
        |  SELECT domain, excess, k,
        |    (1.0 - 0.1) * (CAST(rn AS DOUBLE)
        |      / CAST((SELECT SUM(rn) FROM s2) AS DOUBLE)) + 0.1 / k
        |      AS alpha
        |  FROM s2
        |)
        |SELECT domain, floor(excess * 1e6) / 1e6 AS excess_loss,
        |  floor(alpha * 1e6) / 1e6 AS weight
        |FROM a2 ORDER BY domain""".stripMargin,

    "q_doc_token_mixture" ->
      """WITH sel AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS tok
        |  FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2')
        |), sup AS (
        |  SELECT source, SUM(tok) AS t FROM sel GROUP BY source
        |), w AS (
        |  SELECT * FROM (VALUES ('src0', 6), ('src1', 3), ('src2', 1))
        |    AS v(source, wt)
        |), tt AS (
        |  -- LEFT JOIN so a LISTED stratum absent from the corpus
        |  -- contributes supply 0 (engine semantics: it zeroes the whole
        |  -- mixture), instead of silently dropping out of the MIN
        |  SELECT MIN(COALESCE(s.t, 0) * 10 // w.wt) AS t
        |  FROM w LEFT JOIN sup s ON w.source = s.source
        |), lim AS (
        |  SELECT 6 * t // 10 AS l0, 3 * t // 10 AS l1, 1 * t // 10 AS l2
        |  FROM tt
        |), c AS (
        |  SELECT doc_id, source,
        |    SUM(tok) OVER (PARTITION BY source
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM sel)
        |SELECT doc_id, source FROM c, lim
        |WHERE cum <= CASE source WHEN 'src0' THEN l0
        |                         WHEN 'src1' THEN l1 ELSE l2 END
        |ORDER BY doc_id""".stripMargin,

    "q_doc_langid" ->
      """WITH t AS (SELECT string_split_regex(text, '\s+') AS l FROM documents),
        |s AS (SELECT
        |  len(list_filter(l, x -> x IN ('the', 'a', 'of', 'and'))) AS s_en,
        |  len(list_filter(l, x -> x IN ('der', 'und', 'nicht'))) AS s_de,
        |  len(list_filter(l, x -> x IN ('el', 'los', 'que'))) AS s_es
        |FROM t),
        |p AS (SELECT CASE
        |  WHEN s_en >= s_de AND s_en >= s_es AND s_en > 0 THEN 'en'
        |  WHEN s_de >= s_es AND s_de > 0 THEN 'de'
        |  WHEN s_es > 0 THEN 'es'
        |  ELSE 'unknown' END AS pred_lang FROM s)
        |SELECT pred_lang, COUNT(*) AS n FROM p GROUP BY pred_lang
        |ORDER BY pred_lang""".stripMargin,

    "q_doc_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS l
        |  FROM documents WHERE doc_id < 100
        |)
        |SELECT doc_id,
        |  CASE WHEN len(l) - 2 <= 0 THEN 0.0
        |       ELSE 1.0 - CAST(len(list_distinct(list_transform(
        |           generate_series(1, len(l) - 2),
        |           i -> l[i] || ' ' || l[i+1] || ' ' || l[i+2]))) AS DOUBLE)
        |         / CAST(len(l) - 2 AS DOUBLE)
        |  END AS rep_ratio
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_doc_contamination" ->
      """WITH csh AS (
        |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t
        |        FROM documents WHERE doc_id >= 20) q WHERE len(t) >= 3
        |), bsh AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |  FROM (SELECT string_split_regex(text, '\s+') AS t
        |        FROM documents WHERE doc_id < 20) q WHERE len(t) >= 3
        |)
        |SELECT id, COUNT(*) AS shared_shingles
        |FROM csh WHERE s IN (SELECT s FROM bsh)
        |GROUP BY id HAVING COUNT(*) >= 5
        |ORDER BY id""".stripMargin,

    // the Bloom two-phase plan is EXACT (the verify join kills false
    // positives), so its oracle is the same plain n-gram join shape as
    // q_doc_contamination at the bloom query's slices/thresholds
    "q_doc_contamination_bloom" ->
      """WITH csh AS (
        |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t
        |        FROM documents WHERE doc_id >= 40) q WHERE len(t) >= 3
        |), bsh AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |  FROM (SELECT string_split_regex(text, '\s+') AS t
        |        FROM documents WHERE doc_id < 40) q WHERE len(t) >= 3
        |)
        |SELECT id, COUNT(*) AS shared_shingles
        |FROM csh WHERE s IN (SELECT s FROM bsh)
        |GROUP BY id HAVING COUNT(*) >= 3
        |ORDER BY id""".stripMargin,

    // the drained streaming sink equals the batch decontamination:
    // per-source counts of docs sharing FEWER than 3 shingles with the
    // reference slice
    "q_stream_contamination_bloom" ->
      """WITH csh AS (
        |  SELECT doc_id AS id, unnest(list_distinct(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS t
        |        FROM documents WHERE doc_id >= 40) q WHERE len(t) >= 3
        |), bsh AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(
        |    generate_series(1, len(t) - 2),
        |    i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS s
        |  FROM (SELECT string_split_regex(text, '\s+') AS t
        |        FROM documents WHERE doc_id < 40) q WHERE len(t) >= 3
        |), bad AS (
        |  SELECT id FROM csh WHERE s IN (SELECT s FROM bsh)
        |  GROUP BY id HAVING COUNT(*) >= 3
        |)
        |SELECT source, COUNT(*) AS n_clean FROM documents
        |WHERE doc_id >= 40 AND doc_id NOT IN (SELECT id FROM bad)
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_doc_sample" ->
      """SELECT doc_id, lang FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '4000'
        |ORDER BY doc_id""".stripMargin,

    // priority = w / u with u = (m+1)/2^52 from the md5 prefix — every
    // step exact or correctly rounded, so est_weight compares bit-exact
    "q_doc_priority_sample" -> prioritySampleOracleSql,

    // reservoir fold over (even, odd, even-again) == the single-shot
    // sample: same oracle by construction
    "q_doc_priority_incremental" -> prioritySampleOracleSql,

    // streaming drain through the reservoir sink == the batch sample
    "q_stream_priority" -> prioritySampleOracleSql,

    // curriculum replay: the two-phase bucketed rank collapses to one
    // ROW_NUMBER over (stage index, 4-hex hash position, id)
    "q_doc_curriculum" ->
      """WITH staged AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'zh' THEN 0 WHEN 'es' THEN 1 WHEN 'de' THEN 2
        |              WHEN 'fr' THEN 3 WHEN 'en' THEN 4 END AS sidx
        |  FROM documents
        |  WHERE lang IN ('zh', 'es', 'de', 'fr', 'en')
        |)
        |SELECT doc_id, lang,
        |  CAST(ROW_NUMBER() OVER (ORDER BY sidx,
        |    substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id) - 1
        |    AS BIGINT) AS position
        |FROM staged
        |ORDER BY position""".stripMargin,

    // same counts -> sqrt-flattened fractions -> 1e-6 floor -> 4-hex
    // threshold (round-half-up, capped 65535; >= 65536 keeps all)
    "q_doc_temperature" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 < 4 THEN 'web'
        |         WHEN doc_id % 7 < 6 THEN 'books'
        |         ELSE 'wiki' END AS bucket
        |  FROM documents
        |), c AS (
        |  SELECT bucket, COUNT(*) AS n FROM d GROUP BY bucket
        |), m AS (SELECT MIN(n) AS nmin FROM c),
        |f AS (
        |  SELECT bucket,
        |    floor(sqrt(CAST(m.nmin AS DOUBLE) / CAST(c.n AS DOUBLE))
        |      * 1e6) / 1e6 AS frac
        |  FROM c, m
        |)
        |SELECT d.doc_id, d.bucket FROM d JOIN f ON d.bucket = f.bucket
        |WHERE round(f.frac * 65536) >= 65536
        |   OR substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)
        |      < printf('%04x', CAST(least(round(f.frac * 65536), 65535.0)
        |          AS BIGINT))
        |ORDER BY d.doc_id""".stripMargin,

    "q_doc_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS l
        |  FROM documents WHERE doc_id < 30
        |), par AS (
        |  SELECT doc_id, l, len(l) AS n,
        |    CASE WHEN len(l) <= 40 THEN 1
        |         ELSE CAST(ceil((len(l) - 8) / 32.0) AS INT) END AS c
        |  FROM t)
        |, ex AS (
        |  SELECT doc_id, l, n, unnest(generate_series(1, c)) AS i
        |  FROM par)
        |SELECT doc_id, CAST(i - 1 AS INT) AS chunk_idx,
        |  CAST(least(40, n - (i - 1) * 32) AS INT) AS n_tok,
        |  md5(array_to_string(
        |    l[(i - 1) * 32 + 1 : least((i - 1) * 32 + 40, n)], ' '))
        |    AS chunk_fp
        |FROM ex
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // the naive global cumulative window — identical by construction to
    // the engine's bucketed two-phase prefix sum
    "q_doc_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tok,
        |    md5('1:' || CAST(doc_id AS VARCHAR)) AS pos
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tok,
        |    SUM(n_tok) OVER (ORDER BY pos, doc_id
        |      ROWS UNBOUNDED PRECEDING) - n_tok AS start
        |  FROM t
        |)
        |SELECT doc_id, n_tok, CAST(start // 2048 AS BIGINT) AS seq_id,
        |  CAST(start % 2048 AS BIGINT) AS seq_off
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_doc_hostcap" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id)
        |      AS rn
        |  FROM documents) t
        |WHERE rn <= 5 ORDER BY doc_id""".stripMargin,

    // integer floor division (//) mirrors the engine's Long arithmetic
    // exactly: N = min over strata of cnt*W/w, per-stratum limit = w*N/W
    // same binding-stratum arithmetic: min avail/weight (name
    // tiebreak), binding keeps its full supply, everyone else
    // floor(avail_b / w_b * w_s) — raw weights, no weight sums
    "q_doc_mixture_plan" ->
      """WITH avail AS (
        |  SELECT source AS stratum,
        |    SUM(len(string_split_regex(text, '\s+'))) AS a
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')
        |  GROUP BY source
        |), w(stratum, w) AS (
        |  VALUES ('src0', CAST(3 AS DOUBLE)), ('src1', CAST(2 AS DOUBLE)),
        |         ('src2', CAST(1 AS DOUBLE))
        |), j AS (
        |  SELECT w.stratum, COALESCE(a.a, 0) AS avail, w.w
        |  FROM w LEFT JOIN avail a USING (stratum)
        |), b AS (
        |  SELECT stratum AS bs, avail AS ba, w AS bw FROM j
        |  ORDER BY CAST(avail AS DOUBLE) / w, stratum LIMIT 1
        |)
        |SELECT j.stratum, CAST(j.avail AS BIGINT) AS avail_tokens,
        |  j.w AS weight,
        |  CAST(CASE WHEN j.stratum = b.bs THEN j.avail
        |       ELSE floor(CAST(b.ba AS DOUBLE) / b.bw * j.w) END
        |    AS BIGINT) AS plan_tokens,
        |  j.stratum = b.bs AS binding
        |FROM j CROSS JOIN b ORDER BY j.stratum""".stripMargin,

    "q_doc_mixture" ->
      """WITH c AS (
        |  SELECT source, COUNT(*) AS cnt FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2') GROUP BY source
        |), nn AS (
        |  SELECT MIN(cnt * 10 // CASE source WHEN 'src0' THEN 5
        |    WHEN 'src1' THEN 3 ELSE 2 END) AS n
        |  FROM c
        |), lim AS (
        |  SELECT source,
        |    (CASE source WHEN 'src0' THEN 5 WHEN 'src1' THEN 3 ELSE 2 END)
        |      * n // 10 AS k
        |  FROM c, nn
        |), r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id)
        |      AS rn
        |  FROM documents
        |)
        |SELECT r.doc_id, r.source FROM r JOIN lim ON r.source = lim.source
        |WHERE r.rn <= lim.k ORDER BY r.doc_id""".stripMargin,

    "q_doc_shuffle" ->
      """SELECT doc_id,
        |  md5(CAST(1 AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS pos
        |FROM documents ORDER BY pos, doc_id LIMIT 20""".stripMargin,

    "q_doc_length_hist" ->
      """WITH t AS (
        |  SELECT len(regexp_extract_all(text,
        |    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tok
        |  FROM documents)
        |SELECT n_tok // 25 AS bucket, COUNT(*) AS n_docs,
        |  MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok
        |FROM t GROUP BY bucket ORDER BY bucket""".stripMargin,

    "q_doc_split" ->
      """WITH assigned AS (
        |  SELECT source,
        |    CASE WHEN substr(md5(source), 1, 4) < 'cccd' THEN 'train'
        |         WHEN substr(md5(source), 1, 4) < 'e666' THEN 'test'
        |         ELSE 'val' END AS split
        |  FROM documents
        |)
        |SELECT split, COUNT(*) AS n_docs,
        |  COUNT(DISTINCT source) AS n_sources
        |FROM assigned GROUP BY split ORDER BY split""".stripMargin,

    // the exact pair closure assigns each clustered doc its min-id
    // representative; split = hash threshold on the representative
    // (docs in no pair hash on themselves)
    "q_doc_leakage_split" ->
      (s"WITH RECURSIVE ${ngramPairCtes()},\n" +
        """edges AS (
          |  SELECT id1 AS a, id2 AS b FROM qual
          |  UNION
          |  SELECT id2, id1 FROM qual
          |), reach(a, b) AS (
          |  SELECT a, b FROM edges
          |  UNION
          |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
          |), cl AS (
          |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
          |  FROM reach GROUP BY a
          |)
          |SELECT d.doc_id,
          |  CASE WHEN substr(md5(CAST(COALESCE(cl.cluster_id, d.doc_id)
          |           AS VARCHAR)), 1, 4) < 'cccd'
          |       THEN 'train' ELSE 'test' END AS split
          |FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id
          |ORDER BY d.doc_id""".stripMargin),

    "q_doc_upsample" ->
      """SELECT doc_id, source,
        |  CAST(unnest(generate_series(1,
        |    CASE source WHEN 'src0' THEN 3 WHEN 'src1' THEN 2
        |         ELSE 1 END)) - 1 AS INT) AS copy_idx
        |FROM documents
        |ORDER BY doc_id, copy_idx""".stripMargin,

    "q_doc_tfidf" ->
      """WITH ex AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents
        |), tf AS (
        |  SELECT id, token, COUNT(*) AS tf FROM ex GROUP BY id, token
        |), dfreq AS (
        |  SELECT token, COUNT(DISTINCT id) AS df FROM ex GROUP BY token
        |), n AS (SELECT COUNT(*) AS n FROM documents),
        |scored AS (
        |  SELECT tf.id, tf.token,
        |    floor(tf.tf * ln(CAST(n.n AS DOUBLE) / dfreq.df) * 1e6) / 1e6
        |      AS score
        |  FROM tf JOIN dfreq USING (token) CROSS JOIN n
        |), ranked AS (
        |  SELECT id, token, score,
        |    ROW_NUMBER() OVER (PARTITION BY id
        |                       ORDER BY score DESC, token) AS rank
        |  FROM scored
        |)
        |SELECT id, token, score, CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 3 AND id < 30
        |ORDER BY id, rank""".stripMargin,

    "q_doc_vocab" ->
      """WITH ex AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents
        |)
        |SELECT token, COUNT(*) AS occurrences,
        |  COUNT(DISTINCT doc_id) AS doc_freq
        |FROM ex
        |GROUP BY token
        |ORDER BY occurrences DESC, token
        |LIMIT 30""".stripMargin,

    "q_doc_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin,

    // BM25 with k1=1.2, b=0.75 for terms (hash, join, spark, window);
    // term-sum order and rounding mirror the engine exactly
    "q_doc_bm25" -> bm25OracleSql,

    // the index lifecycle accumulates the full corpus, so the search
    // result is q_doc_bm25's replay verbatim
    "q_doc_bm25_index" -> bm25OracleSql,

    // streamed ingest drains to the same accumulated index
    "q_stream_bm25" -> bm25OracleSql,

    // the two ranked lists rebuilt exactly as their own oracles rank
    // them (BM25 formula + raw-cosine row_number), then 1/(60+rank)
    // contributions summed pairwise and floor-rounded
    "q_doc_rrf" ->
      """WITH base AS (
        |  SELECT doc_id AS id, string_split_regex(text, '\s+') AS toks
        |  FROM documents
        |), d AS (
        |  SELECT id, CAST(len(toks) AS DOUBLE) AS dl,
        |    CAST(len(list_filter(toks, x -> x = 'hash')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(toks, x -> x = 'join')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf2,
        |    CAST(len(list_filter(toks, x -> x = 'window')) AS DOUBLE) AS tf3
        |  FROM base
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(dl) AS sumdl,
        |    SUM(CASE WHEN tf0 > 0 THEN 1.0 ELSE 0.0 END) AS df0,
        |    SUM(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |    SUM(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2,
        |    SUM(CASE WHEN tf3 > 0 THEN 1.0 ELSE 0.0 END) AS df3
        |  FROM d
        |), lex AS (
        |  SELECT id, floor((
        |      ln(1 + (n - df0 + 0.5) / (df0 + 0.5)) * tf0 * 2.2
        |        / (tf0 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |    + ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * 2.2
        |        / (tf1 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |    + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * 2.2
        |        / (tf2 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |    + ln(1 + (n - df3 + 0.5) / (df3 + 0.5)) * tf3 * 2.2
        |        / (tf3 + 1.2 * (0.25 + 0.75 * dl / (sumdl / n)))
        |    ) * 1e6) / 1e6 AS score
        |  FROM d CROSS JOIN stats
        |  WHERE tf0 + tf1 + tf2 + tf3 > 0
        |  ORDER BY score DESC, id LIMIT 15
        |), lexr AS (
        |  SELECT id, ROW_NUMBER() OVER (ORDER BY score DESC, id) AS rank
        |  FROM lex
        |), semr AS (
        |  SELECT vec_id AS id, rank FROM (
        |    SELECT e.vec_id,
        |      ROW_NUMBER() OVER (ORDER BY
        |        list_cosine_similarity(e.embedding, q.qv) DESC, e.vec_id)
        |        AS rank
        |    FROM embeddings e CROSS JOIN
        |      (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0) q
        |    WHERE e.vec_id <> 0)
        |  WHERE rank <= 15
        |), u AS (
        |  SELECT id, CAST(1 AS DOUBLE) / (60 + rank) AS c FROM lexr
        |  UNION ALL
        |  SELECT id, CAST(1 AS DOUBLE) / (60 + rank) FROM semr
        |), g AS (
        |  SELECT id, floor(SUM(c) * 1e6) / 1e6 AS rrf_score,
        |    COUNT(*) AS n_lists
        |  FROM u GROUP BY id
        |)
        |SELECT id, rrf_score, n_lists, rank FROM (
        |  SELECT id, rrf_score, n_lists,
        |    CAST(ROW_NUMBER() OVER (ORDER BY rrf_score DESC, id)
        |      AS BIGINT) AS rank
        |  FROM g)
        |WHERE rank <= 10 ORDER BY rank""".stripMargin,

    // same inverted-index computation: postings restricted to query
    // terms, df off the postings, SUM partials, 1e-6 floor, rank
    "q_doc_bm25_batch" ->
      """WITH q(query_id, term) AS (
        |  VALUES (1, 'hash'), (1, 'join'),
        |         (2, 'window'), (2, 'sort'), (2, 'merge'),
        |         (3, 'spark')
        |), ex AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(text, '\s+')) AS term
        |  FROM documents
        |), postings AS (
        |  SELECT id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM ex WHERE term IN (SELECT DISTINCT term FROM q)
        |  GROUP BY id, term
        |), dl AS (
        |  SELECT doc_id AS id,
        |    CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS dl
        |  FROM documents
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(dl) AS sumdl FROM dl
        |), dfreq AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
        |  FROM postings GROUP BY term
        |), scored AS (
        |  SELECT qq.query_id AS qid, p.id,
        |    floor(SUM(
        |      ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * p.tf * 2.2
        |        / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / (s.sumdl / s.n)))
        |    ) * 1e6) / 1e6 AS score
        |  FROM postings p
        |  JOIN q qq ON qq.term = p.term
        |  JOIN dfreq d ON d.term = p.term
        |  JOIN dl l ON l.id = p.id
        |  CROSS JOIN stats s
        |  GROUP BY qq.query_id, p.id
        |), ranked AS (
        |  SELECT qid, id, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |                       ORDER BY score DESC, id) AS rank
        |  FROM scored
        |)
        |SELECT CAST(qid AS BIGINT) AS query_id, id, score,
        |  CAST(rank AS INT) AS rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // DSIR decision replay: same hashed unigram+bigram buckets
    // (md5 hex-prefix mod 1024), Laplace-1 smoothed target (src0) and
    // raw (rest) bucket models, per-doc log-likelihood-ratio sum
    // floor-rounded at 1e-6, top-100 by (logw desc, id)
    "q_doc_dsir" ->
      """WITH base AS (
        |  SELECT doc_id AS id, source,
        |    string_split_regex(text, '\s+') AS toks
        |  FROM documents
        |), uni AS (
        |  SELECT id, source, unnest(toks) AS g FROM base
        |), bi AS (
        |  SELECT id, source,
        |    unnest(toks[1:len(toks)-1]) || ' ' || unnest(toks[2:len(toks)])
        |      AS g
        |  FROM base WHERE len(toks) >= 2
        |), grams AS (
        |  SELECT id, source,
        |    ('0x' || substr(md5(g), 1, 6))::INT % 1024 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        |), docfeat AS (
        |  SELECT id, b, COUNT(*) AS dc FROM grams
        |  WHERE source <> 'src0' GROUP BY id, b
        |), rawc AS (
        |  SELECT b, COUNT(*) AS rc FROM grams
        |  WHERE source <> 'src0' GROUP BY b
        |), tgtc AS (
        |  SELECT b, COUNT(*) AS tc FROM grams
        |  WHERE source = 'src0' GROUP BY b
        |), tot AS (
        |  SELECT (SELECT SUM(rc) FROM rawc) AS rtot,
        |         (SELECT SUM(tc) FROM tgtc) AS ttot
        |), weights AS (
        |  SELECT COALESCE(r.b, t.b) AS b,
        |    ln(CAST(COALESCE(t.tc, 0) + 1 AS DOUBLE)
        |         / CAST(tt.ttot + 1024 AS DOUBLE))
        |      - ln(CAST(COALESCE(r.rc, 0) + 1 AS DOUBLE)
        |             / CAST(tt.rtot + 1024 AS DOUBLE)) AS lw
        |  FROM rawc r FULL OUTER JOIN tgtc t ON r.b = t.b
        |  CROSS JOIN tot tt
        |)
        |SELECT d.id, CAST(SUM(d.dc) AS BIGINT) AS n_feats,
        |  floor(SUM(CAST(d.dc AS DOUBLE) * w.lw) * 1e6) / 1e6 AS dsir_logw
        |FROM docfeat d JOIN weights w ON w.b = d.b
        |GROUP BY d.id
        |ORDER BY dsir_logw DESC, id
        |LIMIT 100""".stripMargin,

    // domain-route replay: the q_doc_dsir bucket models per domain on
    // a dense (domain x raw bucket) weight grid, per-(doc, domain)
    // log-likelihood-ratio sums, winner by (rounded logw desc, domain)
    // with the runner-up margin
    "q_doc_domain_route" ->
      """WITH base AS (
        |  SELECT doc_id AS id, source,
        |    string_split_regex(text, '\s+') AS toks
        |  FROM documents
        |), uni AS (
        |  SELECT id, source, unnest(toks) AS g FROM base
        |), bi AS (
        |  SELECT id, source,
        |    unnest(toks[1:len(toks)-1]) || ' ' || unnest(toks[2:len(toks)])
        |      AS g
        |  FROM base WHERE len(toks) >= 2
        |), grams AS (
        |  SELECT id, source,
        |    ('0x' || substr(md5(g), 1, 6))::INT % 1024 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        |), docfeat AS (
        |  SELECT id, b, COUNT(*) AS dc FROM grams
        |  WHERE source NOT IN ('src1', 'src2') GROUP BY id, b
        |), rawc AS (
        |  SELECT b, COUNT(*) AS rc FROM grams
        |  WHERE source NOT IN ('src1', 'src2') GROUP BY b
        |), rt AS (
        |  SELECT SUM(rc) AS rtot FROM rawc
        |), tgt AS (
        |  SELECT 'src1' AS domain, b, COUNT(*) AS tc FROM grams
        |  WHERE source = 'src1' GROUP BY b
        |  UNION ALL
        |  SELECT 'src2', b, COUNT(*) FROM grams
        |  WHERE source = 'src2' GROUP BY b
        |), ttots AS (
        |  SELECT domain, SUM(tc) AS ttot FROM tgt GROUP BY domain
        |), weights AS (
        |  SELECT tt.domain, r.b,
        |    ln(CAST(COALESCE(t.tc, 0) + 1 AS DOUBLE)
        |         / CAST(tt.ttot + 1024 AS DOUBLE))
        |      - ln(CAST(r.rc + 1 AS DOUBLE)
        |             / CAST(rr.rtot + 1024 AS DOUBLE)) AS lw
        |  FROM rawc r CROSS JOIN ttots tt CROSS JOIN rt rr
        |  LEFT JOIN tgt t ON t.domain = tt.domain AND t.b = r.b
        |), scored AS (
        |  SELECT d.id, w.domain, CAST(SUM(d.dc) AS BIGINT) AS n_feats,
        |    floor(SUM(CAST(d.dc AS DOUBLE) * w.lw) * 1e6) / 1e6
        |      AS dsir_logw
        |  FROM docfeat d JOIN weights w ON w.b = d.b
        |  GROUP BY d.id, w.domain
        |), ranked AS (
        |  SELECT id, n_feats, domain, dsir_logw,
        |    ROW_NUMBER() OVER (PARTITION BY id
        |                       ORDER BY dsir_logw DESC, domain) AS rn,
        |    dsir_logw - LEAD(dsir_logw, 1) OVER (PARTITION BY id
        |                       ORDER BY dsir_logw DESC, domain) AS margin
        |  FROM scored
        |)
        |SELECT id, n_feats, domain, dsir_logw, margin
        |FROM ranked WHERE rn = 1
        |ORDER BY id""".stripMargin,

    // streaming drain == the batch domain-route winners grouped by
    // domain; min/max margins are order-free, so the aggregate is
    // portable without a summation caveat
    "q_stream_domain_route" ->
      """WITH base AS (
        |  SELECT doc_id AS id, source,
        |    string_split_regex(text, '\s+') AS toks
        |  FROM documents
        |), uni AS (
        |  SELECT id, source, unnest(toks) AS g FROM base
        |), bi AS (
        |  SELECT id, source,
        |    unnest(toks[1:len(toks)-1]) || ' ' || unnest(toks[2:len(toks)])
        |      AS g
        |  FROM base WHERE len(toks) >= 2
        |), grams AS (
        |  SELECT id, source,
        |    ('0x' || substr(md5(g), 1, 6))::INT % 1024 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        |), docfeat AS (
        |  SELECT id, b, COUNT(*) AS dc FROM grams
        |  WHERE source NOT IN ('src1', 'src2') GROUP BY id, b
        |), rawc AS (
        |  SELECT b, COUNT(*) AS rc FROM grams
        |  WHERE source NOT IN ('src1', 'src2') GROUP BY b
        |), rt AS (
        |  SELECT SUM(rc) AS rtot FROM rawc
        |), tgt AS (
        |  SELECT 'src1' AS domain, b, COUNT(*) AS tc FROM grams
        |  WHERE source = 'src1' GROUP BY b
        |  UNION ALL
        |  SELECT 'src2', b, COUNT(*) FROM grams
        |  WHERE source = 'src2' GROUP BY b
        |), ttots AS (
        |  SELECT domain, SUM(tc) AS ttot FROM tgt GROUP BY domain
        |), weights AS (
        |  SELECT tt.domain, r.b,
        |    ln(CAST(COALESCE(t.tc, 0) + 1 AS DOUBLE)
        |         / CAST(tt.ttot + 1024 AS DOUBLE))
        |      - ln(CAST(r.rc + 1 AS DOUBLE)
        |             / CAST(rr.rtot + 1024 AS DOUBLE)) AS lw
        |  FROM rawc r CROSS JOIN ttots tt CROSS JOIN rt rr
        |  LEFT JOIN tgt t ON t.domain = tt.domain AND t.b = r.b
        |), scored AS (
        |  SELECT d.id, w.domain,
        |    floor(SUM(CAST(d.dc AS DOUBLE) * w.lw) * 1e6) / 1e6
        |      AS dsir_logw
        |  FROM docfeat d JOIN weights w ON w.b = d.b
        |  GROUP BY d.id, w.domain
        |), ranked AS (
        |  SELECT id, domain, dsir_logw,
        |    ROW_NUMBER() OVER (PARTITION BY id
        |                       ORDER BY dsir_logw DESC, domain) AS rn,
        |    dsir_logw - LEAD(dsir_logw, 1) OVER (PARTITION BY id
        |                       ORDER BY dsir_logw DESC, domain) AS margin
        |  FROM scored
        |)
        |SELECT domain, COUNT(*) AS n_docs,
        |  MIN(margin) AS min_margin, MAX(margin) AS max_margin
        |FROM ranked WHERE rn = 1
        |GROUP BY domain
        |ORDER BY domain""".stripMargin,

    // hard-negative replay: the bm25_batch scoring CTE at k=8, minus
    // the id % 3 == 0 positives, re-ranked per query, top 4
    "q_doc_hard_negatives" ->
      """WITH q(query_id, term) AS (
        |  VALUES (1, 'hash'), (1, 'join'),
        |         (2, 'window'), (2, 'sort'), (2, 'merge'),
        |         (3, 'spark')
        |), ex AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(text, '\s+')) AS term
        |  FROM documents
        |), postings AS (
        |  SELECT id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM ex WHERE term IN (SELECT DISTINCT term FROM q)
        |  GROUP BY id, term
        |), dl AS (
        |  SELECT doc_id AS id,
        |    CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS dl
        |  FROM documents
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(dl) AS sumdl FROM dl
        |), dfreq AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
        |  FROM postings GROUP BY term
        |), scored AS (
        |  SELECT qq.query_id AS qid, p.id,
        |    floor(SUM(
        |      ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * p.tf * 2.2
        |        / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / (s.sumdl / s.n)))
        |    ) * 1e6) / 1e6 AS score
        |  FROM postings p
        |  JOIN q qq ON qq.term = p.term
        |  JOIN dfreq d ON d.term = p.term
        |  JOIN dl l ON l.id = p.id
        |  CROSS JOIN stats s
        |  GROUP BY qq.query_id, p.id
        |), ranked AS (
        |  SELECT qid, id, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid
        |                       ORDER BY score DESC, id) AS rank
        |  FROM scored
        |), negs AS (
        |  SELECT qid, id, score,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rank)
        |      AS neg_rank
        |  FROM ranked WHERE rank <= 8 AND id % 3 <> 0
        |)
        |SELECT CAST(qid AS BIGINT) AS query_id, id, score,
        |  CAST(neg_rank AS BIGINT) AS neg_rank
        |FROM negs WHERE neg_rank <= 4
        |ORDER BY query_id, neg_rank""".stripMargin,

    // batched hybrid fusion: the q_doc_bm25_batch lexical ranks and a
    // per-query cosine rank table, fused with 1/(60+rank) contributions
    // summed per (query, id), floor-rounded, re-ranked within each query
    "q_doc_rrf_batch" ->
      """WITH q(query_id, term) AS (
        |  VALUES (1, 'hash'), (1, 'join'),
        |         (2, 'window'), (2, 'sort'), (2, 'merge'),
        |         (3, 'spark')
        |), ex AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(text, '\s+')) AS term
        |  FROM documents
        |), postings AS (
        |  SELECT id, term, CAST(COUNT(*) AS DOUBLE) AS tf
        |  FROM ex WHERE term IN (SELECT DISTINCT term FROM q)
        |  GROUP BY id, term
        |), dl AS (
        |  SELECT doc_id AS id,
        |    CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS dl
        |  FROM documents
        |), stats AS (
        |  SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(dl) AS sumdl FROM dl
        |), dfreq AS (
        |  SELECT term, CAST(COUNT(*) AS DOUBLE) AS df
        |  FROM postings GROUP BY term
        |), scored AS (
        |  SELECT qq.query_id AS qid, p.id,
        |    floor(SUM(
        |      ln(1 + (s.n - d.df + 0.5) / (d.df + 0.5)) * p.tf * 2.2
        |        / (p.tf + 1.2 * (0.25 + 0.75 * l.dl / (s.sumdl / s.n)))
        |    ) * 1e6) / 1e6 AS score
        |  FROM postings p
        |  JOIN q qq ON qq.term = p.term
        |  JOIN dfreq d ON d.term = p.term
        |  JOIN dl l ON l.id = p.id
        |  CROSS JOIN stats s
        |  GROUP BY qq.query_id, p.id
        |), lexr AS (
        |  SELECT qid, id, rank FROM (
        |    SELECT qid, id,
        |      ROW_NUMBER() OVER (PARTITION BY qid
        |                         ORDER BY score DESC, id) AS rank
        |    FROM scored)
        |  WHERE rank <= 5
        |), semr AS (
        |  SELECT qid, id, rank FROM (
        |    SELECT qv.vec_id AS qid, e.vec_id AS id,
        |      ROW_NUMBER() OVER (PARTITION BY qv.vec_id ORDER BY
        |        list_cosine_similarity(e.embedding, qv.embedding) DESC,
        |        e.vec_id) AS rank
        |    FROM embeddings e CROSS JOIN
        |      (SELECT vec_id, embedding FROM embeddings
        |       WHERE vec_id IN (1, 2, 3)) qv
        |    WHERE e.vec_id <> qv.vec_id)
        |  WHERE rank <= 5
        |), u AS (
        |  SELECT qid, id, CAST(1 AS DOUBLE) / (60 + rank) AS c FROM lexr
        |  UNION ALL
        |  SELECT qid, id, CAST(1 AS DOUBLE) / (60 + rank) FROM semr
        |), g AS (
        |  SELECT qid, id, floor(SUM(c) * 1e6) / 1e6 AS rrf_score,
        |    COUNT(*) AS n_lists
        |  FROM u GROUP BY qid, id
        |)
        |SELECT CAST(qid AS BIGINT) AS query_id, id, rrf_score, n_lists,
        |  rank
        |FROM (
        |  SELECT qid, id, rrf_score, n_lists,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid
        |      ORDER BY rrf_score DESC, id) AS BIGINT) AS rank
        |  FROM g)
        |WHERE rank <= 8 ORDER BY query_id, rank""".stripMargin,

    // same smoothed top-V unigram model: per-doc mean -ln p, OOV
    // tokens share one bucket, 1e-6 floor on the final mean
    "q_doc_surprisal" ->
      """WITH ex AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(text, '\s+'))
        |    AS token
        |  FROM documents
        |), c AS (
        |  SELECT token, COUNT(*) AS c FROM ex GROUP BY token
        |), top AS (
        |  SELECT token, c FROM c ORDER BY c DESC, token LIMIT 500
        |), stats AS (
        |  SELECT (SELECT SUM(c) FROM c) AS n_total,
        |         (SELECT SUM(c) FROM top) AS n_top,
        |         (SELECT COUNT(*) FROM top) AS v
        |), dcount AS (
        |  SELECT id, token, COUNT(*) AS dc FROM ex GROUP BY id, token
        |)
        |SELECT id, CAST(SUM(dc) AS BIGINT) AS n_tokens,
        |  floor(SUM(dc * -ln(
        |      CAST(COALESCE(t.c, s.n_total - s.n_top) + 1 AS DOUBLE)
        |      / CAST(s.n_total + s.v + 1 AS DOUBLE)))
        |    / SUM(dc) * 1e6) / 1e6 AS surprisal
        |FROM dcount LEFT JOIN top t USING (token) CROSS JOIN stats s
        |GROUP BY id ORDER BY id""".stripMargin,

    // the bigram replay: DuckDB's parallel unnest zips the shifted
    // list slices into adjacent pairs; the model/backoff CASE mirrors
    // Text.bigramLogLoss's arithmetic op-for-op
    "q_doc_bigram_lm" ->
      """WITH ex AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(text, '\s+'))
        |    AS token
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id AS id,
        |    unnest(l[1:len(l)-1]) AS v, unnest(l[2:len(l)]) AS w
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS l
        |        FROM documents)
        |), c AS (
        |  SELECT token, COUNT(*) AS c FROM ex GROUP BY token
        |), top AS (
        |  SELECT token, c FROM c ORDER BY c DESC, token LIMIT 500
        |), stats AS (
        |  SELECT (SELECT SUM(c) FROM c) AS n_total,
        |         (SELECT SUM(c) FROM top) AS n_top,
        |         (SELECT COUNT(*) FROM top) AS vsz
        |), model AS (
        |  SELECT bg.v, bg.w, tv.c AS cv, COUNT(*) AS cb
        |  FROM bg JOIN top tv ON bg.v = tv.token
        |          JOIN top tw ON bg.w = tw.token
        |  GROUP BY bg.v, bg.w, tv.c
        |), perdoc AS (
        |  SELECT id, v, w, COUNT(*) AS dc FROM bg GROUP BY id, v, w
        |)
        |SELECT id, CAST(SUM(dc) AS BIGINT) AS n_bigrams,
        |  floor(SUM(dc * -ln(
        |      CASE WHEN m.cb IS NOT NULL
        |        THEN CAST(m.cb AS DOUBLE) / CAST(m.cv AS DOUBLE)
        |        ELSE 0.4 * (
        |          CAST(COALESCE(tw.c, s.n_total - s.n_top) + 1 AS DOUBLE)
        |          / CAST(s.n_total + s.vsz + 1 AS DOUBLE)) END))
        |    / SUM(dc) * 1e6) / 1e6 AS logloss
        |FROM perdoc p
        |LEFT JOIN model m ON p.v = m.v AND p.w = m.w
        |LEFT JOIN top tw ON p.w = tw.token
        |CROSS JOIN stats s
        |GROUP BY id ORDER BY id""".stripMargin,

    // one flags row per doc, three conditional sums per rule, UNION of
    // four literal-labelled rows; null rule values COALESCE to fail on
    // both engines
    "q_doc_gate_funnel" -> gateFunnelOracleSql,

    // streamed complete-mode drain == the batch attribution
    "q_stream_gate_funnel" -> gateFunnelOracleSql,

    // heavy-hitters exact-regime contract: with every source's
    // distinct token count under k, the MG counters ARE the counts;
    // the (cnt desc, item) rank cut is deterministic on both sides
    "q_sketch_heavyhitters" ->
      """WITH t AS (
        |  SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT source, tok, COUNT(*) AS cnt FROM t GROUP BY 1, 2
        |), r AS (
        |  SELECT source, tok, cnt,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY cnt DESC, tok) AS rk
        |  FROM c
        |)
        |SELECT source, tok AS item, CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rk <= 10
        |ORDER BY source, cnt DESC, item""".stripMargin,

    // streamed sink drain == the batch top-10 (exact-regime fold
    // bit-identity); the query map key reuses the batch oracle text
    "q_stream_heavyhitters" ->
      """WITH t AS (
        |  SELECT source, unnest(string_split_regex(text, '\s+')) AS tok
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT source, tok, COUNT(*) AS cnt FROM t GROUP BY 1, 2
        |), r AS (
        |  SELECT source, tok, cnt,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY cnt DESC, tok) AS rk
        |  FROM c
        |)
        |SELECT source, tok AS item, CAST(cnt AS BIGINT) AS cnt
        |FROM r WHERE rk <= 10
        |ORDER BY source, cnt DESC, item""".stripMargin,

    // one-scan audit: counts, exact-regime distinct, exact-regime
    // discrete quantiles — the engine computes all three in ONE pass;
    // the oracle recomputes each naively and joins
    "q_sketch_profile" ->
      """WITH ranked AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value)
        |      AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events
        |  WHERE value IS NOT NULL AND event_type IS NOT NULL
        |), agg AS (
        |  SELECT event_type, COUNT(*) AS n_rows,
        |    COUNT(DISTINCT user_id) AS est_distinct
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1
        |), q AS (
        |  SELECT event_type,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.5 * n) AS BIGINT))
        |      THEN value END) AS p50,
        |    max(CASE WHEN rn = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))
        |      THEN value END) AS p95
        |  FROM ranked GROUP BY 1
        |)
        |SELECT a.event_type, a.n_rows, a.est_distinct, q.p50, q.p95
        |FROM agg a JOIN q ON a.event_type = q.event_type
        |ORDER BY a.event_type""".stripMargin,

    // quantile-sketch exact-regime contract: with every group's count
    // at or below k, the KLL quantiles ARE the discrete quantiles
    "q_sketch_quantiles" -> sketchQuantilesOracleSql,

    "q_table_profile" -> tableProfileOracleSql,

    // streamed exactly-once profile fold drained == the one-shot audit
    "q_stream_table_profile" -> tableProfileOracleSql,

    // streamed sink drain == the batch aggregate (exact-regime fold
    // bit-identity)
    "q_stream_quantiles" -> sketchQuantilesOracleSql,

    // sketch exact-regime contract: with every group's distinct count
    // under k, the KMV estimate/union/intersection ARE the true counts
    "q_sketch_audience" -> sketchAudienceOracleSql,

    // a-not-b replayed exactly: per-type distinct counts minus the
    // directed-pair common counts
    "q_sketch_newaudience" ->
      """WITH d AS (
        |  SELECT DISTINCT event_type, user_id FROM events
        |  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        |), cnt AS (
        |  SELECT event_type, COUNT(*) AS c FROM d GROUP BY 1
        |), inter AS (
        |  SELECT x.event_type AS ta, y.event_type AS tb, COUNT(*) AS c
        |  FROM d x JOIN d y
        |    ON x.user_id = y.user_id AND x.event_type <> y.event_type
        |  GROUP BY 1, 2
        |)
        |SELECT ca.event_type AS type_a, cb.event_type AS type_b,
        |  CAST(ca.c - COALESCE(i.c, 0) AS BIGINT) AS n_new
        |FROM cnt ca JOIN cnt cb ON ca.event_type <> cb.event_type
        |LEFT JOIN inter i
        |  ON i.ta = ca.event_type AND i.tb = cb.event_type
        |ORDER BY type_a, type_b""".stripMargin,

    // streamed idempotent fold drained == the batch aggregate
    "q_stream_sketch_audience" -> sketchAudienceOracleSql,

    "q_sketch_vocab" ->
      """WITH t AS (
        |  SELECT DISTINCT source, tok FROM (
        |    SELECT source,
        |      unnest(string_split_regex(text, '\s+')) AS tok
        |    FROM documents WHERE text IS NOT NULL)
        |), cnt AS (
        |  SELECT source, COUNT(*) AS c FROM t GROUP BY 1
        |), inter AS (
        |  SELECT x.source AS sa, y.source AS sb, COUNT(*) AS c
        |  FROM t x JOIN t y ON x.tok = y.tok AND x.source < y.source
        |  GROUP BY 1, 2
        |)
        |SELECT ca.source AS src_a, cb.source AS src_b,
        |  CAST(ca.c AS BIGINT) AS n_a, CAST(cb.c AS BIGINT) AS n_b,
        |  CAST(COALESCE(i.c, 0) AS BIGINT) AS n_common,
        |  CAST(ca.c + cb.c - COALESCE(i.c, 0) AS BIGINT) AS n_union
        |FROM cnt ca JOIN cnt cb ON ca.source < cb.source
        |LEFT JOIN inter i ON i.sa = ca.source AND i.sb = cb.source
        |ORDER BY src_a, src_b""".stripMargin,

    // the order-3 replay: three shifted slices zip into the trigram
    // stream; the backoff CASE chain mirrors trigramLogLoss op-for-op
    "q_doc_trigram_lm" ->
      """WITH ex AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents
        |), bg AS (
        |  SELECT unnest(l[1:len(l)-1]) AS v, unnest(l[2:len(l)]) AS w
        |  FROM (SELECT string_split_regex(text, '\s+') AS l
        |        FROM documents)
        |), tg AS (
        |  SELECT doc_id AS id, unnest(l[1:len(l)-2]) AS u,
        |    unnest(l[2:len(l)-1]) AS v, unnest(l[3:len(l)]) AS w
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS l
        |        FROM documents)
        |), c AS (
        |  SELECT token, COUNT(*) AS c FROM ex GROUP BY token
        |), top AS (
        |  SELECT token, c FROM c ORDER BY c DESC, token LIMIT 500
        |), stats AS (
        |  SELECT (SELECT SUM(c) FROM c) AS n_total,
        |         (SELECT SUM(c) FROM top) AS n_top,
        |         (SELECT COUNT(*) FROM top) AS vsz
        |), m2 AS (
        |  SELECT bg.v, bg.w, tv.c AS cv, COUNT(*) AS cb2
        |  FROM bg JOIN top tv ON bg.v = tv.token
        |          JOIN top tw ON bg.w = tw.token
        |  GROUP BY bg.v, bg.w, tv.c
        |), m3 AS (
        |  SELECT t3.u, t3.v, t3.w, COUNT(*) AS cb3
        |  FROM tg t3 JOIN top tu ON t3.u = tu.token
        |             JOIN top tv ON t3.v = tv.token
        |             JOIN top tw ON t3.w = tw.token
        |  GROUP BY t3.u, t3.v, t3.w
        |), m3c AS (
        |  SELECT m3.u, m3.v, m3.w, m3.cb3, ctx.cb2 AS c2
        |  FROM m3 JOIN m2 ctx ON m3.u = ctx.v AND m3.v = ctx.w
        |), perdoc AS (
        |  SELECT id, u, v, w, COUNT(*) AS dc FROM tg GROUP BY id, u, v, w
        |)
        |SELECT id, CAST(SUM(dc) AS BIGINT) AS n_trigrams,
        |  floor(SUM(dc * -ln(CASE
        |      WHEN m.cb3 IS NOT NULL
        |        THEN CAST(m.cb3 AS DOUBLE) / CAST(m.c2 AS DOUBLE)
        |      WHEN b.cb2 IS NOT NULL
        |        THEN 0.4 * (CAST(b.cb2 AS DOUBLE) / CAST(b.cv AS DOUBLE))
        |      ELSE 0.4 * (0.4 * (
        |        CAST(COALESCE(tw.c, s.n_total - s.n_top) + 1 AS DOUBLE)
        |        / CAST(s.n_total + s.vsz + 1 AS DOUBLE))) END))
        |    / SUM(dc) * 1e6) / 1e6 AS logloss
        |FROM perdoc p
        |LEFT JOIN m3c m ON p.u = m.u AND p.v = m.v AND p.w = m.w
        |LEFT JOIN m2 b ON p.v = b.v AND p.w = b.w
        |LEFT JOIN top tw ON p.w = tw.token
        |CROSS JOIN stats s
        |GROUP BY id ORDER BY id""".stripMargin,

    // the cross-corpus replay: model CTEs read the trusted slice only,
    // per-doc bigrams read the scored remainder
    "q_doc_bigram_ref" ->
      """WITH trn AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE source IN ('src1', 'src3')
        |), sc AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE source NOT IN ('src1', 'src3')
        |), ex AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS token
        |  FROM trn
        |), bgt AS (
        |  SELECT unnest(l[1:len(l)-1]) AS v, unnest(l[2:len(l)]) AS w
        |  FROM (SELECT string_split_regex(text, '\s+') AS l FROM trn)
        |), bgs AS (
        |  SELECT doc_id AS id,
        |    unnest(l[1:len(l)-1]) AS v, unnest(l[2:len(l)]) AS w
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS l
        |        FROM sc)
        |), c AS (
        |  SELECT token, COUNT(*) AS c FROM ex GROUP BY token
        |), top AS (
        |  SELECT token, c FROM c ORDER BY c DESC, token LIMIT 500
        |), stats AS (
        |  SELECT (SELECT SUM(c) FROM c) AS n_total,
        |         (SELECT SUM(c) FROM top) AS n_top,
        |         (SELECT COUNT(*) FROM top) AS vsz
        |), model AS (
        |  SELECT bgt.v, bgt.w, tv.c AS cv, COUNT(*) AS cb
        |  FROM bgt JOIN top tv ON bgt.v = tv.token
        |           JOIN top tw ON bgt.w = tw.token
        |  GROUP BY bgt.v, bgt.w, tv.c
        |), perdoc AS (
        |  SELECT id, v, w, COUNT(*) AS dc FROM bgs GROUP BY id, v, w
        |)
        |SELECT id, CAST(SUM(dc) AS BIGINT) AS n_bigrams,
        |  floor(SUM(dc * -ln(
        |      CASE WHEN m.cb IS NOT NULL
        |        THEN CAST(m.cb AS DOUBLE) / CAST(m.cv AS DOUBLE)
        |        ELSE 0.4 * (
        |          CAST(COALESCE(tw.c, s.n_total - s.n_top) + 1 AS DOUBLE)
        |          / CAST(s.n_total + s.vsz + 1 AS DOUBLE)) END))
        |    / SUM(dc) * 1e6) / 1e6 AS logloss
        |FROM perdoc p
        |LEFT JOIN model m ON p.v = m.v AND p.w = m.w
        |LEFT JOIN top tw ON p.w = tw.token
        |CROSS JOIN stats s
        |GROUP BY id ORDER BY id""".stripMargin,

    // the same bigram replay, bucketed: ntile over the shared floored
    // logloss reproduces Spark's tertile assignment exactly
    "q_doc_ppl_buckets" ->
      """WITH ex AS (
        |  SELECT doc_id AS id, unnest(string_split_regex(text, '\s+'))
        |    AS token
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id AS id,
        |    unnest(l[1:len(l)-1]) AS v, unnest(l[2:len(l)]) AS w
        |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS l
        |        FROM documents)
        |), c AS (
        |  SELECT token, COUNT(*) AS c FROM ex GROUP BY token
        |), top AS (
        |  SELECT token, c FROM c ORDER BY c DESC, token LIMIT 500
        |), stats AS (
        |  SELECT (SELECT SUM(c) FROM c) AS n_total,
        |         (SELECT SUM(c) FROM top) AS n_top,
        |         (SELECT COUNT(*) FROM top) AS vsz
        |), model AS (
        |  SELECT bg.v, bg.w, tv.c AS cv, COUNT(*) AS cb
        |  FROM bg JOIN top tv ON bg.v = tv.token
        |          JOIN top tw ON bg.w = tw.token
        |  GROUP BY bg.v, bg.w, tv.c
        |), perdoc AS (
        |  SELECT id, v, w, COUNT(*) AS dc FROM bg GROUP BY id, v, w
        |), ll AS (
        |  SELECT id,
        |    floor(SUM(dc * -ln(
        |        CASE WHEN m.cb IS NOT NULL
        |          THEN CAST(m.cb AS DOUBLE) / CAST(m.cv AS DOUBLE)
        |          ELSE 0.4 * (
        |            CAST(COALESCE(tw.c, s.n_total - s.n_top) + 1 AS DOUBLE)
        |            / CAST(s.n_total + s.vsz + 1 AS DOUBLE)) END))
        |      / SUM(dc) * 1e6) / 1e6 AS logloss
        |  FROM perdoc p
        |  LEFT JOIN model m ON p.v = m.v AND p.w = m.w
        |  LEFT JOIN top tw ON p.w = tw.token
        |  CROSS JOIN stats s
        |  GROUP BY id
        |), meta AS (
        |  SELECT doc_id AS id, source,
        |    len(string_split_regex(text, '\s+')) AS tok
        |  FROM documents
        |), b AS (
        |  SELECT source, tok, logloss,
        |    ntile(3) OVER (PARTITION BY source ORDER BY logloss, id)
        |      AS bucket
        |  FROM ll JOIN meta USING (id)
        |)
        |SELECT source, bucket, COUNT(*) AS n_docs,
        |  CAST(SUM(tok) AS BIGINT) AS tok_total,
        |  MIN(logloss) AS ll_min, MAX(logloss) AS ll_max
        |FROM b GROUP BY source, bucket ORDER BY source, bucket""".stripMargin,

    // per-source KL vs the corpus over the global top-50 tokens,
    // renormalized within that set; missing tokens contribute 0 via
    // the inner join
    "q_doc_drift" ->
      """WITH ex AS (
        |  SELECT source AS grp, unnest(string_split_regex(text, '\s+')) AS token
        |  FROM documents
        |), counts AS (
        |  SELECT grp, token, COUNT(*) AS c FROM ex GROUP BY grp, token
        |), global AS (
        |  SELECT token, CAST(SUM(c) AS BIGINT) AS gc FROM counts
        |  GROUP BY token ORDER BY gc DESC, token LIMIT 50
        |), gtot AS (SELECT CAST(SUM(gc) AS DOUBLE) AS gtot FROM global),
        |restricted AS (
        |  SELECT counts.grp, counts.c, global.gc
        |  FROM counts JOIN global USING (token)
        |), stot AS (
        |  SELECT grp, CAST(SUM(c) AS BIGINT) AS n_tokens
        |  FROM restricted GROUP BY grp
        |)
        |SELECT r.grp AS source, s.n_tokens,
        |  floor(SUM((r.c / s.n_tokens)
        |    * ln((r.c / s.n_tokens) / (r.gc / g.gtot))) * 1e6) / 1e6 AS kl
        |FROM restricted r JOIN stot s USING (grp) CROSS JOIN gtot g
        |GROUP BY r.grp, s.n_tokens
        |ORDER BY source""".stripMargin,

    // identical ntile over the same total order
    "q_doc_deciles" ->
      """WITH q AS (
        |  SELECT doc_id, source,
        |    floor(((least(CAST(len(l) AS DOUBLE) / 64.0, 1.0) * 0.5) +
        |      ((CAST(len(list_distinct(l)) AS DOUBLE)
        |        / CAST(len(l) AS DOUBLE)) * 0.5)) * 1e6) / 1e6 AS quality
        |  FROM (SELECT doc_id, source, string_split_regex(text, '\s+') AS l
        |        FROM documents
        |        WHERE source IN ('src0', 'src1', 'src2', 'src3'))
        |), d AS (
        |  SELECT source, quality,
        |    ntile(10) OVER (PARTITION BY source
        |                    ORDER BY quality, doc_id) AS decile
        |  FROM q
        |)
        |SELECT source, CAST(decile AS INT) AS decile, COUNT(*) AS n,
        |  MIN(quality) AS q_min, MAX(quality) AS q_max
        |FROM d GROUP BY source, decile
        |ORDER BY source, decile""".stripMargin,

    // exact interpolated medians are dyadic on integer inputs, so
    // med/mad/score reproduce bit-for-bit
    "q_doc_outliers" ->
      """WITH d AS (
        |  SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS n_chars_v
        |  FROM documents
        |), med AS (
        |  SELECT source, median(n_chars_v) AS med FROM d GROUP BY source
        |), j AS (
        |  SELECT d.doc_id, d.source, d.n_chars_v, med.med
        |  FROM d JOIN med USING (source)
        |), mad AS (
        |  SELECT source, median(abs(n_chars_v - med)) AS mad
        |  FROM j GROUP BY source
        |)
        |SELECT j.doc_id, j.source, j.n_chars_v, j.med, mad.mad,
        |  floor(abs(j.n_chars_v - j.med) / (1.4826 * mad.mad) * 1e6) / 1e6
        |    AS robust_z
        |FROM j JOIN mad USING (source)
        |WHERE mad.mad > 0
        |  AND floor(abs(j.n_chars_v - j.med) / (1.4826 * mad.mad) * 1e6)
        |      / 1e6 > 2.0
        |ORDER BY doc_id""".stripMargin,

    // quality-desc prefix selection under per-source token budgets;
    // the quality double is bit-identical across engines (fixed op
    // order over integer-derived values), so the DESC order and the
    // cumulative-sum cutoff reproduce exactly
    "q_doc_qualitysel" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split_regex(text, '\s+') AS l
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')
        |), q AS (
        |  SELECT doc_id, source, CAST(len(l) AS BIGINT) AS tok,
        |    (least(CAST(len(l) AS DOUBLE) / 64.0, 1.0) * 0.5) +
        |    ((CAST(len(list_distinct(l)) AS DOUBLE)
        |      / CAST(len(l) AS DOUBLE)) * 0.5) AS quality
        |  FROM t WHERE len(l) > 0
        |), c AS (
        |  SELECT doc_id, source,
        |    SUM(tok) OVER (PARTITION BY source
        |      ORDER BY quality DESC,
        |               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4), doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM q
        |)
        |SELECT doc_id, source FROM c
        |WHERE cum <= CASE source WHEN 'src0' THEN 400
        |                         WHEN 'src1' THEN 300 ELSE 200 END
        |ORDER BY doc_id""".stripMargin,

    // cross-source shingle Jaccard; the engine's per-doc-distinct
    // shingles are subsumed by the global (source, shingle) DISTINCT
    "q_doc_overlap" ->
      """WITH toks AS (
        |  SELECT source, string_split_regex(text, '\s+') AS t FROM documents
        |), sh AS (
        |  SELECT DISTINCT source, shingle FROM (
        |    SELECT source, unnest(list_transform(
        |      generate_series(1, len(t) - 2),
        |      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        |    FROM toks WHERE len(t) >= 3
        |  )
        |), counts AS (
        |  SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source
        |), shared AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        |  GROUP BY a.source, b.source
        |)
        |SELECT s.src_a, s.src_b, ca.n_sh AS n_a, cb.n_sh AS n_b,
        |  s.n_shared,
        |  floor(s.n_shared / (ca.n_sh + cb.n_sh - s.n_shared) * 1e6) / 1e6
        |    AS jaccard
        |FROM shared s
        |JOIN counts ca ON ca.source = s.src_a
        |JOIN counts cb ON cb.source = s.src_b
        |ORDER BY jaccard DESC, src_a, src_b
        |LIMIT 30""".stripMargin,

    // adjacent-bigram PMI: lockstep unnest of the two shifted slices
    // reproduces the engine's transform-over-index bigrams
    "q_doc_colloc" ->
      """WITH base AS (
        |  SELECT string_split_regex(text, '\s+') AS toks FROM documents
        |), bg AS (
        |  SELECT unnest(toks[1:len(toks)-1]) AS w1,
        |         unnest(toks[2:len(toks)]) AS w2
        |  FROM base WHERE len(toks) >= 2
        |), big AS (
        |  SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2
        |  HAVING COUNT(*) >= 5
        |), unic AS (
        |  SELECT w, COUNT(*) AS c
        |  FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w
        |), totals AS (
        |  SELECT CAST(SUM(len(toks)) AS DOUBLE) AS t,
        |         CAST(SUM(greatest(len(toks) - 1, 0)) AS DOUBLE) AS btot
        |  FROM base
        |)
        |SELECT b.w1, b.w2, b.c12 AS pair_count,
        |  floor(ln((b.c12 / tt.btot) / ((u1.c / tt.t) * (u2.c / tt.t)))
        |    * 1e6) / 1e6 AS pmi
        |FROM big b
        |JOIN unic u1 ON u1.w = b.w1
        |JOIN unic u2 ON u2.w = b.w2
        |CROSS JOIN totals tt
        |ORDER BY pmi DESC, w1, w2
        |LIMIT 20""".stripMargin,

    // First-batch-wins across batches, lowest id within a batch — the
    // incremental index's keep rule, replayed over the reconstructed
    // two-batch union.
    "q_dedup_incremental" ->
      """WITH all_rows AS (
        |  SELECT doc_id, text, 0 AS batch FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id + 100000, text, 1 FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT doc_id, text, 1 FROM documents WHERE doc_id % 2 = 1
        |), keyed AS (
        |  SELECT doc_id, batch,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM all_rows
        |)
        |SELECT doc_id FROM (
        |  SELECT doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY fp ORDER BY batch, doc_id) AS rn
        |  FROM keyed)
        |WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    // The full two-batch NEAR-dup decision replay (see the query comment):
    // exact-Jaccard pairs over the two-batch universe, min-id survivors of
    // the batch-1 closure, cross-batch drops against kept batch-1 docs,
    // then min-id survivors of the remaining batch-2 closure.
    "q_dedup_incremental_near" -> incrementalNearOracleSql,

    // streamed two-batch ingest == the batch incremental replay
    "q_stream_neardedup" -> incrementalNearOracleSql,

    // identical decisions through the compact-index LIFECYCLE path
    // (rereadFrom exact verify + compactIndex between batches): the
    // oracle is the SAME decision replay — compaction and the compact
    // verify mode provably change nothing
    "q_dedup_incremental_compact" -> incrementalNearOracleSql,

    // the SimHash incremental twin: signatures rebuilt bit-for-bit over
    // the two-batch universe (whitespace re-crawls share their
    // original's signature exactly), then the same decision replay —
    // batch-1 hamming<=3 closure survivors, cross-batch drops against
    // kept batch-1 signatures, closure survivors of the rest of batch 2
    "q_dedup_incremental_simhash" -> incrementalSimhashOracleSql,

    // streamed two-batch ingest through the simhashDedupSink == the
    // batch incremental replay
    "q_stream_simdedup_index" -> incrementalSimhashOracleSql,


    // Mirrors Profile.columnStats: COUNT(*) - COUNT(col) for nulls (both
    // engines type it BIGINT; SUM(CASE) would be HUGEINT in DuckDB),
    // min/max in native type rendered as VARCHAR.
    "q_doc_profile" -> Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n,
           |  COUNT(*) - COUNT($c) AS n_nulls,
           |  COUNT(DISTINCT $c) AS n_distinct,
           |  CAST(MIN($c) AS VARCHAR) AS min_s,
           |  CAST(MAX($c) AS VARCHAR) AS max_s
           |FROM documents""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),

    // Mirrors Text.dedupParagraphsGlobal: keep-first by (doc_id, pos)
    // per canonical paragraph fingerprint, whitespace-only paragraphs
    // kept everywhere, reassembly in position order.
    "q_doc_par_dedup" ->
      """WITH aug AS (
        |  SELECT doc_id, text || '|PROMO BLOCK '
        |    || CAST(doc_id % 5 AS VARCHAR)
        |    || '|tail ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents
        |), paras AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, '|')) AS para,
        |    unnest(generate_series(1, len(string_split(t, '|')))) AS pos
        |  FROM aug
        |), ranked AS (
        |  SELECT doc_id, pos, para,
        |    ROW_NUMBER() OVER (
        |      PARTITION BY md5(trim(regexp_replace(lower(para), '\s+', ' ', 'g')))
        |      ORDER BY doc_id, pos) AS rn
        |  FROM paras
        |), kept AS (
        |  SELECT doc_id, string_agg(para, '|' ORDER BY pos) AS text
        |  FROM ranked WHERE rn = 1 OR trim(para) = ''
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(k.text, '') AS text
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        |WHERE d.doc_id < 40 ORDER BY d.doc_id""".stripMargin,

    // Mirrors Similarity.quantScale/quantize: float max-abs, one double
    // division, plain floor(x/s + 0.5) — all engine-exact, so scale and
    // codes compare raw (no rounding shim needed).
    "q_embed_quantize" ->
      """WITH scaled AS (
        |  SELECT vec_id, embedding,
        |    CAST(greatest(list_max(embedding), -list_min(embedding))
        |         AS DOUBLE) / 127 AS scale
        |  FROM embeddings
        |)
        |SELECT vec_id, p.range AS pos,
        |  CAST(CASE WHEN scale = 0 THEN 0
        |    ELSE floor(CAST(embedding[CAST(p.range + 1 AS INT)] AS DOUBLE)
        |               / scale + 0.5) END AS INTEGER) AS qv,
        |  scale
        |FROM scaled CROSS JOIN range(64) p
        |ORDER BY vec_id, pos""".stripMargin,

    // Mirrors Similarity.pqTopK (m=4, codewords=16, candidates=100,
    // k=5, derived train fraction) exactly — training, encoding, LUTs,
    // ADC sums, and both rank cuts (see pqSubspaceCtes/pqOracleSql)
    "q_embed_pq" -> pqOracleSql(cw = 16, cand = 100, k = 5),

    // same replay with the codebooks trained on the even half only —
    // frozen-book appends make the rest of the encode identical
    "q_embed_pq_index" ->
      pqOracleSql(cw = 16, cand = 100, k = 5,
        trainPred = "vec_id % 2 = 0"),

    // IVF-PQ composition: the shared coarse-quantizer CTE chain
    // (cents3/bucketed), the four PQ subspace chains on the SAME train
    // sample, probe selection (dot DESC, cid ASC — the ivfTopKBatch
    // rule), ADC over probed cells only, exact rerank of the top 50
    "q_embed_ivfpq" ->
      (ivfCentroidCtes +
        """, qs AS (
          |  SELECT vec_id AS query_id, embedding AS qv FROM embeddings
          |  WHERE vec_id IN (0, 1, 2)
          |),
          |""".stripMargin +
        (0 until 4).map(s => pqSubspaceCtes(s, 16)).mkString(",\n") +
        """, probes AS (
          |  SELECT query_id, cid FROM (
          |    SELECT q.vec_id AS query_id, c.cid,
          |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
          |        ORDER BY list_reduce(list_prepend(0.0, list_transform(range(1, 65), j -> CAST(q.embedding[CAST(j AS INT)] AS DOUBLE) * c.vals[CAST(j AS INT)])), (acc, x) -> acc + x) DESC, c.cid ASC) AS rn
          |    FROM embeddings q CROSS JOIN cents3 c
          |    WHERE q.vec_id IN (0, 1, 2)) WHERE rn <= 2
          |), appx AS (
          |  SELECT p.query_id, bk.vec_id,
          |    ((l0.d + l1.d) + l2.d) + l3.d AS approx
          |  FROM probes p
          |  JOIN bucketed bk USING (cid)
          |  JOIN p0b b0 ON b0.vec_id = bk.vec_id
          |  JOIN p1b b1 ON b1.vec_id = bk.vec_id
          |  JOIN p2b b2 ON b2.vec_id = bk.vec_id
          |  JOIN p3b b3 ON b3.vec_id = bk.vec_id
          |  JOIN l0 ON l0.query_id = p.query_id AND l0.cid = b0.c0
          |  JOIN l1 ON l1.query_id = p.query_id AND l1.cid = b1.c1
          |  JOIN l2 ON l2.query_id = p.query_id AND l2.cid = b2.c2
          |  JOIN l3 ON l3.query_id = p.query_id AND l3.cid = b3.c3
          |  WHERE bk.vec_id <> p.query_id
          |), candp AS (
          |  SELECT query_id, vec_id, ROW_NUMBER() OVER (
          |    PARTITION BY query_id
          |    ORDER BY approx DESC, vec_id) AS crank FROM appx
          |), rrp AS (
          |  SELECT c.query_id, c.vec_id,
          |    list_cosine_similarity(e.embedding, q.qv) AS raw
          |  FROM candp c
          |  JOIN embeddings e ON e.vec_id = c.vec_id
          |  JOIN qs q ON q.query_id = c.query_id
          |  WHERE c.crank <= 50
          |), rankedp AS (
          |  SELECT query_id, vec_id, raw,
          |    ROW_NUMBER() OVER (PARTITION BY query_id
          |                       ORDER BY raw DESC, vec_id) AS rank
          |  FROM rrp)
          |SELECT query_id, vec_id, floor(raw * 1e4) / 1e4 AS score,
          |  CAST(rank AS BIGINT) AS rank
          |FROM rankedp WHERE rank <= 5
          |ORDER BY query_id, rank""".stripMargin),

    // Mirrors Similarity.quantizedTopK (k=5, candidates=20) exactly:
    // stage-1 code dots are exact small-integer sums (any accumulation
    // order is the same value), approx = (idot * cscale) * qscale in
    // Spark's multiply order, candidate cut by (approx DESC, vec_id);
    // stage 2 exact-cosine reranks the 20 survivors
    "q_embed_quant_topk" ->
      """WITH codes AS (
        |  SELECT vec_id, embedding, scale,
        |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0.0
        |      ELSE floor(CAST(x AS DOUBLE) / scale + 0.5) END) AS q
        |  FROM (
        |    SELECT vec_id, embedding,
        |      CAST(greatest(list_max(embedding), -list_min(embedding))
        |           AS DOUBLE) / 127 AS scale
        |    FROM embeddings)
        |), qs AS (
        |  SELECT vec_id AS query_id, q AS qq, scale AS qscale,
        |    embedding AS qv
        |  FROM codes WHERE vec_id IN (0, 1, 2)
        |), appx AS (
        |  SELECT qs.query_id, c.vec_id,
        |    (list_dot_product(c.q, qs.qq) * c.scale) * qs.qscale AS approx
        |  FROM codes c CROSS JOIN qs WHERE c.vec_id <> qs.query_id
        |), cand AS (
        |  SELECT query_id, vec_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY approx DESC, vec_id) AS crank
        |  FROM appx
        |), rr AS (
        |  SELECT c.query_id, c.vec_id,
        |    list_cosine_similarity(e.embedding, q.qv) AS raw
        |  FROM cand c
        |  JOIN embeddings e ON e.vec_id = c.vec_id
        |  JOIN qs q ON q.query_id = c.query_id
        |  WHERE c.crank <= 20
        |), ranked AS (
        |  SELECT query_id, vec_id, raw,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY raw DESC, vec_id) AS rank
        |  FROM rr)
        |SELECT query_id, vec_id, floor(raw * 1e4) / 1e4 AS score,
        |  CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // list_slice mirrors exactGroups' maxMembers=10000 member cap (no
    // group in this corpus is near the cap, so the slice is an identity
    // here — it documents the contract)
    "q_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  COUNT(*) AS n, MIN(doc_id) AS keep_id,
        |  list_slice(list(doc_id ORDER BY doc_id), 1, 10000) AS member_ids
        |FROM documents
        |GROUP BY 1 HAVING COUNT(*) > 1
        |ORDER BY fp""".stripMargin,

    "q_dedup_stats" ->
      """SELECT COUNT(*) AS n_total,
        |  COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
        |    AS n_unique
        |FROM documents""".stripMargin,

    "q_dedup_ngram" -> ngramJaccardOracleSql,

    // minhash-LSH emits exact-verified pairs; with measured recall 1.0 at
    // the test SFs its answer IS the exact n-gram answer, so the same
    // oracle applies (OpsSpec pins the recall; a banding regression that
    // drops a pair now fails the driver hash check, not just rows-only)
    "q_dedup_minhash" -> ngramJaccardOracleSql,

    "q_dedup_clusters" -> clusterOracleSql,

    // same snapshot synthesis; canonical fingerprint = the
    // q_doc_fingerprint formula
    "q_doc_diff" ->
      """WITH old AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 7 <> 0
        |), nw AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(
        |      CASE WHEN doc_id % 11 = 0 THEN text || ' ' || text
        |           ELSE text END), '\s+', ' ', 'g'))) AS fp
        |  FROM documents WHERE doc_id % 5 <> 0
        |)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.fp IS NULL THEN 'added'
        |       WHEN n.fp IS NULL THEN 'removed'
        |       WHEN o.fp = n.fp THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM old o FULL OUTER JOIN nw n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin,

    // same recursive closure; survivors are the per-cluster quality
    // argmax instead of the min id
    "q_dedup_best" -> (
      s"WITH RECURSIVE ${ngramPairCtes()},\n" +
        """edges AS (
          |  SELECT id1 AS a, id2 AS b FROM qual
          |  UNION
          |  SELECT id2, id1 FROM qual
          |), reach(a, b) AS (
          |  SELECT a, b FROM edges
          |  UNION
          |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
          |), comp AS (
          |  SELECT a AS doc_id, least(a, min(b)) AS cluster_id
          |  FROM reach GROUP BY a
          |), score AS (
          |  SELECT doc_id,
          |    (least(CAST(len(l) AS DOUBLE) / 64.0, 1.0) * 0.5) +
          |    ((CAST(len(list_distinct(l)) AS DOUBLE)
          |      / CAST(len(l) AS DOUBLE)) * 0.5) AS quality
          |  FROM (SELECT doc_id, string_split_regex(text, '\s+') AS l
          |        FROM documents)
          |), ranked AS (
          |  SELECT c.doc_id,
          |    ROW_NUMBER() OVER (PARTITION BY c.cluster_id
          |      ORDER BY s.quality DESC, c.doc_id) AS rn
          |  FROM comp c JOIN score s USING (doc_id)
          |)
          |SELECT doc_id FROM documents
          |WHERE doc_id NOT IN (SELECT doc_id FROM ranked WHERE rn > 1)
          |ORDER BY doc_id""".stripMargin),

    "q_doc_redact" ->
      """WITH dirty AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR)
        |      || '@example.com or 555-'
        |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
        |      || '-6789 from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |      || '.7 ssn 123-45-6789' AS d
        |  FROM documents WHERE doc_id < 40
        |)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(d, '\b\d{3}-\d{2}-\d{4}\b'))
        |   + len(regexp_extract_all(d,
        |       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |   + len(regexp_extract_all(d, '\b\d{3}[-.]\d{3}[-.]\d{4}\b'))
        |   + len(regexp_extract_all(d,
        |       '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER)
        |    AS n_pii,
        |  right(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(d,
        |      '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
        |    , 120) AS tail_redacted
        |FROM dirty ORDER BY doc_id""".stripMargin,

    "q_doc_lines" ->
      """WITH aug AS (
        |  SELECT doc_id, 'SHARED HEADER|' || text || '|COPYRIGHT FOOTER|'
        |    || 'unique tail ' || CAST(doc_id AS VARCHAR) AS t
        |  FROM documents
        |), lines AS (
        |  SELECT doc_id,
        |    unnest(string_split(t, '|')) AS line,
        |    unnest(generate_series(1, len(string_split(t, '|')))) AS pos
        |  FROM aug
        |), hot AS (
        |  SELECT line FROM lines GROUP BY line
        |  HAVING COUNT(DISTINCT doc_id) >= 100
        |), kept AS (
        |  SELECT doc_id, string_agg(line, '|' ORDER BY pos) AS text
        |  FROM lines WHERE line NOT IN (SELECT line FROM hot)
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(k.text, '') AS text
        |FROM documents d LEFT JOIN kept k USING (doc_id)
        |WHERE d.doc_id < 30 ORDER BY d.doc_id""".stripMargin,

    "q_embed_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id IN (0, 1, 2)),
        |scored AS (
        |  SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(e.embedding, q.qv) AS raw
        |  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id),
        |ranked AS (
        |  SELECT query_id, vec_id, raw,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY raw DESC, vec_id) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, floor(raw * 1e4) / 1e4 AS score,
        |  CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // Mirrors Similarity.lshTopK (planes=8, radius=1, seed=42) exactly:
    // hyperplane (p,i) = fmix64(42 + p*64 + i) top-53-bits / 2^53 * 2 - 1
    // (a dyadic rational — exact in both engines); dot products fold
    // left-to-right like Spark's aggregate() so signature signs agree
    // bit-for-bit; probes = own bucket + 8 Hamming-1 buckets; candidates
    // ranked by exact cosine.
    // Two-batch semantic-dedup replay: candidates = signature Hamming
    // <= 2 (the engine's radius-2 multi-probe meets a pair iff their
    // signatures differ in <= 2 bits) verified at exact cosine >= 0.9.
    // Batch bt of an id: re-arrivals (id >= 100000) are batch 1, else
    // id % 2. k1 = min-id component survivors among batch 0; batch-1
    // ids drop on any candidate edge to k1; survivors close in-batch.
    "q_embed_incremental" ->
      ("""WITH RECURSIVE ev AS (
        |  SELECT vec_id, embedding FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 100000, embedding FROM embeddings
        |  WHERE vec_id % 6 = 0
        |), """.stripMargin + lshSigCteFor("ev") +
        """, cand AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id
        |  JOIN ev ea ON ea.vec_id = a.vec_id
        |  JOIN ev eb ON eb.vec_id = b.vec_id
        |  WHERE bit_count(xor(a.sig, b.sig)) <= 2
        |    AND list_cosine_similarity(ea.embedding, eb.embedding) >= 0.9
        |), e1 AS (
        |  SELECT id1 AS a, id2 AS b FROM cand
        |  WHERE id1 % 2 = 0 AND id1 < 100000 AND id2 % 2 = 0 AND id2 < 100000
        |  UNION SELECT id2, id1 FROM cand
        |  WHERE id1 % 2 = 0 AND id1 < 100000 AND id2 % 2 = 0 AND id2 < 100000
        |), r1(a, b) AS (
        |  SELECT a, b FROM e1
        |  UNION SELECT r.a, e.b FROM r1 r JOIN e1 e ON r.b = e.a
        |), k1 AS (
        |  SELECT vec_id FROM ev
        |  WHERE vec_id % 2 = 0 AND vec_id < 100000
        |    AND vec_id NOT IN (
        |      SELECT a FROM r1 GROUP BY a HAVING MIN(b) < a)
        |), b2 AS (
        |  SELECT vec_id FROM ev WHERE vec_id % 2 = 1 OR vec_id >= 100000
        |), fresh2 AS (
        |  SELECT vec_id FROM b2 t WHERE NOT EXISTS (
        |    SELECT 1 FROM cand c JOIN k1 ON
        |      (c.id1 = k1.vec_id AND c.id2 = t.vec_id)
        |      OR (c.id2 = k1.vec_id AND c.id1 = t.vec_id))
        |), e2 AS (
        |  SELECT id1 AS a, id2 AS b FROM cand
        |  WHERE id1 IN (SELECT vec_id FROM fresh2)
        |    AND id2 IN (SELECT vec_id FROM fresh2)
        |  UNION SELECT id2, id1 FROM cand
        |  WHERE id1 IN (SELECT vec_id FROM fresh2)
        |    AND id2 IN (SELECT vec_id FROM fresh2)
        |), r2(a, b) AS (
        |  SELECT a, b FROM e2
        |  UNION SELECT r.a, e.b FROM r2 r JOIN e2 e ON r.b = e.a
        |), k2 AS (
        |  SELECT vec_id FROM fresh2
        |  WHERE vec_id NOT IN (
        |    SELECT a FROM r2 GROUP BY a HAVING MIN(b) < a)
        |)
        |SELECT vec_id FROM k1
        |UNION ALL SELECT vec_id FROM k2
        |ORDER BY vec_id""".stripMargin),

    // single-drain streaming semantic dedup == in-batch canonical
    // closure over LSH candidates (Hamming <= 2) at exact cosine >= 0.9
    "q_stream_semantic" ->
      ("WITH RECURSIVE " + lshSigCteFor("embeddings") +
        """, cand AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM sigs a JOIN sigs b ON a.vec_id < b.vec_id
        |  JOIN embeddings ea ON ea.vec_id = a.vec_id
        |  JOIN embeddings eb ON eb.vec_id = b.vec_id
        |  WHERE bit_count(xor(a.sig, b.sig)) <= 2
        |    AND list_cosine_similarity(ea.embedding, eb.embedding) >= 0.9
        |), edges AS (
        |  SELECT id1 AS a, id2 AS b FROM cand
        |  UNION SELECT id2, id1 FROM cand
        |), reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |)
        |SELECT vec_id FROM embeddings
        |WHERE vec_id NOT IN (
        |  SELECT a FROM reach GROUP BY a HAVING MIN(b) < a)
        |ORDER BY vec_id""".stripMargin),

    "q_embed_ann" -> (lshSigCte +
      """, probes AS (
        |  SELECT s.vec_id AS query_id,
        |    unnest(list_prepend(s.sig,
        |      list_transform(range(0, 8),
        |        i -> xor(s.sig, CAST(1 AS BIGINT) << i)))) AS psig
        |  FROM sigs s WHERE s.vec_id IN (0, 1, 2)
        |), cand AS (
        |  SELECT DISTINCT p.query_id, c.vec_id
        |  FROM probes p JOIN sigs c ON c.sig = p.psig
        |  WHERE c.vec_id <> p.query_id
        |), scored AS (
        |  SELECT cand.query_id, cand.vec_id,
        |    list_cosine_similarity(ce.embedding, qe.embedding) AS raw
        |  FROM cand
        |  JOIN embeddings ce ON ce.vec_id = cand.vec_id
        |  JOIN embeddings qe ON qe.vec_id = cand.query_id
        |), ranked AS (
        |  SELECT query_id, vec_id, raw,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |                       ORDER BY raw DESC, vec_id) AS rank
        |  FROM scored
        |)
        |SELECT query_id, vec_id, floor(raw * 1e4) / 1e4 AS score,
        |  CAST(rank AS BIGINT) AS rank
        |FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin),

    // Mirrors Similarity.annCosinePairs (planes=8, radius=2): candidate
    // pairs are signature pairs within Hamming distance 2 (bit_count of
    // the xor — exactly the multi-probe coverage), each verified by
    // exact cosine at the same threshold.
    "q_embed_annpairs" -> (lshSigCte +
      """
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  floor(list_cosine_similarity(ea.embedding, eb.embedding) * 1e4)
        |    / 1e4 AS score
        |FROM sigs a JOIN sigs b
        |  ON a.vec_id < b.vec_id AND bit_count(xor(a.sig, b.sig)) <= 2
        |JOIN embeddings ea ON ea.vec_id = a.vec_id
        |JOIN embeddings eb ON eb.vec_id = b.vec_id
        |WHERE list_cosine_similarity(ea.embedding, eb.embedding) >= 0.4
        |ORDER BY id1, id2""".stripMargin),

    // Mirrors Similarity.ivfTopK (numCentroids=8, nprobe=2, iters=3,
    // derived trainFraction with targetTrain=16000) exactly: the TRAIN
    // set is the deterministic md5-threshold sample at the DERIVED
    // fraction min(1, 16000/count) — the threshold CTE reproduces
    // Sampling.hexThreshold's floor(fraction*65536 + 0.5) in the same
    // float op order, and the keep-all disjunct mirrors its keepsAll
    // short-circuit (>= 65536 keeps every row exactly, no hash filter).
    // Then: seed centroids = the train set's 8 lowest-id vectors, three
    // unrolled Lloyd iterations over the train set (assign by
    // left-to-right-fold dot, ties to HIGHER cid; per-dimension means
    // floor-rounded at 1e-6 after normalization — the rounding that
    // makes centroids identical across engines), then the inverted-file
    // probe over the FULL corpus (ties to LOWER cid, matching the
    // driver-side sortBy) and exact cosine ranking.
    "q_embed_ivf" ->
      (ivfCentroidCtes + ivfProbeRankSql("q.vec_id IN (0, 1, 2)", 2, 5)),

    // the BATCHED distributed-probe variant: same centroids, same probe
    // rule, a query TABLE (every 10th vector) instead of a probe set
    "q_embed_ivf_batch" ->
      (ivfCentroidCtes + ivfProbeRankSql("q.vec_id % 10 = 7", 2, 5)),
    "q_embed_recall" ->
      (ivfCentroidCtes + ivfRecallSql("q.vec_id % 10 = 7", 2, 5)),

    // the nprobe sweep: each point is the full recall replay nested as
    // a derived table (DuckDB scopes each point's CTE chain to its
    // subquery, so the four chains do not collide), micro-averaged
    "q_embed_recall_sweep" -> s"""
      |SELECT * FROM (
      |  ${Seq(1, 2, 4, 8).map(np =>
           s"""SELECT $np AS nprobe,
           |  CAST(SUM(n_hit) AS BIGINT) AS n_hit,
           |  CAST(SUM(n_exact) AS BIGINT) AS n_exact,
           |  CAST(SUM(n_hit) AS DOUBLE) / SUM(n_exact) AS recall
           |FROM (${ivfCentroidCtes +
                ivfRecallSql("q.vec_id % 10 = 7", np, 5)})""".stripMargin)
           .mkString("\n  UNION ALL\n  ")}
      |) ORDER BY nprobe""".stripMargin,

    // prototypicality-prune replay: the shared centroid/assignment CTE
    // chain, then proto = exact left-to-right dot fold over the member
    // and its centroid divided by the two exactly-folded norms (the
    // engine's CosineSim loop, accumulator by accumulator), 1e-6
    // floored, ranked ascending within each cluster
    "q_embed_proto" -> (ivfCentroidCtes +
      """, proto AS (
        |  SELECT b.vec_id, b.cid,
        |    floor(
        |      list_reduce(list_prepend(0.0, list_transform(range(1, 65),
        |        j -> CAST(e.embedding[CAST(j AS INT)] AS DOUBLE)
        |             * c.vals[CAST(j AS INT)])), (acc, x) -> acc + x)
        |      / (sqrt(list_reduce(list_prepend(0.0,
        |           list_transform(range(1, 65),
        |             j -> CAST(e.embedding[CAST(j AS INT)] AS DOUBLE)
        |                  * CAST(e.embedding[CAST(j AS INT)] AS DOUBLE))),
        |           (acc, x) -> acc + x))
        |         * sqrt(list_reduce(list_prepend(0.0,
        |             list_transform(range(1, 65),
        |               j -> c.vals[CAST(j AS INT)] * c.vals[CAST(j AS INT)])),
        |             (acc, x) -> acc + x)))
        |      * 1e6) / 1e6 AS proto
        |  FROM bucketed b
        |  JOIN embeddings e USING (vec_id)
        |  JOIN cents3 c USING (cid)
        |  WHERE list_dot_product(e.embedding, e.embedding) > 0
        |), pruned AS (
        |  SELECT vec_id, cid, proto,
        |    ROW_NUMBER() OVER (PARTITION BY cid ORDER BY proto, vec_id)
        |      AS rank
        |  FROM proto
        |)
        |SELECT vec_id, cid, proto, CAST(rank AS INT) AS rank
        |FROM pruned WHERE rank <= 10
        |ORDER BY cid, rank""".stripMargin),

    "q_embed_pairs" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  floor(list_cosine_similarity(a.embedding, b.embedding) * 1e4) / 1e4
        |    AS score
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        |ORDER BY id1, id2""".stripMargin,

    // the dot(v,v) > 0 guards on BOTH sides mirror semanticReport's
    // zero-norm filters: DuckDB's list_cosine_similarity on a zero
    // vector yields NaN, which DuckDB orders ABOVE all numbers — without
    // the guards an all-zero embedding in future test data would flag
    // everything in the oracle while the engine (correctly) drops it
    "q_embed_contamination" ->
      """WITH bench AS (
        |  SELECT embedding AS bv FROM embeddings
        |  WHERE vec_id < 100 AND list_dot_product(embedding, embedding) > 0
        |), hits AS (
        |  SELECT e.vec_id AS id,
        |    list_cosine_similarity(e.embedding, b.bv) AS c
        |  FROM embeddings e CROSS JOIN bench b
        |  WHERE e.vec_id >= 100
        |    AND list_dot_product(e.embedding, e.embedding) > 0)
        |SELECT id, COUNT(*) AS n_hits, floor(MAX(c) * 1e4) / 1e4 AS max_cos
        |FROM hits WHERE c >= 0.42
        |GROUP BY id ORDER BY id""".stripMargin,

    // same pair set as q_embed_pairs, closed transitively (recursive CTE)
    // and reduced to the min-id survivor per component
    "q_embed_semdedup" ->
      """WITH RECURSIVE qual AS (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4
        |), edges AS (
        |  SELECT id1 AS a, id2 AS b FROM qual
        |  UNION
        |  SELECT id2, id1 FROM qual
        |), reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
        |), drop_ids AS (
        |  SELECT a AS vec_id FROM reach GROUP BY a HAVING MIN(b) < a
        |)
        |SELECT e.vec_id, e.label FROM embeddings e
        |WHERE e.vec_id NOT IN (SELECT vec_id FROM drop_ids)
        |ORDER BY e.vec_id""".stripMargin,

    // Mirrors Dedup.simhash64 exactly: per-token polynomial hash over
    // UTF-8 bytes mod 2^64, fmix64 finalizer (xor-shift-33 = // 2^33 on
    // the unsigned domain; mulmod 2^64 split into 32-bit halves so the
    // 128-bit intermediate never overflows HUGEINT), per-bit +-1 votes,
    // signed 64-bit signature, then the exact hamming<=3 pair set. The
    // oracle does the quadratic all-pairs join (fine at oracle scale);
    // the engine's banded candidate generation must reproduce it exactly.
    // (The signature CTE chain is shared with q_stream_simdedup via
    // simhashFpCtes below.)
    "q_dedup_simhash" ->
      (s"WITH RECURSIVE ${simhashFpCtes()}\n" +
        """SELECT a.id AS id1, b.id AS id2,
          |  CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
          |FROM fp a JOIN fp b ON a.id < b.id
          |WHERE bit_count(xor(a.f, b.f)) <= 3
          |ORDER BY id1, id2""".stripMargin),

    // ExactSubstr spans: every 8-token window fingerprint occurring
    // twice+ corpus-wide, overlapping windows merged per doc via the
    // same two-level running-max interval merge the engine runs.
    "q_doc_span_dedup" ->
      (s"WITH $spanDedupCtes\n" +
        """SELECT doc_id, span_start, span_end,
          |  span_end - span_start AS span_tokens
          |FROM spans ORDER BY doc_id, span_start""".stripMargin),

    // one AvailableNow drain = one micro-batch = the batch marking
    "q_stream_span" ->
      (s"WITH $spanDedupCtes\n" +
        """SELECT doc_id, span_start, span_end,
          |  span_end - span_start AS span_tokens
          |FROM spans ORDER BY doc_id, span_start""".stripMargin),

    // per-source duplicated-token fraction over the same span CTEs
    "q_doc_span_ratio" ->
      (s"WITH $spanDedupCtes,\n" +
        """dpd AS (
          |  SELECT doc_id, CAST(SUM(span_end - span_start) AS BIGINT)
          |    AS dup_tokens
          |  FROM spans GROUP BY doc_id
          |)
          |SELECT source, COUNT(*) AS n_docs,
          |  CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT)
          |    AS total_tokens,
          |  CAST(SUM(COALESCE(dup_tokens, 0)) AS BIGINT) AS dup_tokens,
          |  floor(CAST(SUM(COALESCE(dup_tokens, 0)) AS DOUBLE)
          |    / SUM(len(string_split_regex(text, '\s+'))) * 1e6) / 1e6
          |    AS dup_ratio
          |FROM documents LEFT JOIN dpd USING (doc_id)
          |GROUP BY source ORDER BY source""".stripMargin),

    // The incremental fold: batch-0 (even docs) windows mark against
    // batch-0 counts only; batch-1 (odd) windows mark against both.
    "q_doc_span_incremental" ->
      """WITH toks AS (
        |  SELECT doc_id, doc_id % 2 AS bt,
        |    string_split_regex(text, '\s+') AS t
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, bt, i - 1 AS pos,
        |    md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM toks, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8
        |), hc AS (
        |  SELECT h, SUM(CASE WHEN bt = 0 THEN 1 ELSE 0 END) AS c0,
        |    SUM(CASE WHEN bt = 1 THEN 1 ELSE 0 END) AS c1
        |  FROM g GROUP BY h
        |), mk AS (
        |  SELECT g.doc_id, g.pos AS s, g.pos + 8 AS e
        |  FROM g JOIN hc USING (h)
        |  WHERE (g.bt = 0 AND hc.c0 >= 2)
        |     OR (g.bt = 1 AND hc.c0 + hc.c1 >= 2)
        |), m1 AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS f
        |  FROM mk
        |), m2 AS (
        |  SELECT doc_id, s, e,
        |    SUM(f) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS gid
        |  FROM m1
        |), spans AS (
        |  SELECT doc_id, gid, MIN(s) AS span_start, MAX(e) AS span_end
        |  FROM m2 GROUP BY 1, 2
        |)
        |SELECT doc_id, span_start, span_end,
        |  span_end - span_start AS span_tokens
        |FROM spans ORDER BY doc_id, span_start""".stripMargin,

    // The removal pass: tokens inside any span are cut, survivors
    // re-joined on single spaces (a fully-duplicated doc cleans to '').
    // benchmark-window fingerprints mark corpus windows; merged spans
    // cut; same tokpos/kept/agg replay as q_doc_span_clean
    "q_doc_span_decontaminate" ->
      """WITH ctoks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t
        |  FROM documents WHERE doc_id >= 20
        |), btoks AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS t
        |  FROM documents WHERE doc_id < 20
        |), bh AS (
        |  SELECT DISTINCT md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM btoks, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8
        |), cg AS (
        |  SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+7], ' ')) AS h
        |  FROM ctoks, unnest(generate_series(1, len(t) - 7)) AS u(i)
        |  WHERE len(t) >= 8
        |), mk AS (
        |  SELECT cg.doc_id, cg.pos AS s, cg.pos + 8 AS e
        |  FROM cg JOIN bh USING (h)
        |), m1 AS (
        |  SELECT doc_id, s, e,
        |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS f
        |  FROM mk
        |), m2 AS (
        |  SELECT doc_id, s, e,
        |    SUM(f) OVER (PARTITION BY doc_id ORDER BY s
        |      ROWS UNBOUNDED PRECEDING) AS gid
        |  FROM m1
        |), spans AS (
        |  SELECT doc_id, gid, MIN(s) AS span_start, MAX(e) AS span_end
        |  FROM m2 GROUP BY 1, 2
        |), tokpos AS (
        |  SELECT doc_id, i - 1 AS pos, t[i] AS tok
        |  FROM ctoks, unnest(generate_series(1, len(t))) AS u(i)
        |), kept AS (
        |  SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
        |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = tp.doc_id
        |      AND tp.pos >= sp.span_start AND tp.pos < sp.span_end)
        |), ka AS (
        |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
        |    COUNT(*) AS n_kept
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT t.doc_id,
        |  CAST(len(t.t) - COALESCE(ka.n_kept, 0) AS BIGINT)
        |    AS n_removed_tokens,
        |  md5(COALESCE(ka.clean_text, '')) AS clean_fp
        |FROM ctoks t LEFT JOIN ka USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    "q_doc_span_clean" ->
      (s"WITH $spanDedupCtes, tokpos AS (\n" +
        """  SELECT doc_id, i - 1 AS pos, t[i] AS tok
          |  FROM toks, unnest(generate_series(1, len(t))) AS u(i)
          |), kept AS (
          |  SELECT tp.doc_id, tp.pos, tp.tok FROM tokpos tp
          |  WHERE NOT EXISTS (SELECT 1 FROM spans sp
          |    WHERE sp.doc_id = tp.doc_id
          |      AND tp.pos >= sp.span_start AND tp.pos < sp.span_end)
          |), ka AS (
          |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
          |    COUNT(*) AS n_kept
          |  FROM kept GROUP BY doc_id
          |)
          |SELECT t.doc_id,
          |  CAST(len(t.t) - COALESCE(ka.n_kept, 0) AS BIGINT)
          |    AS n_removed_tokens,
          |  md5(COALESCE(ka.clean_text, '')) AS clean_fp
          |FROM toks t LEFT JOIN ka USING (doc_id)
          |ORDER BY t.doc_id""".stripMargin),

    // One survivor per (source, signature) regardless of arrival order:
    // the streaming drain == batch COUNT(DISTINCT signature) per source.
    "q_stream_simdedup" ->
      (s"WITH RECURSIVE ${simhashFpCtes()}\n" +
        """SELECT d.source, COUNT(DISTINCT f.f) AS n_unique
          |FROM documents d JOIN fp f ON d.doc_id = f.id
          |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // Mirrors Text.winnowingFingerprint (k=8, w=4): canonicalize
    // (lower, collapse \s+, trim), polynomial k-gram hash
    // h = (h*1000000007 + char) mod 2^64 in HUGEINT, convert to signed
    // BIGINT (Java long semantics) BEFORE the window minima — the engine
    // compares signed longs — then distinct. Valid on the ASCII fixture
    // slice where Java charAt == DuckDB codepoints.
    "q_doc_winnow" ->
      """WITH c AS (
        |  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS s
        |  FROM documents WHERE doc_id < 20
        |), d AS (
        |  SELECT doc_id, s, length(s) AS ln FROM c WHERE length(s) >= 8
        |), h AS (
        |  SELECT doc_id, ln - 7 AS n,
        |    list_transform(
        |      list_transform(range(1, ln - 7 + 1), i ->
        |        list_reduce(
        |          list_prepend(CAST(0 AS HUGEINT),
        |            list_transform(range(CAST(i AS INT), CAST(i + 8 AS INT)),
        |              j -> CAST(unicode(substr(s, CAST(j AS INT), 1)) AS HUGEINT))),
        |          (acc, ch) -> (acc * 1000000007 + ch)
        |                       % CAST('18446744073709551616' AS HUGEINT))),
        |      hv -> CAST(CASE WHEN hv >= CAST('9223372036854775808' AS HUGEINT)
        |                 THEN hv - CAST('18446744073709551616' AS HUGEINT)
        |                 ELSE hv END AS BIGINT)) AS hs
        |  FROM d
        |), w AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(0, greatest(n - 4, 0) + 1),
        |      st -> list_min(list_slice(hs, CAST(st + 1 AS INT),
        |                                CAST(least(st + 4, n) AS INT))))) AS fps
        |  FROM h
        |)
        |SELECT doc_id, CAST(unnest(fps) AS BIGINT) AS fp_hash
        |FROM w ORDER BY doc_id, fp_hash""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id AS asset_id, 'image' AS modality,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |FROM documents WHERE doc_id < 50 ORDER BY asset_id""".stripMargin,

    // byte-bigram histogram hash rebuilt bit-for-bit in HUGEINT, signed
    // 64-bit wrap, then brute-force Hamming pairs (the banding is a
    // complete candidate generator up to Hamming 3, so candidates ==
    // the exact answer)
    "q_multimodal_phash" ->
      """WITH RECURSIVE pow2(b, p) AS (
        |  SELECT 0, CAST(1 AS HUGEINT)
        |  UNION ALL SELECT b + 1, p * 2 FROM pow2 WHERE b < 63
        |), a AS (
        |  SELECT doc_id AS asset_id, encode(text) AS payload FROM documents
        |), bt AS (
        |  SELECT asset_id, octet_length(payload) AS blen, hex(payload) AS hx
        |  FROM a
        |), bytes AS (
        |  SELECT asset_id, blen,
        |    list_transform(range(1, blen + 1),
        |      i -> CAST(strpos('0123456789ABCDEF',
        |                       substr(hx, CAST(2*i-1 AS INT), 1)) - 1
        |             AS HUGEINT) * 16
        |           + (strpos('0123456789ABCDEF',
        |                     substr(hx, CAST(2*i AS INT), 1)) - 1)) AS bl
        |  FROM bt
        |), bg AS (
        |  SELECT asset_id, blen - 1 AS n,
        |    list_transform(range(1, blen),
        |      i -> (bl[CAST(i AS INT)] * 31 + bl[CAST(i AS INT) + 1]) % 64)
        |      AS bk
        |  FROM bytes WHERE blen >= 2
        |), hist AS (
        |  SELECT asset_id, n, k, COUNT(*) AS c
        |  FROM (SELECT asset_id, n, unnest(bk) AS k FROM bg)
        |  GROUP BY asset_id, n, k
        |), sigs AS (
        |  SELECT h.asset_id,
        |    SUM(CASE WHEN h.c * 64 > h.n THEN p.p
        |             ELSE CAST(0 AS HUGEINT) END) AS sig_u
        |  FROM hist h JOIN pow2 p ON p.b = h.k
        |  GROUP BY h.asset_id
        |), fp AS (
        |  SELECT asset_id AS id,
        |    CAST(CASE WHEN sig_u >= CAST('9223372036854775808' AS HUGEINT)
        |         THEN sig_u - CAST('18446744073709551616' AS HUGEINT)
        |         ELSE sig_u END AS BIGINT) AS f
        |  FROM sigs
        |  UNION ALL
        |  -- engine hashes degenerate (< 2 byte) payloads to 0
        |  SELECT asset_id, CAST(0 AS BIGINT) FROM bt WHERE blen < 2
        |)
        |SELECT a.id AS id1, b.id AS id2,
        |  CAST(bit_count(xor(a.f, b.f)) AS INT) AS hamming
        |FROM fp a JOIN fp b ON a.id < b.id
        |WHERE bit_count(xor(a.f, b.f)) <= 2
        |ORDER BY id1, id2""".stripMargin,

    // Mirrors Multimodal.decodeStub exactly: UTF-8 payload bytes
    // recovered via hex(), checksum (acc*31+b) mod 2^63 in HUGEINT,
    // byte%16 histogram with zero buckets kept via the range(16) grid.
    "q_multimodal_features" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id, encode(text) AS payload
        |  FROM documents WHERE doc_id < 50
        |), b AS (
        |  SELECT asset_id, octet_length(payload) AS blen, hex(payload) AS hx
        |  FROM a
        |), bytes AS (
        |  SELECT asset_id, blen,
        |    list_transform(range(1, blen + 1),
        |      i -> CAST(strpos('0123456789ABCDEF',
        |                       substr(hx, CAST(2*i-1 AS INT), 1)) - 1
        |             AS HUGEINT) * 16
        |           + (strpos('0123456789ABCDEF',
        |                     substr(hx, CAST(2*i AS INT), 1)) - 1)) AS bl,
        |    lower(substr(hx, 1, 16)) AS head_hex
        |  FROM b
        |), feat AS (
        |  SELECT asset_id, CAST(blen AS BIGINT) AS byte_len,
        |    CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT), bl),
        |      (acc, x) -> (acc*31 + x) % CAST('9223372036854775808' AS HUGEINT))
        |      AS BIGINT) AS checksum,
        |    head_hex, bl
        |  FROM bytes
        |), hb AS (
        |  SELECT asset_id, CAST(x % 16 AS BIGINT) AS bucket, count(*) AS cnt
        |  FROM (SELECT asset_id, unnest(bl) AS x FROM feat) GROUP BY 1, 2
        |)
        |SELECT f.asset_id, f.byte_len, f.checksum, f.head_hex,
        |       CAST(g.range AS INT) AS bucket,
        |       CAST(COALESCE(hb.cnt, 0) AS BIGINT) AS bucket_count
        |FROM feat f CROSS JOIN range(16) g
        |LEFT JOIN hb ON hb.asset_id = f.asset_id AND hb.bucket = g.range
        |ORDER BY f.asset_id, bucket""".stripMargin,

    // Mirrors Multimodal.sampleFrames: 64-byte chunks, every 2nd chunk,
    // same (acc*31+b) mod 2^63 checksum over each chunk's byte slice.
    "q_multimodal_frames" ->
      """WITH a AS (
        |  SELECT doc_id AS asset_id, encode(text) AS payload
        |  FROM documents WHERE doc_id < 10
        |), b AS (
        |  SELECT asset_id, octet_length(payload) AS blen, hex(payload) AS hx
        |  FROM a
        |), bytes AS (
        |  SELECT asset_id, blen,
        |    list_transform(range(1, blen + 1),
        |      i -> CAST(strpos('0123456789ABCDEF',
        |                       substr(hx, CAST(2*i-1 AS INT), 1)) - 1
        |             AS HUGEINT) * 16
        |           + (strpos('0123456789ABCDEF',
        |                     substr(hx, CAST(2*i AS INT), 1)) - 1)) AS bl
        |  FROM b
        |), fx AS (
        |  SELECT asset_id, blen, bl,
        |    unnest(range(0, CAST(ceil(blen / 64.0) AS BIGINT), 2)) AS frame_idx
        |  FROM bytes
        |)
        |SELECT asset_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(list_reduce(list_prepend(CAST(0 AS HUGEINT),
        |      list_slice(bl, CAST(frame_idx*64 + 1 AS INT),
        |                 CAST(least((frame_idx+1)*64, blen) AS INT))),
        |    (acc, x) -> (acc*31 + x) % CAST('9223372036854775808' AS HUGEINT))
        |    AS BIGINT) AS frame_checksum
        |FROM fx
        |ORDER BY asset_id, frame_idx""".stripMargin
  )
}
