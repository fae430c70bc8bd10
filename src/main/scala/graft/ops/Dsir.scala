package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Fs

/** DSIR-style data selection via importance resampling (Xie et al. 2023,
  * "Data Selection for Language Models via Importance Resampling",
  * NeurIPS). Scores every raw-corpus document by how target-like its
  * hashed n-gram profile is, then keeps the top-n: the standard way a
  * pretraining pipeline tilts a web-scale crawl toward a small
  * high-quality target domain without training a classifier.
  *
  * Features are unigrams plus adjacent bigrams hashed into `buckets`
  * cells (the paper's hashed n-gram generative model). Both the target
  * and the raw distributions are Laplace-1 smoothed bag-of-buckets
  * models; a document's log importance weight is
  *
  *   logw(d) = sum over buckets f of  c_f(d) * ( ln p_target(f) - ln p_raw(f) )
  *
  * i.e. the log-likelihood ratio of the document under the two unigram
  * bucket models. The selection here is the deterministic top-n by
  * `(logw desc, id)` — the "top-k variant" of the paper's Gumbel
  * resampling; the engine is RNG-free by design, and the Gumbel noise
  * exists to de-duplicate near-boundary mass, which the hash tiebreak
  * already provides deterministically.
  *
  * Portability: the bucket hash is `md5(gram)` hex-prefix mod `buckets`
  * (DuckDB replays it as `('0x' || substr(md5(g),1,6))::INT % B`);
  * `logw` is 1e-6-floor-rounded with the same per-term `ln` ulp caveat
  * as [[Text.unigramSurprisal]] — boundary flips rare, not impossible.
  *
  * Scale shape: two tokenize passes over the raw corpus (the
  * [[Text.unigramSurprisal]] minimal shape) — the per-doc (doc, bucket)
  * count shuffle, which is the only corpus-sized exchange, and the raw
  * bucket distribution, which partial-aggregates map-side to at most
  * `buckets` cells per task; the target distribution is one
  * explode+count over the target sample (a target is small by the
  * paper's construction, but nothing here requires it); the weight
  * table is exactly `buckets` rows and rides the scoring join as a
  * broadcast; top-n plans as TakeOrderedAndProject, never a global
  * sort.
  */
object Dsir {

  /** Explode a frame into hashed feature buckets: one `b` row per
    * unigram and adjacent bigram (bigrams joined with a single space —
    * disjoint from unigrams, which can never contain whitespace).
    * Null text yields no rows (explode of null), mirroring the
    * oracle's unnest semantics. */
  private def explodeBuckets(df: DataFrame, textCol: String,
                             buckets: Int, keep: Column*): DataFrame =
    df.withColumn("__toks", Text.tokens(col(textCol)))
      // sequence(1, 0) DESCENDS in Spark, so short docs need the guard
      .withColumn("__grams", expr(
        "concat(__toks, if(size(__toks) < 2, array(), " +
          "transform(sequence(1, size(__toks) - 1), " +
          "i -> concat(__toks[i-1], ' ', __toks[i]))))"))
      .select(keep :+
        explode(transform(col("__grams"),
          g => conv(substring(md5(g), 1, 6), 16, 10).cast("int")
            % lit(buckets))).as("b"): _*)

  /** Score every raw document against a target sample: returns
    * `(id, n_feats, dsir_logw)` — one row per raw document that has at
    * least one feature (a null/absent text yields none, mirroring the
    * oracle's unnest semantics). */
  def dsirScores(raw: DataFrame, target: DataFrame, buckets: Int = 4096,
                 textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets=$buckets out of range [2, 2^20]: the weight table " +
        "rides the scoring join as a broadcast")
    val docFeat = explodeBuckets(raw, textCol, buckets,
      col(idCol).as("id"))
      .groupBy(col("id"), col("b"))
      .agg(count(lit(1)).as("dc"))
    // the raw distribution gets its OWN explode scan rather than
    // folding out of docFeat: column pruning gives a docFeat-derived
    // branch a different aggregate output ([b, dc] vs [id, b, dc]), so
    // AQE stage reuse cannot serve it from the scoring shuffle (probed:
    // both branches re-scan), and a corpus-sized docFeat checkpoint is
    // worse than re-tokenizing. The direct scan partial-aggregates
    // map-side to at most `buckets` cells per task, so its exchange is
    // negligible — two raw-corpus scans total, the unigramSurprisal
    // minimal shape
    val rawCounts = explodeBuckets(raw, textCol, buckets)
      .groupBy(col("b")).agg(count(lit(1)).as("rc"))
    val targetCounts = explodeBuckets(target, textCol, buckets)
      .groupBy(col("b")).agg(count(lit(1)).as("tc"))
    // Laplace-1 over the full bucket space on both sides; buckets absent
    // from one side still get positive mass. Totals fold out of the
    // joined table itself via unpartitioned windows — bounded by the
    // `buckets` guard, and cheaper than re-deriving each count table
    // for a scalar aggregate
    val wtot = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    // the window sums coalesce to 0 so a degenerate EMPTY target (or,
    // vacuously, raw) side still yields the fully-smoothed finite
    // weights — the same formula the frozen-router grid evaluates at
    // tc = ttot = 0, keeping the two paths decision-identical on edges
    val weights = rawCounts
      .join(targetCounts, Seq("b"), "full_outer")
      .select(col("b"),
        (log((coalesce(col("tc"), lit(0L)) + lit(1L)).cast("double") /
          (coalesce(sum(col("tc")).over(wtot), lit(0L)) +
            lit(buckets.toLong)).cast("double")) -
          log((coalesce(col("rc"), lit(0L)) + lit(1L)).cast("double") /
            (coalesce(sum(col("rc")).over(wtot), lit(0L)) +
              lit(buckets.toLong)).cast("double")))
          .as("lw"))
    docFeat
      .join(broadcast(weights), Seq("b"))
      .groupBy(col("id"))
      .agg(sum(col("dc")).as("n_feats"),
        (floor(sum(col("dc").cast("double") * col("lw")) * 1e6) / 1e6)
          .as("dsir_logw"))
  }

  /** The selection step: top-n raw documents by `(dsir_logw desc, id)`.
    * Output ordered; plans as TakeOrderedAndProject (no global sort). */
  def dsirSelect(raw: DataFrame, target: DataFrame, n: Int,
                 buckets: Int = 4096, textCol: String = "text",
                 idCol: String = "doc_id"): DataFrame = {
    require(n > 0, "n must be positive")
    dsirScores(raw, target, buckets, textCol, idCol)
      .orderBy(col("dsir_logw").desc, col("id"))
      .limit(n)
  }

  /** Multi-target domain routing: [[dsirScores]] against K labeled
    * target samples at once, keeping each document's best-scoring
    * domain — the router step that turns one undifferentiated crawl
    * into per-domain pools for mixture construction (the multi-
    * distribution generalization in Xie et al. 2023 §2; also how
    * fastText-style domain tagging is used in curation pipelines,
    * minus the trained classifier).
    *
    * Every (domain, bucket) weight is the SAME log-likelihood ratio as
    * [[dsirScores]] — a doc's score against domain t here equals its
    * `dsir_logw` against target t alone (spec-pinned) — so routing is
    * literally K importance scorings sharing one corpus pass. Output:
    * `(id, n_feats, domain, dsir_logw, margin)` — the winning domain
    * under `(rounded logw desc, domain asc)`, with `margin` the
    * rounded-score gap to the runner-up (null when K = 1), the
    * confidence signal a mixture builder thresholds on.
    *
    * Scale shape: the corpus-sized work is identical to [[dsirScores]]
    * (two tokenize passes, one (doc, bucket) shuffle); the dense
    * domain-weight table is `K * |raw buckets|` rows and rides the
    * scoring join as one broadcast (guarded at 2^20 cells); scoring
    * fans out to K rows per (doc, bucket) before the per-(doc, domain)
    * aggregate, and the winner window partitions on doc id (K rows per
    * partition). */
  def domainRoute(raw: DataFrame, targets: Seq[(String, DataFrame)],
                  buckets: Int = 4096, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    require(targets.nonEmpty, "domainRoute needs at least one target")
    require(targets.map(_._1).distinct.size == targets.size,
      s"duplicate domain labels in ${targets.map(_._1)}")
    require(buckets >= 2 && buckets.toLong * targets.size <= (1L << 20),
      s"buckets=$buckets x ${targets.size} domains exceeds the 2^20 " +
        "broadcast-cell guard")
    val docFeat = explodeBuckets(raw, textCol, buckets,
      col(idCol).as("id"))
      .groupBy(col("id"), col("b"))
      .agg(count(lit(1)).as("dc"))
    val rawCounts = explodeBuckets(raw, textCol, buckets)
      .groupBy(col("b")).agg(count(lit(1)).as("rc"))
    val tgtCounts = targets.map { case (name, df) =>
      explodeBuckets(df, textCol, buckets)
        .groupBy(col("b")).agg(count(lit(1)).as("tc"))
        .select(lit(name).as("domain"), col("b"), col("tc"))
    }.reduce(_ unionByName _)
    // totals left-join onto the literal domain list: an EMPTY target
    // sample must still produce its (domain, 0) row — otherwise the
    // cross join silently drops the domain while the frozen-router
    // grid keeps it — and deriving from tgtCounts avoids a second
    // scan of each target sample
    val spark = raw.sparkSession
    import spark.implicits._
    val ttots = targets.map(_._1).toDF("domain")
      .join(tgtCounts.groupBy(col("domain"))
        .agg(sum(col("tc")).as("__t")), Seq("domain"), "left_outer")
      .select(col("domain"), coalesce(col("__t"), lit(0L)).as("ttot"))
    // dense (domain x raw bucket) weight grid: buckets a target never
    // saw still carry its smoothed log p = ln(1 / (ttot + B)); docFeat
    // buckets are a subset of rawCounts buckets by construction, so
    // rc-side density suffices
    val wtot = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    val weights = rawCounts
      .withColumn("rtot", sum(col("rc")).over(wtot))
      .crossJoin(broadcast(ttots))
      .join(tgtCounts, Seq("domain", "b"), "left_outer")
      .select(col("domain"), col("b"),
        (log((coalesce(col("tc"), lit(0L)) + lit(1L)).cast("double") /
          (col("ttot") + lit(buckets.toLong)).cast("double")) -
          log((col("rc") + lit(1L)).cast("double") /
            (col("rtot") + lit(buckets.toLong)).cast("double"))).as("lw"))
    val scored = docFeat
      .join(broadcast(weights), Seq("b"))
      .groupBy(col("id"), col("domain"))
      .agg(sum(col("dc")).as("n_feats"),
        (floor(sum(col("dc").cast("double") * col("lw")) * 1e6) / 1e6)
          .as("dsir_logw"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id"))
      .orderBy(col("dsir_logw").desc, col("domain"))
    scored
      .withColumn("__rn", row_number().over(w))
      .withColumn("margin",
        col("dsir_logw") - lead(col("dsir_logw"), 1).over(w))
      .filter(col("__rn") === 1)
      .select(col("id"), col("n_feats"), col("domain"),
        col("dsir_logw"), col("margin"))
  }

  /** A [[domainRoute]] weight grid frozen onto the driver: `lw(b)(k)`
    * is the log-likelihood-ratio weight of bucket `b` for the k-th
    * domain of `domains` (label-sorted, so argmax ties resolve to the
    * ascending label exactly as [[domainRoute]]'s window does). The
    * grid is DENSE over all `buckets` cells — buckets absent from the
    * raw sample carry the fully-smoothed weight — so a frozen router
    * can score text containing grams the training corpus never saw,
    * which is precisely the online-application case. Serializable
    * task-closure state: `buckets * domains` doubles, bounded by the
    * [[domainRoute]] 2^20 guard. */
  final case class FrozenRouter(domains: IndexedSeq[String], buckets: Int,
                                lw: Array[Array[Double]])
      extends Serializable {
    require(lw.length == buckets && lw.forall(_.length == domains.length),
      "weight grid shape must be buckets x domains")

    /** Gram -> bucket, identical to [[explodeBuckets]]'s distributed
      * `conv(substring(md5(g),1,6),16,10) % buckets`: the first 6 hex
      * chars of an MD5 are its first 3 bytes, so the arithmetic below
      * reproduces the hex-substring parse without materializing the hex
      * string. The digest instance is reused per thread (getInstance
      * per gram was the routing hot path's dominant cost), and a
      * bounded per-thread memo exploits natural text's heavy token
      * repetition across documents. */
    @transient private lazy val mdTl =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    @transient private lazy val bucketMemoTl =
      ThreadLocal.withInitial[java.util.HashMap[String, Integer]](() =>
        new java.util.HashMap[String, Integer]())

    private def bucket(g: String): Int = {
      val memo = bucketMemoTl.get()
      val hit = memo.get(g)
      if (hit != null) hit.intValue()
      else {
        val md = mdTl.get()
        md.reset()
        val d = md.digest(g.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val b = (((d(0) & 0xff) << 16) | ((d(1) & 0xff) << 8) | (d(2) & 0xff)) % buckets
        if (memo.size >= (1 << 16)) memo.clear() // bound closure memory
        memo.put(g, b)
        b
      }
    }

    /** Route one document: `(winning domain, rounded winning score,
      * rounded margin to the runner-up)` — margin NaN when the router
      * has a single domain. Tokenization matches [[Text.tokens]]
      * (Spark's `split` keeps trailing empties: limit -1); scores are
      * per-domain sums over gram occurrences, 1e-6-floor-rounded
      * BEFORE the argmax, mirroring [[domainRoute]]'s rounded ranking. */
    def route(text: String): (String, Double, Double) = {
      val toks = text.split("\\s+", -1)
      val scores = new Array[Double](domains.length)
      def add(g: String): Unit = {
        val row = lw(bucket(g))
        var k = 0
        while (k < scores.length) { scores(k) += row(k); k += 1 }
      }
      toks.foreach(add)
      var i = 1
      while (i < toks.length) { add(toks(i - 1) + " " + toks(i)); i += 1 }
      var best = 0
      var k = 0
      while (k < scores.length) {
        scores(k) = math.floor(scores(k) * 1e6) / 1e6
        if (k > 0 && scores(k) > scores(best)) best = k
        k += 1
      }
      val margin =
        if (scores.length < 2) Double.NaN
        else {
          var second = if (best == 0) 1 else 0
          var j = 0
          while (j < scores.length) {
            if (j != best && scores(j) > scores(second)) second = j
            j += 1
          }
          scores(best) - scores(second)
        }
      (domains(best), scores(best), margin)
    }
  }

  /** Train a [[FrozenRouter]]: the [[domainRoute]] count aggregates,
    * collected into a dense driver-side grid (bounded by the same
    * `buckets * domains <= 2^20` guard) — the offline step of the
    * offline-train / online-apply split. A grid cell's weight equals
    * the [[domainRoute]] weight for every (bucket, domain) the
    * distributed path materializes (spec-pinned); cells outside the
    * raw support get the same formula at `rc = 0`. */
  def freezeRouter(raw: DataFrame, targets: Seq[(String, DataFrame)],
                   buckets: Int = 4096, textCol: String = "text")
      : FrozenRouter = {
    require(targets.nonEmpty, "freezeRouter needs at least one target")
    require(targets.map(_._1).distinct.size == targets.size,
      s"duplicate domain labels in ${targets.map(_._1)}")
    require(buckets >= 2 && buckets.toLong * targets.size <= (1L << 20),
      s"buckets=$buckets x ${targets.size} domains exceeds the 2^20 " +
        "grid guard")
    val rc = new Array[Long](buckets)
    explodeBuckets(raw, textCol, buckets)
      .groupBy(col("b")).agg(count(lit(1)).as("rc"))
      .collect().foreach(r => rc(r.getInt(0)) = r.getLong(1))
    val rtot = rc.sum
    val sorted = targets.sortBy(_._1)
    val grid = Array.ofDim[Double](buckets, sorted.size)
    sorted.zipWithIndex.foreach { case ((_, df), k) =>
      val tc = new Array[Long](buckets)
      explodeBuckets(df, textCol, buckets)
        .groupBy(col("b")).agg(count(lit(1)).as("tc"))
        .collect().foreach(r => tc(r.getInt(0)) = r.getLong(1))
      val ttot = tc.sum
      var b = 0
      while (b < buckets) {
        grid(b)(k) =
          math.log((tc(b) + 1).toDouble / (ttot + buckets).toDouble) -
            math.log((rc(b) + 1).toDouble / (rtot + buckets).toDouble)
        b += 1
      }
    }
    FrozenRouter(sorted.map(_._1).toIndexedSeq, buckets, grid)
  }

  /** Persist a trained [[FrozenRouter]] so a serving job (a streaming
    * monitor, a different process, a later day's ingest) loads the
    * SAME weights instead of retraining — the missing third leg of the
    * offline-train / online-apply split. Layout: one parquet table
    * `(bucket, domain, lw)` of exactly `buckets * domains` rows
    * (bounded by the training-side 2^20 grid guard), raw IEEE doubles,
    * so a round-trip reproduces every routing decision bit-for-bit
    * (spec-pinned). */
  def saveRouter(spark: org.apache.spark.sql.SparkSession,
                 router: FrozenRouter, path: String): Unit = {
    val rows = for {
      b <- 0 until router.buckets
      k <- router.domains.indices
    } yield Row(b, router.domains(k), router.lw(b)(k))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("bucket",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("domain",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("lw",
        org.apache.spark.sql.types.DoubleType)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)
  }

  /** Load a router persisted by [[saveRouter]]. The collect is bounded
    * by the same 2^20 grid guard the training side enforces (re-checked
    * here — a foreign parquet at the path fails fast, not OOM). Domain
    * order is canonical (sorted by name, the [[freezeRouter]] rule), so
    * routing output is independent of row order on disk. */
  def loadRouter(spark: org.apache.spark.sql.SparkSession,
                 path: String): FrozenRouter = {
    val df = Fs.parquet(spark, path)
    require(df.columns.sorted.sameElements(
      Array("bucket", "domain", "lw")),
      s"$path is not a saved router (columns ${df.columns.mkString(",")})")
    val n = df.count()
    require(n > 0 && n <= (1L << 20),
      s"$path holds $n rows — outside the 2^20 router grid guard")
    val rows = df.collect()
    val domains = rows.map(_.getAs[String]("domain"))
      .distinct.sorted.toIndexedSeq
    val buckets = rows.map(_.getAs[Int]("bucket")).max + 1
    require(buckets.toLong * domains.size == n,
      s"$path grid is ragged: $n rows != $buckets buckets x " +
        s"${domains.size} domains")
    val di = domains.zipWithIndex.toMap
    val grid = Array.ofDim[Double](buckets, domains.size)
    rows.foreach { r =>
      grid(r.getAs[Int]("bucket"))(di(r.getAs[String]("domain"))) =
        r.getAs[Double]("lw")
    }
    FrozenRouter(domains, buckets, grid)
  }

  /** DoReMi-style domain mixture reweighting (Xie et al. 2023, "DoReMi:
    * Optimizing Data Mixtures Speeds Up Language Model Pretraining"):
    * the Group-DRO exponentiated-gradient update over per-domain excess
    * losses. The proxy/reference models that PRODUCE the losses live
    * outside the engine (the [[Score]] seam philosophy); the engine
    * serves the exact weight recursion given a per-document excess-loss
    * column:
    *
    *   excess_k  = avg over domain k of max(excess, 0)
    *   raw_k(t)  = alpha_k(t-1) * exp(eta * excess_k)
    *   alpha_k(t) = (1-c) * raw_k(t)/Z(t) + c/K      (c = `smoothing`)
    *
    * starting from uniform alpha. With static losses the recursion
    * still moves for `steps` > 1 (the smoothing term pulls each step
    * back toward uniform); callers re-scoring between steps — the
    * paper's actual loop — call `steps = 1` repeatedly with fresh
    * losses.
    *
    * Engine-portable by construction: per-document excesses round to an
    * exact 1e-6 integer grid BEFORE the domain sum (long addition — no
    * accumulation-order sensitivity), each step's raw weights round to
    * a 1e-9 grid before normalizing so Z is an exact integer sum, and
    * every remaining double op is a correctly-rounded chain in a fixed
    * order. `exp` carries the same 1-ulp libm caveat as [[dsirScores]]'
    * `ln`; the 1e-6 output floor gives it margin.
    *
    * Scale shape: ONE corpus pass (partial-aggregated groupBy to at
    * most `maxDomains` rows), then driver arithmetic on K values —
    * the same bounded-collect discipline as [[freezeRouter]]. Output:
    * (domain, excess_loss, weight), weights floor-rounded to 1e-6 and
    * excess_loss to 1e-6, ordered columns for the oracle. */
  def domainReweight(docs: DataFrame, excess: Column, domain: Column,
                     eta: Double = 1.0, smoothing: Double = 0.1,
                     steps: Int = 1, maxDomains: Int = 100000)
      : DataFrame = {
    require(steps >= 1, "steps must be >= 1")
    require(smoothing >= 0 && smoothing < 1, "smoothing in [0, 1)")
    val spark = docs.sparkSession
    val perDomain = docs
      .groupBy(domain.cast("string").as("domain"))
      .agg(sum(floor(greatest(excess.cast("double"), lit(0.0)) * 1e6
          + lit(0.5)).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .collect()
    require(perDomain.length <= maxDomains,
      s"${perDomain.length} domains exceed maxDomains=$maxDomains — the " +
        "weight grid is driver-resident by design (DoReMi mixes tens of " +
        "domains, not millions)")
    val sorted = perDomain.map { r =>
      (r.getString(0), (r.getLong(1).toDouble / 1e6) / r.getLong(2))
    }.sortBy(_._1)
    val k = sorted.length
    var alpha = Array.fill(k)(1.0 / k)
    for (_ <- 1 to steps) {
      val rawNano = sorted.indices.map { i =>
        math.floor(alpha(i) * math.exp(eta * sorted(i)._2) * 1e9 + 0.5)
          .toLong
      }
      val z = rawNano.sum
      alpha = sorted.indices.map { i =>
        (1.0 - smoothing) * (rawNano(i).toDouble / z.toDouble) +
          smoothing / k
      }.toArray
    }
    import spark.implicits._
    sorted.indices.map { i =>
      (sorted(i)._1,
        math.floor(sorted(i)._2 * 1e6) / 1e6,
        math.floor(alpha(i) * 1e6) / 1e6)
    }.toSeq.toDF("domain", "excess_loss", "weight")
  }
}
