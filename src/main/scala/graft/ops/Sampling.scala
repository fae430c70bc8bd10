package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable sampling and dataset splitting for
  * training-data pipelines.
  *
  * Everything keys off `md5(key)` compared lexicographically against a hex
  * threshold — no `rand()`, so samples are reproducible across runs,
  * retried tasks, engines, and cluster sizes (the properties a 100 TB
  * pipeline actually needs from a sampler), and the whole operator family
  * is expressible in ANSI SQL for oracle verification. Threshold
  * granularity is 4 hex digits (1/65536).
  */
object Sampling {

  private def hexThreshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction in [0,1]")
    // clamp to the largest 4-digit threshold: rounding to 65536 would
    // format as the 5-char "10000", which compares lexicographically
    // BELOW almost every 4-char hash and silently kept ~1/16 of rows
    f"${math.round(fraction * 65536).min(65535).toInt}%04x"
  }

  /** True iff `fraction` rounds to keep-everything at the 1/65536
    * threshold granularity (>= 65535.5/65536): such fractions must keep
    * every row exactly, not hash-filter. */
  private def keepsAll(fraction: Double): Boolean =
    math.round(fraction * 65536) >= 65536

  /** The unit-interval position of a key: first 4 hex chars of its md5.
    * Lexicographic comparison of lowercase hex == numeric comparison. */
  def hashPosition(key: Column): Column = substring(md5(key.cast("string")), 1, 4)

  /** The keep-decision predicate for one fraction (keep-all / drop-all
    * short-circuited so boundary fractions are exact, not hash-rounded). */
  private def keepPredicate(key: Column, fraction: Double): Column =
    if (keepsAll(fraction)) lit(true)
    else if (fraction <= 0.0) lit(false)
    else hashPosition(key) < lit(hexThreshold(fraction))

  /** Keep ~`fraction` of rows, chosen by key hash (same key -> same
    * decision, always). */
  def hashSample(df: DataFrame, key: Column, fraction: Double): DataFrame =
    df.filter(keepPredicate(key, fraction))

  /** Per-stratum fractions (e.g. downsample dominant languages): strata
    * not listed keep everything. */
  def stratifiedHashSample(df: DataFrame, key: Column, stratum: Column,
                           fractions: Map[String, Double]): DataFrame = {
    val keep = fractions.foldLeft(lit(true)) { case (acc, (s, f)) =>
      when(stratum === s, keepPredicate(key, f)).otherwise(acc)
    }
    df.filter(keep)
  }

  /** Temperature (alpha) resampling — the standard multilingual /
    * multi-source flattening step: per-stratum keep fractions
    * `f_s = (n_min / n_s)^(1-alpha)`, i.e. sampling probabilities
    * proportional to `n_s^alpha` scaled so the SMALLEST stratum keeps
    * everything. `alpha = 1` keeps the natural distribution,
    * `alpha = 0` equalizes expected stratum sizes, and the common
    * `alpha = 0.5` (temperature 2) square-root-flattens. Rows then
    * sample via [[stratifiedHashSample]] — same key, same decision,
    * any engine.
    *
    * Portability: fractions are floor-rounded at 1e-6, and every
    * QUARTER alpha (0.25 / 0.5 / 0.75 — exponents 0.75 / 0.5 / 0.25)
    * is computed by a fixed composition of `sqrt` and one multiply:
    * `r^0.5 = sqrt(r)`, `r^0.25 = sqrt(sqrt(r))`,
    * `r^0.75 = s * sqrt(s)` with `s = sqrt(r)`. IEEE 754 requires
    * sqrt and multiply to be correctly rounded, so any engine
    * replaying the SAME composition reproduces the fractions (and
    * therefore the selected ROW SET) bit-for-bit — the composition is
    * the documented contract, not an approximation detail. Other
    * alphas go through `pow`, which carries no such guarantee: same
    * documented boundary-flip caveat as the engine's other 1e-6
    * roundings.
    *
    * Scale shape: one stratum-count aggregate whose driver collect is
    * bounded by `maxStrata` (fail-fast above it — temperature sampling
    * is for bounded domains like language or source, not url-hosts),
    * then one broadcast-free filter pass: the per-stratum thresholds
    * fold into the predicate as literals. Null strata drop. */
  def temperatureSample(df: DataFrame, stratum: Column, key: Column,
                        alpha: Double = 0.5,
                        maxStrata: Int = 10000): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, "alpha in [0,1]")
    require(maxStrata > 0, "maxStrata must be positive")
    val s = stratum.cast("string")
    val counts = df.filter(s.isNotNull)
      .groupBy(s.as("__s")).agg(count(lit(1)).as("__n"))
      .limit(maxStrata + 1) // bounded probe: never the full domain
      .collect().map(r => r.getString(0) -> r.getLong(1))
    require(counts.length <= maxStrata,
      s"stratum domain exceeds maxStrata=$maxStrata; temperature " +
        "sampling collects one count per stratum — for unbounded " +
        "domains (hosts, urls) use capPerGroup or raise maxStrata " +
        "deliberately")
    if (counts.isEmpty) return df.filter(s.isNotNull)
    val minN = counts.map(_._2).min
    // quarter alphas ride correctly-rounded sqrt compositions (see the
    // portability contract above); everything else pays pow's caveat
    def flatten(ratio: Double): Double = (1.0 - alpha) match {
      case 0.5 => math.sqrt(ratio)
      case 0.25 => math.sqrt(math.sqrt(ratio))
      case 0.75 => val s = math.sqrt(ratio); s * math.sqrt(s)
      case e => math.pow(ratio, e)
    }
    val fractions = counts.map { case (name, n) =>
      name -> math.floor(flatten(minN.toDouble / n.toDouble) * 1e6) / 1e6
    }.toMap
    stratifiedHashSample(df.filter(s.isNotNull), key, s, fractions)
  }

  /** Keep at most `k` rows per group, chosen deterministically by hash
    * position (ties broken by the key itself) — the per-host / per-source
    * cap of a crawl pipeline. The constant-limit rank filter plans as a
    * WindowGroupLimit: every map partition prunes to its local k rows per
    * group BEFORE the exchange, so a hot group (one host owning 1e8 pages
    * of a 100 TB crawl) ships `k * numPartitions` rows through the
    * shuffle, never the whole group. */
  def capPerGroup(df: DataFrame, group: Column, key: Column, k: Int): DataFrame = {
    require(k > 0, "cap must be positive")
    val w = Window.partitionBy(group).orderBy(hashPosition(key), key)
    // null keys drop, like everywhere else in this family — rank is
    // never null, and a null hash position would sort FIRST and steal a
    // cap slot from every real row in its group
    df.filter(key.isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Shared two-phase scaffolding for the mixture ops: restrict to
    * selectable rows of LISTED strata, tag each row with its hash
    * position, stratum string, and hash-prefix bucket, aggregate a
    * per-(stratum, bucket) measure (row count or token sum) to the driver
    * — at most |weights| * 16^chars rows — and turn the bucket totals
    * into per-stratum EXCLUSIVE running offsets, re-applied via a
    * broadcast join. Bucket-prefix order is consistent with the
    * (hashPosition, key) selection order (rows tying on the full 4-char
    * position land in the same bucket for any prefix length <= 4), so
    * bucket-local rank/cumsum + bucket offset equals the global
    * per-stratum value EXACTLY — same selected rows as a single
    * per-stratum window, but the sort runs in |strata| * 16^chars
    * parallel tasks instead of |strata|. This is the concatChunks
    * distributed prefix-sum shape ([[Packing.concatChunks]]); without it
    * the dominant stratum of a 100 TB corpus (web, 60%+) is ONE
    * multi-TB single-task sort. */
  private def bucketedOffsets(selectable: DataFrame, measure: Column)
      : (DataFrame, Map[String, Long]) = {
    val spark = selectable.sparkSession
    val totals = selectable
      .groupBy(col("__s"), col("__bkt")).agg(measure.as("__m"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val supply = totals.groupBy(_._1).map { case (s, rows) =>
      s -> rows.map(_._3).sum
    }
    val offsets = totals.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      var acc = 0L
      // lexicographic bucket order == hash-position order (lowercase hex)
      rows.sortBy(_._2).map { case (s, b, m) =>
        val o = acc; acc += m; (s, b, o)
      }
    }
    import spark.implicits._
    (broadcast(offsets.toDF("__s", "__bkt", "__off")), supply)
  }

  /** Tag selectable rows for the two-phase mixture rank. `chars` = 0
    * derives the bucket-prefix length from cluster parallelism (the
    * [[Packing.deriveBucketChars]] rule: ~32 buckets per core, clamped to
    * 256..65536 buckets). */
  private def tagBuckets(df: DataFrame, stratum: Column, key: Column,
                         chars: Int): (DataFrame, Column) = {
    require(chars >= 0 && chars <= 4,
      "bucketChars in [0,4] (0 = derive from parallelism)")
    val c =
      if (chars > 0) chars
      else Packing.deriveBucketChars(
        df.sparkSession.sparkContext.defaultParallelism)
    val tagged = df
      .withColumn("__pos", hashPosition(key))
      .withColumn("__s", stratum.cast("string"))
      .withColumn("__bkt", substring(col("__pos"), 1, c))
    (tagged, col("__s"))
  }

  /** Exact-count mixture resampling: re-weight a multi-source corpus to an
    * integer target mixture (e.g. web:5, wiki:3, books:2) by keeping the
    * largest total N such that every listed stratum can supply its share,
    * then taking each stratum's hash-first `weight*N/W` rows. All the
    * count arithmetic is integer floor division, so the selected counts —
    * and, via the hash ordering, the selected ROWS — are exactly
    * reproducible in any engine. Strata not listed in `weights` are
    * dropped.
    *
    * Scale: one pass over the corpus for the phase-1 per-(stratum,
    * hash-prefix-bucket) counts (driver collect bounded by
    * |weights| * 16^bucketChars, never the corpus's stratum domain — it
    * serves BOTH the supply totals the targets derive from and the
    * bucket rank offsets), then one rank window per (stratum, bucket) —
    * the selection sort runs across all buckets in parallel, so the
    * dominant stratum of a 100 TB corpus is thousands of tasks, not one.
    * The selected ROW SET is identical to a single per-stratum rank (see
    * [[bucketedOffsets]]). For approximate mixtures where even that is
    * too expensive, use [[stratifiedHashSample]] with precomputed
    * fractions — same hash, no sort. */
  def mixtureByCount(df: DataFrame, stratum: Column, key: Column,
                     weights: Map[String, Long],
                     bucketChars: Int = 0): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixture weights must be positive")
    val totalW = weights.values.sum
    // selectable rows only: null keys drop (the rank would otherwise
    // admit them hash-first and counting them would set targets the
    // filter cannot fill); unlisted strata drop BEFORE the aggregate —
    // without that filter phase 1 would pull one row per distinct
    // stratum value in the corpus (driver OOM when the stratum is e.g.
    // url-host on a crawl)
    val (selectable, sCol) = tagBuckets(
      df.filter(key.isNotNull)
        .filter(stratum.isin(weights.keySet.toSeq: _*)),
      stratum, key, bucketChars)
    val (offDF, counts) = bucketedOffsets(selectable, count(lit(1)))
    // largest N with floor(w_s*N/W) <= count_s for all s: each stratum
    // can supply at most count_s*W/w_s total, the corpus supplies the min
    val n = weights.map { case (s, w) =>
      counts.getOrElse(s, 0L) * totalW / w
    }.min
    val lim = weights.map { case (s, w) => s -> w * n / totalW }
    val rankW = Window.partitionBy(col("__s"), col("__bkt"))
      .orderBy(col("__pos"), key)
    val limCol = lim.foldLeft(lit(0L)) { case (acc, (s, k)) =>
      when(sCol === s, lit(k)).otherwise(acc)
    }
    selectable.join(offDF, Seq("__s", "__bkt"))
      .withColumn("__rn", row_number().over(rankW) + col("__off"))
      .filter(col("__rn") <= limCol)
      .drop("__pos", "__s", "__bkt", "__off", "__rn")
  }

  /** Token-budget mixture resampling — [[mixtureByCount]] with the
    * mixture measured in TOKENS, which is what a pretraining recipe
    * actually specifies ("web 60% of tokens, code 25%, books 15%").
    * Keeps, per listed stratum, its hash-first documents while the
    * stratum's cumulative token count stays within `floor(w_s*T/W)`,
    * where T is the largest total token budget every stratum can supply.
    * All arithmetic is integer (sums, floor division, a cumulative-sum
    * comparison), so the selected ROW SET is exactly reproducible in any
    * engine. Selection is a strict hash-order PREFIX per stratum: the
    * first document whose inclusive cumulative token count exceeds the
    * stratum budget ends that stratum (later smaller docs are NOT
    * back-filled — best-fit would break the prefix property that makes
    * the row set order-independent and oracle-reproducible). Budgets
    * never split a document. Strata not listed in `weights` are dropped;
    * a LISTED stratum with no supply zeroes the whole mixture (targets
    * are unsatisfiable); null keys and null/negative token counts drop.
    *
    * Scale shape: one pass for the phase-1 per-(stratum, hash-prefix-
    * bucket) token sums (driver collect bounded by
    * |weights| * 16^bucketChars; per-stratum supply totals fall out of
    * the same aggregate), then one cumulative-sum window per (stratum,
    * bucket) plus that bucket's exclusive token offset — the
    * [[bucketedOffsets]] distributed prefix sum, so the exact budget no
    * longer costs a per-stratum single-task sort. */
  /** Mixture feasibility plan — the sizing step BEFORE
    * [[mixtureByTokens]] / [[upsampleByRepeats]]: given the available
    * token supply per stratum and relative target weights, report the
    * LARGEST mixture the corpus can serve without upsampling. The
    * binding stratum is the one whose supply runs out first
    * (minimum `avail / weight`, name-tiebroken); it contributes its
    * full supply and every other stratum's plan is
    * `floor(avail_binding / w_binding * w_s)` — the "can I hit 30%
    * code at this corpus size, and which source caps me?" answer a
    * pipeline asks before committing to a sampling pass. A listed
    * stratum with NO supply is binding with 0 available, zeroing the
    * whole plan (the mixture is unsatisfiable without new data) —
    * same unsatisfiability semantics as [[mixtureByTokens]].
    *
    * Output: `(stratum, avail_tokens, weight, plan_tokens, binding)`,
    * one row per listed stratum, stratum-ordered. Weight SUMS are
    * never formed (ratios use raw weights), so the arithmetic is two
    * IEEE ops per stratum with a fixed order — engine-exact, no
    * rounding caveat.
    *
    * Scale shape: one filtered aggregate over the listed strata; the
    * driver holds |weights| rows. */
  def mixturePlan(df: DataFrame, stratum: Column, tokens: Column,
                  weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0.0),
      "target weights must be strictly positive")
    val spark = df.sparkSession
    import spark.implicits._
    val s = stratum.cast("string")
    val avail = df.filter(s.isin(weights.keySet.toSeq: _*))
      .groupBy(s.as("__s")).agg(sum(tokens.cast("long")).as("__n"))
      .collect()
      // a stratum whose every token value is null sums to null — that
      // is zero supply, same as a stratum with no rows at all
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    val rows = weights.keys.toSeq.sorted
      .map(k => (k, avail.getOrElse(k, 0L), weights(k)))
    val (bk, ba, bw) = rows
      .minBy { case (k, a, w) => (a.toDouble / w, k) }
    rows.map { case (k, a, w) =>
      val plan =
        if (k == bk) a // its own full supply, no round-trip through /
        else math.floor(ba.toDouble / bw * w).toLong
      (k, a, w, plan, k == bk)
    }.toDF("stratum", "avail_tokens", "weight", "plan_tokens", "binding")
  }

  def mixtureByTokens(df: DataFrame, stratum: Column, key: Column,
                      tokens: Column, weights: Map[String, Long],
                      bucketChars: Int = 0): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "mixture weights must be positive")
    val totalW = weights.values.sum
    val tok = tokens.cast("long")
    val (selectable, sCol) = tagBuckets(
      df.filter(key.isNotNull)
        .filter(tok.isNotNull && tok > 0L)
        .filter(stratum.isin(weights.keySet.toSeq: _*))
        .withColumn("__tok", tok),
      stratum, key, bucketChars)
    val (offDF, supply) = bucketedOffsets(selectable, sum(col("__tok")))
    // largest T with floor(w_s*T/W) <= supply_s for all s (same floor
    // inversion as mixtureByCount, over token totals)
    val t = weights.map { case (s, w) =>
      supply.getOrElse(s, 0L) * totalW / w
    }.min
    val lim = weights.map { case (s, w) => s -> w * t / totalW }
    val cumW = Window.partitionBy(col("__s"), col("__bkt"))
      .orderBy(col("__pos"), key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val limCol = lim.foldLeft(lit(0L)) { case (acc, (s, k)) =>
      when(sCol === s, lit(k)).otherwise(acc)
    }
    selectable.join(offDF, Seq("__s", "__bkt"))
      .withColumn("__cum", sum(col("__tok")).over(cumW) + col("__off"))
      .filter(col("__cum") <= limCol)
      .drop("__pos", "__s", "__bkt", "__off", "__tok", "__cum")
  }

  /** Quality-aware token-budget selection: per listed stratum, keep the
    * HIGHEST-quality documents (best first) while the stratum's
    * cumulative token count stays within its budget — the standard step
    * after quality scoring ("web: best 500B tokens, books: best 80B"),
    * where [[mixtureByTokens]] keeps a hash-random sample instead.
    * Selection order is (quality desc, hash, key): ties in the score —
    * common for coarse heuristics — break hash-randomly, not by corpus
    * position, so a tie never over-represents one shard. The budget
    * never splits a document; the first doc whose inclusive cumulative
    * token count crosses the budget ends its stratum (strict prefix of
    * the quality order — no back-filling with later smaller docs, which
    * would break order-independence and oracle reproducibility).
    *
    * Scale shape — the [[bucketedOffsets]] two-phase rank with QUALITY
    * buckets instead of hash-prefix buckets: bucket id coarsens the
    * quality-desc order over `[qMin, qMax]` (out-of-range values clamp
    * into the end buckets, still exactly ordered within them, so any
    * real-valued score is handled); bucket order is therefore a prefix
    * of the selection order and bucket-local cumsum + driver offsets
    * (bounded by |budgets| * qBuckets rows) equals the single-window
    * answer exactly, in |budgets| * qBuckets parallel tasks instead of
    * |budgets|.
    *
    * Degeneracy guard: a coarse heuristic score can collapse the
    * histogram — a constant-quality corpus lands in ONE bucket per
    * stratum, exactly the corpora where scores are least informative.
    * Phase 1 therefore also records each bucket's exact score range
    * (free on the same aggregate); a bucket whose members all share ONE
    * exact score is UNIFORM, and within it the selection order
    * (quality desc, hash, key) is pure (hash, key) — so uniform buckets
    * that are also straggler risks (holding >= 1/64 of their stratum's
    * token mass AND >= `minSubBucketTokens` absolute; smaller ties
    * can't dominate a parallel sort and skip the extra pass) are
    * sub-bucketed by hash prefix (a prefix coarsening of that
    * order: exact, not approximate) and their offsets fan out over the
    * sub-buckets in hash order. Parallelism never falls below
    * |present sub-buckets| even when every score is identical;
    * non-uniform buckets keep the plain per-bucket window, and the
    * selected row set is provably unchanged in every case. Driver
    * state: |budgets| * qBuckets bucket rows + 16^subChars sub-rows per
    * sub-bucketed bucket. Null/NaN qualities, null keys, and
    * non-positive token counts drop.
    */
  def selectByQualityBudget(df: DataFrame, stratum: Column, key: Column,
                            tokens: Column, quality: Column,
                            budgets: Map[String, Long],
                            qBuckets: Int = 1024,
                            qMin: Double = 0.0,
                            qMax: Double = 1.0,
                            minSubBucketTokens: Long = 1000000L): DataFrame = {
    require(budgets.nonEmpty && budgets.values.forall(_ >= 0L),
      "per-stratum token budgets must be non-negative")
    require(qBuckets >= 1 && qBuckets <= 99999,
      "qBuckets in [1, 99999] (buckets ride the 5-digit padded key)")
    require(qMax > qMin, "qMax must exceed qMin")
    val tok = tokens.cast("long")
    // -0.0 normalized to 0.0 before anything orders or compares on
    // __q: Spark's sort total order distinguishes the two zeros while
    // IEEE equality (the min == max uniform-bucket test below) does
    // not, so an un-normalized bucket holding both zeros could be
    // classified uniform while its true (quality desc, hash, key)
    // selection order still depended on the sign bit — breaking the
    // single-window equivalence the sub-bucket fan-out relies on.
    // `+ 0.0` is the branchless IEEE normalization: -0.0 + 0.0 = +0.0
    // and x + 0.0 = x for every other double (NaN and infinities
    // included) — a single codegen'd add, unlike a CASE WHEN
    val q = quality.cast("double") + lit(0d)
    val width = (qMax - qMin) / qBuckets
    // bucket 00000 = best quality; the clamp keeps out-of-range scores
    // in (exactly ordered) end buckets. Zero-padded so the generic
    // lexicographic bucket ordering in [[bucketedOffsets]] IS the
    // numeric (= quality-desc) order — the same trick hash-prefix
    // buckets get for free.
    val qb = format_string("%05d", least(greatest(
      floor((lit(qMax) - q) / lit(width)).cast("int"), lit(0)),
      lit(qBuckets - 1)))
    val selectable = df
      .filter(key.isNotNull)
      .filter(tok.isNotNull && tok > 0L)
      .filter(q.isNotNull && !isnan(q))
      .filter(stratum.isin(budgets.keySet.toSeq: _*))
      .withColumn("__tok", tok)
      .withColumn("__q", q)
      .withColumn("__s", stratum.cast("string"))
      .withColumn("__bkt", qb)
      .withColumn("__pos", hashPosition(key))
    // phase 1: per-(stratum, quality-bucket) token totals + exact score
    // range -> exclusive running offsets per stratum in bucket
    // (= quality-desc) order. min == max marks a UNIFORM bucket (see the
    // degeneracy guard in the scaladoc).
    val spark = df.sparkSession
    val subChars = Packing.deriveBucketChars(
      spark.sparkContext.defaultParallelism)
    val t1 = selectable.groupBy(col("__s"), col("__bkt"))
      .agg(sum(col("__tok")).as("__m"), min(col("__q")).as("__qlo"),
        max(col("__q")).as("__qhi"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    // sub-bucket a uniform bucket only when it is a straggler risk: at
    // least 1/64 of its stratum's token mass (a bucket below that can
    // never dominate a 64-way-parallel stratum sort) AND at least
    // `minSubBucketTokens` absolute (a sort task under ~1M tokens is
    // trivial no matter what fraction of a SMALL stratum it is — the
    // relative gate alone made tiny tied buckets in test-sized strata
    // pay the extra phase-1b pass for zero benefit). Healthy
    // histograms skip phase 1b entirely; a collapsed histogram at real
    // scale (one bucket = a stratum's terabytes) always qualifies.
    val stratumTotals = t1.groupBy(_._1).map { case (s, rows) =>
      s -> rows.map(_._3).sum
    }
    val uniformKeys = t1.filter { r =>
      r._4 == r._5 && r._3 * 64L >= stratumTotals(r._1) &&
        r._3 >= minSubBucketTokens
    }.map(r => (r._1, r._2)).toSet
    import spark.implicits._
    // phase 1b, only when qualifying uniform buckets exist: their
    // hash-prefix sub-bucket token sums (one filtered aggregate pass;
    // skipped entirely on corpora with informative scores). The
    // qualifying set is small by construction (each holds >= 1/64 of a
    // stratum), so an isin literal filter beats a join stage.
    val subSums: Map[(String, String, String), Long] =
      if (uniformKeys.isEmpty) Map.empty
      else {
        val keys = uniformKeys.map { case (s, b) => s + " " + b }.toSeq
        selectable
          .filter(concat_ws(" ", col("__s"), col("__bkt"))
            .isin(keys: _*))
          .groupBy(col("__s"), col("__bkt"),
            substring(col("__pos"), 1, subChars).as("__sub"))
          .agg(sum(col("__tok")).as("__m"))
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getString(2))
            -> r.getLong(3))
          .toMap
      }
    val offsets = t1.groupBy(_._1).toSeq.flatMap { case (_, rows) =>
      var acc = 0L
      // lexicographic bucket order == quality-desc order (zero-padded)
      rows.sortBy(_._2).flatMap { case (s, b, m, _, _) =>
        val o = acc; acc += m
        if (uniformKeys((s, b))) {
          // fan the bucket offset out over its present sub-buckets in
          // hash (= lexicographic hex-prefix) order
          var sub = o
          subSums.collect { case ((`s`, `b`, sb), sm) => (sb, sm) }
            .toSeq.sortBy(_._1).map { case (sb, sm) =>
              val so = sub; sub += sm; (s, b, sb, so)
            }
        } else Seq((s, b, "", o))
      }
    }
    val offDF = broadcast(offsets.toDF("__s", "__bkt", "__sub", "__off"))
    val cumW = Window.partitionBy(col("__s"), col("__bkt"), col("__sub"))
      .orderBy(col("__q").desc, col("__pos"), key)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budgetCol = budgets.foldLeft(lit(0L)) { case (acc, (s, b)) =>
      when(col("__s") === s, lit(b)).otherwise(acc)
    }
    // __tok > 0 makes the inclusive cumsum strictly increasing along the
    // selection order, so `cum <= budget` IS the strict prefix. ONE
    // broadcast join carries both the offsets and the sub-bucket
    // structure: a plain bucket contributes its single __sub = '' row,
    // a sub-bucketed one its per-prefix rows, and the post-filter keeps
    // exactly the row matching the doc's own hash prefix — no separate
    // marker-join stage on the common path.
    selectable.join(offDF, Seq("__s", "__bkt"))
      .filter(col("__sub") === lit("") ||
        col("__sub") === substring(col("__pos"), 1, subChars))
      .withColumn("__cum", sum(col("__tok")).over(cumW) + col("__off"))
      .filter(col("__cum") <= budgetCol)
      .drop("__pos", "__s", "__bkt", "__off", "__tok", "__q", "__cum",
        "__sub")
  }

  /** Deterministic training-order shuffle position: a portable sort key
    * derived from `md5(epoch ":" key)`, so each epoch is an independent,
    * reproducible permutation of the corpus — no `rand()`, no state.
    * `ORDER BY` this column is Spark's standard range-partitioned global
    * sort (sample → range boundaries → one shuffle), which is exactly how
    * an epoch's training shards should be laid out; rows with equal hash
    * fall back to key order, so the permutation is total. */
  def shufflePosition(key: Column, epoch: Int): Column =
    md5(concat_ws(":", lit(epoch), key.cast("string")))

  /** Curriculum ordering: assign every row a dense global training
    * position `0..n-1` such that stages appear in the given order and
    * rows WITHIN a stage are hash-shuffled (the deterministic
    * [[hashPosition]] permutation) — the "anneal the high-quality data
    * last" layout a staged pretraining run consumes. Rows whose stage
    * is not listed are dropped, the mixture-weights convention.
    *
    * The total order is `(stage index, hashPosition(key), key)`, but no
    * global sort ever runs: phase 1 counts rows per (stage,
    * hash-prefix bucket) — a driver table bounded by
    * `|stages| * 16^bucketChars`, the [[mixtureByCount]] bound — and
    * prefix-sums them into global bucket offsets in stage-then-bucket
    * order; phase 2 ranks within each (stage, bucket) partition and
    * adds the broadcast offset. Because the bucket is a PREFIX of the
    * hash position, concatenating buckets in offset order reproduces
    * the single-sort order exactly — the position column is invariant
    * under `bucketChars` (spec-pinned), which only tunes parallelism. */
  def curriculumOrder(df: DataFrame, stage: Column, key: Column,
                      stages: Seq[String],
                      bucketChars: Int = 0): DataFrame = {
    require(stages.nonEmpty, "stages must be non-empty")
    require(stages.distinct.size == stages.size,
      s"duplicate stage labels in $stages")
    val (tagged0, _) = tagBuckets(df, stage, key, bucketChars)
    val tagged = tagged0.filter(col("__s").isin(stages: _*))
    val stageIdx = stages.zipWithIndex.toMap
    // phase 1: per-(stage, bucket) counts — driver-bounded
    val counts = tagged.groupBy(col("__s"), col("__bkt"))
      .agg(count(lit(1)).as("__m"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    var acc = 0L
    val offsets = counts
      .sortBy { case (s, b, _) => (stageIdx(s), b) }
      .map { case (s, b, m) => val o = acc; acc += m; (s, b, o) }
    val spark = df.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("__s", "__bkt", "__off"))
    val w = Window.partitionBy(col("__s"), col("__bkt"))
      .orderBy(col("__pos"), key)
    tagged.join(offDf, Seq("__s", "__bkt"))
      .withColumn("position",
        col("__off") + row_number().over(w) - lit(1))
      .drop("__s", "__bkt", "__pos", "__off")
  }

  /** Split assignment column from cumulative hash ranges, e.g.
    * `splits = Seq("train" -> 0.8, "test" -> 0.1, "val" -> 0.1)`.
    * Key on a GROUP column (source, author, url-domain) to make the split
    * leakage-safe: every row of a group lands in the same part. */
  /** Leakage-safe dataset split: near-duplicate documents must never
    * straddle a train/test boundary (the classic eval-contamination
    * bug — the model "generalizes" to test docs it saw paraphrased in
    * training). Split assignment keys on the near-dup CLUSTER
    * representative instead of the document id: `pairs` (from any of
    * the engine's pair miners — its `expandGroups = false` spanning
    * mode is the scale shape) feed [[Dedup.duplicateClusters]], every
    * member of a cluster shares its representative's hash draw, and
    * docs in no pair key on themselves. Appends `splitCol`.
    *
    * Scale shape: the cluster table is pair-bounded (near-dup pairs
    * are a small fraction of any sane corpus), so the left join
    * broadcasts under AQE and the corpus never re-shuffles; the split
    * itself is the usual literal-threshold hash predicate. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       splits: Seq[(String, Double)],
                       idCol: String = "doc_id",
                       splitCol: String = "split"): DataFrame = {
    require(!docs.columns.contains(splitCol),
      s"output column $splitCol already exists")
    val clusters = Dedup.duplicateClusters(pairs)
      .select(col("doc_id").as(idCol), col("cluster_id").as("__cl"))
    docs.join(clusters, Seq(idCol), "left")
      .withColumn(splitCol,
        splitColumn(coalesce(col("__cl"), col(idCol)), splits))
      .drop("__cl")
  }

  /** Deterministic integer upsampling: every row of stratum `s`
    * appears `repeats(s)` times (unlisted strata once), tagged with
    * `copyCol` = 0..r-1 — the standard upweighting of high-quality
    * sources (books x3, wiki x2) without RNG or fractional
    * approximation. Downstream epoch shuffling should key on
    * (row key, copy index) so the copies spread through the epoch
    * instead of clumping. One generator per row, map-side — no
    * shuffle, no driver state. */
  def upsampleByRepeats(df: DataFrame, stratum: Column,
                        repeats: Map[String, Int],
                        copyCol: String = "copy_idx"): DataFrame = {
    require(repeats.nonEmpty && repeats.values.forall(_ >= 1),
      "repeat counts must be >= 1")
    require(!df.columns.contains(copyCol),
      s"output column $copyCol already exists")
    val r = repeats.foldLeft(lit(1)) { case (acc, (s, n)) =>
      when(stratum === s, lit(n)).otherwise(acc)
    }
    df.withColumn(copyCol, explode(sequence(lit(0), r - 1)))
  }

  /** The priority of a row under deterministic priority sampling
    * (Duffield, Lund, Thorup, "Priority sampling for estimation of
    * arbitrary subset sums", JACM 2007): `w / u` with `u` in (0, 1]
    * derived from the key's md5. Chosen over Efraimidis-Spirakis
    * `u^(1/w)` keys deliberately: `u = (m + 1) / 2^52` (m = first 13
    * md5 hex chars) is EXACT in a double — `m + 1 <= 2^52` is
    * representable and division by a power of two never rounds — so
    * the priority is one correctly-rounded IEEE division, bit-identical
    * in every IEEE-754 engine. An `ln`/`pow`-based key is only
    * 1-ulp-reproducible across libm implementations, which is exactly
    * the boundary-flip hazard the oracle hash-compare cannot absorb. */
  def priorityOf(key: Column, weight: Column): Column = {
    val m = conv(substring(md5(key.cast("string")), 1, 13), 16, 10)
      .cast("long")
    weight / ((m + lit(1L)).cast("double") / lit(4503599627370496.0))
  }

  /** Split a bounded top-(n+1) priority frame into the n-row sample
    * with its Horvitz-Thompson adjusted weight `est_weight =
    * max(w, tau)`, `tau` = the (n+1)-th priority (0 when the population
    * had at most n rows — every weight is then exact). The window is
    * unpartitioned BY CONTRACT: its input is at most n+1 rows. */
  private def samplePriorityTop(top: DataFrame, weight: Column,
                                key: Column, n: Int): DataFrame = {
    val w0 = Window.orderBy(col("__prio").desc, key)
    val full = w0.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    top.withColumn("__rn", row_number().over(w0))
      .withColumn("__tau", when(count(lit(1)).over(full) === n + 1,
        min(col("__prio")).over(full)).otherwise(lit(0.0)))
      .filter(col("__rn") <= n)
      .withColumn("est_weight", greatest(weight, col("__tau")))
      .drop("__rn", "__tau", "__prio")
  }

  /** Deterministic weighted sample WITHOUT replacement: the n rows of
    * largest [[priorityOf]] priority (ties on key). Per Duffield et al.
    * the returned `est_weight` makes any subset sum unbiased:
    * `sum(est_weight)` over the sample (or any filtered slice of it)
    * estimates the corresponding population `sum(weight)`. Rows with
    * null or non-positive weight are excluded by contract — a weight of
    * zero can never be sampled and a negative weight has no sampling
    * interpretation. Keys are assumed unique (they key the
    * deterministic u); the top-n plans as TakeOrderedAndProject — no
    * global sort, no shuffle beyond the per-partition heaps. Samples
    * nest: the top-n sample is a subset of the top-(n+1) sample, so a
    * pipeline can over-sample once and cut later. */
  def prioritySample(df: DataFrame, key: Column, weight: Column,
                     n: Int): DataFrame = {
    require(n >= 1, s"sample size $n")
    val top = df.filter(weight.isNotNull && weight > lit(0.0))
      .withColumn("__prio", priorityOf(key, weight))
      .orderBy(col("__prio").desc, key).limit(n + 1)
    samplePriorityTop(top, weight, key, n)
  }

  /** Streaming/ingest twin of [[prioritySample]]: fold one batch into a
    * persisted (n+1)-row reservoir at `indexPath` and return the
    * current n-row sample with `est_weight`. Because per-row priorities
    * are deterministic and top-(n+1) is associative over unions, the
    * reservoir after any batch sequence EQUALS the single-shot
    * [[prioritySample]] over the concatenated batches — order-free,
    * restart-safe. Re-delivered rows (same key, same weight — a
    * retried batch) collapse to one candidate before the cut, so
    * reprocessing a failed batch cannot crowd the reservoir; a key
    * re-arriving with a CHANGED weight is a new candidate by design
    * (the caller owns re-keying semantics). The reservoir is rewritten
    * per batch via [[graft.core.Fold.swap]]: a second writer — or a
    * stale lock — fails fast, and the merge reads the reservoir under
    * the lock. */
  def incrementalPrioritySample(batch: DataFrame, indexPath: String,
                                key: Column, weight: Column,
                                n: Int): DataFrame = {
    require(n >= 1, s"sample size $n")
    val incoming = batch.filter(weight.isNotNull && weight > lit(0.0))
      .select(key.cast("string").as("key"), weight.cast("double").as("w"))
      .withColumn("__prio", priorityOf(col("key"), col("w")))
    val reservoir = graft.core.Fold.swapTable(batch.sparkSession, indexPath) {
      current => current.fold(incoming)(_.unionByName(incoming))
        .dropDuplicates("key", "__prio")
        .orderBy(col("__prio").desc, col("key")).limit(n + 1)
    }
    samplePriorityTop(reservoir, col("w"), col("key"), n)
  }

  def splitColumn(key: Column, splits: Seq[(String, Double)]): Column = {
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split weights must sum to 1")
    val pos = hashPosition(key)
    val cums = splits.scanLeft(0.0) { case (acc, (_, w)) => acc + w }.tail
    splits.zip(cums).init.foldRight(lit(splits.last._1)) {
      case (((name, _), cum), otherwise) =>
        // keepsAll guards degenerate zero-weight tails: a cumulative 1.0
        // boundary must capture every hash, including "ffff"
        val below =
          if (keepsAll(cum)) lit(true) else pos < lit(hexThreshold(cum))
        when(below, name).otherwise(otherwise)
    }
  }
}
