package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Pin.PinOps
import graft.core.Fs

/** Sparse retrieval over a document corpus — BM25 scoring for
  * training-data curation (find documents matching a probe query,
  * rank seed sets for quality classifiers, spot-check mixture
  * composition).
  *
  * The plan is built for a 100 TB corpus: per-document term
  * frequencies for the (small, bounded) query-term set are computed
  * map-side from the token array — no explode, no (doc, term)
  * shuffle — so the only wide operations are one single-row global
  * aggregate (N, Σdl, per-term document frequencies) that broadcasts
  * back, and the final top-k, which Spark executes as
  * TakeOrderedAndProject (per-partition heaps, no full sort).
  */
object Retrieval {

  /** Okapi BM25 top-k retrieval for one query.
    *
    * Returns `(id, score)` for the `k` best-scoring documents,
    * ordered by rounded score descending with id as tiebreak. Scores
    * are floor-rounded at 1e-6, which makes cross-engine ranking flips
    * from libm ulp differences (and, in the batch variant, from
    * partial-aggregation summation order) rare — not impossible: a true
    * score within an ulp of a 1e-6 grid line can still floor to
    * adjacent buckets on different engines, so an oracle mismatch
    * exactly at a bucket boundary is expected noise (same policy as
    * [[Text.tfIdfTopTerms]]). Documents matching no query term are
    * excluded (exact integer test on Σtf, not on the rounded score).
    *
    * idf is the standard unclamped-positive form
    * `ln(1 + (N - df + 0.5) / (df + 0.5))`.
    *
    * `queryTerms` is deliberately bounded: each term adds one
    * array-scan per document row, and the per-doc tf columns ride in
    * the single aggregate below. ~tens of terms is the intended use
    * (a query, not a vocabulary — for corpus-wide term statistics use
    * [[Text.vocabulary]] / [[Text.tfIdfTopTerms]]).
    *
    * avgdl derivation note: dl values are exact integers, so Σdl is
    * exact in double arithmetic below 2^53 tokens regardless of
    * partial-aggregation order — avgdl (= Σdl/N) is bit-identical
    * across engines, which the rounding policy relies on.
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75,
               textCol: String = "text",
               idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms, "queryTerms must be distinct")
    require(queryTerms.size <= 64,
      "bm25TopK is a query, not a vocabulary scan: <= 64 terms " +
        "(each term costs one array scan per document)")
    require(k > 0, "k must be positive")
    val terms = queryTerms.toIndexedSeq

    val base = docs.select(
      col(idCol).as("id") +:
        size(Text.tokens(col(textCol))).cast("double").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(Text.tokens(col(textCol)), x => x === lit(t)))
            .cast("double").as(s"tf$i")
        }: _*)

    // one global single-row aggregate: N, Σdl, df per term
    val stats = base.agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("dl")).as("sumdl") +:
        terms.indices.map(i =>
          sum((col(s"tf$i") > 0d).cast("double")).as(s"df$i")): _*)

    val avgdl = col("sumdl") / col("n")
    val score = terms.indices.map { i =>
      val tf = col(s"tf$i")
      val idf = log(lit(1d) +
        (col("n") - col(s"df$i") + lit(0.5)) / (col(s"df$i") + lit(0.5)))
      idf * tf * lit(k1 + 1d) /
        (tf + lit(k1) * (lit(1d - b) + lit(b) * col("dl") / avgdl))
    }.reduce(_ + _)
    val matched = terms.indices.map(i => col(s"tf$i")).reduce(_ + _)

    base.crossJoin(broadcast(stats))
      .filter(matched > 0d)
      .select(col("id"), (floor(score * 1e6) / 1e6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Batched BM25: top-k per query for a whole TABLE of queries —
    * the inverted-index shape that serves thousands of probes from ONE
    * posting pass, where [[bm25TopK]]'s map-side form re-scans the
    * corpus per query.
    *
    * `queries` is `(query_id, term)` rows (one row per term; duplicate
    * terms in a query are deduplicated). Returns
    * `(query_id, id, score, rank)` with `rank <= k`, same formula and
    * 1e-6 rounding as [[bm25TopK]] (partials here sum in aggregate
    * order, so the two paths agree modulo the shared rounding policy);
    * documents matching no query term never enter the posting join.
    *
    * Scale shape: two corpus scans total — the posting build (explode,
    * semi-joined against the broadcast distinct query-term set BEFORE
    * the (doc, term) count shuffle, so only query-relevant postings
    * ever shuffle) and a cheap dl/N aggregate. The aggregated posting
    * table (bounded by matching tokens, not the corpus) is
    * `localCheckpoint`ed once and serves both its consumers (df counts
    * and scoring) without re-running the explode. Scoring joins
    * postings to query terms term-keyed (broadcast), sums partials per
    * (query, doc), and takes top-k with a constant-limit rank that
    * plans as WindowGroupLimit (per-partition heaps before the
    * shuffle).
    *
    * The query-term vocabulary is guarded at `maxTerms` distinct terms
    * (it rides the plan as three broadcasts) — probes, not a corpus
    * vocabulary; the guard is a bounded runtime probe, the
    * hot-cell-fail-fast discipline.
    */
  def bm25TopKBatch(docs: DataFrame, queries: DataFrame, k: Int,
                    k1: Double = 1.2, b: Double = 0.75,
                    textCol: String = "text",
                    idCol: String = "doc_id",
                    queryIdCol: String = "query_id",
                    termCol: String = "term",
                    maxTerms: Int = 10000,
                    checkpointPostings: Boolean = true): DataFrame = {
    require(k > 0, "k must be positive")
    require(maxTerms > 0, "maxTerms must be positive")
    val qterms = queries
      .select(col(queryIdCol).as("qid"), col(termCol).as("term"))
      .distinct()
    val termSet = qterms.select(col("term")).distinct()
    // bounded probe: counts at most maxTerms+1 rows, never the corpus
    val nTerms = termSet.limit(maxTerms + 1).count()
    require(nTerms <= maxTerms,
      s"query vocabulary exceeds maxTerms=$maxTerms distinct terms; " +
        "batched BM25 broadcasts the term set — for corpus-scale " +
        "vocabularies raise maxTerms deliberately or shard the queries")
    val postings0 = docs
      .select(col(idCol).as("id"), explode(Text.tokens(col(textCol)))
        .as("term"))
      .join(broadcast(termSet), Seq("term"), "left_semi")
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    // checkpointPostings = false keeps the lineage visible (plan
    // inspection / storage-constrained clusters) at the price of
    // re-running the explode for each consumer
    val postings =
      if (checkpointPostings) graft.core.Pin.pin(postings0)
      else postings0
    val dl = docs.select(col(idCol).as("id"),
      size(Text.tokens(col(textCol))).cast("double").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      sum(col("dl")).as("sumdl"))
    val dfreq = postings.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val scored = postings
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("id"))
      .crossJoin(broadcast(stats))
      .select(col("qid"), col("id"),
        (log(lit(1d) + (col("n") - col("df") + lit(0.5)) /
          (col("df") + lit(0.5))) * col("tf") * lit(k1 + 1d) /
          (col("tf") + lit(k1) * (lit(1d - b) +
            lit(b) * col("dl") / (col("sumdl") / col("n")))))
          .as("partial"))
      .groupBy(col("qid"), col("id"))
      .agg((floor(sum(col("partial")) * 1e6) / 1e6).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("score").desc, col("id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid").as(queryIdCol), col("id"), col("score"),
        col("rank"))
      .orderBy(col(queryIdCol), col("rank"))
  }

  /** Reciprocal-rank fusion of ranked retrieval lists (the standard
    * hybrid-retrieval combiner, Cormack/Clarke/Buettcher SIGIR'09):
    * `score(d) = sum over lists of 1 / (k0 + rank_d)` — rank-based, so
    * a lexical BM25 list and a semantic cosine list fuse without score
    * normalization. Input frames carry `(idCol, rankCol)` with rank
    * starting at 1; ids absent from a list simply contribute nothing.
    * Output: `(id, rrf_score, n_lists, rank)` — the fused score is
    * 1e-6-floor-rounded and ordered (score desc, id), `n_lists` counts
    * how many input lists retrieved the id (the agreement signal hybrid
    * pipelines threshold on).
    *
    * Scale shape: the inputs are top-k retrieval OUTPUTS (list
    * cardinality = k per list, not the corpus), so the union, the
    * per-id sum, and the final single-partition rank window all operate
    * on at most `sum(|list|)` rows — driver-trivial by construction;
    * the heavy lifting lives in the upstream retrievers. That contract
    * is enforced, not trusted: each list is probed at most
    * `maxListSize + 1` rows and a larger frame fails fast (the
    * ivfTopK / bm25TopKBatch bounded-probe discipline) — without the
    * guard a corpus-sized "list" would ride the unpartitioned rank
    * window as a single-task global sort. A malformed list carrying an
    * id twice is deduplicated to its BEST (minimum) rank first, so
    * `n_lists` always means "how many lists retrieved the id" and a
    * duplicate row can never double-count its contribution.
    * Portability: each contribution is `1.0 / (k0 + rank)` (exact
    * double op); a TWO-list fusion sums a single pair of doubles
    * (commutative — no order dependence), so the fused scores are
    * engine-exact; three or more lists inherit the documented
    * summation-order boundary-flip caveat. */
  def rrfFuse(lists: Seq[DataFrame], topK: Int, k0: Int = 60,
              idCol: String = "id", rankCol: String = "rank",
              maxListSize: Int = 100000): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    require(topK > 0, "topK must be positive")
    require(k0 > 0, "k0 must be positive")
    require(maxListSize > 0, "maxListSize must be positive")
    // pin each list ONCE, then probe the pinned frame: probing the raw
    // frame would re-execute the whole upstream retrieval plan (a
    // corpus scan per list — measured 2x on the bench), and the fusion
    // below reuses the same materialization for free
    val pinned = lists.map(df =>
      df.select(col(idCol).as("id"), col(rankCol).cast("double").as("__r"))
        .pinned())
    pinned.zipWithIndex.foreach { case (df, i) =>
      // bounded probe: counts at most maxListSize+1 rows of the pinned
      // top-k output, never the upstream frame
      val n = df.limit(maxListSize + 1).count()
      require(n <= maxListSize,
        s"input list $i exceeds maxListSize=$maxListSize rows; rrfFuse " +
          "fuses top-k retrieval OUTPUTS through an unpartitioned rank " +
          "window — fuse per-query lists (rrfFuseBatch for a query " +
          "table), or raise maxListSize deliberately")
    }
    val contribs = pinned.map(df =>
      df
        // defensive: a malformed list with a repeated id keeps its best
        // rank once (identity for well-formed unique-id lists)
        .groupBy(col("id")).agg(min(col("__r")).as("__r"))
        .select(col("id"),
          (lit(1.0) / (lit(k0.toDouble) + col("__r"))).as("__c")))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf_score").desc, col("id"))
    contribs.reduce(_ unionByName _)
      .groupBy(col("id"))
      .agg(sum(col("__c")).as("__raw"), count(lit(1)).as("n_lists"))
      .withColumn("rrf_score", floor(col("__raw") * 1e6) / 1e6)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("id"), col("rrf_score"), col("n_lists"), col("rank"))
      .orderBy(col("rank"))
  }

  /** Batched reciprocal-rank fusion: [[rrfFuse]] grouped by a query-id
    * column — the fusion stage of a retrieval-based curation loop that
    * serves a whole TABLE of probes (pair with [[bm25TopKBatch]] for
    * the lexical lists and [[Similarity.bruteForceTopK]] /
    * [[Similarity.ivfTopK]] for the semantic ones; all three already
    * emit `(query_id, id, rank)` shapes).
    *
    * Input frames carry `(queryIdCol, idCol, rankCol)` with rank
    * starting at 1 within each query; a (query, id) absent from a list
    * contributes nothing to that query's fusion. Output:
    * `(query_id, id, rrf_score, n_lists, rank)` with `rank <= topK`
    * per query, same k0 / 1e-6-floor / (score desc, id) tiebreak as
    * the single-query form — for any one query id the result agrees
    * row-for-row with [[rrfFuse]] applied to that query's slices.
    *
    * Scale shape: unlike the single-query form there is NO driver-side
    * or single-task stage — the per-(query, id) sum is a hash
    * aggregate and the rank window is PARTITIONED on query id, so a
    * million-query fusion spreads across the cluster; no bounded-probe
    * guard is needed because nothing here concentrates rows beyond one
    * query's lists (each window partition holds at most
    * `lists * k` rows by the top-k input contract). Duplicate
    * (query, id) rows within one list are deduplicated to their best
    * rank, as in [[rrfFuse]]. */
  def rrfFuseBatch(lists: Seq[DataFrame], topK: Int, k0: Int = 60,
                   idCol: String = "id", rankCol: String = "rank",
                   queryIdCol: String = "query_id"): DataFrame = {
    require(lists.nonEmpty, "rrfFuseBatch needs at least one ranked list")
    require(topK > 0, "topK must be positive")
    require(k0 > 0, "k0 must be positive")
    val contribs = lists.map(df =>
      df.select(col(queryIdCol).as("qid"), col(idCol).as("id"),
        col(rankCol).cast("double").as("__r"))
        .groupBy(col("qid"), col("id")).agg(min(col("__r")).as("__r"))
        .select(col("qid"), col("id"),
          (lit(1.0) / (lit(k0.toDouble) + col("__r"))).as("__c")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("rrf_score").desc, col("id"))
    contribs.reduce(_ unionByName _)
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("__c")).as("__raw"), count(lit(1)).as("n_lists"))
      .withColumn("rrf_score", floor(col("__raw") * 1e6) / 1e6)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("qid").as(queryIdCol), col("id"), col("rrf_score"),
        col("n_lists"), col("rank"))
      .orderBy(col(queryIdCol), col("rank"))
  }

  /** Hard-negative mining over a retrieval output: drop each query's
    * known positives, re-rank what remains, keep the top `m` — the
    * standard way a retrieval-training pipeline builds contrastive
    * negatives (documents the retriever scored highly that are NOT
    * labeled relevant are exactly the confusable ones worth training
    * against; see e.g. Karpukhin et al. 2020, DPR §3.2).
    *
    * `retrieved` is a per-query ranked table `(queryIdCol, idCol,
    * score, rankCol)` — the output shape of [[bm25TopKBatch]] and
    * [[rrfFuseBatch]]; `positives` carries the relevance pairs
    * `(queryIdCol, idCol)`. Output: `(query_id, id, score, neg_rank)`
    * with `neg_rank <= m` per query, ordered `(query_id, neg_rank)`;
    * re-ranking preserves the input rank order (ties impossible —
    * input ranks are unique per query).
    *
    * Scale shape: the left side is a top-k retrieval OUTPUT (`queries
    * x k` rows, never the corpus); the anti-join on (query, id) is the
    * only exchange touching `positives` (AQE broadcasts qrels-sized
    * tables); the re-rank window is PARTITIONED on query id (at most k
    * rows per partition), so a million-query mine spreads across the
    * cluster with no driver-side stage. */
  def hardNegatives(retrieved: DataFrame, positives: DataFrame, m: Int,
                    queryIdCol: String = "query_id", idCol: String = "id",
                    rankCol: String = "rank"): DataFrame = {
    require(m > 0, "m must be positive")
    val pos = positives
      .select(col(queryIdCol).as("qid"), col(idCol).as("id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid"))
      .orderBy(col("__r"))
    retrieved
      .select(col(queryIdCol).as("qid"), col(idCol).as("id"),
        col("score"), col(rankCol).cast("long").as("__r"))
      .join(pos, Seq("qid", "id"), "left_anti")
      .withColumn("neg_rank", row_number().over(w).cast("long"))
      .filter(col("neg_rank") <= m)
      .select(col("qid").as(queryIdCol), col("id"), col("score"),
        col("neg_rank"))
      .orderBy(col(queryIdCol), col("neg_rank"))
  }

  // ------------------------------------------------------------------
  // Persisted BM25 inverted index — the retrieval stack's index
  // lifecycle, mirroring the incremental dedup / PQ index family:
  // build once, append new batches, search many times, compact
  // periodically. Layout at `path`:
  //   path/postings — (term, id, tf, dl): impact-style postings with
  //     the document length DENORMALIZED onto every row (8 bytes a
  //     posting), so scoring never joins a corpus-sized doc-length
  //     table — the search plan touches only query-term postings;
  //   path/stats — (n_docs, sum_dl): ONE row per appended batch; N and
  //     avgdl are the sums, exact integers in any fold order.
  // ------------------------------------------------------------------

  /** Append a document batch to the persisted BM25 index at `path`
    * (creating it if absent). Tokenization and length accounting match
    * [[bm25TopK]] exactly: null-text docs count toward N with a null
    * length and no postings, so index search reproduces the map-side
    * scorer bit-for-bit (modulo the shared rounding policy).
    *
    * Scale shape: one tokenize pass over the BATCH — a (id, term)
    * count shuffle bounded by batch tokens and one single-row
    * aggregate; the existing index is only probed for its tiny stats
    * table (one row per appended batch) to enforce at-most-once
    * delivery. NOT crash-atomic across the two subdirectory appends
    * (postings land before the stats row): a killed append leaves N
    * slightly understated — re-append the batch after deleting the
    * partial files, or rebuild.
    *
    * At-most-once is CHECKED, not just documented: every stats row
    * records a `batch_id` — the caller's, or an order-free digest of
    * the batch's doc ids (`bit_xor` of `xxhash64(id)` + count, the
    * shard-manifest formula) — and a re-delivered batch fails fast
    * here instead of silently doubling the doc's postings rows (df is
    * counted as postings rows in [[bm25Search]], so a double-append
    * would shift every score with nothing to catch it). With
    * `skipDuplicate` (the streaming sink's mode) a seen batch is
    * skipped instead — a checkpoint replay of a fully-appended
    * micro-batch becomes a no-op (effectively-once), rather than
    * wedging recovery on the guard. Returns true when the batch was
    * appended, false when skipped. */
  def appendToBm25Index(batch: DataFrame, path: String,
                        textCol: String = "text",
                        idCol: String = "doc_id",
                        batchId: Option[String] = None,
                        skipDuplicate: Boolean = false): Boolean = {
    graft.core.Fold.recoverIndex(s"$path/postings")
    graft.core.Fold.recoverIndex(s"$path/stats")
    val base = batch.select(col(idCol).as("id"),
      Text.tokens(col(textCol)).as("t"))
      .withColumn("dl", size(col("t")).cast("long"))
      .pinned() // one tokenize pass serves both writes
    // empty batch: nothing to append, and the auto-derived digest would
    // degenerate ("keys:null:0" — bit_xor over zero rows is NULL), so
    // every empty batch would collide with the first one; short-circuit
    // before the digest and before a useless n_docs=0 stats row
    if (base.isEmpty) return false
    val spark = base.sparkSession
    val bid = batchId.getOrElse {
      val Array(d, n) = base
        .select(xxhash64(col("id")).as("__h"))
        .agg(expr("bit_xor(__h)").cast("string"),
          count(lit(1)).cast("string"))
        .head().toSeq.map(String.valueOf).toArray
      s"keys:$d:$n"
    }
    // upgrade compatibility: stream batch ids were `stream:<bid>`
    // before they became lineage-qualified `stream:<lineage>:<bid>` —
    // an index whose stats rows still carry the old form must keep its
    // replay dedup across the upgrade, so the legacy spelling of a
    // lineage-qualified id is also treated as a duplicate. (The legacy
    // form had no lineage either, so this matches its original
    // semantics; indexes with no old-form rows are unaffected.)
    val legacyAlias = bid match {
      case s if s.startsWith("stream:") =>
        s.split(":") match {
          case Array("stream", _, b) => Some(s"stream:$b")
          case _ => None
        }
      case _ => None
    }
    val seen = seenBatchIds(spark, path)
    if (seen.contains(bid) || legacyAlias.exists(seen.contains)) {
      if (skipDuplicate) return false
      throw new IllegalStateException(
        s"BM25 index at $path already contains batch '$bid' — " +
          "appending it again would double its postings and shift " +
          "every score; the append contract is at-most-once per batch")
    }
    base.select(col("id"), col("dl"), explode(col("t")).as("term"))
      .groupBy(col("term"), col("id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .write.mode("append").parquet(s"$path/postings")
    base.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .withColumn("batch_id", lit(bid))
      .write.mode("append").parquet(s"$path/stats")
    true
  }

  /** Batch ids already recorded in the index's stats table (empty for
    * a missing index or a pre-batch-id layout without the column). The
    * stats table is one row per batch — a driver-side collect here is
    * bounded by append count, not corpus size. */
  private def seenBatchIds(spark: org.apache.spark.sql.SparkSession,
                           path: String): Set[String] = {
    // existence pre-check, not a catch (the Database.readOpt
    // discipline): resolving a missing stats path throws
    // AnalysisException only after FileStreamSink probes it and logs a
    // full FileNotFoundException WARN stack — every first append paid
    // that resolution attempt and spammed the log; checking first does
    // neither, and stops depending on which exception type the
    // analyzer of the day surfaces for a missing path. A stats dir
    // that EXISTS but is unreadable (e.g. only _temporary from an
    // interrupted write) now fails loudly where the old catch
    // returned Set.empty — deliberate: that state means postings may
    // carry batches the stats table lost, and treating it as "no
    // batches seen" would double-append exactly the batch whose
    // marker vanished. A corrupt index needs an operator, not a guess.
    val p = new org.apache.hadoop.fs.Path(s"$path/stats")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else {
      val stats = Fs.parquet(spark, s"$path/stats")
      if (!stats.columns.contains("batch_id")) Set.empty
      else stats.select(col("batch_id")).na.drop()
        .collect().map(_.getString(0)).toSet
    }
  }

  /** Okapi BM25 top-k over the persisted index — [[bm25TopK]]'s exact
    * formula (same idf, same 1e-6 floor rounding, same (score desc,
    * id) order) served from postings instead of a corpus scan.
    * Equality with the map-side scorer over the accumulated corpus is
    * spec-pinned; the per-doc term sum runs in aggregate order where
    * [[bm25TopK]] sums a fixed column order, so boundary flips exactly
    * at a 1e-6 grid line remain the documented shared noise.
    *
    * Scale shape: the postings scan prunes to the query's terms (an
    * IN filter that reaches the parquet scan — at petabyte scale,
    * partition or bucket `postings` by a term-hash prefix and the
    * filter prunes whole files); df comes from counting those same
    * pruned postings; the stats table is batches-count rows; top-k
    * plans as TakeOrderedAndProject. Nothing touches non-matching
    * documents. */
  def bm25Search(spark: org.apache.spark.sql.SparkSession, path: String,
                 queryTerms: Seq[String], k: Int,
                 k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(queryTerms.distinct == queryTerms, "queryTerms must be distinct")
    require(k > 0, "k must be positive")
    graft.core.Fold.recoverIndex(s"$path/postings")
    graft.core.Fold.recoverIndex(s"$path/stats")
    val post = Fs.parquet(spark, s"$path/postings")
      .filter(col("term").isin(queryTerms: _*))
    val statsRaw = Fs.parquet(spark, s"$path/stats")
    // a raced double-append that slipped past the appender's guard
    // (two writers, same batch) is detectable here: same batch_id twice
    if (statsRaw.columns.contains("batch_id")) {
      val dups = statsRaw.filter(col("batch_id").isNotNull)
        .groupBy(col("batch_id")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select(col("batch_id"))
        .limit(5).collect().map(_.getString(0))
      if (dups.nonEmpty) throw new IllegalStateException(
        s"BM25 index at $path contains duplicate batch appends " +
          s"(${dups.mkString(", ")}) — df/N/avgdl are inflated; " +
          "rebuild the index or remove the duplicated batch files")
    }
    val stats = statsRaw
      .agg(sum(col("n_docs")).cast("double").as("n"),
        sum(col("sum_dl")).cast("double").as("sumdl"))
    val dfs = post.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    val avgdl = col("sumdl") / col("n")
    val tf = col("tf").cast("double")
    val idf = log(lit(1d) +
      (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val term = idf * tf * lit(k1 + 1d) /
      (tf + lit(k1) * (lit(1d - b) + lit(b) *
        col("dl").cast("double") / avgdl))
    post
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col("id"), term.as("__term"))
      .groupBy(col("id"))
      .agg((floor(sum(col("__term")) * 1e6) / 1e6).as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(k)
  }

  /** Compact both index tables (small per-batch file sets → sized
    * files); see [[Dedup.compactIndex]] for the locking/repair
    * discipline. */
  def compactBm25Index(spark: org.apache.spark.sql.SparkSession,
                       path: String): Unit = {
    Dedup.compactIndex(spark, s"$path/postings")
    Dedup.compactIndex(spark, s"$path/stats")
  }
}
