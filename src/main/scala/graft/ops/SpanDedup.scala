package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Pin.PinOps

/** Exact-substring (passage-level) deduplication in the style of Lee et
  * al. 2022, "Deduplicating Training Data Makes Language Models Better"
  * (ACL) — the ExactSubstr pass that document-level dedup
  * ([[Dedup.exactDedup]], [[Dedup.ngramJaccardPairs]]) cannot express:
  * a boilerplate license header or a quoted paragraph repeated across
  * otherwise-distinct documents is invisible to whole-document and
  * near-dup mining, but dominates what a language model memorizes.
  *
  * The reference algorithm builds a corpus suffix array; that is a
  * single-machine construction. The Spark-first equivalent mines at
  * k-token granularity: every k-token window is fingerprinted, windows
  * whose fingerprint occurs at least `minOccurrences` times corpus-wide
  * are duplicated, and per document the overlapping duplicated windows
  * merge into maximal `[span_start, span_end)` token spans — exactly
  * the spans a suffix-array pass of threshold k reports, up to md5
  * collisions (128-bit; ~10^12 windows at 100 TB gives a collision
  * probability around 10^-13 — negligible, and a collision only ever
  * OVER-marks a span, never corrupts unrelated documents).
  *
  * Scale shape: the window fingerprint table is the corpus token
  * stream (one md5 per token position) and is exchanged twice — once
  * grouped by fingerprint for the corpus-wide occurrence count
  * (partial-aggregated map-side, so the exchange carries one row per
  * DISTINCT fingerprint per task), once semi-joined against the
  * duplicated-fingerprint set to mark positions. Both exchanges are
  * inherent to global duplication (the suffix array moves the same
  * bytes); the corpus is tokenized twice rather than checkpointing a
  * corpus-sized gram table — the [[Dsir]] / [[Text.unigramSurprisal]]
  * tradeoff, deliberate. The interval merge is a window partitioned by
  * document (per-doc data, never a global sort), and span removal is a
  * per-row array rewrite against a per-doc span list that is bounded
  * by document length.
  */
object SpanDedup {

  /** `(id, pos, h)` — the md5 fingerprint of the k-token window starting
    * at 0-based token position `pos`. Null / short (< k tokens) docs
    * yield no rows. */
  private def windowFingerprints(docs: DataFrame, k: Int,
                                 idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("id"), Text.tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= k)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, size(__t) - $k), " +
          s"i -> md5(concat_ws(' ', slice(__t, i + 1, $k))))")))
      .toDF("id", "pos", "h")

  /** Maximal duplicated spans per document: `(id, span_start, span_end,
    * span_tokens)` with `[span_start, span_end)` 0-based token indexes,
    * adjacent-or-overlapping duplicated windows merged. A window is
    * duplicated when its k-token fingerprint occurs `minOccurrences`+
    * times corpus-wide (self-repeats inside one document count — the
    * Lee et al. semantics: ANY second occurrence makes the bytes
    * memorization fuel). */
  def duplicatedSpans(docs: DataFrame, k: Int, minOccurrences: Long = 2L,
                      idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    require(k >= 2, s"window of $k tokens cannot overlap-merge; use k >= 2")
    require(minOccurrences >= 2,
      s"minOccurrences=$minOccurrences marks every window as duplicated")
    val grams = windowFingerprints(docs, k, idCol, textCol)
    val dup = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minOccurrences)
      .select(col("h"))
    // classic interval merge: a window starts a new span iff it begins
    // strictly after every earlier window ended; `pos` is unique per
    // doc so the two window passes are deterministic
    val marked = grams.join(dup, Seq("h"), "left_semi")
      .select(col("id"), col("pos").cast("long").as("__s"),
        (col("pos") + lit(k.toLong)).as("__e"))
    mergeIntervals(marked, idCol)
  }

  /** Cross-batch ExactSubstr: maximal duplicated spans of ONE batch
    * against the batch itself plus every fingerprint ever seen through
    * `indexPath` — continuous-ingest passage dedup. A window is
    * duplicated when its corpus-wide occurrence count (historical +
    * in-batch) reaches `minOccurrences`; history's own copies were NOT
    * marked when they arrived, so the fold has keep-one semantics
    * (the first arrival of a passage survives, every re-arrival is
    * reported) — closer to suffix-array dedup than the batch operator's
    * drop-all policy.
    *
    * The index stores `(h, cnt)` count deltas, one append per batch —
    * one row per DISTINCT in-batch fingerprint, read back with a
    * partial-aggregated SUM per fingerprint (split counts from many
    * appends are summed, so [[Dedup.compactIndex]] can repartition the
    * path freely; reads fail fast on a stale compaction lock). Like the
    * exact-verify shingle index, the footprint is corpus-scale BY
    * DESIGN (~16 bytes per distinct k-token window) — that is the
    * honest cost of exact passage-level history, and the same
    * compaction lifecycle bounds its file count. The returned spans are
    * pinned (localCheckpoint) BEFORE the delta append: the mark join
    * reads the index, and a caller action after the append would
    * otherwise re-plan against history that now contains the batch
    * itself, silently re-marking it.
    *
    * Delivery contract: the count-delta append is NOT idempotent — a
    * re-delivered (retried) logical batch appends its counts again. At
    * the default `minOccurrences = 2` the outcome is unchanged (the
    * first legitimate count already crossed the threshold for true
    * re-arrivals, and a double-counted single occurrence marks the
    * passage exactly as its genuine second arrival would have), but
    * with `minOccurrences > 2` duplicate appends inflate history toward
    * the threshold and over-mark future arrivals.
    *
    * Pass `batchId` to make a DELIVERY-level replay a no-op: applied
    * ids live in a side journal ([[IncrementalLedger.journalRecord]],
    * recorded after the append — the double-count window shrinks to
    * one file-create), and a replayed id returns empty spans without
    * touching the index. Content-based identity is deliberately NOT
    * used: a re-crawl re-arriving with identical content is a
    * legitimate event this operator exists to DETECT, so only the
    * caller's delivery system (the streaming checkpoint's batch ids)
    * can name a true replay. `sinkFirst` runs on the computed spans
    * BEFORE the index append and the journal record — make the output
    * durable there, so every crash point leaves either duplicate
    * output rows (at-least-once) or a clean retry, never silent loss
    * (the [[Dedup.incrementalExactDedup]] ordering contract). */
  def incrementalDuplicatedSpans(batch: DataFrame, indexPath: String,
                                 k: Int, minOccurrences: Long = 2L,
                                 idCol: String = "doc_id",
                                 textCol: String = "text",
                                 batchId: Option[String] = None,
                                 sinkFirst: DataFrame => Unit = _ => ())
      : DataFrame = {
    require(k >= 2, s"window of $k tokens cannot overlap-merge; use k >= 2")
    require(minOccurrences >= 2,
      s"minOccurrences=$minOccurrences marks every window as duplicated")
    import graft.core.Fs
    val spark = batch.sparkSession
    graft.core.Fold.recoverIndex(indexPath)
    if (batchId.exists(IncrementalLedger.journalIds(indexPath).contains)) {
      // fully-applied batch replayed (crash after the journal record):
      // its spans are already durable via the caller's sinkFirst, its
      // counts already in the index — emit the empty span frame (same
      // schema, derived from the same pipeline over zero rows) and
      // touch nothing
      val none = windowFingerprints(batch.limit(0), k, idCol, textCol)
        .select(col("id"), col("pos").cast("long").as("__s"),
          (col("pos") + lit(k.toLong)).as("__e"))
      return mergeIntervals(none, idCol)
    }
    val grams = windowFingerprints(batch, k, idCol, textCol)
    // pinned: the SAME counts feed both the duplicate mark below and
    // the index append — a non-deterministic batch plan (sampling,
    // shuffle-dependent ids) re-evaluated for the write could otherwise
    // diverge from the counts the marking used; also avoids
    // re-tokenizing the batch for the append
    val batchCounts = grams.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"))
      .pinned()
    val seen =
      if (Fs.exists(indexPath) && Fs.listNames(indexPath).nonEmpty) {
        // scale shape: only fingerprints PRESENT IN THE BATCH can mark
        // batch windows, so the corpus-sized index scan is semi-pruned
        // by the batch's distinct fingerprints before the count
        // aggregate — the previous whole-index groupBy shuffled the
        // entire fingerprint history every batch. Unlike doc-level
        // fingerprints (one per doc), window fingerprints run one per
        // TOKEN, so the broadcast hint is gated on a measured bound
        // (~8 B/key; 32M keys ~ 256 MB) — past it the semi-join still
        // prunes the aggregate but ships the batch keys through the
        // exchange instead of the driver (the count is one cheap job
        // over the already-checkpointed batch counts).
        val batchH = batchCounts.select(col("h"))
        val keys =
          if (batchCounts.count() <= (1L << 25)) broadcast(batchH)
          else batchH
        Fs.parquet(spark, indexPath)
          .join(keys, Seq("h"), "left_semi")
          .groupBy(col("h"))
          .agg(sum(col("cnt")).as("__seen"))
      } else batchCounts.limit(0).select(col("h"), col("cnt").as("__seen"))
    val dupH = batchCounts.join(seen, Seq("h"), "left_outer")
      .filter(col("cnt") + coalesce(col("__seen"), lit(0L))
        >= minOccurrences)
      .select(col("h"))
    val marked = grams.join(dupH, Seq("h"), "left_semi")
      .select(col("id"), col("pos").cast("long").as("__s"),
        (col("pos") + lit(k.toLong)).as("__e"))
    val spans = mergeIntervals(marked, idCol).pinned()
    // output-first: durable spans before the index append (duplicate
    // rows on retry, never loss), then counts, then the journal record
    sinkFirst(spans)
    batchCounts.write.mode("append").parquet(indexPath)
    batchId.foreach(IncrementalLedger.journalRecord(indexPath, _))
    spans
  }

  /** The shared per-doc running-max interval merge over marked
    * `(id, __s, __e)` windows. */
  private def mergeIntervals(marked: DataFrame, idCol: String): DataFrame = {
    val byPos = Window.partitionBy(col("id")).orderBy(col("__s"))
    val runMax = max(col("__e"))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    marked
      .withColumn("__new",
        when(col("__s") > coalesce(runMax, lit(-1L)), 1L).otherwise(0L))
      .withColumn("__g", sum(col("__new")).over(byPos))
      .groupBy(col("id"), col("__g"))
      .agg(min(col("__s")).as("span_start"), max(col("__e")).as("span_end"))
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Cut every duplicated span out of every document (the strictest
    * removal policy: ALL occurrences go, which over-deletes one copy
    * relative to keep-one suffix-array dedup but guarantees zero
    * repeated k-grams survive — callers wanting keep-one semantics
    * exempt a canonical document first and union it back). Returns the
    * input columns plus `clean_text` (whitespace-normalized: surviving
    * tokens re-joined with single spaces) and `n_removed_tokens`;
    * documents with no duplicated span pass through with
    * `n_removed_tokens` 0 and null text stays null. */
  def removeDuplicatedSpans(docs: DataFrame, k: Int,
                            minOccurrences: Long = 2L,
                            idCol: String = "doc_id",
                            textCol: String = "text"): DataFrame =
    cutSpans(docs,
      duplicatedSpans(docs, k, minOccurrences, idCol, textCol),
      idCol, textCol)

  /** Maximal BENCHMARK-LEAKED spans per corpus document: every k-token
    * window whose fingerprint occurs ANYWHERE in `benchmark` marks its
    * positions, overlapping windows merge per doc — surgical
    * decontamination at passage granularity. The doc-level
    * [[graft.ops.Contamination.report]] flags whole documents
    * that share shingles with the benchmark; this finds exactly WHERE
    * the leaked passage sits, so [[removeContaminatedSpans]] can cut
    * the quoted benchmark item and keep the rest of the document — the
    * right tradeoff when contamination rides boilerplate-heavy pages
    * whose other content is good training data.
    *
    * Scale shape: benchmark fingerprints are an eval-set-sized DISTINCT
    * set and broadcast, so marking is one corpus scan with a map-side
    * semi-join — the corpus never shuffles before the per-doc interval
    * merge. */
  def contaminatedSpans(docs: DataFrame, benchmark: DataFrame, k: Int,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        benchTextCol: String = "text"): DataFrame = {
    require(k >= 2, s"window of $k tokens cannot overlap-merge; use k >= 2")
    val grams = windowFingerprints(docs, k, idCol, textCol)
    val benchH = windowFingerprints(
      benchmark.select(monotonically_increasing_id().as("__bid"),
        col(benchTextCol).as("__btxt")),
      k, "__bid", "__btxt")
      .select(col("h")).distinct()
    val marked = grams.join(broadcast(benchH), Seq("h"), "left_semi")
      .select(col("id"), col("pos").cast("long").as("__s"),
        (col("pos") + lit(k.toLong)).as("__e"))
    mergeIntervals(marked, idCol)
  }

  /** Cut every benchmark-leaked span ([[contaminatedSpans]]) out of
    * every document: input columns plus `clean_text` and
    * `n_removed_tokens`, same contract as [[removeDuplicatedSpans]]. */
  def removeContaminatedSpans(docs: DataFrame, benchmark: DataFrame,
                              k: Int, idCol: String = "doc_id",
                              textCol: String = "text",
                              benchTextCol: String = "text"): DataFrame =
    cutSpans(docs,
      contaminatedSpans(docs, benchmark, k, idCol, textCol, benchTextCol),
      idCol, textCol)

  /** Shared span-removal rewrite: drop every token covered by a span in
    * `spans` (`(idCol, span_start, span_end)`), re-join survivors with
    * single spaces. Null text stays null; span-free docs pass through
    * with `n_removed_tokens` 0. */
  private def cutSpans(docs: DataFrame, spanDf: DataFrame,
                       idCol: String, textCol: String): DataFrame = {
    val spans = spanDf
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    // span lists are per-doc (bounded by doc length), so this join is
    // one exchange of (id, spans) — AQE broadcasts it when small
    docs.join(spans, Seq(idCol), "left_outer")
      .withColumn("__t", Text.tokens(col(textCol)))
      .withColumn("__kept", when(col("__spans").isNull, col("__t"))
        .otherwise(expr(
          "filter(__t, (tok, i) -> !exists(__spans, " +
            "s -> i >= s.span_start and i < s.span_end))")))
      .withColumn("clean_text",
        when(col("__t").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ", col("__kept"))))
      .withColumn("n_removed_tokens",
        (coalesce(size(col("__t")), lit(0))
          - coalesce(size(col("__kept")), lit(0))).cast("long"))
      .drop("__t", "__kept", "__spans")
  }
}
