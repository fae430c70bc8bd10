package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence assembly for LLM pretraining: split oversized documents
  * into windows ([[chunkOversized]]) and lay documents out as
  * fixed-length training sequences ([[concatChunks]]).
  */
object Packing {

  /** Sliding-window chunking for oversized documents. Documents longer
    * than `maxTokens` whitespace tokens split into windows of
    * `maxTokens` advancing by `maxTokens - overlap` (consecutive chunks
    * share `overlap` tokens, the long-context pretraining /
    * RAG-indexing discipline); shorter documents pass through as their
    * single chunk 0.
    *
    * Per-row array arithmetic (tokenize once, `slice` per window) inside
    * whole-stage codegen — no shuffle, no UDF, linear at any corpus
    * size, and the whole transform is expressible in ANSI SQL for oracle
    * verification. Output: (idCol, chunk_idx, chunk). */
  def chunkOversized(docs: DataFrame, maxTokens: Int, overlap: Int = 0,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(overlap >= 0 && overlap < maxTokens,
      "overlap in [0, maxTokens)")
    val stride = maxTokens - overlap
    val toks = Text.tokens(col(textCol))
    val n = size(toks)
    val nChunks = when(n <= maxTokens, lit(1)).otherwise(
      ceil((n - lit(overlap)).cast("double") / stride).cast("int"))
    docs.select(col(idCol), toks.as("__t"), nChunks.as("__c"))
      .select(col(idCol), posexplode(transform(
        sequence(lit(0), col("__c") - 1),
        i => array_join(
          slice(col("__t"), i * stride + 1, lit(maxTokens)), " ")))
        .as(Seq("chunk_idx", "chunk")))
  }

  /** GPT-style concat-and-chunk sequence assembly: documents are laid out
    * in a deterministic global order (`orderKey`, e.g.
    * [[Sampling.shufflePosition]] for a per-epoch permutation), their
    * token streams conceptually concatenated, and the stream cut into
    * fixed `maxTokens` sequences — documents STRADDLE sequence boundaries
    * (the pretraining discipline no-split bin packing is the alternative
    * to). Output per doc: its global token offset, the
    * sequence its first token lands in, and the offset within it.
    *
    * The global prefix sum is NOT a single-partition window: docs bucket
    * by the first `bucketChars` hex chars of `orderKey` (16^bucketChars
    * range buckets), bucket token totals aggregate to a small driver
    * table whose running sum gives each bucket's global offset
    * (re-applied via a broadcast join — never a literal when-chain, which
    * Catalyst cannot digest at 65536 branches), and the per-bucket
    * cumulative window (parallel, one shuffle on the bucket key) adds its
    * bucket's offset — the classic two-phase distributed prefix sum,
    * expressed in DataFrame ops. The oracle can still be the naive global
    * window: the result is identical for ANY prefix length, because
    * prefix-bucket order is consistent with `pos` order.
    *
    * `bucketChars` (default 0 = derive from cluster parallelism, clamped
    * to [2,4] hex chars = 256..65536 buckets) is the phase-2 parallelism
    * ceiling: each bucket is one window task. The round-3 fixed 256
    * buckets capped a 1000-executor cluster at 256 tasks of n/256 rows
    * each; the derived value targets ~32 buckets per core so AQE can
    * balance stragglers.
    *
    * CONTRACT: `orderKey` must be hash-dispersed lowercase hex (e.g.
    * [[Sampling.shufflePosition]], any md5/sha column). A non-hash key
    * whose values share a prefix still returns the CORRECT result (prefix
    * buckets sort consistently with `pos`), but collapses phase 2 toward
    * one task — the skew is detected from the phase-1 totals and logged
    * loudly rather than silently degrading. */
  def concatChunks(docs: DataFrame, maxTokens: Long, orderKey: Column,
                   textCol: String = "text",
                   idCol: String = "doc_id",
                   bucketChars: Int = 0,
                   tokens: Option[Column] = None): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(bucketChars >= 0 && bucketChars <= 4,
      "bucketChars in [0,4] (0 = derive from parallelism)")
    val chars =
      if (bucketChars > 0) bucketChars
      else deriveBucketChars(docs.sparkSession.sparkContext.defaultParallelism)
    val sized = docs.select(col(idCol).as("id"), orderKey.as("pos"),
      tokens.getOrElse(Text.tokenCount(col(textCol)))
        .cast("long").as("n_tok"))
      .withColumn("bucket", substring(col("pos"), 1, chars))
    // phase 1: per-bucket totals -> exclusive running offsets. At most
    // 16^chars <= 65536 driver rows of (bucket, total, count).
    val totals = sized.groupBy(col("bucket"))
      .agg(sum(col("n_tok")).as("t"), count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    // hash-dispersed-key contract check: phase-1 totals reveal collapse
    // for free (one hot bucket == one giant phase-2 window task)
    val nRows = totals.map(_._3).sum
    val maxBucket = if (totals.isEmpty) 0L else totals.map(_._3).max
    if (nRows >= 4096 && maxBucket * 2 > nRows)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"concatChunks: orderKey is not hash-dispersed (one of " +
          s"${totals.length} buckets holds $maxBucket of $nRows rows); " +
          "result is correct but phase-2 parallelism has collapsed - " +
          "pass a hash key, e.g. Sampling.shufflePosition")
    val offsets = {
      var acc = 0L
      totals.map { case (b, t, _) => val o = acc; acc += t; (b, o) }
    }
    import docs.sparkSession.implicits._
    val offDF = broadcast(offsets.toSeq.toDF("bucket", "__off"))
    // phase 2: per-bucket cumulative window (parallel) + bucket offset
    val w = Window.partitionBy(col("bucket"))
      .orderBy(col("pos"), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sized.join(offDF, Seq("bucket"))
      .withColumn("start",
        sum(col("n_tok")).over(w) - col("n_tok") + col("__off"))
      // SQL `div` = exact integral division (double `/` could misround
      // at large token offsets); starts are non-negative so % agrees
      // with floor-mod in any engine
      .select(col("id").as(idCol), col("n_tok"),
        expr(s"start div ${maxTokens}L").as("seq_id"),
        (col("start") % maxTokens).as("seq_off"))
  }

  /** Bucket-prefix length for [[concatChunks]], derived from cluster
    * parallelism: the smallest hex-prefix length giving ~32 buckets per
    * core, clamped to [2,4] (256..65536 buckets). local[32] -> 3 chars
    * (4096 buckets); a 1000-executor/8000-core cluster -> 4 (65536). */
  private[ops] def deriveBucketChars(parallelism: Int): Int =
    math.min(4, math.max(2,
      math.ceil(math.log(parallelism.max(1) * 32.0) / math.log(16.0)).toInt))
}
