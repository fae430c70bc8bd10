package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.shim

/** Benchmark-contamination detection and removal for training corpora:
  * find training documents sharing n-gram shingles with an evaluation
  * set and report the overlap.
  *
  * Scale shape: the benchmark side is small (eval sets are thousands of
  * documents), so its exploded shingle set broadcasts; the corpus is
  * scanned once and only rows whose shingles hit the benchmark index ever
  * reach the aggregation — a broadcast semi-structured join, never a
  * corpus×corpus product.
  */
object Contamination {

  /** Per corpus document: how many distinct n-gram shingles it shares with
    * any benchmark document. Output: (id, shared_shingles) for docs with
    * `shared >= minShared`. */
  def report(corpus: DataFrame, benchmark: DataFrame, n: Int, minShared: Int,
             textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val corpusEx = corpus.select(col(idCol).as("id"),
      explode(Dedup.shingles(col(textCol), n)).as("s"))
    val benchSh = benchmark
      .select(explode(Dedup.shingles(col(textCol), n)).as("s")).distinct()
    corpusEx.join(broadcast(benchSh), Seq("s"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
  }

  /** [[report]] for reference sets too big to broadcast — cross-corpus
    * decontamination ("drop anything that overlaps last year's training
    * corpus"), where the reference side is itself corpus-scale and a
    * broadcast hash relation of its shingles no longer fits.
    *
    * Two phases, exact result:
    *
    *   1. A Bloom filter over the reference's shingle hashes — built with
    *      Spark's distributed `stat.bloomFilter` treeAggregate, carried
    *      into the scan as a [[BloomFilterMightContain]] literal (the
    *      same probe Spark's own runtime-filter injection plants) — prunes
    *      corpus n-grams map-side. At 1% fpp the bitmap costs ~1.2 bytes
    *      per reference shingle vs ~30+ bytes/entry for an exact broadcast
    *      hash relation: 10–25x more reference capacity for the same
    *      executor memory budget.
    *   2. Survivors (true hits + the fpp sliver) go through a REAL
    *      shuffled equi-join on the shingle string, so Bloom false
    *      positives die before counting and the output equals [[report]]
    *      row for row (OpsSpec pins parity, including under fpp = 0.5).
    *
    * Scale shape: the corpus side shuffles only `hits + fpp * grams`
    * rows instead of every gram; the reference side shuffles once. Driver
    * memory is the bitmap (`~1.2 * expectedItems` bytes at 1% fpp) —
    * bounded by the caller's `expectedItems`, and an undersized estimate
    * degrades only the prune rate, never correctness. */
  def bloomReport(corpus: DataFrame, reference: DataFrame, n: Int,
                  minShared: Int, expectedItems: Long = 4000000L,
                  fpp: Double = 0.01, textCol: String = "text",
                  idCol: String = "doc_id"): DataFrame = {
    val (bloomBytes, refSh) =
      buildReferenceBloom(reference, n, expectedItems, fpp, textCol)
    bloomReportWith(corpus, bloomBytes, refSh, minShared, n, textCol, idCol)
  }

  /** The offline half of [[bloomReport]]: one distributed pass over the
    * reference builds (serialized Bloom bitmap, distinct shingle table).
    * Build once, probe many — the streaming sink and any repeated batch
    * caller reuse both instead of re-aggregating the reference. */
  def buildReferenceBloom(reference: DataFrame, n: Int,
                          expectedItems: Long = 4000000L,
                          fpp: Double = 0.01, textCol: String = "text")
      : (Array[Byte], DataFrame) = {
    require(expectedItems > 0 && expectedItems <= 2000000000L,
      s"expectedItems=$expectedItems outside (0, 2e9]: the driver-side " +
        "bitmap is ~1.2 bytes/item at 1% fpp — size it to the reference")
    val refSh = reference
      .select(explode(Dedup.shingles(col(textCol), n)).as("s")).distinct()
    val bloom = refSh.select(xxhash64(col("s")).as("h"))
      .stat.bloomFilter("h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    (bos.toByteArray, refSh)
  }

  /** The online half of [[bloomReport]]: probe + exact verify against a
    * prebuilt reference bloom/shingle pair. */
  def bloomReportWith(corpus: DataFrame, bloomBytes: Array[Byte],
                      refShingles: DataFrame, minShared: Int, n: Int,
                      textCol: String = "text",
                      idCol: String = "doc_id"): DataFrame = {
    val mightContain = shim.column(BloomFilterMightContain(
      Literal(bloomBytes), shim.expression(xxhash64(col("s")))))
    corpus
      .select(col(idCol).as("id"),
        explode(Dedup.shingles(col(textCol), n)).as("s"))
      .filter(mightContain)
      .join(refShingles, Seq("s"), "left_semi")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("shared_shingles"))
      .filter(col("shared_shingles") >= minShared)
  }

  /** Embedding-space contamination: corpus items whose embedding is
    * within cosine `threshold` of ANY benchmark item — the semantic
    * complement of the n-gram [[report]] (catches paraphrased benchmark
    * leakage that shares no shingle). The benchmark side broadcasts (eval
    * sets are thousands of rows), so the plan is one corpus scan against
    * a broadcast build with the codegen'd [[VectorExprs.cosine]] — no
    * shuffle of the corpus, the [[Similarity.bruteKnn]] discipline.
    * Output: (id, n_hits, max_cos) for items with at least one hit. */
  def semanticReport(corpus: DataFrame, benchmark: DataFrame,
                     threshold: Double, vecCol: String = "embedding",
                     idCol: String = "vec_id"): DataFrame = {
    // zero-norm vectors have no direction: cosine would be 0/0 = NaN,
    // which Spark orders ABOVE every number — one all-zero benchmark
    // vector would otherwise flag the whole corpus (NaN >= t is true).
    // Same guard as cosinePairs/annCosinePairs, on both sides.
    val b = broadcast(benchmark.select(col(vecCol).as("__bv"))
      .filter(VectorExprs.dot(col("__bv"), col("__bv")) > 0))
    corpus.select(col(idCol).as("id"), col(vecCol).as("__v"))
      .filter(VectorExprs.dot(col("__v"), col("__v")) > 0)
      .crossJoin(b)
      .withColumn("__cos", VectorExprs.cosine(col("__v"), col("__bv")))
      .filter(col("__cos") >= threshold)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"), max(col("__cos")).as("max_cos"))
  }
}
