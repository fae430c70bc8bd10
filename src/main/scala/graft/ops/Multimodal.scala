package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: images / audio / video ride through the
  * pipeline as opaque `binary` payloads plus a typed metadata struct, and
  * decode / feature-extraction runs as batched per-partition functions —
  * the executor-side shape a real decoder (JNI codec, model inference)
  * plugs into. The decoders themselves are STUBS (deterministic functions
  * of the bytes — the container has no image/audio codecs); everything
  * Spark-side is real: schema, partition-level batching, output schema
  * contracts, and the pushdown-friendly separation of cheap metadata from
  * heavy payload.
  */
object Multimodal {

  /** Wrap a text corpus as fake multimodal assets: payload = utf-8 bytes
    * (stand-in for an encoded image), metadata derived per row. Real
    * pipelines read payloads via `binaryFile` or parquet binary columns. */
  def toAssets(docs: DataFrame, textCol: String = "text",
               idCol: String = "doc_id"): DataFrame =
    docs.select(
      col(idCol).as("asset_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        lit("image").as("modality"),
        lit("fake/raw").as("format"),
        length(encode(col(textCol), "UTF-8")).cast("long").as("byte_len"))
        .as("meta"))

  val featureSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType),
    StructField("byte_len", LongType),
    StructField("checksum", LongType),
    StructField("head_hex", StringType),
    StructField("histogram", ArrayType(LongType))))

  /** Per-partition decoder factory — the [[Tokenize.BatchTokenizer]] /
    * [[Score.BatchScorer]] seam for payload decode: `init()` runs once
    * per task and returns the (possibly stateful, non-serializable)
    * decoder — codec contexts, native handles, model sessions are
    * created there and amortized over the partition's rows.
    * Implementations must be serializable CONFIGURATION (the decoder
    * itself need not be). */
  trait BatchDecoder extends Serializable {
    def init(): AssetDecoder
  }

  /** Executor-side decode state built by [[BatchDecoder.init]]: maps one
    * payload to one [[featureSchema]] row
    * `(asset_id, byte_len, checksum, head_hex, histogram[16])` — a real
    * image decoder fills `histogram` with e.g. a 16-bucket luminance
    * histogram and `checksum` with a pixel-domain hash; the contract is
    * only the schema and determinism per (assetId, payload). */
  trait AssetDecoder {
    def decode(assetId: Long, payload: Array[Byte]): Row
  }

  /** STUB decoder: a deterministic function of the payload bytes standing
    * in for image decode + feature extraction (this container ships no
    * image/audio codecs). Byte histogram over 16 buckets plays the role
    * of a color histogram. The oracle queries pin THIS decoder; real
    * codecs (javax.imageio and friends) plug in through [[BatchDecoder]]
    * without touching the Spark-side plumbing — spec'd against genuine
    * PNG/BMP bytes in the test suite. */
  object StubDecoder extends BatchDecoder {
    def init(): AssetDecoder = new AssetDecoder {
      def decode(assetId: Long, payload: Array[Byte]): Row =
        decodeStub(assetId, payload)
    }
  }

  private[ops] def decodeStub(assetId: Long, payload: Array[Byte]): Row = {
    var checksum = 0L
    val hist = new Array[Long](16)
    var i = 0
    while (i < payload.length) {
      checksum = (checksum * 31 + (payload(i) & 0xff)) & 0x7fffffffffffffffL
      hist((payload(i) & 0xff) % 16) += 1
      i += 1
    }
    val head = payload.take(8).map(b => f"$b%02x").mkString
    Row(assetId, payload.length.toLong, checksum, head, hist.toSeq)
  }

  /** Batched feature extraction over the payload column: one decoder
    * context per partition (the real-world pattern — codec/model init is
    * amortized across the batch, not paid per row). */
  def extractFeatures(assets: DataFrame,
                      decoder: BatchDecoder = StubDecoder): DataFrame = {
    val rows = assets.select(col("asset_id"), col("payload"))
    implicit val enc = RowEncoder.encoderFor(featureSchema)
    rows.mapPartitions { it =>
      val d = decoder.init() // once per partition
      it.map(r => d.decode(r.getLong(0), r.getAs[Array[Byte]](1)))
    }
  }

  /** Deterministic frame sampling stub for video-like payloads: cut the
    * byte stream into `frameSize` chunks, keep every `stride`-th chunk's
    * checksum — the shape of keyframe extraction. */
  def sampleFrames(assets: DataFrame, frameSize: Int, stride: Int): DataFrame = {
    val frameSchema = StructType(Seq(
      StructField("asset_id", LongType),
      StructField("frame_idx", LongType),
      StructField("frame_checksum", LongType)))
    implicit val enc = RowEncoder.encoderFor(frameSchema)
    assets.select(col("asset_id"), col("payload")).flatMap { r =>
      val id = r.getLong(0)
      val bytes = r.getAs[Array[Byte]](1)
      bytes.grouped(frameSize).zipWithIndex
        .filter { case (_, i) => i % stride == 0 }
        .map { case (chunk, i) =>
          var c = 0L
          chunk.foreach(b => c = (c * 31 + (b & 0xff)) & 0x7fffffffffffffffL)
          Row(id, i.toLong, c)
        }
    }
  }

  /** 64-bit perceptual hash of a binary payload — the stub twin of
    * image aHash/PDQ dedup hashing: bit k is set iff the payload's
    * byte-BIGRAM histogram bucket k exceeds its uniform share
    * (`hist[(b_i*31 + b_{i+1}) % 64] * 64 > len-1`, cross-multiplied
    * integers — no division). Content-order statistics make it
    * discriminative where a plain byte histogram collapses (all docs
    * share a vocabulary), yet a small local edit perturbs only a few
    * buckets, so near-identical payloads land within small Hamming
    * distance — the locality property perceptual dedup needs, which a
    * position-blocked hash loses the moment lengths shift. Portable
    * integer arithmetic: the DuckDB oracle rebuilds it bit-for-bit. */
  def perceptualHash(payload: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.graftshim.shim.column(PerceptualHash64(
      org.apache.spark.sql.graftshim.shim.expression(payload)))

  /** Near-duplicate asset pairs by perceptual hash: identical hashes
    * collapse first, the DISTINCT hashes get 4x16-bit banding (complete
    * up to Hamming 3 by pigeonhole — same contract as
    * [[Dedup.simhashPairs]]) + exact `bit_count(xor)` verification, and
    * member pairs are restored lazily. The shuffle carries (band-key,
    * hash) per DISTINCT hash — never payloads, and never one row per
    * asset of a duplicate group, so a corpus where one hash covers k
    * near-identical assets no longer pays ~k^2/2 candidate work inside a
    * band bucket.
    *
    * `expandGroups = true` (default) emits the full pair set — output
    * stays quadratic in duplication density because the pairs ARE the
    * output. For dedup DECISIONS, pass `expandGroups = false`: a
    * component-equivalent spanning edge set (representative pairs +
    * Hamming-0 star edges), linear in corpus size, that yields identical
    * [[Dedup.duplicateClusters]]. See [[Dedup.hammingBandPairs]]. */
  def phashPairs(assets: DataFrame, maxHamming: Int = 3,
                 idCol: String = "asset_id",
                 payloadCol: String = "payload",
                 expandGroups: Boolean = true): DataFrame =
    Dedup.hammingBandPairs(
      assets.select(col(idCol).as("id"),
        perceptualHash(col(payloadCol)).as("f")),
      maxHamming, expandGroups)
}

/** One-pass byte-bigram histogram hash (see
  * [[Multimodal.perceptualHash]]); codegen'd like the engine's other
  * hash expressions. Empty and 1-byte payloads hash to 0. */
case class PerceptualHash64(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "perceptual_hash64"

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case BinaryType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"perceptual_hash64 requires binary, got $other")
    }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Array[Byte]])

  def compute(payload: Array[Byte]): Long = {
    val n = payload.length - 1
    if (n <= 0) return 0L
    val hist = new Array[Long](64)
    var i = 0
    while (i < n) {
      hist(((payload(i) & 0xff) * 31 + (payload(i + 1) & 0xff)) % 64) += 1
      i += 1
    }
    var h = 0L
    var k = 0
    while (k < 64) {
      if (hist(k) * 64L > n) h |= (1L << k)
      k += 1
    }
    h
  }

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("phash", this)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = copy(child = c)
}
