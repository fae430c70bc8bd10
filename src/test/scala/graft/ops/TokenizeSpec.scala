package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The tokenizer seam end to end: a merge-table tokenizer's own counts
  * feed a token-budget operator through [[Tokenize.withTokenCount]]; the
  * trained alphabet drives the coverage monitor; the decode expression
  * inverts the encode expression. */
class TokenizeSpec extends AnyFunSuite {
  import graft.SparkSpec.spark
  import spark.implicits._

  test("budget operator end to end on a merge table: withTokenCount " +
    "feeds mixtureByTokens, counts are the tokenizer's own") {
    val docs = Seq(
      (0L, "a", "hello world"),        // 2 tokens
      (1L, "a", "hello hello world"),  // 3 tokens
      (2L, "a", "hello123"),           // 2 tokens
      (3L, "b", "hello"),              // 1 token
      (4L, "b", "hello world world")   // 3 tokens
    ).toDF("doc_id", "source", "text")
    // "hello", "world" and the digit run "123" each merge to one token
    val tok = Tokenize.ToyBpeTokenizer(Seq(("h", "e"), ("he", "l"),
      ("hel", "l"), ("hell", "o"), ("w", "o"), ("wo", "r"), ("wor", "l"),
      ("worl", "d"), ("1", "2"), ("12", "3")))
    val counted = Tokenize.withTokenCount(docs, tok)
    val byId = counted.select("doc_id", "n_tokens").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byId == Map(0L -> 2L, 1L -> 3L, 2L -> 2L, 3L -> 1L, 4L -> 3L))
    // 3:1 token mixture over strata a (7 tokens) and b (4 tokens):
    // the binding stratum caps the draw; decisions use REAL counts
    val mix = Sampling.mixtureByTokens(counted, col("source"),
      col("doc_id"), col("n_tokens"), Map("a" -> 3L, "b" -> 1L))
    val got = mix.groupBy("source").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet.subsetOf(Set("a", "b")) && got.nonEmpty)
    val (ta, tb) = (got.getOrElse("a", 0L), got.getOrElse("b", 0L))
    assert(ta > 0L && ta <= 7L && tb <= 4L)
  }

  test("alphabetFromHistogram + oovChars: the coverage monitor counts " +
    "exactly the code points outside the trained alphabet") {
    val d = Seq((0L, "abab cd"), (1L, "ab x")).toDF("doc_id", "text")
    val h = Tokenize.wordHistogram(d)
    val alpha = Tokenize.alphabetFromHistogram(h)
    assert(alpha == Seq("a", "b", "c", "d", "x"))
    // the alphabet IS the id-0 block of the derived vocab
    val v = Tokenize.bpeVocabFromHistogram(h,
      Tokenize.trainBpeFromHistogram(h, numMerges = 2))
    assert(v.take(alpha.length).map(_._1) == alpha)
    def oov(text: String): Seq[String] = Seq((0L, text))
      .toDF("doc_id", "text")
      .select(Tokenize.oovChars(col("text"), alpha))
      .head().getSeq[String](0)
    // fully-covered text: empty; unseen chars counted per occurrence
    assert(oov("abcdx").isEmpty)
    assert(oov("abz yz") == Seq("z", " ", "y", "z"))
    // a supplementary character is ONE unseen code point, never two
    // lone surrogates (the code-point seam discipline)
    val emoji = new String(Character.toChars(0x1F600))
    assert(oov(s"ab$emoji") == Seq(emoji))
    // null text yields null, matching the tokenizer expressions
    val n = Seq((0L, null: String)).toDF("doc_id", "text")
      .select(Tokenize.oovChars(col("text"), alpha)).head()
    assert(n.isNullAt(0))
  }

  test("bpeDecodeExpr: decode inverts encode to the pre-token concat; " +
    "an unassigned id raises; null stays null") {
    val emoji = new String(Character.toChars(0x1F600))
    // multi-byte, supplementary, and merged symbols all in play
    val d = Seq((0L, s"abab café $emoji"), (1L, "ab abab"),
      (2L, null: String)).toDF("doc_id", "text")
    val h = Tokenize.wordHistogram(d)
    val fm = Tokenize.trainBpeFromHistogram(h, numMerges = 3)
    assert(fm.nonEmpty)
    val v = Tokenize.bpeVocabFromHistogram(h, fm)
    val got = d.select(col("doc_id"),
      array_join(Tokenize.bpeDecodeExpr(
        Tokenize.bpeIdsExpr(col("text"), fm, v), v), "").as("dec"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    // decode(encode(text)) == the pre-token concatenation, exactly
    assert(got(0L) == s"ababcafé$emoji" && got(1L) == "ababab")
    assert(got(2L) == null) // null text -> null ids -> null decode
    // an id outside the vocab raises in-plan, never a silent null
    val bad = Seq(Seq(0, v.length + 7)).toDF("ids")
    val e = intercept[Exception] {
      bad.select(Tokenize.bpeDecodeExpr(col("ids"), v)).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("id not in derived vocab")))
  }
}
