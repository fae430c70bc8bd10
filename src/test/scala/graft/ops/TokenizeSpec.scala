package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The GPT-2-format BPE loader: published vocab.json + merges.txt files
  * load through the [[Tokenize.BatchTokenizer]] seam, counts and ids
  * match hand-computed byte-level BPE, and a token-budget operator runs
  * end to end on the loaded merges. Fixture built in-repo (a 12-merge
  * table over a tiny alphabet) — the format is the public one every
  * byte-level-BPE release ships, so a real model's pair drops in
  * unchanged. */
class TokenizeSpec extends AnyFunSuite {
  import graft.SparkSpec.spark
  import spark.implicits._

  private def fixture(name: String): String =
    getClass.getResource(s"/gpt2_fixture/$name").getPath

  private def load() =
    Tokenize.loadGpt2(fixture("merges.txt"), fixture("vocab.json"))

  test("fixture round-trips: merges in rank order, every merge output " +
    "in the vocab") {
    val tok = load()
    assert(tok.merges.length == 12)
    assert(tok.merges.head == ("h", "e") && tok.merges(8) == ("Ġ", "world"))
    assert(tok.vocab("hello") == 16 && tok.vocab("Ġworld") == 21)
  }

  test("counts and ids match hand-computed byte-level BPE") {
    val c = load().init()
    // 'hello' -> [hello]; ' world' -> [Ġ,w,o,r,l,d] -> ... -> [Ġworld]
    assert(c.count("hello world") == 2L)
    assert(c.encode("hello world") == Seq(16, 21))
    // the leading-space marker: a second 'hello' arrives as Ġhello
    assert(c.encode("hello hello") == Seq(16, 22))
    // digit run merges 1+2 -> 12, 12+3 -> 123
    assert(c.encode("hello123") == Seq(16, 24))
    // double space: pre-tokenizer emits a lone whitespace run (Ġ) then
    // ' world' — the published \s+(?!\S) behavior
    assert(c.encode("hello  world") == Seq(16, 10, 21))
    // multi-byte char: é is two UTF-8 bytes, both printable latin-1,
    // so they surface as their own symbols (no merges apply to them)
    assert(c.encode("héllo") == Seq(0, 11, 12, 14, 3)) // h Ã © ll o
    assert(c.count("") == 0L)
  }

  test("Gpt2Counter.decode inverts encode EXACTLY — whitespace and " +
    "multi-byte characters reconstruct bit-for-bit; a foreign id is " +
    "loud") {
    val c = load()
    val enc = c.init() match { case e: Tokenize.TokenEncoder => e }
    // byte-level pre-tokenization never drops a byte, so decode is a
    // true inverse, spaces (Ġ), runs of spaces, and é's two bytes
    // included
    for (t <- Seq("hello world", "hello  world", "hello hello",
        "héllo", "hello123", ""))
      assert(enc.decode(enc.encode(t)) == t, t)
    val ex = intercept[IllegalArgumentException](enc.decode(Seq(9999)))
    assert(ex.getMessage.contains("not in vocab"))
    // a non-byte-level character is loud, never mangled
    assertThrows[IllegalArgumentException](Tokenize.fromByteLevel(" "))
  }

  test("byte-to-unicode table matches the published GPT-2 mapping: " +
    "golden-pinned bytes, 68 remaps, order preserved") {
    val t = Tokenize.byteToUnicode
    // the famous published values: space is Ġ (U+0120), newline is Ċ
    // (U+010A) — control bytes 0x00..0x20 map to U+0100..U+0120 in
    // byte order
    assert(t(' '.toInt) == 'Ġ')
    assert(t('\n'.toInt) == 'Ċ')
    assert(t('\t'.toInt) == 'ĉ')
    assert(t(0) == 'Ā')
    // DEL is the 34th non-printable, the 0x80..0xA0 block and SOFT
    // HYPHEN (0xAD) follow
    assert(t(0x7f) == 'ġ')
    assert(t(0x80) == 'Ģ')
    assert(t(0xad) == 'Ń')
    // printable latin-1 maps to itself across all three ranges
    assert(t('!'.toInt) == '!' && t('A'.toInt) == 'A' &&
      t('~'.toInt) == '~')
    assert(t(0xa1) == '¡' && t(0xa9) == '©' &&
      t(0xac) == '¬')
    assert(t(0xae) == '®' && t(0xff) == 'ÿ')
    // exactly 68 bytes remap (the published count), each to a distinct
    // char >= U+0100, and the whole table is injective
    val remapped = (0 until 256).filter(b => t(b).toInt != b)
    assert(remapped.length == 68)
    assert(remapped.forall(b => t(b) >= 'Ā'))
    assert(t.distinct.length == 256)
  }

  test("pre-tokenizer golden cases: contractions split, newlines and " +
    "3-byte UTF-8 count like the published tokenizer") {
    val c = load().init()
    // "it's" -> pre-tokens [it, 's] -> symbols [i,t] + [',s] (no
    // merges apply): 4 tokens — the contraction alternation fires
    // before the letter run
    assert(c.count("it's") == 4L)
    // newline is its own pre-token (\s+ run), arriving as Ċ: 1 token;
    // "a\nb" -> [a, Ċ, b]
    assert(c.count("\n") == 1L)
    assert(c.count("a\nb") == 3L)
    // euro sign: 3 UTF-8 bytes (E2 82 AC) -> 3 byte-symbols, none
    // merged: printable E2 ('â') and AC ('¬') map to themselves, 82
    // remaps into the U+0122 block
    assert(c.count("€") == 3L)
  }

  test("mismatched vocab/merges pair fails fast at load; an input " +
    "outside the vocab fails fast at encode") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-gpt2-bad-").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/merges.txt"),
      "#version: 0.2\nq q\n".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/vocab.json"),
      """{"q": 0}""".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](
      Tokenize.loadGpt2(s"$dir/merges.txt", s"$dir/vocab.json"))
    assert(e.getMessage.contains("qq"))
    // counting tolerates unknown symbols (count needs no ids); encode
    // of a symbol with no id is a loud error, not a silent skip
    val c = load().init()
    assert(c.count("zz") == 2L)
    intercept[IllegalArgumentException](c.encode("zz"))
  }

  test("budget operator end to end on loaded merges: withTokenCount " +
    "feeds mixtureByTokens, counts are the tokenizer's own") {
    val docs = Seq(
      (0L, "a", "hello world"),        // 2 tokens
      (1L, "a", "hello hello world"),  // 3 tokens
      (2L, "a", "hello123"),           // 2 tokens
      (3L, "b", "hello"),              // 1 token
      (4L, "b", "hello world world")   // 3 tokens
    ).toDF("doc_id", "source", "text")
    val counted = Tokenize.withTokenCount(docs, load())
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
