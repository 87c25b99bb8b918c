package graft.pipeline

import org.apache.spark.sql.functions._

import graft.GraftSuite

/** GPT-2 pre-tokenization laws (C197): the lookahead-free sentinel
  * rewrite must equal the CANONICAL pattern (whose `\s+(?!\S)` branch
  * java.util.regex does support) token-for-token; totality (tokens
  * concatenate back to the input); the leading-space word convention;
  * and the Bpe integration guards.
  */
class Gpt2PreTokSpec extends GraftSuite {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** The canonical GPT-2 pattern, lookahead included — the ground truth
    * the RE2-safe rewrite must reproduce.
    */
  private val truth = java.util.regex.Pattern.compile(
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+")

  private def truthTokens(s: String): Seq[String] = {
    val m = truth.matcher(s)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toSeq
  }

  private val battery = Seq(
    "the cat sat", "a   b", "it's  ok", "don't stop", "hello, world!!",
    "tab\tsep", "trail   ", "  lead", "num 1234 mix42", "héllo wörld",
    "a \t b", "x", "multi\n\nline", "a.b.c", "½ unicode № punct",
    "I'll we've they're he'd I'm", "...!?", "a5b 5a 42", "ä ö ü ß")

  test("rewrite == canonical lookahead pattern on the battery") {
    import spark.implicits._
    val got = battery.toDF("text")
      .select(col("text"), TextOps.gpt2PreTokenize(col("text")).as("toks"))
      .collect().map(r => (r.getString(0), r.getSeq[String](1))).toMap
    for (s <- battery)
      assert(got(s) === truthTokens(s), s"input: ${s.replace("\n", "\\n")}")
  }

  test("totality: tokens concatenate back to the input") {
    import spark.implicits._
    val bad = battery.toDF("text")
      .select(col("text"),
        concat_ws("", TextOps.gpt2PreTokenize(col("text"))).as("back"))
      .filter(col("text") =!= col("back")).count()
    assert(bad === 0L)
  }

  test("leading-space convention: every non-initial word carries its space") {
    import spark.implicits._
    val toks = Seq("the fast cat").toDF("text")
      .select(TextOps.gpt2PreTokenize(col("text")).as("t"))
      .head().getSeq[String](0)
    assert(toks === Seq("the", " fast", " cat"))
  }

  test("whitespace runs yield the final space to the next token") {
    import spark.implicits._
    val toks = Seq("a   b").toDF("text")
      .select(TextOps.gpt2PreTokenize(col("text")).as("t"))
      .head().getSeq[String](0)
    assert(toks === Seq("a", "  ", " b"))
  }

  test("a pre-existing sentinel is substituted with U+FFFD, never tokenized and never silently dropped") {
    import spark.implicits._
    val toks = Seq("a\u001Fb c").toDF("text")
      .select(TextOps.gpt2PreTokenize(col("text")).as("t"))
      .head().getSeq[String](0)
    // The replacement char survives as a visible punctuation pretoken:
    // concatenation equals the input with U+001F -> U+FFFD, so a
    // round-trip mismatch on sentinel-bearing rows SURFACES instead of
    // the byte vanishing while the totality law appears to hold.
    assert(toks === Seq("a", "\uFFFD", "b", " c"))
    assert(toks.mkString === "a\uFFFDb c")
  }

  test("Bpe integration: byte-level merges learn the space-bearing Ġ-style pieces") {
    // " the" dominates: the learned merges must assemble hex pieces that
    // START with the space byte (20) — exactly what word-grain BPE can
    // never produce.
    val m = Bpe.train(docs("the fast the slow the end"), "text",
      numMerges = 6, byteLevel = true, tokenizer = TextOps.Gpt2Tok)
    assert(m.merges.exists(x => x.merged.startsWith("20") && x.merged.length > 2))
    // Totality at the byte level: unhex(concat(pieces)) == word.
    val bad = m.words
      .select(col("word"),
        decode(unhex(regexp_replace(col("seg"), " ", "")), "UTF-8").as("back"))
      .filter(col("word") =!= col("back")).count()
    assert(bad === 0L)
  }

  test("Bpe integration: word grain rejects space-bearing pretokens") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalArgumentException] {
      Bpe.train(docs("the fast cat"), "text", numMerges = 2,
        tokenizer = TextOps.Gpt2Tok)
    }
    assert(ex.getMessage.contains("byteLevel"))
    val ex2 = intercept[IllegalArgumentException] {
      Bpe.trainLocal(docs("the fast cat"), "text", numMerges = 2,
        tokenizer = TextOps.Gpt2Tok)
    }
    assert(ex2.getMessage.contains("byteLevel"))
    // A misdeclared tokenizer (space-bearing tokens under a " "
    // separator) is rejected at the space-safe byte grain too.
    val lying = TextOps.Tok("lying", TextOps.Gpt2Tok.fn, " ")
    for (train <- Seq[() => Any](
        () => Bpe.train(docs("the fast cat"), "text", numMerges = 2,
          byteLevel = true, tokenizer = lying),
        () => Bpe.trainLocal(docs("the fast cat"), "text", numMerges = 2,
          byteLevel = true, tokenizer = lying))) {
      val ex3 = intercept[IllegalArgumentException](train())
      assert(ex3.getMessage.contains("separator"))
    }
    // A trainer that throws releases the word table it pinned.
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"the rejected trainers left ${added.size} persistent RDDs")
  }

  test("decode ∘ encodeIds == identity at both grains, including GPT-2 pretokens and astral text") {
    val astral = new String(Character.toChars(0x1D54F))
    val d = docs("the cat sat", s"mixed $astral text 数", "it's  fine")
    // Word grain.
    val mw = Bpe.train(d, "text", numMerges = 4)
    val backW = Bpe.decode(Bpe.encodeIds(d, "doc_id", "text", mw), "doc_id", mw)
      .join(d.withColumnRenamed("text", "orig"), Seq("doc_id"))
      .filter(col("text") =!= col("orig")).count()
    assert(backW === 0L)
    // Byte grain over GPT-2 pretokens: the model RECORDS its tokenizer
    // at train time, so encode and decode both resolve the split and
    // the separator from the model — no caller-side convention; bytes
    // unhex back through multi-byte and astral characters.
    val mb = Bpe.train(d, "text", numMerges = 6, byteLevel = true,
      tokenizer = TextOps.Gpt2Tok)
    assert(mb.tokenizer === TextOps.Gpt2Tok)
    assert(mw.tokenizer === TextOps.WhitespaceTok)
    val backB = Bpe.decode(
        Bpe.encodeIds(d, "doc_id", "text", mb),
        "doc_id", mb)
      .join(d.withColumnRenamed("text", "orig"), Seq("doc_id"))
      .filter(col("text") =!= col("orig")).count()
    assert(backB === 0L)
  }

  test("trainLocal == train over GPT-2 pretokens at byte level") {
    val d = docs("the cat the dog", "it's the cat's day")
    val a = Bpe.train(d, "text", numMerges = 8, byteLevel = true,
      tokenizer = TextOps.Gpt2Tok)
    val b = Bpe.trainLocal(d, "text", numMerges = 8, byteLevel = true,
      tokenizer = TextOps.Gpt2Tok)
    assert(a.merges === b.merges)
  }
}
