package graft.pipeline

import org.apache.spark.sql.functions._

import graft.GraftSuite

/** Unigram-LM tokenizer laws (C194–C195): hand-checked seed + Viterbi-EM
  * + prune arithmetic, the lexicographically-greatest tie-break, encode
  * totality on out-of-vocabulary code points, the alphabet-is-always-kept
  * prune law, the scale-premise guard, and run-to-run determinism.
  */
class UnigramSpec extends GraftSuite {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("train: hand arithmetic — seed masses, one EM round, prune, 6dp logps") {
    // Corpus "ab ab b": words ab×2, b×1.
    // Seed (L=2, occurrence-weighted): a=2, b=2+1=3, ab=2; alphabet {a,b},
    // top-2 multi {ab}. total=7.
    //   lp0: a=ln(2/7), b=ln(3/7), ab=ln(2/7).
    // EM round 1 Viterbi: "ab"→[ab] (−1.252763 beats a+b=−2.100061), "b"→[b].
    //   E masses: ab=2, b=1. M (+1 alphabet): a=1, b=2, ab=2; total=5.
    //   lp1: a=ln(1/5), b=ln(2/5), ab=ln(2/5).
    // Prune (vocabSize=4): all kept, totals unchanged.
    val m = Unigram.train(docs("ab ab b"), "text",
      vocabSize = 4, iters = 1, maxPieceLen = 2, seedMulti = 2)
    assert(m.pieces === Seq(
      ("a", 1L, r6(math.log(1.0 / 5))),
      ("ab", 2L, r6(math.log(2.0 / 5))),
      ("b", 2L, r6(math.log(2.0 / 5)))))
    assert(m.unkLogp === r6(math.log(0.5 / 5)))
  }

  test("viterbiSeg: picks the max-logprob segmentation") {
    import spark.implicits._
    // "ba" as b+a = −2.7 beats the whole piece at −2.9.
    val vocab = Map("a" -> -1.2, "b" -> -1.5, "ab" -> -1.0, "ba" -> -2.9)
    val out = Seq("abab", "ba", "azb").toDF("word")
      .withColumn("seg", Unigram.viterbiSeg(col("word"), vocab, -9.9, 4))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(out("abab") === "ab ab")
    assert(out("ba") === "b a")
    // 'z' is out of vocabulary: the unk fallback keeps the DP total.
    assert(out("azb") === "a z b")
  }

  test("viterbiSeg: exact-tie goes to the lexicographically greatest seg") {
    import spark.implicits._
    // "aa" = −2.0 via the single piece and via a+a: ' aa' > ' a a'.
    val vocab = Map("a" -> -1.0, "aa" -> -2.0)
    val seg = Seq("aa").toDF("word")
      .withColumn("seg", Unigram.viterbiSeg(col("word"), vocab, -9.9, 4))
      .head().getString(1)
    assert(seg === "aa")
  }

  test("encode: total on unknown code points, pieces concatenate back") {
    val m = Unigram.train(docs("ab ab b"), "text",
      vocabSize = 4, iters = 1, maxPieceLen = 2, seedMulti = 2)
    // 'z' and 'ж' never appeared in training.
    val enc = Unigram.encode(docs("ab zжb"), "doc_id", "text", m)
    val rebuilt = enc
      .groupBy("doc_id", "word_pos")
      .agg(concat_ws("", sort_array(collect_list(struct(col("piece_pos"),
        col("piece")))).getField("piece")).as("w"))
      .orderBy("word_pos").collect().map(_.getString(2))
    assert(rebuilt === Array("ab", "zжb"))
    // Unknown chars come back as single-char pieces.
    val pieces = enc.filter(col("word_pos") === 1)
      .orderBy("piece_pos").collect().map(_.getString(3))
    assert(pieces === Array("z", "ж", "b"))
  }

  test("prune: alphabet always kept, vocabSize binds only the multi-char budget") {
    // vocabSize=2 < |alphabet|=3: every single char survives, no multi.
    val m = Unigram.train(docs("abc abc ab"), "text",
      vocabSize = 2, iters = 1, maxPieceLen = 3, seedMulti = 5)
    assert(m.pieces.map(_._1) === Seq("a", "b", "c"))
    // vocabSize=4: exactly one multi-char piece makes the cut.
    val m4 = Unigram.train(docs("abc abc ab"), "text",
      vocabSize = 4, iters = 1, maxPieceLen = 3, seedMulti = 5)
    assert(m4.pieces.count(_._1.length > 1) === 1)
  }

  test("empty words (doubled spaces) flow through train and encode, never crash") {
    // split(' ') keeps empties: "a  b" tokenizes to ["a", "", "b"]. The
    // DP must short-circuit "" (Spark's sequence(1, 0) DESCENDS and the
    // j = 0 candidate would hit the always-throwing element_at(acc, 0)).
    val d = docs("ab  ab b", " lead", "trail ")
    val m = Unigram.train(d, "text", vocabSize = 6, iters = 1,
      maxPieceLen = 2, seedMulti = 3)
    assert(m.pieces.nonEmpty)
    val enc = Unigram.encode(d, "doc_id", "text", m)
    // The empty word contributes one empty piece — totality holds.
    assert(enc.filter(col("piece") === "").count() === 3L)
    val ml = Unigram.trainLocal(d, "text", vocabSize = 6, iters = 1,
      maxPieceLen = 2, seedMulti = 3)
    assert(ml.pieces === m.pieces)
  }

  test("train: determinism — two runs produce the identical model") {
    val d = docs("spark merge table scan", "merge table fast scan scan")
    val a = Unigram.train(d, "text", vocabSize = 20, iters = 2,
      maxPieceLen = 4, seedMulti = 10)
    val b = Unigram.train(d, "text", vocabSize = 20, iters = 2,
      maxPieceLen = 4, seedMulti = 10)
    assert(a.pieces === b.pieces && a.unkLogp === b.unkLogp)
  }

  test("train: rejects the no-space-script degenerate corpus") {
    val ex = intercept[IllegalArgumentException] {
      Unigram.train(docs("数据处理引擎的一个长句子没有空格分词全部连在一起超过限制" * 10),
        "text", vocabSize = 50, maxWordChars = 200)
    }
    assert(ex.getMessage.contains("segmentNoSpaceScripts"))
  }

  test("pieceVocab: unk is id 0, then score order (mass DESC, piece ASC)") {
    val m = Unigram.train(docs("ab ab b"), "text",
      vocabSize = 4, iters = 1, maxPieceLen = 2, seedMulti = 2)
    // masses: a=1, ab=2, b=2 → ids: <unk>=0, ab=1 (mass 2, 'ab' < 'b'),
    // b=2, a=3.
    assert(Unigram.pieceVocab(m) ===
      Seq((0L, "<unk>"), (1L, "ab"), (2L, "b"), (3L, "a")))
  }

  test("encodeIds: OOV pieces take id 0, known pieces their vocab id") {
    val m = Unigram.train(docs("ab ab b"), "text",
      vocabSize = 4, iters = 1, maxPieceLen = 2, seedMulti = 2)
    val ids = Unigram.encodeIds(docs("ab zb"), "doc_id", "text", m)
      .orderBy("word_pos", "piece_pos").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // "ab" → [ab]=1; "zb" → [z]=<unk>=0, [b]=2.
    assert(ids === Array((0L, 0L, 1L), (1L, 0L, 0L), (1L, 1L, 2L)))
  }

  test("trainLocal == train: pieces, masses, logps, unkLogp — uncapped") {
    val d = docs("spark merge table scan the fast scan",
      "merge table fast scan scan batch", "ab ab b zq")
    val a = Unigram.train(d, "text", vocabSize = 20, iters = 2,
      maxPieceLen = 4, seedMulti = 12)
    val b = Unigram.trainLocal(d, "text", vocabSize = 20, iters = 2,
      maxPieceLen = 4, seedMulti = 12)
    assert(b.pieces === a.pieces && b.unkLogp === a.unkLogp && b.cappedOut === 0L)
  }

  test("trainLocal: a binding wordCap counts the dropped tail, never silent") {
    val d = docs("aa aa aa bb bb cc")
    // Cap keeps only the top word (aa, freq 3): bb and cc fall outside.
    val m = Unigram.trainLocal(d, "text", vocabSize = 6, iters = 1,
      maxPieceLen = 2, seedMulti = 4, wordCap = 1)
    assert(m.cappedOut === 2L)
    // The model sees only aa's substrings — no 'b'/'c' pieces.
    assert(m.pieces.forall(t => !t._1.contains("b") && !t._1.contains("c")))
    // Encode is still TOTAL on the capped-out words (unk single chars).
    val enc = Unigram.encode(d, "doc_id", "text", m)
      .groupBy("doc_id", "word_pos")
      .agg(concat_ws("", sort_array(collect_list(struct(col("piece_pos"),
        col("piece")))).getField("piece")).as("w"))
      .count()
    assert(enc === 6L)
  }

  test("train: EM drops multi-char pieces Viterbi stops using") {
    // 'xy' seeds as a candidate but 'x'/'y' never co-win once 'xyz'
    // exists with higher mass — any dropped piece must be absent, and
    // every surviving multi-char piece must carry positive EM mass.
    val m = Unigram.train(docs("xyz xyz xyz xy"), "text",
      vocabSize = 10, iters = 2, maxPieceLen = 3, seedMulti = 6)
    assert(m.pieces.filter(t => t._1.length > 1).forall(_._2 > 0))
  }

  test("byte grain: hand arithmetic — hex-pair symbols, pieces spell byte sequences") {
    // "ab ab b": at byte grain the words are 6162×2, 62×1 — the exact
    // shape of the word-grain hand check with a→61, b→62, ab→6162.
    val m = Unigram.train(docs("ab ab b"), "text", vocabSize = 4, iters = 1,
      maxPieceLen = 2, seedMulti = 2, byteLevel = true)
    val got = m.pieces.map(t => (t._1, t._2)).toMap
    assert(got === Map("61" -> 1L, "62" -> 2L, "6162" -> 2L))
    assert(m.byteLevel && m.tokenizer === TextOps.WhitespaceTok)
  }

  test("byte grain: trainLocal == train (pieces, masses, logps, unkLogp) over real corpus data") {
    val d = spark.read.parquet(s"${graft.SparkTestBase.sf0001}/documents.parquet")
      .select("doc_id", "text")
    val dist = Unigram.train(d, "text", vocabSize = 32, iters = 2,
      maxPieceLen = 4, seedMulti = 60, byteLevel = true,
      tokenizer = TextOps.Gpt2Tok)
    val loc = Unigram.trainLocal(d, "text", vocabSize = 32, iters = 2,
      maxPieceLen = 4, seedMulti = 60, byteLevel = true,
      tokenizer = TextOps.Gpt2Tok)
    assert(loc.pieces === dist.pieces)
    assert(loc.unkLogp === dist.unkLogp)
  }

  test("byte grain: totality across scripts and planes — unhex(concat(pieces)) == word") {
    val x = new String(Character.toChars(0x1D54F)) // astral: 4 UTF-8 bytes
    val d = docs("数 据 数", s"$x$x table", "plain text")
    val m = Unigram.train(d, "text", vocabSize = 16, iters = 1,
      maxPieceLen = 3, seedMulti = 12, byteLevel = true)
    val bad = Unigram.encode(d, "doc_id", "text", m)
      .groupBy("doc_id", "word_pos")
      .agg(concat_ws("", sort_array(collect_list(struct(col("piece_pos"),
        col("piece")))).getField("piece")).as("hx"))
      .withColumn("back", decode(unhex(col("hx")), "UTF-8"))
      .join(d.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("word_pos", "word"))),
        Seq("doc_id", "word_pos"))
      .filter(col("back") =!= col("word"))
    assert(bad.isEmpty, bad.collect().mkString(", "))
  }

  test("grain guard: GPT-2 pretokens at the CHAR grain are rejected (space-joined segs cannot hold them)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalArgumentException] {
      Unigram.train(docs("the cat sat"), "text", vocabSize = 8, iters = 1,
        maxPieceLen = 3, seedMulti = 5, tokenizer = TextOps.Gpt2Tok)
    }
    assert(ex.getMessage.contains("space-bearing"))
    // And a MISDECLARED custom tokenizer (space-bearing tokens under a
    // non-empty separator) is rejected even at the space-safe byte
    // grain — the round trip would double every space.
    val lying = TextOps.Tok("lying", TextOps.Gpt2Tok.fn, " ")
    val ex2 = intercept[IllegalArgumentException] {
      Unigram.train(docs("the cat sat"), "text", vocabSize = 8, iters = 1,
        maxPieceLen = 3, seedMulti = 5, byteLevel = true, tokenizer = lying)
    }
    assert(ex2.getMessage.contains("separator"))
    val ex3 = intercept[IllegalArgumentException] {
      Unigram.trainLocal(docs("the cat sat"), "text", vocabSize = 8, iters = 1,
        maxPieceLen = 3, seedMulti = 5, byteLevel = true, tokenizer = lying)
    }
    assert(ex3.getMessage.contains("separator"))
    // A trainer that throws releases the word table it pinned.
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty, s"the rejected trainers left ${added.size} persistent RDDs")
  }

  test("decode: inverse of encodeIds at the byte grain; all-control docs come back as ''") {
    import spark.implicits._
    val d = docs("the cat the dog", "it's a dog")
    val m = Unigram.trainLocal(d, "text", vocabSize = 24, iters = 2,
      maxPieceLen = 4, seedMulti = 20, byteLevel = true,
      tokenizer = TextOps.Gpt2Tok, reserved = SpecialTokens.Band)
    val vocabSize = Unigram.pieceVocab(m).size.toLong
    val frame = d.select("doc_id").unionByName(Seq(9L).toDF("doc_id"))
    val ids = Packing.withEosForDocs(
      Unigram.encodeIds(d, "doc_id", "text", m), frame, "doc_id",
      SpecialTokens.EosId, vocabSize, SpecialTokens.BandSize)
    val back = Unigram.decode(ids, "doc_id", m)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back === Array(
      (0L, "the cat the dog"), (1L, "it's a dog"), (9L, "")))
  }
}
