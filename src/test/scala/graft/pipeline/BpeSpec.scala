package graft.pipeline

import org.apache.spark.sql.functions._

import graft.GraftSuite

/** BPE laws (C172–C173): hand-checkable merge arithmetic with the
  * (n DESC, lhs ASC, rhs ASC) tie-break, greedy-left overlap resolution,
  * early exhaustion, encode totality (pieces concatenate back to the
  * word), and run-to-run determinism.
  */
class BpeSpec extends GraftSuite {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("train: hand arithmetic — freq-weighted pair counts, argmax per round") {
    // words: abab×2, ab×1, cab×1.
    // Round 1 pairs: (a,b) = 2·2 + 1 + 1 = 6, (b,a) = 2, (c,a) = 1 → merge (a,b)→ab n=6.
    // Round 2 segs: "ab ab"×2, "ab", "c ab" → (ab,ab) = 2, (c,ab) = 1 → merge n=2.
    val m = Bpe.train(docs("abab abab ab", "cab"), "text", numMerges = 2).merges
    assert(m === Seq(
      Bpe.Merge(1L, "a", "b", "ab", 6L),
      Bpe.Merge(2L, "ab", "ab", "abab", 2L)))
  }

  test("train: greedy-left — (a,a) over 'aaaa' merges non-overlapping pairs left to right") {
    val model = Bpe.train(docs("aaaa"), "text", numMerges = 1)
    assert(model.merges === Seq(Bpe.Merge(1L, "a", "a", "aa", 3L)))
    // greedy-left: "a a a a" → "aa aa", never the overlapping "a aa a".
    assert(model.words.select("seg").head().getString(0) === "aa aa")
  }

  test("train: exhaustion — stops early when no adjacent pairs remain, no crash") {
    // Single-char words only: zero pairs from round 1.
    val model = Bpe.train(docs("a b c a"), "text", numMerges = 5)
    assert(model.merges.isEmpty)
    // After enough merges every word is one symbol and training stops.
    val m2 = Bpe.train(docs("ab ab"), "text", numMerges = 5)
    assert(m2.merges.size === 1 && m2.merges.head.merged === "ab")
  }

  test("train: tie-break is (n DESC, lhs ASC, rhs ASC)") {
    // 'xy' and 'ab' both appear twice: pairs (x,y) n=2, (a,b) n=2 — 'a' < 'x'.
    val m = Bpe.train(docs("xy xy ab ab"), "text", numMerges = 1).merges
    assert(m === Seq(Bpe.Merge(1L, "a", "b", "ab", 2L)))
  }

  test("train: astral-plane (non-BMP) symbols merge at code-point grain") {
    // U+1D54F (𝕏) is one code point but two UTF-16 units: a merge whose
    // lhs contains it must still splice the right number of characters
    // (the code-unit/code-point confusion corrupts the segmentation).
    val x = new String(Character.toChars(0x1D54F))
    val model = Bpe.train(docs(s"$x$x$x$x"), "text", numMerges = 2)
    assert(model.merges.map(_.merged) === Seq(s"$x$x", s"$x$x$x$x"))
    // Pieces must concatenate back to the word exactly.
    assert(model.words.select("seg").head().getString(0).replace(" ", "")
      === s"$x$x$x$x")
  }

  test("encode: totality — pieces concatenate back to the word, positions dense") {
    val d = docs("stream batch stream", "merge table")
    val model = Bpe.train(d, "text", numMerges = 4)
    val enc = Bpe.encode(d, "doc_id", "text", model)
    // Rebuild each word from its pieces and compare against the raw split.
    val rebuilt = enc.orderBy("doc_id", "word_pos", "piece_pos")
      .groupBy("doc_id", "word_pos")
      .agg(concat_ws("", collect_list("piece")).as("word"),
        count(lit(1)).as("np"), max("piece_pos").as("maxp"))
    val bad = rebuilt.join(
        d.select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("word_pos", "w"))),
        Seq("doc_id", "word_pos"))
      .filter(col("word") =!= col("w") || col("maxp") =!= col("np") - 1)
    assert(bad.count() === 0)
    // Every token of every doc is covered (no word dropped by the join).
    val nWords = d.select(explode(split(col("text"), " "))).count()
    assert(enc.select("doc_id", "word_pos").distinct().count() === nWords)
  }

  test("fertility: pieces per word from the segmentation, chars per piece; ungrouped totals check out") {
    import org.apache.spark.sql.functions.lit
    // After 1 merge on "abab abab ab cab": (a,b)→ab; segs: abab="ab ab"
    // (2 pieces), ab="ab" (1), cab="c ab" (2).
    val d = docs("abab abab ab cab").withColumn("lang", lit("en"))
    val model = Bpe.train(d, "text", numMerges = 1)
    val r = Bpe.fertility(d, "text", "lang", model).head()
    // occurrences: abab×2 (2 pieces each), ab×1 (1), cab×1 (2) → 7 pieces / 4 words.
    assert(r.getLong(1) === 4L && r.getLong(2) === 7L)
    assert(r.getDouble(3) === 1.75 && r.getDouble(4) ===
      BigDecimal(13.0 / 7.0).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("pieceVocab: alphabet binary-sorted first, merges in learn order, ids dense") {
    // Corpus "abab ab": merges (a,b)->ab, (ab,ab)->abab; alphabet {a,b}.
    val model = Bpe.train(docs("abab abab ab"), "text", numMerges = 2)
    val pv = Bpe.pieceVocab(model).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pv === Map(0L -> "a", 1L -> "b", 2L -> "ab", 3L -> "abab"))
  }

  test("pieceVocab: surface collisions keep the FIRST id; ids stay dense") {
    import spark.implicits._
    // Synthetic model: two merges both spelling 'abc' ((a,bc) at step 2,
    // (ab,c) at step 3) over an alphabet {a,b,c}.
    val words = Seq(("abc", 2L, "abc")).toDF("word", "freq", "seg")
    val model = Bpe.BpeModel(Seq(
      Bpe.Merge(1L, "b", "c", "bc", 9L),
      Bpe.Merge(2L, "a", "bc", "abc", 5L),
      Bpe.Merge(3L, "ab", "c", "abc", 2L)), words)
    val pv = Bpe.pieceVocab(model).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pv === Map(0L -> "a", 1L -> "b", 2L -> "c", 3L -> "bc", 4L -> "abc"))
  }

  test("encodeIds: total (no row lost to the vocab join) and ids decode back to pieces") {
    val d = docs("stream batch stream", "merge table")
    val model = Bpe.train(d, "text", numMerges = 4)
    val enc = Bpe.encode(d, "doc_id", "text", model)
    val ids = Bpe.encodeIds(d, "doc_id", "text", model)
    assert(ids.count() === enc.count())
    val decoded = ids.join(Bpe.pieceVocab(model), Seq("piece_id"))
      .select("doc_id", "word_pos", "piece_pos", "piece")
    assert(decoded.exceptAll(enc.select("doc_id", "word_pos", "piece_pos", "piece"))
      .isEmpty)
  }

  test("byte level: hand arithmetic — UTF-8 hex-pair symbols, ASCII merges spell bytes") {
    val m = Bpe.train(docs("ab ab"), "text", numMerges = 1, byteLevel = true)
    assert(m.merges === Seq(Bpe.Merge(1L, "61", "62", "6162", 2L)))
    assert(m.byteLevel)
  }

  test("byte level: totality across scripts and planes — unhex(concat(pieces)) == word") {
    val x = new String(Character.toChars(0x1D54F)) // astral: 4 UTF-8 bytes
    val d = docs("数 据 数", s"$x$x table", "plain text")
    val model = Bpe.train(d, "text", numMerges = 4, byteLevel = true)
    val bad = model.words
      .withColumn("__back", decode(unhex(regexp_replace(col("seg"), " ", "")), "UTF-8"))
      .filter(col("__back") =!= col("word"))
    assert(bad.isEmpty, bad.collect().mkString(", "))
  }

  test("byte level: trainLocal == train on real corpus data at k=8") {
    val d = spark.read.parquet(s"${graft.SparkTestBase.sf0001}/documents.parquet")
      .select("doc_id", "text")
    val dist = Bpe.train(d, "text", numMerges = 8, byteLevel = true)
    val loc = Bpe.trainLocal(d, "text", numMerges = 8, byteLevel = true)
    assert(loc.merges === dist.merges)
    val wd = dist.words.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    val wl = loc.words.collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(wl === wd)
  }

  test("byte level: pieceVocab alphabet is the hex-pair byte alphabet, merges follow") {
    val model = Bpe.train(docs("ab ab"), "text", numMerges = 1, byteLevel = true)
    val pv = Bpe.pieceVocab(model).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(pv === Map(0L -> "61", 1L -> "62", 2L -> "6162"))
  }

  test("train: deterministic across runs") {
    val d = docs("spark scan sort stream spark scan", "sort spark stream stream")
    val a = Bpe.train(d, "text", numMerges = 6).merges
    val b = Bpe.train(d, "text", numMerges = 6).merges
    assert(a === b && a.size === 6)
  }

  test("decode: a doc whose stream is ONLY control ids decodes to '' — never vanishes") {
    import spark.implicits._
    val d = docs("stream batch stream", "merge table")
    val model = Bpe.train(d, "text", numMerges = 4,
      reserved = SpecialTokens.Band)
    val vocabSize = Bpe.pieceVocab(model).count()
    // Doc 9 is EMPTY upstream: its only stream row is the EOS that
    // withEosForDocs anchors to the doc frame. decode must keep the
    // doc-count invariant (3 docs in, 3 out) with '' for doc 9 —
    // dropping it would silently lose a document on every packed-batch
    // round trip (the r18 ADVICE finding).
    val frame = d.select("doc_id")
      .unionByName(Seq(9L).toDF("doc_id"))
    val ids = graft.pipeline.Packing.withEosForDocs(
      Bpe.encodeIds(d, "doc_id", "text", model), frame, "doc_id",
      SpecialTokens.EosId, vocabSize, SpecialTokens.BandSize)
    val back = Bpe.decode(ids, "doc_id", model)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(back === Array(
      (0L, "stream batch stream"), (1L, "merge table"), (9L, "")))
  }
}
