package graft.pipeline

import org.apache.spark.sql.functions._

import graft.{GraftSuite, SparkTestBase}

/** Driver-local BPE trainer laws (C185): with the cap above the
  * distinct-word count, [[Bpe.trainLocal]] is EXACTLY [[Bpe.train]] —
  * merge-for-merge (including learn-time counts) and seg-for-seg — on
  * real corpus data at k=8 and k=32; under a binding cap the tail
  * keeps character segmentations and is counted (no silent caps);
  * tie-breaks replay the distributed binary-UTF-8 order; determinism
  * across runs.
  */
class BpeLocalSpec extends GraftSuite {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def realDocs = spark.read
    .parquet(s"${SparkTestBase.sf0001}/documents.parquet")
    .select("doc_id", "text")

  private def wordsOf(m: Bpe.BpeModel): Map[String, (Long, String)] =
    m.words.collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap

  test("uncapped trainLocal == train exactly at k=8 and k=32 on the sf0.001 corpus") {
    val d = realDocs
    for (k <- Seq(8, 32)) {
      val dist = Bpe.train(d, "text", numMerges = k)
      val loc = Bpe.trainLocal(d, "text", numMerges = k)
      assert(loc.merges === dist.merges, s"k=$k merge tables diverge")
      assert(wordsOf(loc) === wordsOf(dist), s"k=$k segmentations diverge")
      assert(loc.cappedOut === 0L)
    }
  }

  test("greedy-left and tie-break laws replay locally (the BpeSpec fixtures)") {
    // Hand arithmetic: same as BpeSpec's train test.
    assert(Bpe.trainLocal(docs("abab abab ab", "cab"), "text", numMerges = 2).merges
      === Seq(Bpe.Merge(1L, "a", "b", "ab", 6L), Bpe.Merge(2L, "ab", "ab", "abab", 2L)))
    // Greedy-left overlap.
    val m = Bpe.trainLocal(docs("aaaa"), "text", numMerges = 1)
    assert(m.words.filter(col("word") === "aaaa")
      .select("seg").head().getString(0) === "aa aa")
    // Tie-break (n DESC, lhs ASC, rhs ASC).
    assert(Bpe.trainLocal(docs("xy xy ab ab"), "text", numMerges = 1).merges
      === Seq(Bpe.Merge(1L, "a", "b", "ab", 2L)))
    // Exhaustion.
    assert(Bpe.trainLocal(docs("a b c a"), "text", numMerges = 5).merges.isEmpty)
  }

  test("binding cap: merges learn from the top words only; tail keeps char segs and is counted") {
    // freqs: aa×3, bb×2, cc×1 — cap 2 keeps {aa, bb}; cc is tail.
    val d = docs("aa aa aa bb bb cc")
    val m = Bpe.trainLocal(d, "text", numMerges = 1, wordCap = 2)
    // Pair (a,a) n=3 beats (b,b) n=2; cc's (c,c) never seen.
    assert(m.merges === Seq(Bpe.Merge(1L, "a", "a", "aa", 3L)))
    assert(m.cappedOut === 1L)
    val w = wordsOf(m)
    assert(w("aa") === ((3L, "aa")) && w("bb") === ((2L, "b b")))
    assert(w("cc") === ((1L, "c c")), "tail word must keep its character segmentation")
  }

  test("cap membership ties break by (freq DESC, word ASC) — the Spark order") {
    // Both freq 1: 'ab' < 'xy' in UTF-8 order, so cap 1 keeps 'ab'.
    val m = Bpe.trainLocal(docs("ab xy"), "text", numMerges = 1, wordCap = 1)
    assert(m.merges === Seq(Bpe.Merge(1L, "a", "b", "ab", 1L)))
    assert(m.cappedOut === 1L)
  }

  test("rejects unsegmented no-space-script text like train does") {
    val e = intercept[IllegalArgumentException] {
      Bpe.trainLocal(docs("数据" * 120), "text", numMerges = 1)
    }
    assert(e.getMessage.contains("segmentNoSpaceScripts"))
  }

  test("deterministic across runs") {
    val d = realDocs
    val a = Bpe.trainLocal(d, "text", numMerges = 12)
    val b = Bpe.trainLocal(d, "text", numMerges = 12)
    assert(a.merges === b.merges)
    assert(wordsOf(a) === wordsOf(b))
  }

  test("encode totality holds over a capped model (tail char-fallback still concatenates back)") {
    val d = docs("stream batch stream", "rareword")
    val model = Bpe.trainLocal(d, "text", numMerges = 2, wordCap = 2)
    val enc = Bpe.encode(d, "doc_id", "text", model)
    val rebuilt = enc.groupBy("doc_id", "word_pos")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("piece_pos"), col("piece")))),
        e => e.getField("piece")), "").as("w"))
      .select("w").collect().map(_.getString(0)).toSet
    assert(rebuilt === Set("stream", "batch", "rareword"))
  }
}
