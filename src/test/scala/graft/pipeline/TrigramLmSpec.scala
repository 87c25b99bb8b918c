package graft.pipeline

import graft.GraftSuite

/** Interpolated-trigram LM laws (C175): hand-checked interpolation
  * arithmetic, the order-3 discrimination a bigram model cannot make
  * (equal bigram profiles, different trigram sets), degeneration to the
  * unigram model at λ₃=λ₂=0, and parameter validation.
  */
class TrigramLmSpec extends GraftSuite {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("trigramNll: hand-checked arithmetic on 'a b c' (self-model, add-1)") {
    // uni: a/b/c = 1 each, N = 3, V = 3; big: (a,b)=(b,c)=1; tri: (a,b,c)=1.
    val l3 = 0.5; val l2 = 0.3; val lb = l3 + l2; val l1 = 1.0 - l3 - l2
    val pu = 2.0 / 6.0                  // every token: (1+1)/(3+3)
    val pb = 2.0 / 4.0                  // both bigrams: (1+1)/(1+3)
    val pt = 2.0 / 4.0                  // the trigram:  (1+1)/(1+3)
    val expected = BigDecimal(-(math.log(pu) + math.log(lb * pb + l1 * pu) +
        math.log(l3 * pt + l2 * pb + l1 * pu)) / 3.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val out = TextStats.trigramNll(docs("a b c"), "doc_id", "text")
      .select("n_tokens", "avg_nll").head()
    assert(out.getLong(0) === 3L && out.getDouble(1) === expected)
  }

  test("order 3 separates what order 2 cannot: equal bigram profiles, different trigrams") {
    // Eulerian swap: both strings have unigrams {a:4,b:2,c:2} and
    // bigram counts {ab:2, ba:2, ac:2, ca:1} — but disjoint trigram
    // tails (bac/cab vs bab/cac).
    val ref = "a b a c a b a c"
    val other = "a b a b a c a c"
    val model = docs(ref)
    val both = docs(ref, other)
    val bi = TextStats.bigramNllAgainst(
      both, TextStats.bigramCounts(model, "text"), TextStats.unigramCounts(model, "text"),
      "doc_id", "text").collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(bi(0L) === bi(1L)) // order 2 is blind to the damage
    val tri = TextStats.trigramNllAgainst(
      both, TextStats.ngramCounts(model, "text", 3), TextStats.bigramCounts(model, "text"),
      TextStats.unigramCounts(model, "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(tri(0L) < tri(1L)) // order 3 collapses on the unseen contexts
  }

  test("lambda3 = lambda2 = 0 degenerates to the unigram model exactly") {
    val d = docs("a b c a", "c b a")
    val uni = TextStats.unigramNll(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val tri = TextStats.trigramNll(d, "doc_id", "text", lambda3 = 0.0, lambda2 = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(tri === uni)
  }

  test("parameter validation: negative or oversubscribed lambdas throw") {
    intercept[IllegalArgumentException] {
      TextStats.trigramNll(docs("a b c"), "doc_id", "text", lambda3 = 0.8, lambda2 = 0.3)
    }
    intercept[IllegalArgumentException] {
      TextStats.trigramNll(docs("a b c"), "doc_id", "text", lambda3 = -0.1)
    }
  }
}
