package graft.pipeline

import graft.GraftSuite

/** Modified-Kneser–Ney trigram laws (C190), on the order-n estimator
  * at order 3: the count-binned discounts
  * are estimated exactly from count-of-counts and each bin is exercised
  * by hand arithmetic (c=1 → D₁, c=2 → D₂, c≥3 → D₃₊ — including the
  * n₄=0 edge where D₃₊ = 3 wipes the raw count and γ redistributes all
  * of it), degenerate/non-Zipf corpora route per-bin to KenLM's
  * documented fallback discounts instead of dividing by zero or making
  * γ negative, cross-corpus OOV scoring stays finite, pre-derived
  * tables score bit-equal to the one-shot scorer, and the group key is
  * inert when constant and independent per group.
  */
class MknLmSpec extends GraftSuite {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  /** 7 docs, disjoint trigrams with counts 3/2/1/1 →
    * n₁=2, n₂=1, n₃=1, n₄=0 ⇒ Y=0.5, D₁=0.5, D₂=0.5, D₃₊=3.0.
    * Derived tables: U = 4 continuation bigrams, V = 12 tokens.
    */
  private def corpus = docs(
    "a b c", "a b c", "a b c", "d e f", "d e f", "g h i", "j k l")

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("hand-checked arithmetic across all three discount bins") {
    val out = TextStats.mknNgramNll(corpus, "doc_id", "text", order = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val pug = 1.0 / 16 // (0+1)/(U+V) — every pos-0/pos-1 case here
    // doc 5 "g h i": pos2 has ct=1 → D₁=0.5: numer 0.5/cuv 1; γ=0.5;
    // pb(i|h) = (1−0.75 + 0.75·1·(1/4))/1 = 0.4375 → pt = 0.71875.
    assert(out(5L) === r6(-(math.log(pug) + math.log(pug) + math.log(0.71875)) / 3.0))
    // doc 3 "d e f": ct=2 → D₂=0.5: numer 1.5/cuv 2; γ=(0.5·1)/2=0.25;
    // pb(f|e) = 0.4375 → pt = 0.75 + 0.109375 = 0.859375.
    assert(out(3L) === r6(-(math.log(pug) + math.log(pug) + math.log(0.859375)) / 3.0))
    // doc 0 "a b c": ct=3 → D₃₊=3.0 (n₄=0): the raw count is wiped,
    // γ = 3·1/3 = 1 redistributes everything → pt = pb(c|b) = 0.4375.
    assert(out(0L) === r6(-(math.log(pug) + math.log(pug) + math.log(0.4375)) / 3.0))
  }

  test("degenerate count-of-counts take KenLM's per-bin fallback discounts, not a crash") {
    // Only ct=1 and ct=2 trigrams — n3 = 0 (D₃₊ uncomputable) while D₁
    // and D₂ estimate fine: n1=1, n2=1 ⇒ Y=1/3, D₁=1/3, D₂=2−0=2.
    val degenerate = docs("a b c", "a b c", "d e f")
    val ds = TextStats.mknDiscounts(
      TextStats.ngramCounts(degenerate, "text", 3))
    assert(ds === ((0.333333, 2.0, 1.5)))
    // And scoring under them is total.
    val out = TextStats.mknNgramNll(degenerate, "doc_id", "text", order = 3).collect()
    assert(out.length === 3)
    out.foreach(r => assert(!r.isNullAt(2)))
  }

  test("non-Zipf count-of-counts (negative raw discount) fall back per bin") {
    // The sf0.1 fixture estimates D₂ ≈ −2 — the exact case that must
    // route to the fallback rather than make γ negative. Synthesize a
    // trigram table with that shape directly: n1=1, n2=1, n3=3, n4=0.
    import spark.implicits._
    val tri = (Seq(("a", "b", "c", 1L), ("b", "c", "d", 2L)) ++
      Seq(("c", "d", "e", 3L), ("d", "e", "f", 3L), ("e", "f", "g", 3L)))
      .toDF("w1", "w2", "w3", "ct")
    // Y = 1/3; D1 = 1 − 2/3 = 1/3 > 0; D2 = 2 − 3·(1/3)·3/1 = −1 → fb 1.0;
    // D3 = 3 − 0 = 3 > 0.
    assert(TextStats.mknDiscounts(tri) === ((0.333333, 1.0, 3.0)))
  }

  test("cross-corpus OOV after a seen context scores finite") {
    val model = TextStats.ngramCounts(corpus, "text", 3)
    val out = TextStats.mknNgramNllAgainst(
      docs("a b zzz", "zzz qqq xxx"), model, "doc_id", "text", 3).collect()
    assert(out.length === 2)
    out.foreach(r => assert(!r.isNullAt(2), s"avg_nll NULL for ${r.getLong(0)}"))
    // "a b zzz" pos2: (a,b) context seen (cuv=3) but ct/cbc/cuw all
    // absent → pb routes to the guard, pt = 0 + γ·guard > 0.
  }

  test("discount validation") {
    intercept[IllegalArgumentException] {
      TextStats.mknNgramNll(corpus, "doc_id", "text", order = 3, discount = 1.0)
    }
  }

  test("deterministic across runs on real corpus data") {
    val d = spark.read.parquet(s"${graft.SparkTestBase.sf0001}/documents.parquet")
      .select("doc_id", "text")
    val a = TextStats.mknNgramNll(d, "doc_id", "text", order = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    val b = TextStats.mknNgramNll(d, "doc_id", "text", order = 3).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).sortBy(_._1)
    assert(a === b)
  }

  test("pre-derived tables: mknNgramNllWith over mknTables / mknTablesMaterialized == mknNgramNllAgainst bit-for-bit, ungrouped and per group") {
    // Streaming gates derive once per frozen model; this pins that BOTH
    // forms of the split (lazy tables, and the pinned tables the gates
    // actually hold) reproduce the one-shot scorer exactly — every
    // double identical, on real corpus data, with and without a group.
    val d = spark.read.parquet(s"${graft.SparkTestBase.sf0001}/documents.parquet")
      .select("doc_id", "lang", "text")
    for (g <- Seq(Nil, Seq("lang"))) {
      val model = TextStats.ngramCounts(d, "text", 3, g)
      val oneShot = TextStats.mknNgramNllAgainst(d, model, "doc_id", "text", 3,
          groupCols = g)
        .orderBy("doc_id").collect()
      val lazyTabs = TextStats.mknNgramNllWith(
          d, TextStats.mknTables(model, 3, g), "doc_id", "text")
        .orderBy("doc_id").collect()
      assert(lazyTabs.toSeq === oneShot.toSeq)
      val pinned = TextStats.mknTablesMaterialized(model, 3, g)
      val viaPinned = TextStats.mknNgramNllWith(d, pinned, "doc_id", "text")
        .orderBy("doc_id").collect()
      assert(viaPinned.toSeq === oneShot.toSeq)
      // Reuse law: a SECOND scoring run against the same pinned tables
      // (the micro-batch shape) is also identical — nothing in the first
      // run mutates the tables.
      val again = TextStats.mknNgramNllWith(d, pinned, "doc_id", "text")
        .orderBy("doc_id").collect()
      assert(again.toSeq === oneShot.toSeq)
    }
  }

  test("per-group scorer: one constant group == the global scorer bit-for-bit; per-lang groups == independent per-slice global models; a group with no model drops its docs") {
    import org.apache.spark.sql.functions.{col, lit}
    val d = spark.read.parquet(s"${graft.SparkTestBase.sf0001}/documents.parquet")
      .select("doc_id", "lang", "text")
    def perGroup(probe: org.apache.spark.sql.DataFrame,
        model: org.apache.spark.sql.DataFrame, g: String) =
      TextStats.mknNgramNllAgainst(probe, model, "doc_id", "text", 3, groupCols = Seq(g))
    // Law 1 — the group key is inert when constant: grouped chain ==
    // the ungrouped chain, every double identical.
    val one = d.withColumn("gg", lit("x"))
    val grouped = perGroup(one, TextStats.ngramCounts(one, "text", 3, Seq("gg")), "gg")
      .select("doc_id", "n_tokens", "avg_nll").orderBy("doc_id").collect()
    val global = TextStats.mknNgramNllAgainst(
        d, TextStats.ngramCounts(d, "text", 3), "doc_id", "text", 3)
      .orderBy("doc_id").collect()
    assert(grouped.toSeq === global.toSeq)
    // Law 2 — grouping by lang == training and scoring each language
    // slice independently with the GLOBAL machinery (model tables,
    // discounts, totals all per-slice).
    val byLang = perGroup(d, TextStats.ngramCounts(d, "text", 3, Seq("lang")), "lang")
      .select("doc_id", "n_tokens", "avg_nll").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val langs = d.select("lang").distinct().collect().map(_.getString(0))
    val sliced = langs.flatMap { l =>
      val s0 = d.filter(col("lang") === l)
      TextStats.mknNgramNllAgainst(
          s0, TextStats.ngramCounts(s0, "text", 3), "doc_id", "text", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }.sortBy(_._1)
    assert(byLang.toSeq === sliced.toSeq)
    // Law 3 — no reference, no score: a group whose model slice has no
    // >=3-token doc is ABSENT from the output (CCNet's posture), while
    // the other groups score untouched.
    import spark.implicits._
    val probe = Seq((1L, "en", "a b c d"), (2L, "xx", "a b c d"))
      .toDF("doc_id", "lang", "text")
    val model = TextStats.ngramCounts(
      Seq((10L, "en", "a b c a b c")).toDF("doc_id", "lang", "text"),
      "text", 3, Seq("lang"))
    val out = perGroup(probe, model, "lang").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L))
  }
}
