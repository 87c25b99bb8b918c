package graft.pipeline

import org.apache.spark.sql.functions._

import graft.GraftSuite

/** Order-n modified-Kneser–Ney laws (C205) — the engine's one MKN
  * estimator (the order-3 trigram laws live in MknLmSpec): ngramCounts
  * builds exact adjacent-tuple counts, with the group key riding the
  * one aggregation; order 5 backs off through every level (doc-initial
  * positions, unseen contexts, OOV) with every token finite; the
  * at-rest index and its incremental refresh score bit-equal to the
  * live derivation.
  */
class MknNgramSpec extends GraftSuite {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private val corpus = docs(
    "the cat sat on the mat and the cat ran off the mat",
    "the dog sat on the rug and the dog ran",
    "a cat and a dog sat on a rug",
    "the cat sat on the mat again and again",
    "one two three four five six seven",
    "the end")

  test("ngramCounts at order 3: hand-checked rows; grouped == per-slice counts with the key prepended") {
    import spark.implicits._
    // "a b c a b c" windows abc, bca, cab, abc; "a b c" adds abc; the
    // 2-token doc has no trigram.
    val d = Seq((0L, "x", "a b c a b c"), (1L, "y", "a b c"), (2L, "y", "a b"))
      .toDF("doc_id", "g", "text")
    val rows = TextStats.ngramCounts(d, "text", 3)
      .orderBy("w1", "w2", "w3").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(rows === Seq(("a", "b", "c", 3L), ("b", "c", "a", 1L), ("c", "a", "b", 1L)))
    val grouped = TextStats.ngramCounts(d, "text", 3, Seq("g"))
      .orderBy("g", "w1", "w2", "w3").collect().toSeq
    val sliced = Seq("x", "y").flatMap(v =>
      TextStats.ngramCounts(d.filter(col("g") === v), "text", 3)
        .select(lit(v).as("g"), col("w1"), col("w2"), col("w3"), col("ct"))
        .orderBy("w1", "w2", "w3").collect().toSeq)
    assert(grouped === sliced)
  }

  test("order 5: every token scores finite — doc-initial backoff, unseen contexts, OOV after seen context") {
    val model5 = TextStats.ngramCounts(corpus, "text", 5)
    val probe = docs(
      "the cat sat on the mat", // full 5-gram contexts available
      "zz",                     // single OOV token: unigram guard
      "the cat",                // pos 1-2 only: levels 1-2
      "the cat sat zz mat",     // OOV mid-context: unseen at every level
      "one two three")          // levels 1-3
    val rows = TextStats.mknNgramNllAgainst(probe, model5, "doc_id", "text", 5)
      .orderBy("doc_id").collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val nll = r.getAs[Double]("avg_nll")
      assert(!nll.isNaN && !nll.isInfinite, r.toString)
      assert(nll > 0.0, r.toString)
    }
    // Short docs score exactly as many tokens as they carry.
    assert(rows.map(_.getAs[Long]("n_tokens")).toSeq === Seq(6L, 1L, 2L, 5L, 3L))
  }

  test("order 5 separates in-domain from shuffled text (the gate signal)") {
    val model5 = TextStats.ngramCounts(corpus, "text", 5)
    val probe = docs(
      "the cat sat on the mat and the cat ran", // verbatim in-domain
      "mat the ran cat the and mat on sat cat") // same tokens, shuffled
    val byDoc = TextStats.mknNgramNllAgainst(probe, model5, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getAs[Double]("avg_nll"))).toMap
    assert(byDoc(0L) < byDoc(1L),
      s"in-domain ${byDoc(0L)} should beat shuffled ${byDoc(1L)}")
  }

  test("deterministic across runs and partitionings") {
    val model5 = TextStats.ngramCounts(corpus, "text", 5)
    val probe = docs("the cat sat on the mat", "a dog ran off")
    def run(p: org.apache.spark.sql.DataFrame) =
      TextStats.mknNgramNllAgainst(p, model5, "doc_id", "text", 5)
        .orderBy("doc_id").collect().toSeq
    assert(run(probe) === run(probe.repartition(7)))
  }

  test("mergeNgramCounts: summation over a disjoint doc partition == the one-pass model, row for row") {
    val even = docs("the cat sat on the mat", "one two three four five")
    val odd = docs("the dog sat on the rug", "a cat and a dog here")
    val all = even.unionByName(odd)
    val merged = TextStats.mergeNgramCounts(Seq(
        TextStats.ngramCounts(even, "text", 5),
        TextStats.ngramCounts(odd, "text", 5)), 5)
      .orderBy("w1", "w2", "w3", "w4", "w5").collect().toSeq
    val onePass = TextStats.ngramCounts(all, "text", 5)
      .orderBy("w1", "w2", "w3", "w4", "w5").collect().toSeq
    assert(merged === onePass)
    // Column-layout contract enforced.
    val ex = intercept[IllegalArgumentException] {
      TextStats.mergeNgramCounts(Seq(TextStats.ngramCounts(all, "text", 3)), 5)
    }
    assert(ex.getMessage.contains("order-5"))
  }

  test("padPacks: under-full packs pad to dense 0..budget−1 with NULL doc ids; full packs untouched; collisions rejected") {
    import spark.implicits._
    val d = docs("stream batch stream", "merge table scan", "filter sort")
      .withColumn("lang", lit("g"))
    val model = Bpe.train(d, "text", numMerges = 3,
      reserved = SpecialTokens.Band)
    val vocabSize = Bpe.pieceVocab(model).count()
    val ids = Packing.withEos(
      Bpe.encodeIds(d, "doc_id", "text", model),
      "doc_id", SpecialTokens.EosId, vocabSize, SpecialTokens.BandSize)
    val counts = ids.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .join(d.select("doc_id", "lang"), Seq("doc_id"))
    val packs = Packing.packGreedyByCount(counts, "doc_id", "n",
      budget = 16, groupCols = Seq("lang"))
    val seqs = Packing.packedSequences(ids, packs, "doc_id", Seq("lang"))
    val padded = Packing.padPacks(seqs, "doc_id", budget = 16,
      padId = SpecialTokens.PadId, vocabSize = vocabSize,
      reservedBand = SpecialTokens.BandSize, groupCols = Seq("lang"))
    val perPack = padded.groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"),
        countDistinct("pos").as("nd"),
        sum(when(col("piece_id") === SpecialTokens.PadId, 1L).otherwise(0L)).as("np"))
      .collect()
    val realLens = seqs.groupBy("lang", "pack_id").count()
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2))).toMap
    perPack.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val realLen = realLens(key)
      if (realLen >= 16) { // overflowing/full pack: untouched
        assert(r.getAs[Long]("np") === 0L, r.toString)
        assert(r.getAs[Long]("n") === realLen, r.toString)
      } else { // padded to dense 0..15
        assert(r.getAs[Long]("n") === 16L, r.toString)
        assert(r.getAs[Long]("mx") === 15L, r.toString)
        assert(r.getAs[Long]("nd") === 16L, r.toString)
        assert(r.getAs[Long]("np") === 16L - realLen, r.toString)
      }
    }
    // Pad rows carry NULL doc ids — provenance never lies.
    assert(padded.filter(col("piece_id") === SpecialTokens.PadId &&
      col("doc_id").isNotNull).isEmpty)
    // A piece-range padId is rejected loud.
    val ex = intercept[IllegalArgumentException] {
      Packing.padPacks(seqs, "doc_id", 16, vocabSize - 1, vocabSize,
        SpecialTokens.BandSize, Seq("lang"))
    }
    assert(ex.getMessage.contains("collides"))
    model.words.unpersist()
  }

  test("at-rest index == live derivation BIT-FOR-BIT; probe scans prune to touched buckets") {
    val path = java.nio.file.Files.createTempDirectory("mkn-index").toString + "/idx"
    val model = TextStats.ngramCounts(corpus, "text", 5)
    TextStats.writeNgramIndex(model, path, order = 5, nBuckets = 8)
    // Full-corpus probe: every double identical to the live path (the
    // two paths share one scoring core — this pin keeps it that way).
    val live = TextStats.mknNgramNllAgainst(corpus, model, "doc_id", "text", 5)
      .orderBy("doc_id").collect().toSeq
    val idx = TextStats.mknNgramNllIndexed(spark, path, corpus, "doc_id", "text")
      .orderBy("doc_id")
    assert(idx.collect().toSeq === live)
    // A small probe still matches its live scores AND its scans carry
    // PartitionFilters on pbucket — the probe reads the buckets its
    // contexts hash to, not the model tables in full.
    val probe = corpus.filter(col("doc_id") < 2)
    val liveSub = TextStats.mknNgramNllAgainst(probe, model, "doc_id", "text", 5)
      .orderBy("doc_id").collect().toSeq
    val idxSub = TextStats.mknNgramNllIndexed(spark, path, probe, "doc_id", "text")
      .orderBy("doc_id")
    assert(idxSub.collect().toSeq === liveSub)
    val plan = idxSub.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("pbucket"),
      plan.take(2000))
  }

  test("incremental refresh == full rebuild BIT-FOR-BIT through a store that advanced between versions; only changed-gram buckets are recomputed") {
    import graft.streaming.StreamingIndex
    val base = java.nio.file.Files.createTempDirectory("mkn-refresh")
    val store = base.resolve("store").toString
    val order = 5
    // Batch 0 = most of the corpus; version 1 compiles from it.
    val prefix = corpus.filter(col("doc_id") < 4)
    val last = corpus.filter(col("doc_id") >= 4)
    StreamingIndex.applyNgramBatch(prefix, 0L, store, "text", order)
    val v1 = base.resolve("idx/v=1").toString
    TextStats.writeNgramIndexFromStore(spark, store, v1, order)
    // The store advances PAST the indexed version.
    StreamingIndex.applyNgramBatch(last, 1L, store, "text", order)
    val v2 = base.resolve("idx/v=2").toString
    val dirty = TextStats.refreshNgramIndexFromStore(spark, store, v1, v2)
    // Touched-bucket-only, pinned: batch 1's grams are a sliver of the
    // model, so every table's dirty set is a PROPER subset of its
    // buckets — the clean remainder moved by file copy, not recompute.
    val meta = spark.read.parquet(s"$v1/meta").head()
    val nBuckets = meta.getAs[Int]("n_buckets")
    assert(dirty.nonEmpty && dirty.values.forall(d => d.nonEmpty && d.length < nBuckets))
    // The refreshed index scores EXACTLY like a full rebuild over the
    // advanced store (which, by count additivity, is the one-pass
    // model): every double identical, full corpus and small probe.
    val full = base.resolve("idx-full").toString
    TextStats.writeNgramIndexFromStore(spark, store, full, order)
    def score(idx: String, probe: org.apache.spark.sql.DataFrame) =
      TextStats.mknNgramNllIndexed(spark, idx, probe, "doc_id", "text")
        .orderBy("doc_id").collect().toSeq
    assert(score(v2, corpus) === score(full, corpus))
    assert(score(v2, corpus) ===
      TextStats.mknNgramNllAgainst(corpus,
        TextStats.ngramModelFromStore(spark, store, order),
        "doc_id", "text", order).orderBy("doc_id").collect().toSeq)
    // Meta carried the version cursor forward: v2's last_batch_id is
    // batch 1, so the NEXT refresh keys on it.
    assert(spark.read.parquet(s"$v2/meta").head()
      .getAs[Long]("last_batch_id") === 1L)
    // A pre-cursor index (no last_batch_id) refuses to refresh
    // incrementally instead of guessing a since-point.
    spark.read.parquet(s"$v1/meta").drop("last_batch_id")
      .write.mode("overwrite").parquet(s"${base.resolve("idx/v=0")}/meta")
    val ex = intercept[IllegalArgumentException] {
      TextStats.refreshNgramIndexFromStore(
        spark, store, base.resolve("idx/v=0").toString,
        base.resolve("idx/v=3").toString)
    }
    assert(ex.getMessage.contains("last_batch_id"))
  }

  test("size-derived index buckets: bucket count scales with the model's MEASURED size; floor and cap hold; the written meta records the derived count") {
    val model = TextStats.ngramCounts(corpus, "text", 5)
    // Tiny fixture model → the floor (8), not one mega-bucket.
    assert(TextStats.ngramIndexBuckets(model) === 8)
    // The size figure is max(plan estimate, exact content measure):
    // through an unmaterialized aggregate the plan estimate can
    // collapse to metadata scale, and the content measure is what
    // keeps a big model from flooring (the underestimate is the one
    // dangerous direction — a terabyte model at 8 buckets is 8
    // unprunable megafiles). Here the measure dominates and is at
    // least the raw gram text.
    val est = TextStats.ngramIndexBytes(model)
    val textBytes = model.select(
        org.apache.spark.sql.functions.sum(length(concat_ws(" ",
          (1 to 5).map(i => col(s"w$i")): _*))))
      .first().getLong(0)
    assert(est >= BigInt(textBytes) && textBytes > 0)
    // Buckets scale ~linearly with the size figure: shrinking the
    // per-bucket target by K multiplies the count by ~K (per-bucket
    // bytes stay ~constant as the model grows — the serving property).
    val tgt = (est / 64).max(BigInt(1)).toLong
    val n = TextStats.ngramIndexBuckets(model, tgt)
    assert(n >= 64 && n < 100) // ~K, with integer-division slack on a tiny model
    // Cap: a byte-sized target on this model yields est buckets — still
    // bounded above by the fan-out cap (binding only at real scale).
    assert(TextStats.ngramIndexBuckets(model, 1L) <= 65536)
    // writeNgramIndex with the auto default records the derived count
    // in meta, so probes prune against the real layout.
    val path = java.nio.file.Files.createTempDirectory("mkn-auto").toString + "/idx"
    TextStats.writeNgramIndex(model, path, order = 5)
    assert(spark.read.parquet(s"$path/meta").head()
      .getAs[Int]("n_buckets") === 8)
  }

  test("order < 3 and empty model fail loud") {
    val ex = intercept[IllegalArgumentException] {
      TextStats.mknNgramNllAgainst(corpus,
        TextStats.ngramCounts(corpus, "text", 5), "doc_id", "text", 2)
    }
    assert(ex.getMessage.contains("order"))
    val ex2 = intercept[IllegalArgumentException] {
      TextStats.mknNgramNllAgainst(docs("short"),
        TextStats.ngramCounts(docs("short"), "text", 5), "doc_id", "text", 5)
    }
    assert(ex2.getMessage.contains("empty"))
  }
}
