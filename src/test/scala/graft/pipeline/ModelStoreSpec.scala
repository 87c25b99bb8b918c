package graft.pipeline

import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.queries.Fixtures

/** Model-artifact persistence laws (C204): every trained artifact
  * round-trips through disk BIT-IDENTICALLY — the loaded model encodes/
  * scores exactly like the one that trained — and the store refuses to
  * misparse (wrong model type, future format version) instead of
  * producing garbage weights.
  */
class ModelStoreSpec extends GraftSuite {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def store(tag: String): String =
    Fixtures.scratchDir(s"graft-modelstore-$tag") + "/m"

  test("BPE: loaded model == trained model (merges, words, grain) and encodes bit-identically") {
    val d = docs("stream batch stream table", "merge table scan scan", "it's fine")
    val trained = Bpe.train(d, "text", numMerges = 6,
      reserved = SpecialTokens.Band)
    val path = store("bpe")
    ModelStore.saveBpe(trained, path)
    val loaded = ModelStore.loadBpe(spark, path)
    assert(loaded.merges === trained.merges)
    assert(loaded.byteLevel === trained.byteLevel)
    assert(loaded.tokenizer === trained.tokenizer)
    assert(loaded.reserved === SpecialTokens.Band)
    assert(loaded.cappedOut === trained.cappedOut)
    assert(loaded.words.orderBy("word").collect().toSeq ===
      trained.words.select("word", "freq", "seg").orderBy("word").collect().toSeq)
    def enc(m: Bpe.BpeModel) =
      Bpe.encodeIds(d, "doc_id", "text", m)
        .orderBy("doc_id", "word_pos", "piece_pos").collect().toSeq
    assert(enc(loaded) === enc(trained))
    // decode through the loaded model closes the loop.
    val back = Bpe.decode(
        Bpe.encodeIds(d, "doc_id", "text", loaded), "doc_id", loaded)
      .join(d.withColumnRenamed("text", "orig"), Seq("doc_id"))
      .filter(col("text") =!= col("orig")).count()
    assert(back === 0L)
  }

  test("BPE: train, trainLocal and loadBpe return a driver-local word table, no persistent RDD") {
    val d = docs("local words table stream", "table stream local local")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- before
    val trained = Bpe.train(d, "text", numMerges = 4)
    assert(added.isEmpty, s"Bpe.train left ${added.size} persistent RDDs")
    val local = Bpe.trainLocal(d, "text", numMerges = 4)
    assert(added.isEmpty, s"Bpe.trainLocal left ${added.size} persistent RDDs")
    val path = store("bpe-local-words")
    ModelStore.saveBpe(trained, path)
    val loaded = ModelStore.loadBpe(spark, path)
    assert(Bpe.encodeIds(d, "doc_id", "text", loaded).count() > 0L)
    assert(added.isEmpty, s"ModelStore.loadBpe left ${added.size} persistent RDDs")
    // One construction: the three tables are the same rows.
    def rows(m: Bpe.BpeModel) = m.words.orderBy("word").collect().toSeq
    assert(rows(loaded) === rows(trained) && rows(local) === rows(trained))
  }

  test("BPE: the GPT-2 byte grain round-trips with its recorded separator") {
    val d = docs("the cat the dog", "it's the cat's day")
    val trained = Bpe.train(d, "text", numMerges = 8, byteLevel = true,
      tokenizer = TextOps.Gpt2Tok)
    val path = store("bpe-gpt2")
    ModelStore.saveBpe(trained, path)
    val loaded = ModelStore.loadBpe(spark, path)
    assert(loaded.byteLevel === true)
    // The tokenizer identity survived the disk boundary: the serving
    // session's encode/decode use the GPT-2 split and "" separator
    // WITHOUT being told — the silently-wrong-tokenizer hazard is
    // structurally closed.
    assert(loaded.tokenizer === TextOps.Gpt2Tok)
    val back = Bpe.decode(
        Bpe.encodeIds(d, "doc_id", "text", loaded),
        "doc_id", loaded)
      .join(d.withColumnRenamed("text", "orig"), Seq("doc_id"))
      .filter(col("text") =!= col("orig")).count()
    assert(back === 0L)
  }

  test("Unigram: loaded model == trained model (piece sequence, unkLogp, maxPieceLen) and segments identically") {
    val d = docs("stream batch stream", "merge table scan", "ab zb cd")
    val trained = Unigram.train(d, "text", vocabSize = 24, iters = 2,
      maxPieceLen = 4, seedMulti = 40, reserved = SpecialTokens.Band)
    val path = store("unigram")
    ModelStore.saveUnigram(trained, path)
    val loaded = ModelStore.loadUnigram(spark, path)
    assert(loaded === trained) // case-class equality: exact pieces, order, doubles, band
    def enc(m: Unigram.UnigramModel) =
      Unigram.encodeIds(d, "doc_id", "text", m)
        .orderBy("doc_id", "word_pos", "piece_pos").collect().toSeq
    assert(enc(loaded) === enc(trained))
  }

  test("Unigram: the byte grain + GPT-2 tokenizer identity survives the disk boundary") {
    val d = docs("the cat the dog", "it's the cat's day")
    val trained = Unigram.trainLocal(d, "text", vocabSize = 24, iters = 2,
      maxPieceLen = 4, seedMulti = 30, byteLevel = true,
      tokenizer = TextOps.Gpt2Tok, reserved = SpecialTokens.Band)
    val path = store("unigram-byte")
    ModelStore.saveUnigram(trained, path)
    val loaded = ModelStore.loadUnigram(spark, path)
    assert(loaded === trained) // incl. byteLevel + tokenizer (C202 for this family)
    assert(loaded.byteLevel && loaded.tokenizer === TextOps.Gpt2Tok)
    // The serving session's encode→decode through the LOADED model is
    // the exact inverse — split, symbol slicing, and the "" separator
    // all resolved from the persisted metadata.
    val back = Unigram.decode(
        Unigram.encodeIds(d, "doc_id", "text", loaded), "doc_id", loaded)
      .join(d.withColumnRenamed("text", "orig"), Seq("doc_id"))
      .filter(col("text") =!= col("orig")).count()
    assert(back === 0L)
  }

  test("pre-v2 artifacts still load: absent identity fields resolve to the layout's original behavior (word grain, whitespace), not an unversioned missing-field error") {
    // A v1 unigram directory: pieces as today, meta WITHOUT byte_level /
    // tokenizer / rows_pieces — exactly what a pre-v2 save produced.
    val d = docs("stream batch stream", "merge table scan")
    val trained = Unigram.train(d, "text", vocabSize = 20, iters = 1,
      maxPieceLen = 4, seedMulti = 30, reserved = Seq(SpecialTokens.Unk))
    val path = store("unigram-v1")
    ModelStore.saveUnigram(trained, path)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val v1Schema = StructType(Seq(
      StructField("format_version", IntegerType, nullable = false),
      StructField("model_type", StringType, nullable = false),
      StructField("unk_logp", DoubleType, nullable = false),
      StructField("max_piece_len", IntegerType, nullable = false),
      StructField("capped_out", LongType, nullable = false),
      StructField("reserved", ArrayType(StringType, containsNull = false), nullable = false)))
    val v1Row = Row(1, "unigram", trained.unkLogp, trained.maxPieceLen,
      trained.cappedOut, trained.reserved)
    spark.createDataFrame(
        new java.util.ArrayList[Row](java.util.Arrays.asList(v1Row)), v1Schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val loaded = ModelStore.loadUnigram(spark, path)
    // The v1 layout's behavior WAS word-grain whitespace — that's what
    // an absent field must mean, because that's how the artifact trained.
    assert(!loaded.byteLevel)
    assert(loaded.tokenizer === TextOps.WhitespaceTok)
    assert(loaded.pieces === trained.pieces)
  }

  test("softmax + logistic: weight matrices round-trip exactly, with their feature/label vectors") {
    val w = Seq(Seq(0.125, -3.5, 2.000001), Seq(0.0, 7.25, -0.000001),
      Seq(1.0 / 3.0, Double.MinPositiveValue, 123456.789))
    val feats = Seq("x1", "x2")
    val labels = Seq("de", "en", "zh")
    val path = store("softmax")
    ModelStore.saveSoftmax(spark, w, feats, labels, path)
    val (w2, f2, l2) = ModelStore.loadSoftmax(spark, path)
    assert(w2 === w) // parquet doubles are exact — bit-identical scoring
    assert(f2 === feats)
    assert(l2 === labels)
    val lw = Seq(0.548244, 0.235449, 0.430676, 0.192348)
    val lpath = store("logistic")
    ModelStore.saveLogistic(spark, lw, Seq("x1", "x2", "x3"), lpath)
    val (lw2, lf2) = ModelStore.loadLogistic(spark, lpath)
    assert(lw2 === lw)
    assert(lf2 === Seq("x1", "x2", "x3"))
  }

  test("n-gram: the count frame round-trips with its order; scoring through the loaded model is identical") {
    val d = docs("the cat sat on the mat", "the cat ran", "a dog sat")
    val model = TextStats.ngramCounts(d, "text", 3)
    val path = store("ngram")
    ModelStore.saveNgram(model, path, order = 3)
    val (loaded, order) = ModelStore.loadNgram(spark, path)
    assert(order === 3)
    assert(loaded.orderBy("w1", "w2", "w3").collect().toSeq ===
      model.orderBy("w1", "w2", "w3").collect().toSeq)
    def score(m: org.apache.spark.sql.DataFrame) =
      TextStats.mknNgramNllAgainst(d, m, "doc_id", "text", 3)
        .orderBy("doc_id").collect().toSeq
    assert(score(loaded) === score(model))
    // Column-layout contract enforced at save.
    val bad = intercept[IllegalArgumentException] {
      ModelStore.saveNgram(model, store("ngram-bad"), order = 4)
    }
    assert(bad.getMessage.contains("order-4"))
  }

  test("the store refuses to misparse: wrong model type and future format version fail loud") {
    val d = docs("stream batch stream")
    val trained = Bpe.train(d, "text", numMerges = 2)
    val path = store("types")
    ModelStore.saveBpe(trained, path)
    val exT = intercept[IllegalArgumentException] {
      ModelStore.loadUnigram(spark, path)
    }
    assert(exT.getMessage.contains("'bpe'"))
    // A future writer's layout: bump the version in the meta frame.
    val future = spark.read.parquet(s"$path/meta")
      .withColumn("format_version", lit(ModelStore.FormatVersion + 1))
    val fpath = store("types-future")
    ModelStore.saveBpe(trained, fpath) // lay down tables, then clobber meta
    future.coalesce(1).write.mode("overwrite").parquet(s"$fpath/meta")
    val exV = intercept[IllegalArgumentException] {
      ModelStore.loadBpe(spark, fpath)
    }
    assert(exV.getMessage.contains("format_version"))
  }

  test("torn save fails loud: stale meta beside a mismatched data table is rejected by the row checksum") {
    val d = docs("stream batch stream table", "merge table scan")
    val trained = Bpe.train(d, "text", numMerges = 4)
    val path = store("torn")
    ModelStore.saveBpe(trained, path)
    // Simulate a crash mid-RE-save: the data table was rewritten (here:
    // truncated) but the new meta never landed — the old meta's counts
    // no longer match. readMeta alone would accept this directory.
    spark.read.parquet(s"$path/words").limit(1)
      .write.mode("overwrite").parquet(s"$path/words")
    val ex = intercept[IllegalArgumentException] {
      ModelStore.loadBpe(spark, path)
    }
    assert(ex.getMessage.contains("TORN"))
  }

  test("version registry: publish is atomic-by-create, readers resolve old-or-new, never a torn pair") {
    val d = docs("stream batch stream table", "merge table scan")
    val root = store("registry")
    // Nothing published yet: a gate must not guess.
    val none = intercept[IllegalStateException] {
      ModelStore.resolveLatest(spark, root)
    }
    assert(none.getMessage.contains("no published model version"))
    val m1 = Bpe.train(d, "text", numMerges = 2)
    ModelStore.saveBpe(m1, s"$root/v=1")
    ModelStore.publishVersion(spark, root, 1)
    assert(ModelStore.latestVersion(spark, root) === Some(1))
    assert(ModelStore.resolveLatest(spark, root) === s"$root/v=1")
    // A retrain IN FLIGHT: v=2's directory exists (half-saved is fine —
    // nothing points at it) but is unpublished; readers still resolve v1.
    val m2 = Bpe.train(d, "text", numMerges = 4)
    ModelStore.saveBpe(m2, s"$root/v=2")
    assert(ModelStore.resolveLatest(spark, root) === s"$root/v=1")
    // Publish AFTER the save completes: readers now resolve v2, and the
    // directory the pointer names loads clean (counts verify).
    ModelStore.publishVersion(spark, root, 2)
    assert(ModelStore.resolveLatest(spark, root) === s"$root/v=2")
    val loaded = ModelStore.loadBpe(spark, ModelStore.resolveLatest(spark, root))
    assert(loaded.merges === m2.merges)
    // Re-publishing is a no-op, not an error (idempotent replays).
    ModelStore.publishVersion(spark, root, 2)
    assert(ModelStore.latestVersion(spark, root) === Some(2))
  }
}
