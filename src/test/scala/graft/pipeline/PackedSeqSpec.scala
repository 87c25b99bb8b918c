package graft.pipeline

import org.apache.spark.sql.functions._

import graft.GraftSuite

/** Packed-sequence emission laws (C191): positions are dense 0..n−1
  * within every (group, pack); each document's ids are contiguous and
  * in encode order; documents stay atomic (one pack each); and the
  * splice is deterministic.
  */
class PackedSeqSpec extends GraftSuite {

  private def docs(texts: String*) = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i.toLong, "g", t) }
      .toDF("doc_id", "lang", "text")
  }

  private def fixture() = {
    val d = docs("stream batch stream", "merge table scan", "filter sort")
    val model = Bpe.train(d, "text", numMerges = 3)
    val ids = Bpe.encodeIds(d, "doc_id", "text", model)
    val counts = ids.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .join(d.select("doc_id", "lang"), Seq("doc_id"))
    val packs = Packing.packGreedyByCount(counts, "doc_id", "n",
      budget = 12, groupCols = Seq("lang"))
    (ids, packs, model)
  }

  test("positions are dense 0..n−1 within every (group, pack)") {
    val (ids, packs, model) = fixture()
    val seqs = Packing.packedSequences(ids, packs, "doc_id", Seq("lang"))
    val perPack = seqs.groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n"), min("pos").as("mn"), max("pos").as("mx"),
        countDistinct("pos").as("nd"))
      .collect()
    assert(perPack.nonEmpty)
    perPack.foreach { r =>
      assert(r.getAs[Long]("mn") === 0L, r.toString)
      assert(r.getAs[Long]("mx") === r.getAs[Long]("n") - 1, r.toString)
      assert(r.getAs[Long]("nd") === r.getAs[Long]("n"), r.toString)
    }
  }

  test("each document's ids are contiguous, in encode order, and in ONE pack") {
    val (ids, packs, model) = fixture()
    val seqs = Packing.packedSequences(ids, packs, "doc_id", Seq("lang"))
    // Atomicity: one pack per doc.
    assert(seqs.groupBy("doc_id").agg(countDistinct("pack_id").as("np"))
      .filter(col("np") > 1).isEmpty)
    // Contiguity + order: per doc, ids sorted by pos == encodeIds sorted
    // by (word_pos, piece_pos), and pos range is gap-free.
    val byPos = seqs.orderBy("doc_id", "pos")
      .select("doc_id", "piece_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    val byEnc = ids.orderBy("doc_id", "word_pos", "piece_pos")
      .select("doc_id", "piece_id").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSeq).toMap
    assert(byPos === byEnc)
    val spans = seqs.groupBy("doc_id")
      .agg(min("pos").as("mn"), max("pos").as("mx"), count(lit(1)).as("n"))
      .collect()
    spans.foreach(r =>
      assert(r.getAs[Long]("mx") - r.getAs[Long]("mn") + 1 === r.getAs[Long]("n"), r.toString))
  }

  test("withEos: exactly one marker per doc, LAST in its document, counted against the budget") {
    val (ids, _, model) = fixture()
    val vocabSize = Bpe.pieceVocab(model).count()
    val eosId = vocabSize // the one-past-the-vocabulary convention
    val withEos = Packing.withEos(ids, "doc_id", eosId, vocabSize)
    // One EOS per doc, id outside the vocabulary.
    assert(withEos.filter(col("piece_id") === eosId).count() === 3L)
    assert(withEos.count() === ids.count() + 3L)
    // Splice: every doc's LAST position carries the EOS.
    import spark.implicits._
    val counts = withEos.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .withColumn("lang", lit("g"))
    val packs = Packing.packGreedyByCount(counts, "doc_id", "n",
      budget = 12, groupCols = Seq("lang"))
    val seqs = Packing.packedSequences(withEos, packs, "doc_id", Seq("lang"))
    val lastPerDoc = seqs.groupBy("doc_id")
      .agg(max(struct(col("pos"), col("piece_id"))).as("m"))
      .select(col("doc_id"), col("m.piece_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lastPerDoc.forall(_._2 === eosId))
  }

  test("withEos: an eosId inside the piece-id range is REJECTED — collision cannot be silent") {
    val (ids, _, model) = fixture()
    val vocabSize = Bpe.pieceVocab(model).count()
    // Any piece id (here: the last one) collides and must throw.
    val ex = intercept[IllegalArgumentException] {
      Packing.withEos(ids, "doc_id", vocabSize - 1, vocabSize)
    }
    assert(ex.getMessage.contains("collides"))
    // With the reserved band, the control ids below the band are legal…
    val bandModel = model.copy(reserved = SpecialTokens.Band)
    val bandVocab = Bpe.pieceVocab(bandModel).count()
    Packing.withEos(ids, "doc_id", SpecialTokens.EosId, bandVocab,
      SpecialTokens.BandSize)
    // …but a band-range id on a band-less layout is not.
    val ex2 = intercept[IllegalArgumentException] {
      Packing.withEos(ids, "doc_id", SpecialTokens.EosId, vocabSize)
    }
    assert(ex2.getMessage.contains("collides"))
  }

  test("withEosForDocs: empty-stream documents still get their EOS, anchored to the doc frame") {
    import spark.implicits._
    val d = docs("stream batch stream", "merge table scan", "filter sort")
    val model = Bpe.train(d, "text", numMerges = 3,
      reserved = SpecialTokens.Band)
    val vocabSize = Bpe.pieceVocab(model).count()
    // Drop doc 1's stream entirely — the upstream-inner-join hazard.
    val ids = Bpe.encodeIds(d, "doc_id", "text", model)
      .filter(col("doc_id") =!= 1L)
    val out = Packing.withEosForDocs(ids, d, "doc_id", SpecialTokens.EosId,
      vocabSize, SpecialTokens.BandSize)
    val eos = out.filter(col("piece_id") === SpecialTokens.EosId)
      .select("doc_id", "word_pos").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // One EOS per doc OF THE FRAME — including the empty stream, at
    // word_pos 0 (visible termination, not silent absence).
    assert(eos.keySet === Set(0L, 1L, 2L))
    assert(eos(1L) === 0L)
    // Stream-derived variant, by contrast, has no doc-1 marker.
    assert(Packing.withEos(ids, "doc_id", SpecialTokens.EosId, vocabSize,
        SpecialTokens.BandSize)
      .filter(col("piece_id") === SpecialTokens.EosId && col("doc_id") === 1L)
      .isEmpty)
  }

  test("withBos: exactly one marker per doc, FIRST in its document, counted against the budget") {
    import spark.implicits._
    val (ids, _, model) = fixture()
    val vocabSize = Bpe.pieceVocab(model).count()
    val bosId = vocabSize // one-past-the-vocabulary, like the EOS twin
    val opened = Packing.withBos(ids, "doc_id", bosId, vocabSize)
    assert(opened.filter(col("piece_id") === bosId).count() === 3L)
    assert(opened.count() === ids.count() + 3L)
    // Splice: every doc's FIRST position carries the BOS (word_pos −1
    // sorts before every real id), and the marker is budget-counted.
    val counts = opened.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .withColumn("lang", lit("g"))
    val packs = Packing.packGreedyByCount(counts, "doc_id", "n",
      budget = 12, groupCols = Seq("lang"))
    val seqs = Packing.packedSequences(opened, packs, "doc_id", Seq("lang"))
    val firstPerDoc = seqs.groupBy("doc_id")
      .agg(min(struct(col("pos"), col("piece_id"))).as("m"))
      .select(col("doc_id"), col("m.piece_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(firstPerDoc.forall(_._2 === bosId))
    // Collision guard is the shared one.
    val ex = intercept[IllegalArgumentException] {
      Packing.withBos(ids, "doc_id", vocabSize - 1, vocabSize)
    }
    assert(ex.getMessage.contains("collides"))
  }

  test("withBosForDocs + withEosForDocs: an empty doc packs as the visible BOS/EOS pair") {
    import spark.implicits._
    val d = docs("stream batch stream", "merge table scan")
    val model = Bpe.train(d, "text", numMerges = 3,
      reserved = SpecialTokens.Band)
    val vocabSize = Bpe.pieceVocab(model).count()
    val frame = d.select("doc_id").unionByName(Seq(9L).toDF("doc_id"))
    val ids = Packing.withBosForDocs(
      Packing.withEosForDocs(
        Bpe.encodeIds(d, "doc_id", "text", model), frame, "doc_id",
        SpecialTokens.EosId, vocabSize, SpecialTokens.BandSize),
      frame, "doc_id", SpecialTokens.BosId, vocabSize, SpecialTokens.BandSize)
    val counts = ids.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val packs = Packing.packGreedyByCount(counts, "doc_id", "n", budget = 64)
    val seqs = Packing.packedSequences(ids, packs, "doc_id")
    // Doc 9 contributed NOTHING upstream, yet its packed slice is the
    // ordered (BOS, EOS) pair — documents open and close visibly.
    val nine = seqs.filter(col("doc_id") === 9L)
      .orderBy("pos").collect().map(_.getAs[Long]("piece_id")).toSeq
    assert(nine === Seq(SpecialTokens.BosId, SpecialTokens.EosId))
    // And every doc of the frame opens with BOS and closes with EOS.
    val ends = seqs.groupBy("doc_id")
      .agg(min(struct(col("pos"), col("piece_id"))).as("f"),
        max(struct(col("pos"), col("piece_id"))).as("l"))
      .select(col("f.piece_id").as("first"), col("l.piece_id").as("last"))
      .collect()
    assert(ends.forall(r =>
      r.getLong(0) === SpecialTokens.BosId && r.getLong(1) === SpecialTokens.EosId))
  }

  test("reserved band: both families lay out UNK/BOS/EOS/PAD at 0..3 with pieces at 4+; collisions fail loud") {
    import spark.implicits._
    val d = docs("stream batch stream", "merge table scan")
    val model = Bpe.train(d, "text", numMerges = 3,
      reserved = SpecialTokens.Band)
    val pv = Bpe.pieceVocab(model)
      .orderBy("piece_id").collect()
    assert(pv.take(4).map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((0L, "<unk>"), (1L, "<s>"), (2L, "</s>"), (3L, "<pad>")))
    assert(pv(4).getLong(0) === 4L)
    // Band ids never appear in an encoded stream (pieces are 4+).
    val ids = Bpe.encodeIds(d, "doc_id", "text", model)
    assert(ids.filter(col("piece_id") < SpecialTokens.BandSize).isEmpty)
    // Unigram: same band, unk keeps id 0, pieces at 4+.
    val um = Unigram.train(d, "text", vocabSize = 12, iters = 1,
      reserved = SpecialTokens.Band)
    val upv = Unigram.pieceVocab(um)
    assert(upv.take(4) === Seq((0L, "<unk>"), (1L, "<s>"), (2L, "</s>"), (3L, "<pad>")))
    assert(upv(4)._1 === 4L)
    // A band not led by <unk> is rejected AT TRAIN TIME (OOV routing
    // would break) and again at vocab build.
    val exU = intercept[IllegalArgumentException] {
      Unigram.train(d, "text", vocabSize = 12, iters = 1,
        reserved = Seq("<s>", "<unk>"))
    }
    assert(exU.getMessage.contains("<unk>"))
    // A reserved label colliding with a learned piece is rejected.
    val exC = intercept[IllegalArgumentException] {
      Bpe.pieceVocab(model.copy(reserved = Seq("s"))) // "s" is in the alphabet
    }
    assert(exC.getMessage.contains("collide"))
  }

  test("deterministic across runs") {
    val (ids, packs, model) = fixture()
    def run() = Packing.packedSequences(ids, packs, "doc_id", Seq("lang"))
      .orderBy("lang", "pack_id", "pos").collect().map(_.toString).toSeq
    assert(run() === run())
  }
}
