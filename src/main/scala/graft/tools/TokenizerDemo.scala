package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.{Bpe, Classifier, Packing, TextStats, Unigram, Vocab}

/** End-to-end demo/driver of the tokenizer tier over the real
  * `documents` testdata — from raw corpus to training-ready packs, each
  * stage one library operator, with evidence printed per stage:
  *
  *   plant non-Latin rows → script-mix gate (the planted rows must be
  *   exactly what drops) → train the quality classifier on weak labels
  *   → PR curve (report the best-F1 threshold) → gate at 0.5 → build
  *   the whole-word vocabulary → train BPE merges → fertility per lang
  *   (the vocabulary-allocation gauge) → encode a sample doc → pack the
  *   BPE token counts per lang → reconciliation: every surviving doc in
  *   exactly one pack, pack token sums == corpus BPE token mass.
  *
  * Driver-side state is models only (weights, merges, the k-row vocab
  * head). Run:
  *   sbt "runMain graft.tools.TokenizerDemo [sfDir]"
  */
object TokenizerDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tokenizer-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LocalFs.install(spark)
    import spark.implicits._
    def log(m: String): Unit = println(s"[demo] $m")

    val planted = Seq(
      (900000L, "xx", "привет мир как дела сегодня"),
      (900001L, "xx", "你好世界 机器学习 数据"),
      (900002L, "xx", "click здесь for бесплатно prizes"))
      .toDF("doc_id", "lang", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "lang", "text", "n_chars").unionByName(planted)
    val n0 = corpus.count()
    log(s"corpus: $n0 docs (${planted.count()} planted non-Latin)")

    // Script gate.
    val sm = TextStats.scriptMix(corpus, "doc_id", "text")
    val dropped = sm.filter(col("dominant") =!= "latin" || col("mixed_script"))
      .select("doc_id").as[Long].collect().sorted
    log(s"script gate dropped: ${dropped.mkString(", ")} (expect the planted ids)")
    val g1 = corpus.join(
      sm.filter(col("dominant") === "latin" && !col("mixed_script")).select("doc_id"),
      Seq("doc_id"))

    // Classifier gate with PR-curve calibration.
    val f = graft.queries.PipelineQueries.classifierFeatures(g1).cache()
    val w = Classifier.trainLogistic(f, Seq("x1", "x2", "x3"), "y", iters = 3, lr = 1.0)
    log(s"classifier weights (bias, x1, x2, x3): ${w.mkString(", ")}")
    val scored = Classifier.score(f, w, Seq("x1", "x2", "x3"), threshold = 0.5)
    val best = Classifier.prCurve(scored, "score", "y")
      .orderBy(desc("f1"), desc("thr")).limit(1).head()
    log(f"best-F1 threshold: thr=${best.getDouble(0)}%.6f f1=${best.getDouble(6)}%.6f " +
      f"(precision=${best.getDouble(4)}%.6f recall=${best.getDouble(5)}%.6f)")
    val g2 = g1.join(scored.filter(col("accepted")).select("doc_id"), Seq("doc_id")).cache()
    val n2 = g2.count()
    log(s"after classifier gate at 0.5: $n2 docs")

    // Vocabulary + BPE.
    val vocabHead = Vocab.build(g2, "text", vocabSize = 5)
      .collect().map(r => s"${r.getString(1)}(${r.getLong(2)})").mkString(" ")
    log(s"top-5 vocabulary: $vocabHead")
    val model = Bpe.train(g2, "text", numMerges = 8)
    log(s"BPE merges: ${model.merges.map(m => s"${m.lhs}+${m.rhs}->${m.merged}(${m.n})").mkString(", ")}")
    val fert = Bpe.fertility(g2, "text", "lang", model)
      .orderBy("lang").collect()
      .map(r => f"${r.getString(0)}=${r.getDouble(3)}%.3f").mkString(" ")
    log(s"fertility (pieces/word) by lang: $fert")
    val sample = Bpe.encode(g2.orderBy("doc_id").limit(1), "doc_id", "text", model)
      .orderBy("word_pos", "piece_pos").limit(8)
      .collect().map(_.getString(3)).mkString("|")
    log(s"first doc's first pieces: $sample")

    // Pack and reconcile.
    val counts = g2
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("word"))
      .join(broadcast(model.words.select("word", "seg")), Seq("word"))
      .groupBy("doc_id", "lang")
      .agg(sum(size(split(col("seg"), " "))).cast("long").as("n_bpe_tokens"))
    val packed = Packing.packGreedyByCount(
      counts, "doc_id", "n_bpe_tokens", budget = 2048, groupCols = Seq("lang")).cache()
    val packs = packed.groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_bpe_tokens").as("toks"))
    val nPacks = packs.count()
    val packedDocs = packed.select("doc_id").distinct().count()
    val massIn = counts.agg(sum("n_bpe_tokens")).head().getLong(0)
    val massOut = packs.agg(sum("toks")).head().getLong(0)
    log(s"packs: $nPacks (2048-token budget per lang); docs packed: $packedDocs (expect $n2)")
    log(s"token-mass reconciliation: in=$massIn out=$massOut (expect equal)")

    // Piece-ID surface: dense ids from the piece vocabulary, packed by
    // ID counts, reconciled on ID MASS (sum of piece ids) — pinning the
    // exact id assignment through packing, not just the piece count.
    val pvSize = Bpe.pieceVocab(model).count()
    val idCounts = Bpe.encodeIds(g2, "doc_id", "text", model)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_pieces"), sum("piece_id").as("id_sum"))
      .join(g2.select("doc_id", "lang"), Seq("doc_id")).cache()
    val idPacks = Packing.packGreedyByCount(
        idCounts, "doc_id", "n_pieces", budget = 2048, groupCols = Seq("lang"))
      .groupBy("lang", "pack_id")
      .agg(count(lit(1)).as("n_docs"), sum("id_sum").as("pack_id_mass"))
    val idMassIn = idCounts.agg(sum("id_sum")).head().getLong(0)
    val idMassOut = idPacks.agg(sum("pack_id_mass")).head().getLong(0)
    log(s"piece vocabulary: $pvSize ids (alphabet + merges)")
    log(s"id-mass reconciliation: in=$idMassIn out=$idMassOut (expect equal)")

    // The second tokenizer family, same gauge: a unigram-LM model
    // (SentencePiece) trained on the same gated corpus — fertility per
    // lang comparable against the BPE line, encode totality checked.
    val um = Unigram.train(g2, "text", vocabSize = 64, iters = 2,
      maxPieceLen = 5, seedMulti = 120)
    val uFert = Unigram.fertility(g2, "text", "lang", um)
      .orderBy("lang").collect()
      .map(r => f"${r.getString(0)}=${r.getDouble(3)}%.3f").mkString(" ")
    log(s"unigram fertility by lang: $uFert (vs BPE above — the bake-off gauge)")
    val uBad = Unigram.encode(g2, "doc_id", "text", um)
      .groupBy("doc_id", "word_pos")
      .agg(concat_ws("", sort_array(collect_list(struct(col("piece_pos"),
        col("piece")))).getField("piece")).as("back"))
      .join(g2.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("word_pos", "word"))),
        Seq("doc_id", "word_pos"))
      .filter(col("back") =!= col("word")).count()
    log(s"unigram encode round-trip failures: $uBad (expect 0)")

    // GPT-2 grain: pre-tokenize, then byte-level BPE — the merges must
    // include space-prefixed (Ġ-style, hex 20-led) pieces.
    val gm = Bpe.train(g2, "text", numMerges = 8, byteLevel = true,
      tokenizer = graft.pipeline.TextOps.Gpt2Tok)
    val spaceLed = gm.merges.count(m => m.merged.startsWith("20"))
    log(s"GPT-2-grain byte BPE: ${gm.merges.size} merges, $spaceLed space-led (expect > 0)")

    // Byte-fallback unigram (the T5/LLaMA convention): GPT-2 pretokens
    // at the byte grain, band + grain + tokenizer recorded on the model,
    // persisted and RELOADED through ModelStore, then the full
    // encodeIds→decode round trip through the loaded model — exact
    // inverse because the byte alphabet can never be exceeded.
    val ubPath = graft.queries.Fixtures.scratchDir("graft-tokdemo") + "/uni-byte"
    graft.pipeline.ModelStore.saveUnigram(
      Unigram.trainLocal(g2, "text", vocabSize = 64, iters = 2,
        maxPieceLen = 4, seedMulti = 120, byteLevel = true,
        tokenizer = graft.pipeline.TextOps.Gpt2Tok,
        reserved = graft.pipeline.SpecialTokens.Band), ubPath)
    val ub = graft.pipeline.ModelStore.loadUnigram(spark, ubPath)
    val ubBad = Unigram.decode(
        Unigram.encodeIds(g2, "doc_id", "text", ub), "doc_id", ub)
      .join(g2.select(col("doc_id"), col("text").as("orig")), Seq("doc_id"))
      .filter(col("text") =!= col("orig")).count()
    log(s"byte-fallback unigram (reloaded, tokenizer '${ub.tokenizer.name}', " +
      s"band ${ub.reserved.size}): decode round-trip failures: $ubBad (expect 0)")

    spark.stop()
  }
}
