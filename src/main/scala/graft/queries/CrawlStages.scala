package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.pipeline.{Bpe, Classifier, Packing, SpecialTokens, TextOps, TextStats}

/** The crawl-to-corpus pipeline's stage builders — ONE implementation
  * shared by the oracled query (`p11_crawl_to_corpus`) and the runnable
  * demo (`graft.tools.CrawlDemo`), so the demo can never drift from the
  * chain the DuckDB oracle hash-pins. Each stage consumes the previous
  * stage's frame; the frames that feed ≥ 2 downstream consumers
  * materialize at the boundary (`localCheckpoint` — the p1 discipline;
  * a production run writes parquet at exactly these seams).
  */
private[graft] object CrawlStages {

  /** STAGE 0 — INGEST: the WARC shard tree through the quarantine
    * reader (j13 machinery), doc ids recovered from the target URIs.
    * NOT checkpointed: in the composed chains the ingested frame has
    * exactly ONE consumer (scrub → dedup, whose window materializes at
    * ITS checkpoint), so an eager cut here bought nothing and paid one
    * full write+read of the raw body corpus per run — the
    * materialize-at-boundaries rule is "frames feeding ≥ 2 consumers",
    * and this one doesn't. (CrawlDemo's extra diagnostic count re-runs
    * the parse once at demo scale — the right trade.)
    * @return (ingested = (doc_id, body), quarantine)
    */
  def ingest(s: SparkSession, shardPath: String): (DataFrame, DataFrame) = {
    val (clean, quarantine) = graft.sources.Ingest.warc(s, shardPath)
    (clean.select(
        regexp_extract(col("uri"), "/doc/([0-9]+)$", 1).cast("long").as("doc_id"),
        col("body")), quarantine)
  }

  /** STAGE 1 — SCRUB: strip the crawl chrome (map-only). */
  def scrub(ingested: DataFrame): DataFrame =
    ingested.select(col("doc_id"), TextOps.stripMarkup(col("body")).as("text"))

  /** STAGE 2 — DEDUP: keep the lowest id per normalized fingerprint
    * (the planted mirror records collapse onto their originals).
    */
  def dedup(scrubbed: DataFrame): DataFrame =
    scrubbed
      .withColumn("__fp", TextOps.fingerprint(col("text")))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__fp")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__fp", "__rn")
      .transform(graft.Lineage.cut)

  /** STAGE 2b — NEAR-DEDUP: the shingle-Jaccard prune (d2's bucketed
    * pair generation, d10's cluster resolution, min-id representative
    * kept) AFTER exact dedup — a real crawl runs both: republication
    * mirrors collapse on the fingerprint, boilerplate-padded
    * near-copies need the shingle index. Candidate generation is
    * df-capped and bucketed (never corpus²); the pair indexes are pinned
    * only inside the generator's scope, and the prune's loser side is
    * `clusters`' cut, so the stage's cut after the scope reads no
    * released pin.
    */
  def nearDedup(deduped: DataFrame): DataFrame =
    graft.pipeline.Dedup.withJaccardPairs(deduped, "doc_id", "text",
      PipelineQueries.ShingleN, PipelineQueries.DfCap,
      PipelineQueries.JaccardThreshold)(
      pairs => graft.pipeline.Dedup.pruneDuplicates(deduped, pairs, "doc_id"))
      .transform(graft.Lineage.cut)

  /** STAGE 3 — LANGID: the t44 seed-trained softmax routes every doc
    * by its PREDICTED language (no metadata survives a crawl).
    * @return deduped + `pred_lang`, checkpointed
    */
  def route(s: SparkSession, deduped: DataFrame): DataFrame = {
    import s.implicits._
    val lfeats = (0 until PipelineQueries.LangidBuckets).map(b => s"x$b")
    // The seed features feed every GD round: pinned for the training only.
    val wl = graft.Lineage.pinned(PipelineQueries.langidFeatures(
        PipelineQueries.LangidSeeds.toDF("doc_id", "lang", "text"))) { fSeed =>
      Classifier.trainSoftmax(fSeed, lfeats, "y",
        numClasses = PipelineQueries.LangidLangs.size, iters = 8, lr = 1.0)
    }
    val routed = Classifier.scoreSoftmax(
        PipelineQueries.langidFeatures(
          deduped.withColumn("lang", lit(null).cast("string"))), wl, lfeats)
      .withColumn("pred_lang", element_at(
        array(PipelineQueries.LangidLangs.map(lit): _*),
        (col("pred_class") + 1).cast("int")))
      .select("doc_id", "pred_lang")
    graft.Lineage.cut(deduped.join(routed, Seq("doc_id")))
  }

  /** STAGE 4 — GATE: the p9 CCNet chain on crawl-derived features
    * (`n_chars` re-derived from the text — the only truth a crawl
    * carries): classifier-bootstrapped reference, MKN trigram,
    * per-pred-lang terciles, tail bucket dropped.
    * @return the gated corpus (doc_id, text, pred_lang), checkpointed
    */
  def gate(docs: DataFrame): DataFrame = {
    // Pinned: trainLogistic scans the feature frame once per GD iteration
    // (separate jobs — no exchange reuse across them) and the scoring
    // join re-embeds it again, each scan re-paying split+array_distinct
    // over the corpus text. The frame is doc_id + 4 doubles — cache it.
    // try/finally: an exception mid-train/checkpoint must not leave the
    // cache entry pinned in a composed session that catches and goes on
    // (unpersist after a failed materialization is safe).
    val cf = PipelineQueries.classifierFeatures(
      docs.withColumn("n_chars", length(col("text")).cast("long"))).cache()
    try {
      val wq = Classifier.trainLogistic(cf, Seq("x1", "x2", "x3"), "y",
        iters = 3, lr = 1.0)
      val ref = docs.join(
        Classifier.score(cf, wq, Seq("x1", "x2", "x3"), threshold = 0.5)
          .filter(col("accepted")).select("doc_id"),
        Seq("doc_id"))
      val lm = TextStats.ngramCounts(ref, "text", 3)
      val kept = TextStats.mknNgramNllAgainst(docs, lm, "doc_id", "text", 3)
        .join(docs.select("doc_id", "pred_lang"), Seq("doc_id"))
        .withColumn("bucket", ntile(3).over(
          Window.partitionBy("pred_lang").orderBy(col("avg_nll"), col("doc_id"))))
        .filter(col("bucket") <= 2).select("doc_id")
      graft.Lineage.cut(docs.join(kept, Seq("doc_id")))
    } finally cf.unpersist(false)
  }

  /** STAGE 4' — GATE, SCALE PATH: the p10 sketch-cutoff rule with
    * PER-LANGUAGE reference models — CCNet's actual design (the r19
    * ask): each predicted language's reference slice trains its own
    * modified-KN trigram model and every doc scores against its own
    * language's model (`mknNgramNllAgainst` by `pred_lang` — the group key rides
    * every model aggregation and scoring join; no per-group loop).
    * Tercile CUTOFFS read from a KLL sketch of the fixed-point NLLs
    * (one map-side-combined sketch aggregation), then a MAP-ONLY
    * bucket assign against the broadcast cutoffs and the tail bucket
    * dropped. No per-language sort of the doc frame anywhere —
    * [[gate]]'s ntile is exact but pays a doc-frame window sort per
    * language, the one 100 TB blemish the r18 verdict named; this is
    * the path the composed pipeline ships. Boundary semantics vs
    * ntile, stated: the inclusive cutoff rule puts ties in the LOWER
    * bucket; ntile balances counts. k = 8192 makes the sketch exact
    * at fixture SFs (the oracle replays the DataSketches inclusive
    * rule literally); at real scale the buckets stay within KLL's ±ε
    * rank error — the production contract (CCNet itself uses sampled
    * cutoffs). A language whose reference slice trained no model
    * gates nothing through — no reference, no pass.
    * @return the gated corpus (doc_id, text, pred_lang), checkpointed
    */
  def gateSketch(docs: DataFrame): DataFrame = {
    // Same feature-frame pin + try/finally release as [[gate]].
    val cf = PipelineQueries.classifierFeatures(
      docs.withColumn("n_chars", length(col("text")).cast("long"))).cache()
    try {
      val wq = Classifier.trainLogistic(cf, Seq("x1", "x2", "x3"), "y",
        iters = 3, lr = 1.0)
      val ref = docs.join(
        Classifier.score(cf, wq, Seq("x1", "x2", "x3"), threshold = 0.5)
          .filter(col("accepted")).select("doc_id"),
        Seq("doc_id"))
      val lm = TextStats.ngramCounts(ref, "text", 3, Seq("pred_lang"))
      val fixed = TextStats.mknNgramNllAgainst(
          docs, lm, "doc_id", "text", 3, groupCols = Seq("pred_lang"))
        .withColumn("__nf", round(col("avg_nll") * 1e6).cast("long"))
      val cuts = graft.operators.Sketches.mergedQuantiles(
          graft.operators.Sketches.quantileSketches(fixed, Seq("pred_lang"), "__nf"),
          Seq("pred_lang"), Seq(1.0 / 3, 2.0 / 3))
        .select(col("pred_lang"), col("p67").as("__c2"))
      val kept = fixed.join(broadcast(cuts), Seq("pred_lang"))
        .filter(col("__nf") <= col("__c2")) // buckets 1–2; tail dropped
        .select("doc_id")
      graft.Lineage.cut(docs.join(kept, Seq("doc_id")))
    } finally cf.unpersist(false)
  }

  /** STAGE 5a — TOKENIZE: driver-local BPE under the reserved band. */
  def trainTokenizer(corpus: DataFrame): Bpe.BpeModel =
    Bpe.trainLocal(corpus, "text", numMerges = 8,
      reserved = SpecialTokens.Band)

  /** STAGE 5b — IDS + BOS/EOS + PACK: reserved-band piece ids, every
    * corpus doc OPENED with BOS and closed with EOS (both doc-frame
    * anchored — an empty doc still packs as a visible BOS/EOS pair;
    * the LLaMA-style convention, the r19 ask), per-pred-lang 512-id
    * packs spliced into training sequences. Both markers count
    * against the pack budget exactly as a trainer counts them.
    * @return (ids with BOS+EOS, packed sequences)
    */
  def packSequences(
      corpus: DataFrame, model: Bpe.BpeModel): (DataFrame, DataFrame) = {
    val vocabSize = Bpe.pieceVocab(model).count()
    // Materialized at the boundary (the ≥2-consumers rule): the id
    // stream feeds THREE scans — the pack-budget counts here, the
    // offset counts inside packedSequences, and the final splice join —
    // and each un-cut scan re-ran the whole BPE encode (8 merge HOFs
    // per token) plus the BOS/EOS anchor windows over the corpus.
    val ids = graft.Lineage.cut(Packing.withBosForDocs(
      Packing.withEosForDocs(
        Bpe.encodeIds(corpus, "doc_id", "text", model),
        corpus, "doc_id", SpecialTokens.EosId, vocabSize, SpecialTokens.BandSize),
      corpus, "doc_id", SpecialTokens.BosId, vocabSize, SpecialTokens.BandSize))
    val counts = ids.groupBy("doc_id").agg(count(lit(1)).as("n_pieces"))
      .join(corpus.select("doc_id", "pred_lang"), Seq("doc_id"))
    val packs = Packing.packGreedyByCount(
      counts, "doc_id", "n_pieces", budget = 512, groupCols = Seq("pred_lang"))
    (ids, Packing.packedSequences(ids, packs, "doc_id", Seq("pred_lang")))
  }
}
