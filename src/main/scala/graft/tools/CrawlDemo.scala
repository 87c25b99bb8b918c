package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline._
import graft.queries.{CrawlStages, Fixtures, IngestQueries}

/** End-to-end crawl-to-corpus demo — the RUNNABLE surface of the
  * composition, driving the SAME stage builders (`CrawlStages`) the
  * oracled queries run, so this demo cannot drift from the chains the
  * DuckDB oracles hash-pin. It runs the SCALE PATH (the p13 chain —
  * what a 100 TB run ships):
  *
  *   WARC shards (HTML chrome + planted exact AND near mirrors)
  *     → quarantine ingest → markup strip → exact dedup
  *     → NEAR-dup prune (shingle-Jaccard candidates, cluster keep-min)
  *     → TRAINED langid routing (predicted language is the partition
  *       key — no metadata survives a crawl)
  *     → CCNet perplexity gate on the SKETCH-CUTOFF path (per-lang KLL
  *       tercile cutoffs + map-only assign — no per-lang doc sort)
  *     → driver-local BPE — persisted AND reloaded through ModelStore
  *       in the serving position — → reserved-band piece ids → EOS per
  *       doc → per-lang packed training sequences,
  *
  * with per-stage row counts printed as evidence and the final
  * reconciliation (every surviving doc in exactly one pack; id mass in
  * == id mass out; exactly one EOS per doc). Run:
  *   sbt "runMain graft.tools.CrawlDemo [sfDir]"
  */
object CrawlDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-crawl-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LocalFs.install(spark)

    def p(msg: String): Unit = println(s"[demo] $msg")

    // Stage 0 — crawl shards through the quarantine reader (exact
    // mirrors every 10th doc, NEAR-mirrors with boilerplate tails
    // every 25th — the near-dup stage has real work).
    val shard = IngestQueries.warcCrawlNearFixture(spark, sfDir)
    val (ingested, quarantine) = CrawlStages.ingest(spark, shard)
    p(s"ingest: ${ingested.count()} clean records, ${quarantine.count()} quarantined")

    // Stage 1 — strip the crawl chrome.
    val tagsIn = ingested.agg(sum(TextOps.tagCount(col("body")))).head().getLong(0)
    val scrubbed = CrawlStages.scrub(ingested)
    val tagsOut = scrubbed.agg(sum(TextOps.tagCount(col("text")))).head().getLong(0)
    p(s"scrub: $tagsIn tags stripped; residual tags: $tagsOut (expect 0)")

    // Stage 2 — exact dedup on the normalized fingerprint.
    val deduped = CrawlStages.dedup(scrubbed)
    p(s"dedup: ${deduped.count()} docs (exact mirrors collapsed)")

    // Stage 2b — near-dup prune: the planted boilerplate-tailed copies
    // survive the fingerprint and fall here.
    val pruned = CrawlStages.nearDedup(deduped)
    p(s"near-dedup: ${pruned.count()} docs (boilerplate-tailed near-mirrors pruned)")

    // Stage 3 — trained langid routes by PREDICTED language.
    val docs = CrawlStages.route(spark, pruned)
    val routeCensus = docs.groupBy("pred_lang").count().orderBy("pred_lang")
      .collect().map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(" ")
    p(s"langid routing: $routeCensus")

    // Stage 4 — CCNet perplexity gate, sketch-cutoff path (map-only
    // bucket assign against broadcast per-lang KLL cutoffs).
    val corpus = CrawlStages.gateSketch(docs)
    p(s"perplexity gate (sketch cutoffs): ${corpus.count()} docs kept (tail dropped)")

    // Stage 5 — tokenize (driver-local BPE, reserved band) + pack,
    // with the tokenizer ROUND-TRIPPED through ModelStore between
    // training and serving (the production session boundary).
    val trained = CrawlStages.trainTokenizer(corpus)
    val root = Fixtures.scratchDir("graft-crawl-demo") + "/bpe"
    ModelStore.saveBpe(trained, s"$root/v=1")
    ModelStore.publishVersion(spark, root, 1)
    // The serving session resolves "current model" through the version
    // registry pointer, never a hard-coded path.
    val served = ModelStore.loadBpe(spark, ModelStore.resolveLatest(spark, root))
    p(s"tokenizer: ${served.merges.size} merges trained, persisted as v=1, " +
      s"resolved via registry pointer and reloaded " +
      s"(tokenizer '${served.tokenizer.name}', band ${served.reserved.size})")
    val (ids, seqs0) = CrawlStages.packSequences(corpus, served)
    val seqs = seqs0.localCheckpoint(true)
    val nPacks = seqs.select("pred_lang", "pack_id").distinct().count()
    val packedDocs = seqs.select("doc_id").distinct().count()
    p(s"packing: $nPacks packs; docs packed: $packedDocs " +
      s"(expect ${corpus.count()} — every doc, EOS included, in exactly one pack)")
    val massIn = ids.agg(sum("piece_id")).head().getLong(0)
    val massOut = seqs.agg(sum("piece_id")).head().getLong(0)
    p(s"id-mass reconciliation: in=$massIn out=$massOut (expect equal)")
    val eosPerDoc = seqs.filter(col("piece_id") === SpecialTokens.EosId)
      .groupBy("doc_id").count().filter(col("count") =!= 1).count()
    p(s"EOS invariant: docs without exactly one marker: $eosPerDoc (expect 0)")
    val bosPerDoc = seqs.filter(col("piece_id") === SpecialTokens.BosId)
      .groupBy("doc_id").count().filter(col("count") =!= 1).count()
    val bosFirst = seqs
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("doc_id").orderBy("pos")))
      .filter(col("__rn") === 1 && col("piece_id") =!= SpecialTokens.BosId)
      .count()
    p(s"BOS invariant: docs without exactly one opener: $bosPerDoc, " +
      s"docs not OPENING with it: $bosFirst (expect 0/0 — every doc " +
      s"reads BOS ... EOS in its spliced sequence)")

    spark.stop()
  }
}
