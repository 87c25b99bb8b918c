package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline._

/** End-to-end demo/driver of the training-data curation pipeline over the
  * real `documents` testdata — the stage sequence a pretraining corpus
  * actually goes through, each stage one library operator, with per-stage
  * row counts printed as evidence:
  *
  *   raw → quality filter → repetition filter → perplexity gate
  *       → exact dedup → boilerplate strip (common-block removal)
  *       → block strip (repeated-passage removal)
  *       → span scrub (sliding-gram repeated spans, rolling hash)
  *       → near-dup prune (cluster-resolved)
  *       → decontaminate (vs a synthetic eval set) → rebalance
  *       → temperature mix → per-source cap → train/val/test split
  *       → sequence packing → sliding-window chunking
  *       → epoch shuffle (reproducible training order)
  *
  * Every stage consumes the previous stage's frame; stages that
  * reference their input more than once (model-vs-corpus joins, block
  * reassembly, pair self-joins) are materialized at the boundary
  * (`localCheckpoint`) — the demo-scale analog of the intermediate
  * parquet a production pipeline writes between stages, and without it
  * the chained multi-reference plans grow geometrically. No driver-side
  * row data. Run:
  *   sbt "runMain graft.tools.PipelineDemo [sfDir]"
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-pipeline-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LocalFs.install(spark)

    val raw = spark.read.parquet(s"$sfDir/documents.parquet")
    println(s"[demo] raw corpus: ${raw.count()} docs")

    // 0. Source-level triage BEFORE any doc-level work: a source pair at
    //    high containment is a republisher — drop or down-weight it here
    //    and the doc-level dedup never pays for the union.
    Dedup.withSourceOverlap(raw, "doc_id", "source", "text") { overlap =>
      val worst = overlap.orderBy(col("containment").desc, col("src_a"), col("src_b"))
        .select("src_a", "src_b", "containment").limit(1)
        .collect().headOption.map(r => s"${r.getString(0)}~${r.getString(1)} @ ${r.getDouble(2)}")
      println(s"[demo] source overlap: ${overlap.count()} overlapping pairs; worst containment ${worst.getOrElse("n/a")}")
    }

    // 1. Quality gate: keep docs passing all curation rules (the filter
    //    returns per-rule verdicts; semi-join the keepers back).
    val keepIds = TextStats.qualityFilter(raw, "doc_id", "text",
        minTokens = 10, maxTokens = 100000, minTypeTokenRatio = 0.1)
      .filter(col("keep")).select("doc_id")
    val quality = raw.join(keepIds, Seq("doc_id"), "left_semi")
    println(s"[demo] after quality filter: ${quality.count()}")

    // 1b. Repetition gate (Gopher-style): drop docs whose duplicated-token
    //     or top-bigram char mass marks them as degenerate loops.
    val repOk = TextStats.repetitionSignals(quality, "doc_id", "text")
      .filter(col("dup_token_frac") <= 0.9 && col("top2_char_frac") <= 0.5)
      .select("doc_id")
    val unrepeated = quality.join(repOk, Seq("doc_id"), "left_semi")
    println(s"[demo] after repetition filter: ${unrepeated.count()}")

    // 1c. Perplexity gate (CCNet-style): score every doc against the
    //     corpus's own unigram model and drop the worst 1% tail — the
    //     distribution outliers (gibberish, wrong-language) whose fixed
    //     thresholds the quality filter can't know in advance.
    val nll = TextStats.unigramNll(unrepeated, "doc_id", "text")
    val cut = nll.agg(expr("percentile(avg_nll, 0.99)").as("__cut"))
    val fluent = unrepeated.join(
      nll.crossJoin(broadcast(cut)).filter(col("avg_nll") <= col("__cut")).select("doc_id"),
      Seq("doc_id"), "left_semi")
      .transform(graft.Lineage.cut) // gate references `unrepeated` 3× (corpus + self-trained model)
    println(s"[demo] after perplexity gate: ${fluent.count()}")

    // 2. Exact dedup (content hash) — collapses byte-identical copies.
    val exact = Dedup.exact(fluent, "doc_id", "text").drop("n_copies")
    println(s"[demo] after exact dedup: ${exact.count()}")

    // 2a. Boilerplate strip: blocks carried by >= 3 DISTINCT docs are
    //     chrome and every occurrence goes (must run BEFORE the dedup
    //     strip — that keeps first occurrences, which would hide the
    //     df signal this policy keys on).
    val boilRep = Dedup.stripCommonBlocks(exact, "doc_id", "text", minDocs = 3)
    val deboiled = exact.drop("text")
      .join(boilRep.filter(col("text_clean") =!= "")
        .select(col("doc_id"), col("text_clean").as("text")), "doc_id")
      .transform(graft.Lineage.cut) // strip references `exact` 3× (blocks + reassembly + join-back)
    val boilRemoved = boilRep.agg(sum(col("n_removed"))).first().getLong(0)
    println(s"[demo] after boilerplate strip: ${deboiled.count()} ($boilRemoved boilerplate blocks removed)")
    // Each stage boundary is a cut; the one before it is freed once
    // nothing left to run reads it.
    graft.Lineage.free(fluent)

    // 2b. Block-level substring dedup: strip repeated PASSAGES (boilerplate,
    //     quoted chunks) that survive whole-doc dedup; docs stripped to
    //     nothing (pure boilerplate) drop out entirely.
    val stripRep = Dedup.stripDuplicateBlocks(deboiled, "doc_id", "text")
    val stripped = deboiled.drop("text")
      .join(stripRep.filter(col("text_clean") =!= "")
        .select(col("doc_id"), col("text_clean").as("text")), "doc_id")
      .transform(graft.Lineage.cut) // same 3× shape; the near-dup pair self-join doubles it again
    val blocksRemoved = stripRep.agg(sum(col("n_removed"))).first().getLong(0)
    println(s"[demo] after block strip: ${stripped.count()} ($blocksRemoved duplicate blocks removed)")
    graft.Lineage.free(deboiled)

    // 2c. Sliding-gram span scrub: repeated passages the fixed grid
    //     cannot see (sub-block width — n = 8 under 2b's 16-token
    //     blocks — or straddling a boundary), detected by the
    //     rolling-hash sweep and stripped token-exactly; docs scrubbed
    //     to nothing drop out.
    val spanRep = Dedup.stripSpans(stripped,
      Dedup.repeatedSpansRolling(stripped, "doc_id", "text", n = 8), "doc_id", "text")
    val scrubbed = stripped.drop("text")
      .join(spanRep.filter(col("text_clean") =!= "")
        .select(col("doc_id"), col("text_clean").as("text")), "doc_id")
      .transform(graft.Lineage.cut)
    val spanTokensRemoved = spanRep.agg(sum(col("n_removed"))).first().getLong(0)
    println(s"[demo] after span scrub: ${scrubbed.count()} ($spanTokensRemoved repeated-span tokens removed)")
    graft.Lineage.free(stripped)

    // 3. Near-dup prune: jaccard pairs → cluster resolution → keep one per
    //    cluster. The pruned corpus is cut inside the scopes, so they
    //    release the shingle indexes and the cluster cut on return.
    val pruned = Dedup.withJaccardPairs(scrubbed, "doc_id", "text", threshold = 0.8)(
      pairs => Dedup.pruneDuplicates(scrubbed, pairs, "doc_id")(graft.Lineage.cut))
    println(s"[demo] after near-dup prune: ${pruned.count()}")
    graft.Lineage.free(scrubbed)

    // 4. Decontaminate against a synthetic "eval set" (every 40th doc).
    val bench = raw.filter(col("doc_id") % 40 === 0)
      .select((col("doc_id") + 900000).as("doc_id"), col("text"))
    val clean = Dedup.decontaminate(pruned, bench, "doc_id", "text", n = 8, threshold = 0.5)
    println(s"[demo] after decontamination: ${clean.count()}")

    // 5. Rebalance: down-weight the dominant language.
    val mixed = Sampling.rebalance(clean, "doc_id", "lang",
      Map("en" -> 0.6), seed = 13, defaultRate = 1.0)
    println(s"[demo] after rebalancing: ${mixed.count()}")

    // 5a. Temperature mix: reshape the residual language mixture toward
    //     n^0.7 — the smallest language keeps 100%, the dominant ones are
    //     thinned toward the tempered proportions.
    val tempered = Sampling.temperatureSample(mixed, "doc_id", "lang",
      alpha = 0.7, seed = 23)
    println(s"[demo] after temperature mix: ${tempered.count()}")

    // 5b. Hard per-source cap: no source may exceed its absolute budget no
    //     matter how large its crawl was. (The fixture spreads ~uniformly
    //     over 20 sources, so the cap is set low enough to visibly bite.)
    val capped = Sampling.capPerStratum(tempered, "doc_id", "source",
      maxPerStratum = 18, seed = 7)
    println(s"[demo] after per-source cap: ${capped.count()}")

    // 6. Reproducible train/val/test split.
    val split = Sampling.split(capped, "doc_id",
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), seed = 11)
    val bySplit = split.groupBy("split").count().orderBy("split")
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").mkString(", ")
    println(s"[demo] split sizes: $bySplit")

    // 7. Sequence packing: context-window batches per (split, lang).
    val packed = Packing.packGreedy(split, "doc_id", "text",
      budget = 2048, groupCols = Seq("split", "lang"))
    val packStats = packed.groupBy("split").agg(
        countDistinct(col("lang"), col("pack_id")).as("n_packs"),
        sum("n_tokens").as("n_tokens"))
      .orderBy("split")
      .collect().map(r => s"${r.getString(0)}: ${r.getLong(1)} packs / ${r.getLong(2)} tokens")
      .mkString("; ")
    println(s"[demo] packed: $packStats")

    // 7b. Sliding-window chunking: the overlapping-window alternative to
    //     atomic-doc packing for long documents — 64-token windows every
    //     48 tokens over the train slice.
    val trainSlice = split.filter(col("split") === "train")
    val chunks = Packing.chunk(trainSlice, "doc_id", "text",
      chunkTokens = 64, stride = 48)
    val sentChunks = Packing.chunkBySentences(trainSlice, "doc_id", "text", budget = 64)
    println(s"[demo] sentence-aligned chunks: ${sentChunks.count()} " +
      s"(boundary-respecting twin of the sliding windows)")
    println(s"[demo] chunked train split: ${chunks.count()} windows " +
      s"from ${trainSlice.count()} docs")

    // 8. Epoch shuffle: freeze a reproducible random visit order for the
    //    train slice — shard-partitioned, rank-ordered; a new epoch seed
    //    is a fresh permutation of the same rows.
    val train = trainSlice
    val epoch1 = Sampling.epochShuffle(train, "doc_id", numShards = 4, epochSeed = 1)
    val shardSizes = epoch1.groupBy("shard").count().orderBy("shard")
      .collect().map(r => s"${r.getInt(0)}:${r.getLong(1)}").mkString(", ")
    val firstDoc = (e: Int) =>
      Sampling.epochShuffle(train, "doc_id", numShards = 4, epochSeed = e)
        .filter(col("shard") === 0 && col("ord") === 1).select("doc_id").first().getLong(0)
    println(s"[demo] epoch shuffle: shard sizes {$shardSizes}; " +
      s"epoch1 leads with doc ${firstDoc(1)}, epoch2 with doc ${firstDoc(2)}")

    graft.Lineage.free(pruned)
    spark.stop()
  }
}
