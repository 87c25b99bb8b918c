package graft.queries

import org.apache.spark.sql.SparkSession

/** Queries whose SparkEntry form mixes one-time FIXTURE SETUP (building a
  * scratch target on disk) with the operation actually under measurement.
  * Verify keeps the all-in-one query — correctness doesn't care about
  * timing — but the bench must not: timing setup+apply made the
  * partition-scoped apply look SLOWER than the full rewrite it prunes
  * (VERDICT r3 "what's wrong" #1, setup dominated at sf0.1).
  *
  * Contract: the outer call performs the untimed setup and returns the
  * thunk the bench times. Setup runs fresh per invocation — the measured
  * operations mutate their targets, so iterations cannot share one.
  */
object BenchPhases {

  val timedSections: Map[String, (SparkSession, String) => () => Unit] = Map(
    "m13_merge_partitioned" -> ((s, dir) => {
      val root = MergeQueries.m13Setup(s, dir)
      () => MergeQueries.m13Apply(s, root)
    }),
    "m14_merge_full_rewrite" -> ((s, dir) => {
      val root = MergeQueries.m14Setup(s, dir)
      () => MergeQueries.m14Apply(s, root)
    }),
    // j-family: serializing documents to text shards is harness setup
    // (the fixture exists so the oracle can replay the damage rule); the
    // operation under measurement is the quarantine READ of the shards.
    "j1_jsonl_ingest" -> ((s, dir) => {
      val path = IngestQueries.jsonlFixture(s, dir)
      () => {
        val (clean, _) =
          graft.sources.Ingest.jsonl(s, path, IngestQueries.jsonlSchema)
        clean.count(); ()
      }
    }),
    "j13_warc_ingest" -> ((s, dir) => {
      val path = IngestQueries.warcFixture(s, dir)
      () => {
        val (clean, _) = graft.sources.Ingest.warc(s, path)
        clean.count(); ()
      }
    }),
    "j14_warc_quarantine" -> ((s, dir) => {
      val path = IngestQueries.warcFixture(s, dir)
      () => {
        import org.apache.spark.sql.functions.{col, length}
        val recs = s.read.option("lineSep", "WARC/1.0\r\n").text(path)
          .toDF("value").filter(length(col("value")) > 0)
        graft.sources.Ingest.report(
          graft.sources.Ingest.parseWarc(recs, "value")).count(); ()
      }
    }),
    "j2_jsonl_quarantine" -> ((s, dir) => {
      val path = IngestQueries.jsonlFixture(s, dir)
      () => {
        val parsed = graft.sources.Ingest.parseJsonl(
          s.read.textFile(path).toDF("value"), "value", IngestQueries.jsonlSchema)
        graft.sources.Ingest.report(parsed).count(); ()
      }
    }),
    "j3_jsonl_schema_drift" -> ((s, dir) => {
      import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructType}
      val root = IngestQueries.driftFixture(s, dir)
      val wide = new StructType()
        .add("doc_id", LongType).add("text", StringType).add("quality", DoubleType)
      () => {
        val (clean, _) = graft.sources.Ingest.jsonl(s, root + "/*", wide)
        clean.count(); ()
      }
    }),
    "j4_csv_quarantine" -> ((s, dir) => {
      val path = IngestQueries.csvFixture(s, dir)
      () => {
        val (clean, _) =
          graft.sources.Ingest.csv(s, path, IngestQueries.csvSchema)
        clean.count(); ()
      }
    }),
    "j5_quarantine_provenance" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, count, countDistinct, lit, regexp_extract}
      val path = IngestQueries.partitionedJsonlFixture(s, dir)
      () => {
        val parsed = graft.sources.Ingest.parseJsonl(
          s.read.textFile(path).toDF("value"), "value", IngestQueries.jsonlSchema)
        graft.sources.Ingest.quarantineOf(parsed)
          .groupBy(regexp_extract(col("src_file"), "lang=([^/]+)", 1).as("lang"))
          .agg(count(lit(1)).as("n_corrupt"),
            countDistinct(col("line_hash")).as("n_distinct"))
          .count()
        ()
      }
    }),
    "j6_gzip_ingest" -> ((s, dir) => {
      val path = IngestQueries.gzipFixture(s, dir)
      () => {
        val parsed = graft.sources.Ingest.parseJsonl(
          s.read.textFile(path).toDF("value"), "value", IngestQueries.jsonlSchema)
        graft.sources.Ingest.report(parsed).count(); ()
      }
    }),
    // j7's claim is the persisted quarantine WRITE (parse + route +
    // partitioned parquet sink); the shard fixture is setup. The sink
    // path is reused across iterations — quarantineTo overwrites.
    "j7_quarantine_sink" -> ((s, dir) => {
      val path = IngestQueries.partitionedJsonlFixture(s, dir)
      val sink = Fixtures.scratchDir("graft-j7-bench") + "/q"
      () => {
        val parsed = graft.sources.Ingest.parseJsonl(
          s.read.textFile(path).toDF("value"), "value", IngestQueries.jsonlSchema)
        graft.sources.Ingest.quarantineTo(parsed, sink); ()
      }
    }),
    // j9's claim is the PROMOTE cost (list-diff + parse + three
    // partitioned writes); fixture serialization is setup. Each timed
    // run gets a FRESH corpus root — promote against an existing
    // manifest is a no-op, which would time the metadata diff only.
    "j9_shard_promote" -> ((s, dir) => {
      val src = IngestQueries.partitionedJsonlFixture(s, dir)
      () => {
        val root = Fixtures.scratchDir("graft-j9-bench")
        graft.sources.Ingest.promoteJsonl(s, src, IngestQueries.jsonlSchema,
          s"$root/corpus", s"$root/quarantine", s"$root/manifest").count()
        ()
      }
    }),
    "j8_csv_multiline" -> ((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      val path = IngestQueries.multilineCsvFixture(s, dir)
      val schema = new StructType()
        .add("doc_id", LongType).add("lang", StringType).add("text", StringType)
      () => {
        val (clean, _) = graft.sources.Ingest.csvMultiline(s, path, schema)
        clean.count(); ()
      }
    }),
    // j12's claim is the REPLAY read of the persisted quarantine; the
    // strict-read + sink build it replays is setup.
    "j12_quarantine_replay" -> ((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      val strictSchema = new StructType()
        .add("doc_id", LongType).add("lang", StringType).add("n_chars", LongType)
      val parsed = graft.sources.Ingest.parseJsonl(
        s.read.textFile(IngestQueries.typeDriftFixture(s, dir)).toDF("value"),
        "value", strictSchema)
      val sink = Fixtures.scratchDir("graft-j12-bench") + "/q"
      graft.sources.Ingest.quarantineTo(parsed, sink)
      val tolerant = new StructType()
        .add("doc_id", LongType).add("lang", StringType).add("n_chars", StringType)
      () => {
        val (recovered, _) =
          graft.sources.Ingest.replayQuarantine(s.read.parquet(sink), tolerant)
        recovered.count(); ()
      }
    }),
    // t32's claim is the ENCODE (posexplode + broadcast vocab attach +
    // hashed OOV fallback); the vocab build it encodes against is setup —
    // cached and materialized untimed so the timed pass never recomputes it.
    "t32_encode_tokens" -> ((s, dir) => {
      val d = Fixtures.table(s, dir, "documents")
      val vocab = graft.pipeline.Vocab.build(d, "text", vocabSize = 100).cache()
      vocab.count()
      () => {
        graft.pipeline.Vocab.encode(d, "doc_id", "text", vocab,
          vocabSize = 100, oovBuckets = 16, seed = 5).count(); ()
      }
    }),
    // t35's claim is the map-only scoring GATE; training the weights
    // (three full-batch GD aggregations) is setup.
    "t35_quality_classifier" -> ((s, dir) => {
      val f = PipelineQueries.classifierFeatures(Fixtures.table(s, dir, "documents"))
      val w = graft.pipeline.Classifier.trainLogistic(
        f, Seq("x1", "x2", "x3"), "y", iters = 3, lr = 1.0)
      () => {
        graft.pipeline.Classifier.score(f, w, Seq("x1", "x2", "x3"), threshold = 0.5)
          .count(); ()
      }
    }),
    // t34's claim is the subword ENCODE (posexplode + broadcast
    // segmentation attach + piece re-explode); training the merges is
    // setup — the model's word table arrives already persisted.
    "t34_bpe_encode" -> ((s, dir) => {
      val d = Fixtures.table(s, dir, "documents")
      val model = graft.pipeline.Bpe.train(d, "text", numMerges = 8)
      () => {
        graft.pipeline.Bpe.encode(d, "doc_id", "text", model).count(); ()
      }
    }),
    // t43's claim is the ID encode (t34's encode + the broadcast
    // pieceVocab attach); training the merges is setup, same as t34.
    "t43_bpe_piece_ids" -> ((s, dir) => {
      val d = Fixtures.table(s, dir, "documents")
      val model = graft.pipeline.Bpe.train(d, "text", numMerges = 8)
      () => {
        graft.pipeline.Bpe.encodeIds(d, "doc_id", "text", model).count(); ()
      }
    }),
    // t46's claim is the sequence SPLICE (the offset windows + the
    // doc-keyed join); training, encoding, and pack assignment are the
    // setup stages t33/t43 already time.
    "t46_packed_sequences" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, count, lit}
      val full = Fixtures.table(s, dir, "documents")
      val d = full.filter(col("doc_id") < 50)
      val model = graft.pipeline.Bpe.train(full, "text", numMerges = 8)
      val ids = graft.pipeline.Bpe.encodeIds(d, "doc_id", "text", model).cache()
      val counts = ids.groupBy("doc_id").agg(count(lit(1)).as("n_pieces"))
        .join(d.select("doc_id", "lang"), Seq("doc_id"))
      val packs = graft.pipeline.Packing.packGreedyByCount(
        counts, "doc_id", "n_pieces", budget = 512, groupCols = Seq("lang")).cache()
      ids.count(); packs.count()
      () => {
        graft.pipeline.Packing.packedSequences(ids, packs, "doc_id", Seq("lang"))
          .count(); ()
      }
    }),
    "j10_field_inventory" -> ((s, dir) => {
      val root = IngestQueries.driftFixture(s, dir)
      () => {
        graft.sources.Ingest.fieldInventory(
          s.read.textFile(root + "/*").toDF("value"), "value").count()
        ()
      }
    }),
    // j11's claim is the COMPACTION rewrite; the promote that builds the
    // per-file-partitioned corpus is the setup it exists to amortize.
    "j11_compact_corpus" -> ((s, dir) => {
      val src = IngestQueries.partitionedJsonlFixture(s, dir)
      val root = Fixtures.scratchDir("graft-j11-bench")
      graft.sources.Ingest.promoteJsonl(s, src, IngestQueries.jsonlSchema,
        s"$root/corpus", s"$root/quarantine", s"$root/manifest").count()
      () => {
        graft.sources.Ingest.compactCorpus(s, s"$root/corpus", s"$root/compact")
        ()
      }
    }),
    "st18_stream_ingest" -> ((s, dir) => StreamingQueries.st18Setup(s, dir)._1),
    "st19_stream_vocab" -> ((s, dir) => StreamingQueries.st19Setup(s, dir)._1),
    "st20_stream_score" -> ((s, dir) => StreamingQueries.st20Setup(s, dir)._1),
    "st21_stream_route" -> ((s, dir) => StreamingQueries.st21Setup(s, dir)._1),
    "st22_stream_lm_gate" -> ((s, dir) => StreamingQueries.st22Setup(s, dir)._1),
    "st23_warc_stream" -> ((s, dir) => StreamingQueries.st23Setup(s, dir)._1),
    "st24_lm_gate_persisted" -> ((s, dir) => StreamingQueries.st24Setup(s, dir)._1),
    "st25_route_persisted" -> ((s, dir) => StreamingQueries.st25Setup(s, dir)._1),
    "st26_stream_ngram" -> ((s, dir) => StreamingQueries.st26Setup(s, dir)._1),
    // p11/p13's claim is the crawl COMPOSITION — ingest → scrub →
    // dedup (→ near-dup) → route → gate → tokenize → pack → census.
    // Serializing the documents table into WARC shard files is harness
    // STAGING (the fixture exists so the oracle can replay the
    // plants), not crawl work — it rides setup, so the timed samples
    // measure the pipeline and not first-iteration fixture
    // construction (the r19 p13 floor had a 34–157 s IQR for exactly
    // this reason).
    "p11_crawl_to_corpus" -> ((s, dir) => {
      val shard = IngestQueries.warcCrawlFixture(s, dir)
      () => {
        val (ingested, _) = CrawlStages.ingest(s, shard)
        val corpus = CrawlStages.gate(
          CrawlStages.route(s, CrawlStages.dedup(CrawlStages.scrub(ingested))))
        val (_, seqs) = CrawlStages.packSequences(
          corpus, CrawlStages.trainTokenizer(corpus))
        seqs.groupBy("pred_lang", "pack_id").count().count(); ()
      }
    }),
    "p13_crawl_to_corpus_scale" -> ((s, dir) => {
      val shard = IngestQueries.warcCrawlNearFixture(s, dir)
      () => {
        val (ingested, _) = CrawlStages.ingest(s, shard)
        val corpus = CrawlStages.gateSketch(
          CrawlStages.route(s, CrawlStages.nearDedup(
            CrawlStages.dedup(CrawlStages.scrub(ingested)))))
        val (_, seqs) = CrawlStages.packSequences(
          corpus, CrawlStages.trainTokenizer(corpus))
        seqs.groupBy("pred_lang", "pack_id").count().count(); ()
      }
    }),
    // st27's claim is ONE VERSION TURN of the serving loop — maintain
    // the arriving batch, refresh the index incrementally, probe
    // through the new version. History staging (the prefix batches +
    // the v1 index those versions already paid for) is setup, exactly
    // like every other st fixture: a production refresh job never
    // re-pays it either — that is what the incremental path is FOR.
    "st27_lm_index_refresh" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val (first, rest, store) =
        StreamingQueries.st26SetupPhased(s, dir, "graft-st27-bench-store")
      val d = Fixtures.table(s, dir, "documents")
      val root = Fixtures.scratchDir("graft-st27-bench") + "/index"
      first()
      graft.pipeline.TextStats.writeNgramIndexFromStore(
        s, store, s"$root/v=1", order = 5)
      graft.pipeline.ModelStore.publishVersion(s, root, 1)
      () => {
        rest()
        graft.pipeline.TextStats.refreshNgramIndexFromStore(
          s, store, s"$root/v=1", s"$root/v=2")
        graft.pipeline.ModelStore.publishVersion(s, root, 2)
        graft.pipeline.TextStats.mknNgramNllIndexed(
          s, graft.pipeline.ModelStore.resolveLatest(s, root),
          d.filter(col("doc_id") < 50), "doc_id", "text").count(); ()
      }
    }),
    // t62's claim is the SERVING path — snapshot load + summation merge
    // + scoring; building and persisting the snapshots is the one-time
    // cost the incremental discipline exists to amortize.
    "t62_ngram_model_merge" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = Fixtures.table(s, dir, "documents")
      val root = Fixtures.scratchDir("graft-t62-bench")
      graft.pipeline.ModelStore.saveNgram(
        graft.pipeline.TextStats.ngramCounts(
          d.filter(col("doc_id") % 2 === 0), "text", 5), s"$root/snap0", 5)
      graft.pipeline.ModelStore.saveNgram(
        graft.pipeline.TextStats.ngramCounts(
          d.filter(col("doc_id") % 2 === 1), "text", 5), s"$root/snap1", 5)
      () => {
        val merged = graft.pipeline.TextStats.mergeNgramCounts(Seq(
          graft.pipeline.ModelStore.loadNgram(s, s"$root/snap0")._1,
          graft.pipeline.ModelStore.loadNgram(s, s"$root/snap1")._1), 5)
        graft.pipeline.TextStats.mknNgramNllAgainst(
          d, merged, "doc_id", "text", 5).count(); ()
      }
    }),
    // t68's claim is the SERVING path — pruned probes against the
    // persisted index; deriving and writing the model tables is the
    // one-time build the index exists to amortize.
    "t68_mkn5_indexed" -> ((s, dir) => {
      val d = Fixtures.table(s, dir, "documents")
      val path = Fixtures.scratchDir("graft-t68-bench") + "/index"
      graft.pipeline.TextStats.writeNgramIndex(
        graft.pipeline.TextStats.ngramCounts(d, "text", 5), path, order = 5)
      () => {
        graft.pipeline.TextStats.mknNgramNllIndexed(
          s, path, d, "doc_id", "text").count(); ()
      }
    }),
    // t69: same discipline — the small-batch serving probe is the
    // timed claim; the index build amortizes across every batch.
    "t69_mkn5_probe_indexed" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val d = Fixtures.table(s, dir, "documents")
      val path = Fixtures.scratchDir("graft-t69-bench") + "/index"
      graft.pipeline.TextStats.writeNgramIndex(
        graft.pipeline.TextStats.ngramCounts(d, "text", 5), path, order = 5)
      () => {
        graft.pipeline.TextStats.mknNgramNllIndexed(
          s, path, d.filter(col("doc_id") < 50), "doc_id", "text").count(); ()
      }
    }),
    // t58/t59/t60's claim is the SERVING path — artifact load + encode/
    // score from disk; training and saving are the one-time cost the
    // store exists to amortize (the d23/e4 at-rest discipline).
    "t58_bpe_saved_encode" -> ((s, dir) => {
      val d = Fixtures.table(s, dir, "documents")
      val path = Fixtures.scratchDir("graft-t58-bench") + "/model"
      val trained = graft.pipeline.Bpe.train(d, "text", numMerges = 8)
      graft.pipeline.ModelStore.saveBpe(trained, path)
      trained.words.unpersist(false)
      () => {
        val m = graft.pipeline.ModelStore.loadBpe(s, path)
        graft.pipeline.Bpe.encodeIds(d, "doc_id", "text", m).count()
        m.words.unpersist(false); ()
      }
    }),
    "t59_unigram_saved_encode" -> ((s, dir) => {
      val d = Fixtures.table(s, dir, "documents")
      val path = Fixtures.scratchDir("graft-t59-bench") + "/model"
      graft.pipeline.ModelStore.saveUnigram(
        graft.pipeline.Unigram.train(d, "text", vocabSize = 48, iters = 3,
          maxPieceLen = 5, seedMulti = 80), path)
      () => {
        val m = graft.pipeline.ModelStore.loadUnigram(s, path)
        graft.pipeline.Unigram.encodeIds(d, "doc_id", "text", m).count(); ()
      }
    }),
    "t60_mkn_saved_nll" -> ((s, dir) => {
      val d = Fixtures.table(s, dir, "documents")
      val path = Fixtures.scratchDir("graft-t60-bench") + "/model"
      graft.pipeline.ModelStore.saveNgram(
        graft.pipeline.TextStats.ngramCounts(d, "text", 3), path, order = 3)
      () => {
        val (m, order) = graft.pipeline.ModelStore.loadNgram(s, path)
        graft.pipeline.TextStats.mknNgramNllAgainst(d, m, "doc_id", "text", order)
          .count(); ()
      }
    }),
    "st1_stream_upsert" -> ((s, dir) => StreamingQueries.st1Setup(s, dir)._1),
    "st2_stream_dedup" -> ((s, dir) => StreamingQueries.st2Setup(s, dir)._1),
    "st3_stream_hourly" -> ((s, dir) => StreamingQueries.st3Setup(s, dir)._1),
    "st4_stream_sessions" -> ((s, dir) => StreamingQueries.st4Setup(s, dir)._1),
    "st5_stream_neardup" -> ((s, dir) => StreamingQueries.st5Setup(s, dir)._1),
    "st8_stream_enrich" -> ((s, dir) => StreamingQueries.st8Setup(s, dir)._1),
    "st9_stream_attribution" -> ((s, dir) => StreamingQueries.st9Setup(s, dir)._1),
    "st10_stream_cdc" -> ((s, dir) => StreamingQueries.st10Setup(s, dir)._1),
    // q20's claim is the exchange-free JOIN; the one-time bucketed layout
    // write is the trade's build cost, not the operation under test.
    "q20_bucketed_join" -> ((s, dir) => {
      AnalyticQueries.q20Setup(s, dir)
      () => { AnalyticQueries.q20Join(s).count(); () }
    }),
    // d23's claim is PROBE cost against the at-rest shingle index; the
    // one-time index build is setup (the cost it exists to amortize).
    "d23_index_neardup" -> ((s, dir) => {
      val (idxPath, newDocs) = PipelineQueries.d23Setup(s, dir)
      () => {
        graft.pipeline.Dedup.withJaccardPairsAgainstIndex(
          s, idxPath, newDocs, "doc_id", "text",
          PipelineQueries.DfCap, PipelineQueries.JaccardThreshold)(_.count())
        ()
      }
    }),
    // e4's claim is PROBE cost against an at-rest index; the one-time
    // index build is setup, not the operation under measurement.
    "e4_ann_index" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val v = Fixtures.table(s, dir, "embeddings")
      val idx = Fixtures.scratchDir("graft-e4-bench") + "/idx"
      graft.pipeline.Similarity.writeIndex(
        v, v.filter(col("vec_id") < 8), "vec_id", "embedding", idx)
      () => {
        graft.pipeline.Similarity.indexTopK(
          s, idx, v.filter(col("vec_id").between(100, 104)), "vec_id", "embedding", k = 5)
          .count()
        ()
      }
    }),
    // e14: same contract as e4 for the IVFADC index — the one-time
    // assign+encode+write is the cost the index amortizes; the measured
    // operation is the partition-filtered ADC probe.
    "e14_ivfpq_index" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val v = Fixtures.table(s, dir, "embeddings")
      val cb = graft.pipeline.Similarity.pqGridCodebooks(dim = 64, m = 8, k = 16)
      val q = v.filter(col("vec_id") === 100).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val idx = Fixtures.scratchDir("graft-e14-bench") + "/idx"
      graft.pipeline.Similarity.writePqIndex(
        v, v.filter(col("vec_id") < 8), "vec_id", "embedding", cb, idx)
      () => {
        graft.pipeline.Similarity.pqIndexTopK(s, idx, "vec_id", q, k = 25, nProbe = 2)
          .count()
        ()
      }
    }),
    // e17/e18: the same at-rest contract — the measured operation is the
    // batched probe (e17) / two-stage refined probe (e18), never the
    // build those probes amortize.
    "e17_ivfpq_index_batch" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val v = Fixtures.table(s, dir, "embeddings")
      val cb = graft.pipeline.Similarity.pqGridCodebooks(dim = 64, m = 8, k = 16)
      val idx = Fixtures.scratchDir("graft-e17-bench") + "/idx"
      graft.pipeline.Similarity.writePqIndex(
        v, v.filter(col("vec_id") < 8), "vec_id", "embedding", cb, idx)
      val probes = v.filter(col("vec_id").between(100, 104))
      () => {
        graft.pipeline.Similarity.pqIndexTopKBatch(
          s, idx, probes, "vec_id", "embedding", k = 10, nProbe = 2).count()
        ()
      }
    }),
    "e18_index_refined" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val v = Fixtures.table(s, dir, "embeddings")
      val cb = graft.pipeline.Similarity.pqGridCodebooks(dim = 64, m = 8, k = 16)
      val idx = Fixtures.scratchDir("graft-e18-bench") + "/idx"
      graft.pipeline.Similarity.writePqIndex(
        v, v.filter(col("vec_id") < 8), "vec_id", "embedding", cb, idx)
      val probes = v.filter(col("vec_id").between(100, 104))
      () => {
        graft.pipeline.Similarity.pqIndexRefinedTopKBatch(
          s, idx, v, probes, "vec_id", "embedding", k = 5, refineK = 10, nProbe = 2).count()
        ()
      }
    }),
    // e19: the at-rest convention — the one-time signature build is
    // setup; the measured operation is the delta-vs-index probe.
    "e19_signature_index" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val v = PipelineQueries.e19Fixture(s, dir)
      val idx = Fixtures.scratchDir("graft-e19-bench") + "/idx"
      graft.pipeline.Similarity.writeSignatureIndex(v, "vec_id", "embedding", idx,
        dim = 64, nBits = 16, bandBits = 8, seed = 7)
      () => {
        graft.pipeline.Similarity.pairsAgainstSignatureIndex(
          s, idx, v, "vec_id", "embedding", threshold = 0.8, bucketCap = 2000)
          .filter(col("new_id") < col("corpus_id")).count()
        ()
      }
    }),
    // g5 mirrors m13: fixture build + SQL render are setup; the timed
    // operation is the SQL-routed partition-scoped apply.
    "g5_merge_sql_partitioned" -> ((s, dir) => {
      val root = MergeQueries.m13Setup(s, dir)
      val sql = MergeQueries.g5RenderSql(s, root)
      () => { graft.merge.MergeSql.applyToTarget(s, sql, s"$root/t"); () }
    }),
    // st13 is an st-family member: staging the replayable stream is
    // harness setup; the timed operation is the per-batch index
    // maintenance itself.
    "st13_stream_bm25" -> ((s, dir) => StreamingQueries.st13Setup(s, dir)._1),
    "st14_stream_ann" -> ((s, dir) => StreamingQueries.st14Setup(s, dir)._1),
    "st15_stream_sketches" -> ((s, dir) => StreamingQueries.st15Setup(s, dir)._1),
    // q35's claim is the cost of the daily INCREMENT against the at-rest
    // store (plus the few-KB read); the one-time backfill is the build
    // cost the store exists to amortize — the m13/e4 convention.
    "st17_stream_freq" -> ((s, dir) => StreamingQueries.st17Setup(s, dir)._1),
    // q40's claim is the INCREMENT + the through-store report; the
    // backfill build is the cost the store exists to amortize (q35's
    // convention for the frequency tier).
    "q40_freq_store" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, to_date}
      val store = Fixtures.scratchDir("graft-q40-bench") + "/freq"
      val ev = Fixtures.events(s, dir).withColumn("day", to_date(col("ts")))
      def slices(pred: org.apache.spark.sql.Column) =
        graft.operators.Sketches.freqSketches(
          ev.filter(pred), Seq("day"), "user_id", eps = 1e-3)
      val days = ev.select("day").distinct().orderBy("day")
        .collect().map(_.getDate(0))
      val (backfill, tail) = days.splitAt(math.max(1, days.length - 2))
      graft.operators.Sketches.writeSketchStore(
        slices(col("day") <= lit(backfill.last)), store, Seq("day"))
      () => {
        for (d <- tail)
          graft.operators.Sketches.appendSlices(s, store, slices(col("day") === lit(d)))
        graft.operators.Sketches.storedHeavyHitters(
          s, store, ev, "user_id", phi = 0.008).count()
        ()
      }
    }),
    "q35_sketch_store" -> ((s, dir) => {
      import org.apache.spark.sql.functions.{col, lit, to_date}
      val store = Fixtures.scratchDir("graft-q35-bench") + "/sketches"
      val ev = Fixtures.events(s, dir).withColumn("day", to_date(col("ts")))
      def slices(pred: org.apache.spark.sql.Column) =
        graft.operators.Sketches.distinctSketches(
          ev.filter(pred), Seq("event_type", "day"), "user_id")
      val days = ev.select("day").distinct().orderBy("day")
        .collect().map(_.getDate(0))
      val (backfill, tail) = days.splitAt(math.max(1, days.length - 2))
      graft.operators.Sketches.writeSketchStore(
        slices(col("day") <= lit(backfill.last)), store,
        Seq("event_type", "day"))
      () => {
        for (d <- tail)
          graft.operators.Sketches.appendSlices(s, store, slices(col("day") === lit(d)))
        graft.operators.Sketches.storedEstimate(s, store, Seq("event_type")).count()
        ()
      }
    }),
    // t25 joins the at-rest convention in r13 (it was build+probe through
    // r12 — the 100x ceiling cell exposed the conflation): the one-time
    // posting-index build is setup; the measured operation is the
    // partition-filtered posting probe.
    "t25_bm25_index" -> ((s, dir) => {
      val idx = Fixtures.scratchDir("graft-t25-bench") + "/idx"
      graft.pipeline.TextStats.writeBm25Index(
        Fixtures.table(s, dir, "documents"), "doc_id", "text", idx)
      () => {
        graft.pipeline.TextStats.bm25IndexTopK(
          s, idx, PipelineQueries.Bm25Terms, k = 25).count()
        ()
      }
    }))
}
