package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{IndexDir, Similarity, TextStats}

/** Continuous posting-index maintenance — the ingest-time twin of the
  * batch [[TextStats.writeBm25Index]]/[[TextStats.appendToBm25Index]]
  * pair: documents stream in, and every micro-batch lands in the at-rest
  * BM25 index as a crash-atomic append, so retrieval (t23/t25-style
  * probes) always sees the corpus as of the last completed batch — no
  * nightly rebuild, no full-corpus re-tokenize, ever.
  *
  * Exactly-once under foreachBatch replay (the [[StreamingUpsert]]
  * guarantee, by a different mechanism — an index append is NOT
  * idempotent the way a change-detected merge is):
  *
  *   - batch appends stage a stream-batch watermark WITH the postings
  *     and promote both under the same intent marker
  *     ([[TextStats.appendToBm25Index]]'s `streamBatchId`), so "did this
  *     batch land" is answerable after any crash;
  *   - a replayed batch id ≤ the promoted watermark is skipped;
  *   - an interrupted append rolls FORWARD first
  *     ([[TextStats.recoverBm25Index]] — staged data is complete by the
  *     marker's contract), after which the watermark decides;
  *   - the bootstrap (no watermark on disk yet) is a full
  *     [[TextStats.writeBm25Index]] in overwrite mode — replaying it
  *     overwrites the same content, idempotent by construction, and the
  *     watermark lands strictly after the build completes, so an
  *     index-without-watermark is always an interrupted bootstrap and
  *     rebuilds.
  *
  * Contract inherited from the batch append: a document id enters the
  * stream ONCE (re-ingesting a doc doubles its postings, not replaces
  * them) — run the stream through [[StreamingUpsert]]-style dedup or the
  * d25 bloom gate first if the feed can repeat ids.
  *
  * Scale shape: per batch, cost is one tokenize + aggregation of the
  * BATCH plus a terms-cache merge (vocabulary-sized, not corpus-sized);
  * postings append under their term-hash buckets only. Appends accrete
  * one file set per touched bucket — schedule
  * [[TextStats.compactBm25Index]] (the `compactEvery` hook below) the
  * same way the streaming upsert compacts its target.
  */
object StreamingIndex {

  /** Start continuous BM25 index maintenance of `stream` (a frame with
    * `idCol`/`textCol`) into the index at `path`.
    *
    * @param compactEvery with a positive value, run
    *                     [[TextStats.compactBm25Index]] after every
    *                     `compactEvery`-th batch (replays re-compact at
    *                     worst — layout-only, idempotent). 0 disables.
    */
  def bm25IndexTo(
      stream: DataFrame,
      path: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      nBuckets: Int = 64,
      compactEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, path, idCol, textCol, nBuckets, compactEvery)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** One micro-batch of index maintenance (the foreachBatch body,
    * exposed so the replay/crash windows are unit-testable). */
  private[graft] def applyBatch(
      batch: DataFrame, batchId: Long, path: String,
      idCol: String, textCol: String, nBuckets: Int,
      compactEvery: Int = 0): Unit = {
    val spark = batch.sparkSession
    exactlyOnce(batch, batchId, path, TextStats.Bm25Layout, compactEvery)(
      bootstrap = () => TextStats.writeBm25Index(batch, idCol, textCol, path, nBuckets),
      append = () => TextStats.appendToBm25Index(spark, path, batch, idCol, textCol,
        streamBatchId = Some(batchId)),
      compact = () => TextStats.compactBm25Index(spark, path))
  }

  /** The micro-batch skeleton of the watermarked index maintainers: roll
    * any interrupted maintenance step forward BEFORE reading the
    * watermark (a staged watermark promotes with its append), then let
    * the watermark decide — none: bootstrap (or an interrupted bootstrap,
    * whose rebuild is the recovery) as an overwrite build, with the
    * watermark strictly after; this batch id or older: a replay that
    * already landed, skipped; newer: a watermarked append. Every
    * `compactEvery`-th batch then compacts (0 never).
    */
  private def exactlyOnce(
      batch: DataFrame, batchId: Long, path: String, layout: IndexDir.Layout,
      compactEvery: Int)(bootstrap: () => Unit, append: () => Unit, compact: () => Unit): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      IndexDir.recover(spark, path, layout)
      IndexDir.readStreamBatch(spark, path) match {
        case None =>
          bootstrap()
          IndexDir.writeStreamBatch(
            new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration), path, batchId)
        case Some(last) if batchId <= last => () // replayed, already landed
        case Some(_) => append()
      }
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) compact()
    }

  /** Continuous IVFADC index maintenance — [[bm25IndexTo]]'s discipline
    * for the vector lake: embeddings stream in, every micro-batch lands
    * in the at-rest codes as a crash-atomic watermarked append
    * ([[Similarity.appendToPqIndex]]'s `streamBatchId`), and ANN probes
    * ([[Similarity.pqIndexTopK]]/[[Similarity.pqIndexTopKBatch]]) always
    * see the corpus as of the last completed batch.
    *
    * The coarse/fine model (centroids + codebooks) is FIXED at
    * bootstrap — the C96 contract: batch 0 builds the index with the
    * model passed here (trained upstream on a sample; re-train and
    * rebuild on drift), later batches assign + encode against the
    * STORED sidecars. Same exactly-once construction as the BM25 form:
    * bootstrap = overwrite build with the watermark strictly after
    * (index-without-watermark always rebuilds), appends promote the
    * watermark WITH the codes, replayed ids ≤ the watermark skip,
    * interrupted appends roll forward first. Id-disjoint batches
    * required (the append contract).
    */
  def pqIndexTo(
      stream: DataFrame,
      path: String,
      checkpoint: String,
      idCol: String,
      vecCol: String,
      centroids: DataFrame,
      codebooks: Seq[Seq[Seq[Double]]],
      compactEvery: Int = 0): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyPqBatch(batch, batchId, path, idCol, vecCol, centroids, codebooks, compactEvery)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** One micro-batch of IVFADC index maintenance (the foreachBatch
    * body, exposed so the replay/crash windows are unit-testable). */
  private[graft] def applyPqBatch(
      batch: DataFrame, batchId: Long, path: String,
      idCol: String, vecCol: String,
      centroids: DataFrame, codebooks: Seq[Seq[Seq[Double]]],
      compactEvery: Int = 0): Unit =
    exactlyOnce(batch, batchId, path, Similarity.PqLayout, compactEvery)(
      bootstrap = () => Similarity.writePqIndex(batch, centroids, idCol, vecCol, codebooks, path),
      append = () => Similarity.appendToPqIndex(batch, idCol, vecCol, path,
        streamBatchId = Some(batchId)),
      compact = () => Similarity.compactPqIndex(batch.sparkSession, path))

  /** Continuous distinct-count sketch-store maintenance — the ingest-time
    * twin of the at-rest [[graft.operators.Sketches]] store: rows stream
    * in, every micro-batch's per-slice HLL sketches union into the
    * bucket-partitioned store, and [[graft.operators.Sketches.storedEstimate]]
    * always answers from few-KB rows as of the last completed batch.
    *
    * Unlike the BM25/PQ maintainers above, this needs NO batch-id
    * watermark: HLL union is a join-semilattice, so a replayed batch
    * re-unions the same values into the same registers and every answer
    * is unchanged — exactly-once degrades to at-least-once with an
    * IDENTICAL store. The only crash windows are the partition-scoped
    * apply's own staged swap (atomic per batch) and the bootstrap,
    * where the spec sidecar lands strictly after the parquet write, so
    * a torn bootstrap reads as "no store yet" and rebuilds.
    *
    * Scale shape: per batch, one map-side-combined sketch aggregation of
    * the BATCH, a read of only the buckets the batch's slices hash to,
    * and a rewrite of those buckets — cost tracks the batch and the
    * touched slices, never the store's history.
    */
  def sketchStoreTo(
      stream: DataFrame,
      path: String,
      checkpoint: String,
      sliceKeys: Seq[String],
      valueCol: String,
      lgConfigK: Int = 14,
      nBuckets: Int = 8): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applySketchBatch(batch, path, sliceKeys, valueCol, lgConfigK, nBuckets)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Continuous KLL quantile-store maintenance — the distribution twin
    * of [[sketchStoreTo]], and the THIRD exactly-once mechanism in the
    * maintainer family, forced by a third algebra:
    *
    *   - postings/codes (BM25/PQ, [[bm25IndexTo]]/[[pqIndexTo]]) are
    *     append-only — a replay genuinely doubles them — so a batch-id
    *     watermark SIDECAR promotes under the append's intent marker;
    *   - HLL union is a join-semilattice ([[sketchStoreTo]]) — replays
    *     re-union to the identical store — so no watermark exists at
    *     all;
    *   - KLL merge is a weighted-sample union: NOT idempotent (a
    *     replayed batch doubles `n`), but the store row is a MERGE
    *     (read-union-replace), so the watermark can ride IN the rows —
    *     each stored slice keeps the max `batch_id` folded into it, the
    *     partition-scoped apply promotes data and watermark in the same
    *     atomic swap, and a replayed batch id ≤ `max(batch_id)` over
    *     the store is skipped. No sidecar exists to tear.
    *
    * Crash windows: an interrupted apply rolls FORWARD
    * ([[graft.merge.MergeApply.recover]] — run before the watermark
    * read, so a landed-but-unswapped batch is counted as landed); a
    * torn bootstrap is detected by the store spec sidecar landing
    * strictly after the parquet write (the [[sketchStoreTo]] argument)
    * and rebuilt by the bootstrap replay.
    *
    * Scale shape: per batch, one map-side-combined KLL agg of the
    * BATCH, a read of only the buckets its slices hash to, a rewrite of
    * those buckets — cost tracks the batch and its touched slices,
    * never store depth; one row per slice forever (no compaction
    * protocol needed, unlike the posting tiers).
    */
  def quantileStoreTo(
      stream: DataFrame,
      path: String,
      checkpoint: String,
      sliceKeys: Seq[String],
      valueCol: String,
      k: Int = 8192,
      nBuckets: Int = 8): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyQuantileBatch(batch, batchId, path, sliceKeys, valueCol, k, nBuckets)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** One micro-batch of quantile-store maintenance (the foreachBatch
    * body, exposed so the replay/crash windows are unit-testable). */
  private[graft] def applyQuantileBatch(
      batch: DataFrame, batchId: Long, path: String, sliceKeys: Seq[String],
      valueCol: String, k: Int = 8192, nBuckets: Int = 8): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val slices = graft.operators.Sketches
        .quantileSketches(batch, sliceKeys, valueCol, k)
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      if (!graft.merge.PartitionedTarget.isPartitioned(spark, path))
        // Bootstrap (or torn bootstrap — the spec sidecar lands strictly
        // after the parquet write, so a half-written store re-enters
        // here): overwrite build; the watermark is in the rows.
        graft.operators.Sketches.writeSketchStore(slices, path, sliceKeys, nBuckets)
      else {
        // Roll any interrupted apply forward BEFORE reading the
        // watermark — a landed-but-unswapped batch must count as landed.
        graft.merge.MergeApply.recover(spark, path)
        val landed = graft.merge.PartitionedTarget.read(spark, path)
          .agg(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.col("batch_id"))).first().getLong(0)
        if (batchId > landed)
          graft.operators.Sketches.mergeQuantilesIntoStore(spark, path, slices, k)
      }
    }

  /** Ingest-time maintenance of a persisted count-min store — the
    * frequency twin of [[quantileStoreTo]], and the same exactly-once
    * mechanism because the algebra fails the same way: CMS is
    * linear-additive, a replayed batch doubles every count it
    * contributed, so the batch-id watermark rides IN the store rows and
    * promotes atomically with the partition-scoped apply (no sidecar to
    * tear). Per batch: one codegen'd map-side `count_min_sketch` agg of
    * the BATCH, a read of only the buckets its slices hash to, a
    * rewrite of those buckets. Interrupted applies roll forward via
    * `MergeApply.recover` BEFORE the watermark read; a torn bootstrap
    * rebuilds because the spec sidecar lands strictly after the parquet
    * write.
    */
  def freqStoreTo(
      stream: DataFrame,
      path: String,
      checkpoint: String,
      sliceKeys: Seq[String],
      valueCol: String,
      eps: Double = 1e-4,
      confidence: Double = 0.99,
      seed: Int = 42,
      nBuckets: Int = 8): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyFreqBatch(batch, batchId, path, sliceKeys, valueCol,
          eps, confidence, seed, nBuckets)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** One micro-batch of frequency-store maintenance (the foreachBatch
    * body, exposed so the replay/crash windows are unit-testable). */
  private[graft] def applyFreqBatch(
      batch: DataFrame, batchId: Long, path: String, sliceKeys: Seq[String],
      valueCol: String, eps: Double = 1e-4, confidence: Double = 0.99,
      seed: Int = 42, nBuckets: Int = 8): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val slices = graft.operators.Sketches
        .freqSketches(batch, sliceKeys, valueCol, eps, confidence, seed)
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      if (!graft.merge.PartitionedTarget.isPartitioned(spark, path))
        graft.operators.Sketches.writeSketchStore(slices, path, sliceKeys, nBuckets)
      else {
        graft.merge.MergeApply.recover(spark, path)
        val landed = graft.merge.PartitionedTarget.read(spark, path)
          .agg(org.apache.spark.sql.functions.max(
            org.apache.spark.sql.functions.col("batch_id"))).first().getLong(0)
        if (batchId > landed)
          graft.operators.Sketches.mergeFreqIntoStore(spark, path, slices)
      }
    }

  /** Ingest-time maintenance of a persisted exact token-count store —
    * the vocabulary twin of [[freqStoreTo]]: documents stream in, each
    * micro-batch's token counts SUM into the stored (token, n) rows,
    * and [[graft.pipeline.Vocab.vocabFromStore]] ranks the store into a
    * top-V vocabulary bit-identical to a batch build over the same
    * corpus — the tokenizer's vocabulary tracks the live corpus with no
    * nightly recount.
    *
    * Exactly-once by the st16/st17 mechanism, forced by the same
    * algebra: exact counts are linear-additive (a replayed batch
    * doubles every count it contributed), so replay is detected by a
    * batch-id watermark — read O(1) from the [[StoreWatermark]] marker
    * sidecar, promoted under its intent protocol so it can never claim
    * a batch the apply rolled back (per-gram batch ids still ride IN
    * the store rows for downstream delta consumers); interrupted
    * applies roll back via `MergeApply.recover` BEFORE the watermark
    * read; a torn bootstrap rebuilds because the store spec sidecar
    * lands strictly after the parquet write.
    *
    * Scale shape: per batch, one map-side-combined count of the BATCH's
    * tokens, a read of only the buckets those tokens hash to, a rewrite
    * of those buckets — cost tracks the batch and its touched buckets,
    * never corpus history; one row per distinct token forever. The
    * watermark read is a directory listing — the one per-batch step
    * that used to scan the full store (r19 finding) no longer does.
    */
  def vocabStoreTo(
      stream: DataFrame,
      path: String,
      checkpoint: String,
      textCol: String,
      nBuckets: Int = 8): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyVocabBatch(batch, batchId, path, textCol, nBuckets)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** Ingest-time maintenance of a persisted N-GRAM COUNT store — the
    * LM-tier twin of [[vocabStoreTo]], closing the staleness gap the
    * batch snapshot merge (C207 — [[TextStats.mergeNgramCounts]])
    * leaves between snapshots: documents stream in, each micro-batch's
    * order-n adjacent-tuple counts SUM into the stored (w1…wn, ct)
    * rows, and [[TextStats.ngramModelFromStore]] hands the modified-KN
    * scorer a model bit-identical to a one-pass build over the same
    * corpus — the gate's language model tracks the live crawl with no
    * re-read of history.
    *
    * Exactly-once by the st16/st17/st19 mechanism, forced by the same
    * algebra: raw n-gram counts are linear-additive (windows never
    * cross document boundaries, so a replayed batch would double every
    * count it contributed), hence replay is detected by a batch-id
    * watermark — read O(1) from the [[StoreWatermark]] marker sidecar,
    * promoted under its intent protocol so it can never claim a batch
    * the apply rolled back (per-gram batch ids still ride IN the store
    * rows — they are what the incremental index refresh keys its
    * changed-gram set on); interrupted applies roll back via
    * `MergeApply.recover` BEFORE the watermark read; a torn bootstrap
    * rebuilds because the store spec sidecar lands strictly after the
    * parquet write.
    *
    * Scale shape: per batch, one map-side-combined gram count of the
    * BATCH (bounded by the batch's gram vocabulary), a read of only
    * the buckets those grams hash to, a rewrite of those buckets —
    * cost tracks the batch, never corpus history; one row per distinct
    * gram forever.
    */
  def ngramStoreTo(
      stream: DataFrame,
      path: String,
      checkpoint: String,
      textCol: String,
      order: Int,
      nBuckets: Int = 8): StreamingQuery =
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyNgramBatch(batch, batchId, path, textCol, order, nBuckets)
      }
      .option("checkpointLocation", checkpoint)
      .start()

  /** One micro-batch of n-gram-store maintenance (the foreachBatch
    * body, exposed so the replay/crash windows are unit-testable).
    * The replay-vs-apply decision reads the [[StoreWatermark]] marker
    * sidecar — O(1) per batch; a full `max(batch_id)` store scan runs
    * only to resolve doubt after a crash (or on a pre-sidecar store's
    * first touch), never in the steady loop.
    */
  private[graft] def applyNgramBatch(
      batch: DataFrame, batchId: Long, path: String,
      textCol: String, order: Int, nBuckets: Int = 8): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val counts = TextStats.ngramCounts(batch, textCol, order)
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      if (!graft.merge.PartitionedTarget.isPartitioned(spark, path)) {
        TextStats.writeNgramStore(counts, path, order, nBuckets)
        StoreWatermark.commit(spark, path, batchId)
      } else {
        graft.merge.MergeApply.recover(spark, path)
        val landed = StoreWatermark.landed(spark, path, scanMaxBatchId(spark, path))
        if (batchId > landed) {
          StoreWatermark.begin(spark, path, batchId)
          TextStats.mergeNgramCountsIntoStore(spark, path, counts)
          StoreWatermark.commit(spark, path, batchId)
        }
      }
    }

  /** One micro-batch of count-store maintenance (the foreachBatch body,
    * exposed so the replay/crash windows are unit-testable). Watermark
    * discipline identical to [[applyNgramBatch]].
    */
  private[graft] def applyVocabBatch(
      batch: DataFrame, batchId: Long, path: String,
      textCol: String, nBuckets: Int = 8): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val counts = graft.pipeline.Vocab.tokenCounts(batch, textCol)
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
      if (!graft.merge.PartitionedTarget.isPartitioned(spark, path)) {
        graft.pipeline.Vocab.writeCountStore(counts, path, nBuckets)
        StoreWatermark.commit(spark, path, batchId)
      } else {
        graft.merge.MergeApply.recover(spark, path)
        val landed = StoreWatermark.landed(spark, path, scanMaxBatchId(spark, path))
        if (batchId > landed) {
          StoreWatermark.begin(spark, path, batchId)
          graft.pipeline.Vocab.mergeCountsIntoStore(spark, path, counts)
          StoreWatermark.commit(spark, path, batchId)
        }
      }
    }

  /** The doubt-resolution scan [[StoreWatermark.landed]] forces only
    * after a crash: one `max(batch_id)` over the full store. The null
    * aggregate (a store directory holding a spec sidecar but zero
    * rows) reads as "nothing landed" rather than NPEing — unreachable
    * via the bootstrap path today, which never writes an empty first
    * batch, but cheap to be safe against future writers.
    */
  private def scanMaxBatchId(spark: org.apache.spark.sql.SparkSession, path: String): Long = {
    import org.apache.spark.sql.functions.{col, max}
    if (!graft.merge.PartitionedTarget.hasBuckets(spark, path)) -1L
    else {
      val row = graft.merge.PartitionedTarget.read(spark, path)
        .agg(max(col("batch_id"))).first()
      Option(row.get(0)).map(_.asInstanceOf[Long]).getOrElse(-1L)
    }
  }

  /** One micro-batch of sketch-store maintenance (the foreachBatch body,
    * exposed so the replay/crash windows are unit-testable). */
  private[graft] def applySketchBatch(
      batch: DataFrame, path: String, sliceKeys: Seq[String],
      valueCol: String, lgConfigK: Int = 14, nBuckets: Int = 8): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      val arriving = graft.operators.Sketches.distinctSketches(
        batch, sliceKeys, valueCol, lgConfigK)
      if (!graft.merge.PartitionedTarget.isPartitioned(spark, path))
        graft.operators.Sketches.writeSketchStore(
          arriving, path, sliceKeys, nBuckets)
      else
        graft.operators.Sketches.mergeIntoStore(spark, path, arriving)
    }
}
