package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.{IndexDir, Similarity}

/** Streaming embedding near-dup-on-ingest: incoming vectors are checked
  * against a STATIC corpus via random-hyperplane LSH
  * ([[Similarity.withHyperplaneLshPairs]]'s plane family) — the signature step
  * is a stateless map (the ±1 planes are data-independent constants, so
  * there is no centroid model to retrain and corpus signatures never go
  * stale), the candidate step is a stream-static equi-join on
  * (band, bucket), and verification is exact cosine. Streaming state is
  * ZERO: each micro-batch resolves entirely against the pre-staged corpus
  * frames, so a 1000-executor ingest job holds nothing in the state store
  * — the scale cost per batch is |batch| signatures + bucket-local joins.
  */
object StreamingNearDup {

  /** The pre-staged corpus side: occupancy-capped exploded signatures and
    * the norm payloads, both [[graft.Lineage.cut]]s made ONCE at index
    * build — every micro-batch joins these instead of re-deriving the
    * corpus lineage. The caller owns them: [[release]] frees both.
    */
  final class CorpusIndex private[StreamingNearDup] (
      private[graft] val sig: DataFrame,
      private[graft] val vecs: DataFrame,
      val dim: Int,
      val nBits: Int,
      val bandBits: Int,
      val seed: Int) {
    def release(): Unit = {
      graft.Lineage.free(sig)
      graft.Lineage.free(vecs)
    }
  }

  /** Stage the corpus for streaming ingest: norm projection + capped
    * band-bucket signatures, both cut. Same cap semantics as
    * [[Similarity.withHyperplaneIncrementalPairs]] (one
    * [[Similarity.cappedSignatures]]), so no micro-batch ever pays a
    * quadratic bucket fan-out.
    */
  def indexCorpus(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nBits: Int = 16,
      bandBits: Int = 8,
      seed: Int = 7,
      bucketCap: Int = 10000): CorpusIndex = {
    val vecs = graft.Lineage.cut(Similarity.hyperplaneNorms(corpus, idCol, vecCol))
    val sig = graft.Lineage.cut(
      Similarity.cappedSignatures(vecs, dim, nBits, bandBits, seed, bucketCap))
    new CorpusIndex(sig, vecs, dim, nBits, bandBits, seed)
  }

  /** One micro-batch's pairs: (new_id, corpus_id, sim >= threshold).
    * Candidate dedup (a batch vector colliding with the same corpus vector
    * in BOTH bands) happens WITHIN the batch — exact, and with zero
    * streaming state; across batches each incoming id arrives once by the
    * source's contract (pair rows are per-arrival facts, st2's
    * dedupedAppendTo is the tool when the source replays).
    */
  private[graft] def batchPairs(
      batch: DataFrame, idx: CorpusIndex, idCol: String, vecCol: String,
      threshold: Double): DataFrame =
    Similarity.incrementalPairsAgainst(
      Similarity.hyperplaneNorms(batch, idCol, vecCol),
      idx.sig, idx.vecs, idx.dim, threshold, idx.nBits, idx.bandBits, idx.seed)

  /** Start the ingest: every micro-batch of `newVecs` (streaming) is
    * signatured, joined against the staged corpus, cosine-verified, and
    * its pairs appended to `targetPath` as parquet. foreachBatch (the
    * [[StreamingUpsert.upsertTo]] discipline) so the within-batch
    * candidate `distinct` runs as a plain batch aggregation instead of
    * accreting streaming dedup state.
    */
  def ingestTo(
      newVecs: DataFrame,
      idx: CorpusIndex,
      idCol: String,
      vecCol: String,
      threshold: Double,
      targetPath: String,
      checkpointDir: String): StreamingQuery =
    newVecs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batchPairs(batch, idx, idCol, vecCol, threshold)
          .write.mode("append").parquet(targetPath)
      }
      .start()

  /** Read the converged pair frame. */
  def readPairs(spark: SparkSession, targetPath: String): DataFrame =
    spark.read.parquet(targetPath)

  /** Near-dup-on-ingest against the AT-REST signature index (VERDICT r13
    * next #3 — [[ingestTo]]'s frozen in-memory [[CorpusIndex]] made this
    * dedup-against-snapshot: two near-dup vectors arriving in different
    * micro-batches never paired, and a driver restart lost the index).
    * Every micro-batch now (1) pairs against the persisted
    * `(band, bucket, vid)` signatures —
    * [[Similarity.pairsAgainstSignatureIndex]], which sees the original
    * corpus AND every earlier batch — then (2) appends its own
    * signatures crash-atomically, so cross-batch arrivals pair and the
    * index survives restarts.
    *
    * Exactly-once under foreachBatch replay (the [[StreamingIndex]]
    * construction): the append promotes a stream-batch watermark WITH
    * the signatures; a replayed batch id ≤ the watermark skips; an
    * interrupted append rolls FORWARD first. The batch's pair output is
    * made idempotent the direct way — written to `targetPath/batch=<id>`
    * in overwrite mode BEFORE the append, so a replay that re-probes
    * (watermark not yet advanced) overwrites its own rows rather than
    * duplicating them. Probe-before-append also means a batch never
    * pairs against itself (within-batch duplicates are the st2 dedup
    * gate's job, upstream).
    *
    * Caller bootstraps the corpus once with
    * [[Similarity.writeSignatureIndex]]; `batchId`s must be
    * monotonically increasing (the foreachBatch contract).
    */
  def ingestToIndex(
      newVecs: DataFrame,
      indexPath: String,
      idCol: String,
      vecCol: String,
      threshold: Double,
      targetPath: String,
      checkpointDir: String,
      bucketCap: Int = 10000): StreamingQuery =
    newVecs.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyIndexBatch(batch, batchId, indexPath, idCol, vecCol, threshold,
          targetPath, bucketCap)
      }
      .start()

  /** One micro-batch of index-backed ingest (the foreachBatch body,
    * exposed so the replay/crash windows are unit-testable). */
  private[graft] def applyIndexBatch(
      batch: DataFrame, batchId: Long, indexPath: String,
      idCol: String, vecCol: String, threshold: Double,
      targetPath: String, bucketCap: Int): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      // Roll any interrupted append forward BEFORE reading the
      // watermark — the staged watermark promotes with it.
      Similarity.recoverSignatureIndex(spark, indexPath)
      IndexDir.readStreamBatch(spark, indexPath) match {
        case Some(last) if batchId <= last => () // replayed, already landed
        case _ =>
          Similarity.pairsAgainstSignatureIndex(
            spark, indexPath, batch, idCol, vecCol, threshold, bucketCap)
            .write.mode("overwrite").parquet(s"$targetPath/batch=$batchId")
          Similarity.appendToSignatureIndex(spark, indexPath, batch, idCol, vecCol,
            streamBatchId = Some(batchId))
      }
    }

  /** Read the converged pair frame of an [[ingestToIndex]] run (the
    * `batch=` partition column is harness bookkeeping, dropped). */
  def readIndexPairs(spark: SparkSession, targetPath: String): DataFrame =
    spark.read.parquet(targetPath).select("new_id", "corpus_id", "sim")
}
