package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}
import org.apache.spark.sql.Row

import graft.merge.{DeleteMode, MergeApply, MergeOptions, PartitionedTarget}

/** Structured-Streaming extensions over the merge engine (SURVEY §7.3
  * step 7): continuous upsert of a stream into a parquet-backed target,
  * plus watermarked window aggregation for the `events` shape.
  *
  * The upsert is `foreachBatch` + the batch merge engine — the standard
  * Spark pattern for sinks without native MERGE support. Per micro-batch:
  * dedupe the batch to one row per key (last-write-wins on an ordering
  * column when given), then run the threshold-less merge with
  * delete=Ignore (a micro-batch is a partial view of the world — absence
  * from one batch must never delete target rows). Exactly-once comes from
  * the checkpoint (replayed batches re-merge idempotently: a re-applied
  * batch is all no-op thanks to change detection).
  *
  * Scale shape (VERDICT r3 next #1): when the target is a
  * [[PartitionedTarget]] (spec sidecar present), each micro-batch routes
  * through [[MergeApply.applyToPartitioned]] — the target read, rewrite,
  * and swap all prune to the buckets the batch's keys hash into, so a
  * micro-batch costs O(|batch|), not O(|target|). Continuous upsert is
  * exactly the workload where a full-target rewrite per batch is fatal at
  * 100 TB: bucket the target once with [[PartitionedTarget.write]] and
  * every subsequent batch is delta-priced. A plain parquet directory still
  * works and takes the full-rewrite path.
  */
object StreamingUpsert {

  /** Reduce a batch to one row per key — the freshest by `orderCol`
    * descending when given. The tiebreak (and the whole ordering when no
    * orderCol is given) is a content hash, so a REPLAYED batch always
    * picks the same winner — required for the idempotent-replay guarantee
    * (monotonically_increasing_id would be partition-order dependent and
    * could flip winners across replays).
    */
  def dedupeLatest(batch: DataFrame, keys: Seq[String], orderCol: Option[String]): DataFrame = {
    val contentTiebreak = xxhash64(batch.columns.toIndexedSeq.map(col): _*).asc
    val ord: Seq[Column] = orderCol.map(col(_).desc).toSeq :+ contentTiebreak
    val w = Window.partitionBy(keys.map(col): _*).orderBy(ord: _*)
    batch.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Start a continuous upsert of `stream` into the parquet target. */
  def upsertTo(
      stream: DataFrame,
      targetPath: String,
      keys: Seq[String],
      checkpoint: String,
      orderCol: Option[String] = None,
      compactEvery: Int = 0): StreamingQuery =
    writer(stream, targetPath, keys, orderCol, compactEvery)
      .option("checkpointLocation", checkpoint)
      .start()

  /** The configured writer (exposed so tests can trigger/inspect).
    *
    * Recency contract: with an `orderCol`, last-write-wins holds ACROSS
    * batches, not just within one — the batch is unioned with the current
    * target state (tagged lower priority) and the freshest row per key
    * wins, so an out-of-order event arriving in a later micro-batch can
    * never overwrite fresher target data with stale values. Requires the
    * target schema to match the stream's columns. Without an orderCol
    * there is no recency notion and each batch simply overwrites.
    *
    * On a partitioned target the current-state read for that union is
    * PRUNED to the batch's touched buckets (rows elsewhere cannot share a
    * key with any batch row — the bucket is a pure key function), and the
    * apply routes through [[MergeApply.applyToPartitioned]]: the whole
    * micro-batch costs O(|batch|).
    *
    * @param compactEvery with a positive value and a partitioned target,
    *                     run [[PartitionedTarget.compact]] after every
    *                     `compactEvery`-th batch — the long-running-stream
    *                     layout guard. The apply itself swaps in one file
    *                     per touched bucket, so this exists for bucket
    *                     GROWTH (a hot bucket accreting rows until its
    *                     single file is scan-hostile) and for targets that
    *                     external append-writers also feed. 0 (default)
    *                     disables.
    */
  def writer(
      stream: DataFrame,
      targetPath: String,
      keys: Seq[String],
      orderCol: Option[String],
      compactEvery: Int = 0): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val spark = batch.sparkSession
          val partitioned = PartitionedTarget.isPartitioned(spark, targetPath)
          val source = orderCol match {
            case Some(oc) =>
              val pri = "__graft_pri"
              val current = currentStateFor(batch, targetPath, partitioned)
              val combined = batch.withColumn(pri, lit(1))
                .unionByName(current.withColumn(pri, lit(0)))
              // Freshest per key; the batch row wins an exact ts tie.
              val w = Window.partitionBy(keys.map(col): _*)
                .orderBy(col(oc).desc, col(pri).desc,
                  xxhash64(batch.columns.toIndexedSeq.map(col): _*).asc)
              combined.withColumn("__rn", row_number().over(w))
                .filter(col("__rn") === 1).drop("__rn", pri)
            case None => dedupeLatest(batch, keys, None)
          }
          val opts = MergeOptions(keys = keys, delete = DeleteMode.Ignore)
          if (partitioned) MergeApply.applyToPartitioned(spark, targetPath, source, opts)
          else MergeApply.applyTo(spark, targetPath, source, opts)
          // Replayed batches re-compact at worst (idempotent — layout-only).
          if (partitioned && compactEvery > 0 && (batchId + 1) % compactEvery == 0)
            PartitionedTarget.compact(spark, targetPath)
          ()
        }
      }

  /** Target state relevant to this batch, selected to the batch's columns.
    * Partitioned targets prune to the batch's touched buckets
    * ([[PartitionedTarget.touchedSlice]]: one job for the ≤ nBuckets
    * touched ids, then a listing of just those directories — the apply's
    * own read pattern). An empty bootstrap target has no current state.
    */
  private def currentStateFor(
      batch: DataFrame,
      targetPath: String,
      partitioned: Boolean): DataFrame = {
    val spark = batch.sparkSession
    if (!partitioned)
      spark.read.parquet(targetPath).select(batch.columns.toIndexedSeq.map(col): _*)
    else
      PartitionedTarget.touchedSlice(PartitionedTarget.readSpec(spark, targetPath), targetPath, batch)
        .map(_.select(batch.columns.toIndexedSeq.map(col): _*))
        .getOrElse(batch.filter(lit(false)))
  }

  /** Continuous exact-dedup ingest: append only the FIRST occurrence of
    * each key to the parquet target, suppressing duplicates ACROSS
    * micro-batches through the state store — dedup-at-the-door for an
    * event/document firehose, so downstream batch dedup never re-pays for
    * at-least-once delivery or overlapping crawl windows.
    *
    * State shape: one state-store entry per distinct key ever seen —
    * unbounded on an unbounded key space. Pass `watermark` (event-time
    * column + delay) to bound it: duplicates are then only suppressed
    * within the watermark horizon (`dropDuplicatesWithinWatermark`), the
    * standard state/recall trade for at-least-once sources whose replays
    * arrive close together. Without it this uses `dropDuplicates`, exact
    * forever — right when the key space is bounded (ids of a finite
    * corpus) or the stream is a backfill replay.
    *
    * Exactly-once: the parquet sink + checkpoint make replayed batches
    * idempotent; duplicate rows are full-row identical in the intended
    * use, so whichever copy wins, the appended values are the same.
    */
  def dedupedAppendTo(
      stream: DataFrame,
      targetPath: String,
      keys: Seq[String],
      checkpoint: String,
      watermark: Option[(String, String)] = None): StreamingQuery = {
    val deduped = watermark match {
      case Some((tsCol, delay)) =>
        stream.withWatermark(tsCol, delay).dropDuplicatesWithinWatermark(keys)
      case None => stream.dropDuplicates(keys)
    }
    deduped.writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", targetPath)
      .option("checkpointLocation", checkpoint)
      .start()
  }

  /** Watermarked hourly aggregation over an event stream — the streaming
    * twin of the batch q12 query. Late data beyond the watermark is
    * dropped; state per (window, type) is bounded by the watermark horizon.
    */
  def hourlyCounts(events: DataFrame, tsCol: String, typeCol: String, valueCol: String,
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), "1 hour"), col(typeCol))
      .agg(count(lit(1)).as("n"), sum(valueCol).as("sum_value"))

  /** EXACT distinct users per hour over a stream — CHAINED stateful
    * operators (Spark 3.4+): a watermark-evicted streaming dedup on
    * (user, hour window) feeds a watermarked windowed count. State is one
    * row per distinct (user, hour) inside the watermark horizon plus the
    * open windows' counters — both bounded by the horizon, NOT by stream
    * length. The exact counterpart of a per-window HLL sketch
    * (`approx_count_distinct`): same plan shape, one word of state per
    * distinct key instead of a register array, chosen when the report
    * must reconcile exactly against batch (the st-family's oracle
    * discipline).
    */
  def hourlyUniqueUsers(events: DataFrame, tsCol: String, userCol: String,
      watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .select(col(userCol), window(col(tsCol), "1 hour").as("window"))
      .dropDuplicates(userCol, "window")
      .groupBy(col("window"))
      .agg(count(lit(1)).as("n_users"))
}
