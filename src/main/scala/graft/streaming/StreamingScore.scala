package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.pipeline.Classifier

/** Ingest-time model-based quality gating — the streaming twin of the
  * C174 classifier gate, completing the tier's st-coverage the same way
  * C112 (sniff gate) and C162 (quarantine gate) did for theirs: train
  * upstream, FREEZE the weights, and score every arriving micro-batch
  * with the model as a plan literal. The gate is stateless by
  * construction (no state store, no watermark — the model is data, not
  * state), so exactly-once is inherited entirely from the parquet file
  * sink, and the converged sink equals the batch scoring of the same
  * rows — one oracle, shared with t35's machinery.
  *
  * Scale shape: per batch one codegen'd projection (σ(w·x) + verdict) —
  * the cheapest possible gate; routing rides the sink's `routed`
  * partitioning so consumers read admitted rows partition-pruned.
  */
object StreamingScore {

  /** The gate as a streaming-safe projection: `score`, `accepted`, and
    * the `routed` verdict partition key. Works on any frame carrying
    * the feature columns, batch or streaming.
    */
  def gate(
      rows: DataFrame, weights: Seq[Double], featureCols: Seq[String],
      threshold: Double): DataFrame =
    Classifier.score(rows, weights, featureCols, threshold)
      .withColumn("routed",
        when(col("accepted"), lit("accepted")).otherwise(lit("rejected")))

  /** Run the frozen-model scoring gate into an exactly-once parquet
    * sink partitioned by the routing verdict. Returns the started
    * query; callers own its lifecycle.
    */
  def scoreTo(
      stream: DataFrame, weights: Seq[Double], featureCols: Seq[String],
      threshold: Double, path: String, checkpoint: String): StreamingQuery =
    gate(stream, weights, featureCols, threshold)
      .writeStream.outputMode("append").format("parquet")
      .partitionBy("routed")
      .option("path", path).option("checkpointLocation", checkpoint)
      .start()

  /** The MULTICLASS router — [[gate]]'s K-class twin (a frozen
    * [[Classifier.trainSoftmax]] matrix): per row the softmax probs,
    * the argmax class, and `routed` = that class's label. Same
    * statelessness argument as the binary gate — the matrix is data,
    * not state — so it works on any frame, batch or streaming, and
    * exactly-once is the sink's.
    */
  def routeGate(
      rows: DataFrame, weights: Seq[Seq[Double]], featureCols: Seq[String],
      classLabels: Seq[String]): DataFrame = {
    require(classLabels.size == weights.size,
      s"need one label per class: ${weights.size} classes, ${classLabels.size} labels")
    Classifier.scoreSoftmax(rows, weights, featureCols)
      .withColumn("routed",
        element_at(array(classLabels.map(lit): _*), (col("pred_class") + 1).cast("int")))
  }

  /** Run the frozen multiclass router into an exactly-once parquet sink
    * partitioned by the predicted class — the streaming shape of
    * domain routing and trained language ID: consumers read their
    * class partition-pruned.
    */
  def routeTo(
      stream: DataFrame, weights: Seq[Seq[Double]], featureCols: Seq[String],
      classLabels: Seq[String], path: String, checkpoint: String): StreamingQuery =
    routeGate(stream, weights, featureCols, classLabels)
      .writeStream.outputMode("append").format("parquet")
      .partitionBy("routed")
      .option("path", path).option("checkpointLocation", checkpoint)
      .start()

  /** The LM-PERPLEXITY gate's streaming shape — the deployable form of
    * the CCNet pipeline (C196): the modified-KN trigram model trains on
    * the reference slice UPSTREAM and freezes, the per-lang tercile
    * CUTOFFS freeze from the batch calibration run, and every arriving
    * doc scores against both. Unlike the weight-vector gates above, the
    * frozen model here is TABLES (the trigram model), so scoring joins
    * the batch against static frames — the in-Spark analog of shipping
    * a KenLM binary to every worker. A lang with no calibrated cutoffs
    * routes to bucket 3 (tail — conservative reject), stated.
    *
    * Per micro-batch this runs the BATCH scorer
    * ([[graft.pipeline.TextStats.mknNgramNllAgainst]] at order 3) — ONE
    * implementation, no streaming twin to drift — which is legal
    * precisely because the gate is stateless across batches: per-doc
    * NLL and a cutoff CASE need nothing from any other batch.
    */
  def lmGate(
      batch: DataFrame, idCol: String, textCol: String, langCol: String,
      trigramModel: DataFrame, cut1: Map[String, Double],
      cut2: Map[String, Double]): DataFrame =
    lmGateWith(batch, idCol, textCol, langCol,
      graft.pipeline.TextStats.mknTables(trigramModel, 3), cut1, cut2)

  /** [[lmGate]] against PRE-DERIVED model tables
    * ([[graft.pipeline.TextStats.mknTables]]) — the repeated-batch
    * entry: the model is frozen across a stream's micro-batches, so its
    * derived tables (five model-sized aggregations + the discount
    * estimation) are derived ONCE and every batch pays only the probe
    * joins. Bit-identical output — one shared scoring implementation.
    */
  def lmGateWith(
      batch: DataFrame, idCol: String, textCol: String, langCol: String,
      tables: graft.pipeline.TextStats.MknTables, cut1: Map[String, Double],
      cut2: Map[String, Double]): DataFrame = {
    val c1 = typedlit(cut1)
    val c2 = typedlit(cut2)
    graft.pipeline.TextStats.mknNgramNllWith(batch, tables, idCol, textCol)
      .join(batch.select(col(idCol), col(langCol)), Seq(idCol))
      .withColumn("bucket",
        when(col("avg_nll") <=
          coalesce(element_at(c1, col(langCol)), lit(Double.NegativeInfinity)), lit(1L))
          .when(col("avg_nll") <=
            coalesce(element_at(c2, col(langCol)), lit(Double.NegativeInfinity)), lit(2L))
          .otherwise(lit(3L)))
  }

  /** Run the frozen LM gate over a stream. The scorer aggregates per
    * doc (token-level NLL terms fold into one row), which the native
    * append sink cannot host without a watermark — so each micro-batch
    * runs the batch scorer under `foreachBatch` and lands in its OWN
    * `batch=<id>` partition directory with mode overwrite: a replayed
    * batch rewrites exactly its own directory, which is what makes the
    * sink exactly-once under foreachBatch's at-least-once contract
    * (the [[StreamingIndex]] replay discipline, spec-pinned).
    */
  def lmGateTo(
      stream: DataFrame, idCol: String, textCol: String, langCol: String,
      trigramModel: DataFrame, cut1: Map[String, Double],
      cut2: Map[String, Double], path: String, checkpoint: String): StreamingQuery = {
    // Derive + PIN the frozen model's scoring tables once, at gate
    // construction: the model never changes across this stream's
    // micro-batches, and re-deriving the five model-sized aggregations
    // (plus the discount collect) per batch was the dominant per-batch
    // cost — 4 replay batches paid the derivation 4×. localCheckpoint
    // blocks are vocabulary-sized and release with the query's
    // references (the bench's isolate() also purges them).
    val tables = graft.pipeline.TextStats.mknTablesMaterialized(trigramModel, 3)
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        lmGateWith(batch, idCol, textCol, langCol, tables, cut1, cut2)
          .write.mode("overwrite").parquet(s"$path/batch=$batchId")
      }
      .start()
  }

  /** [[lmGateTo]] with the frozen inputs located through the
    * [[graft.pipeline.ModelStore]] VERSION REGISTRY instead of handed
    * in: each micro-batch resolves the registry pointer and loads the
    * published gate bundle (`&lt;ver&gt;/lm` n-gram counts +
    * `&lt;ver&gt;/cutoffs` per-lang cutoff rows), so a serving session
    * FOLLOWS a mid-stream v1→v2 publish at the next batch boundary —
    * and because published version directories are immutable and the
    * pointer flips atomically ([[graft.pipeline.ModelStore
    * .publishVersion]]), every batch serves ONE complete version,
    * old-or-new, never a torn mix (spec-pinned: a half-landed retrain
    * beside the published version is invisible). The served version
    * rides each output row as `model_version`, so the flip boundary is
    * auditable in the sink itself.
    *
    * Per-batch overhead is one marker listing + a meta read — the
    * model frame stays parquet-backed and lazy, so following the
    * registry costs no model scan that the frozen handoff didn't
    * already pay in the scoring joins.
    */
  def lmGateRegistryTo(
      stream: DataFrame, idCol: String, textCol: String, langCol: String,
      registryRoot: String, path: String, checkpoint: String): StreamingQuery = {
    // Per-VERSION derived-table cache: every batch still resolves the
    // registry pointer (following a mid-stream publish stays intact —
    // spec-pinned), but batches served by the SAME published version
    // reuse its derived scoring tables instead of re-aggregating the
    // model per batch. Published version directories are immutable, so
    // a version path keys its tables forever. foreachBatch bodies run
    // sequentially on the stream's thread — the var needs no lock.
    var cached: Option[(String, graft.pipeline.TextStats.MknTables,
      Map[String, Double], Map[String, Double])] = None
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val cur = graft.pipeline.ModelStore.resolveLatest(s, registryRoot)
        val ver = cur.substring(cur.lastIndexOf("v=") + 2).toLong
        val (tables, cut1, cut2) = cached match {
          case Some((p, t, c1, c2)) if p == cur => (t, c1, c2)
          case _ =>
            val (model, order) = graft.pipeline.ModelStore.loadNgram(s, s"$cur/lm")
            val calib = s.read.parquet(s"$cur/cutoffs").collect()
            val c1 = calib.collect {
              case r if !r.isNullAt(1) => (r.getString(0), r.getDouble(1))
            }.toMap
            val c2 = calib.collect {
              case r if !r.isNullAt(2) => (r.getString(0), r.getDouble(2))
            }.toMap
            val t = graft.pipeline.TextStats.mknTablesMaterialized(model, order)
            cached = Some((cur, t, c1, c2))
            (t, c1, c2)
        }
        lmGateWith(batch, idCol, textCol, langCol, tables, cut1, cut2)
          .withColumn("model_version", lit(ver))
          .write.mode("overwrite").parquet(s"$path/batch=$batchId")
      }
      .start()
  }
}
