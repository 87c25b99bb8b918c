package graft.queries

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.merge.{PartitionSpec, PartitionedTarget}
import graft.pipeline.{HashMode, Multimodal, TextStats}
import graft.streaming.{StreamingIndex, StreamingIngest, StreamingMultimodal, StreamingQuota, StreamingUpsert}

/** Driver-contract query for the streaming layer: an N-batch replay of the
  * events table through the continuous upsert into a PARTITIONED target
  * (VERDICT r3 next #1 "st1 bench line"). The bench time is the end-to-end
  * cost of N micro-batches, each routed through the partition-scoped apply
  * — per-batch cost scales with the batch, not the target.
  *
  * Reading the number: the FIRST batch carries the stream's one-time
  * planning/codegen cost, and the bench restarts the stream every
  * iteration — per-STREAM setup a long-running deployment amortizes to
  * zero. Cost attribution (SPARK_GRAFT_ST1_PROFILE=1, sf0.1 local[32],
  * durationMs medians): addBatch — the partition-scoped merge apply
  * itself — is ~95% of every batch (~1.5 s; batch 0 ~2.0 s with
  * first-codegen), checkpoint I/O (walCommit+commitOffsets) ~70 ms (~5%),
  * query planning ~5 ms. The bench line prices the APPLY, not harness
  * checkpointing; the ~1.5 s is the per-batch floor of the pruned
  * read/rewrite/swap cycle, which scales with the batch's touched
  * buckets, not the target.
  *
  * Unlike most streaming state, the CONVERGED result here is
  * SQL-expressible: the target seeds with stale values for half the events,
  * the stream replays every event in key order, so the final state is
  * exactly the events table (stale rows overwritten, missing rows
  * inserted) — giving the streaming path a real cross-engine oracle rather
  * than a rows-only check.
  */
object StreamingQueries {

  private val NBatches = 4

  /** Opt-in micro-batch cost attribution (the st1 SPARK_GRAFT_ST1_PROFILE
    * precedent, generalized): with SPARK_GRAFT_ST_PROFILE set, dump every
    * batch's full progress JSON — durationMs (addBatch vs WAL vs planning)
    * and stateOperators (commit times, rows, state memory) — to stderr
    * before the stream stops. Never set by the driver; measurement only.
    */
  private def stProfileDump(
      tag: String, q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
    if (sys.env.contains("SPARK_GRAFT_ST_PROFILE"))
      q.recentProgress.foreach(p => System.err.println(s"[st-profile:$tag] ${p.json}"))

  /** Run `body` (which must CREATE AND START a streaming query) with the
    * session's shuffle-partition count pinned to `n`, restoring the
    * previous value afterwards. The stateful operators' partitioning is
    * frozen into the stream's fresh checkpoint at start, so this sizes
    * the state stores without touching any other query. Rationale: the
    * dominant harness cost of every stateful st-query is the
    * per-(operator × partition × batch) state-store commit, NOT data —
    * a real deployment sizes state partitions to key cardinality, which
    * is tiny for these fixtures.
    *
    * The pin also turns off Spark's no-data micro-batches for the stream
    * (below). That is safe only for a query whose results all land in
    * DATA batches: one that emits on watermark advance alone (an
    * append-mode windowed aggregation without trailing sentinel batches)
    * would never flush its last windows under it.
    */
  private def pinnedStateParts[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    // No-data micro-batches exist to lower RESULT latency between
    // arrivals: after a data batch advances the watermark, Spark runs an
    // extra zero-row batch so finalized windows/timeouts emit without
    // waiting for the next arrival. Each one pays the full per-batch
    // floor — planning + a state-store commit round across every
    // (operator × partition) — for zero new input; profiled on st3/st9
    // (SPARK_GRAFT_ST_PROFILE, sf0.1) they were HALF the replayed
    // batches and ~40-50 % of replay wall time. A replay/backfill
    // stream — this harness, or any throughput-bound production
    // backfill — reads results at convergence, so the early emission
    // buys nothing; disable it for the stream under this pin (scoped
    // and restored, like the partition pin). Results are UNCHANGED at
    // convergence: every real window/session flushes in the sentinel
    // DATA batches by construction, and the only rows that no longer
    // land are sentinel-window rows the declared reads filter out —
    // oracle-pinned. A latency-sensitive live deployment keeps the
    // default; that trade is the operator's documented posture.
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val prev = s.conf.get(key)
    val prevNd = s.conf.get(ndKey)
    s.conf.set(key, n.toString)
    s.conf.set(ndKey, "false")
    try body finally { s.conf.set(key, prev); s.conf.set(ndKey, prevNd) }
  }

  /** Untimed setup: build the stale-seeded range-bucketed target, collect
    * the replay rows, start the continuous upsert. Returns (replay thunk —
    * the measured operation: N micro-batches through the partition-scoped
    * apply — and the target path for reading the converged state).
    */
  private[graft] def st1Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st1")
    val target = s"$scratch/t"

    val ev = Fixtures.events(s, dir).select("event_id", "user_id", "event_type", "value")
    // Range-bucketed target (width 1024): each contiguous replay batch
    // touches only its own key range's buckets — the pruning the
    // partition-scoped apply exists for.
    val spec = PartitionSpec(Seq("event_id"), 64, HashMode.Xxhash64, rangeShift = Some(10))
    PartitionedTarget.write(
      ev.filter($"event_id" % 2 === 0).withColumn("value", $"value" + 1.0),
      target, spec)

    // Replay rows staged on the driver — bench harness, not operator: a
    // real deployment reads from Kafka/files; the engine cost measured is
    // the per-batch partition-scoped merge.
    val rows = ev.as[(Long, Long, String, Double)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, Long, String, Double)]
    val q = StreamingUpsert.upsertTo(
      mem.toDF().toDF("event_id", "user_id", "event_type", "value"),
      target, Seq("event_id"), s"$scratch/cp")
    // foreachBatch plans each batch's merge at batch time (nothing frozen
    // in the checkpoint), so the pin must cover the whole replay: batch
    // joins over ≤|batch| rows don't need 32-way shuffles. Measured
    // ~neutral at sf0.1 (st1's cost is the apply's bucket I/O, not
    // shuffle width) — kept for consistency with the stateful setups.
    val replay = () => pinnedStateParts(s, 8) {
      try {
        rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
        // Opt-in cost attribution (VERDICT r5 next #8): durationMs splits a
        // batch into addBatch (the partition-scoped merge apply itself),
        // walCommit+commitOffsets (checkpoint I/O), and planning overheads.
        if (sys.env.contains("SPARK_GRAFT_ST1_PROFILE"))
          q.recentProgress.foreach(p =>
            System.err.println(s"[st1-profile] batch=${p.batchId} durationMs=${p.durationMs}"))
      } finally q.stop()
    }
    (replay, target)
  }

  /** File-source twin of st1 (VERDICT r10 "what's wrong" #1: the
    * MemoryStream setups collect the whole events table to the driver,
    * silently capping the harness at driver memory). Here the replay
    * batches come off PARQUET FILES through `readStream` — nothing is
    * ever staged on the driver, so this harness shape runs at ANY scale
    * factor. Setup stages the events into `NBatches` single-file
    * contiguous key-range slices (executor-side writes, then a
    * metadata-only rename into the watched dir; sequential writes give
    * increasing mtimes, so the file source discovers them in range
    * order, preserving the contiguous-batch pruning shape), and the
    * stream reads with `maxFilesPerTrigger=1` — one range slice per
    * micro-batch through the same partition-scoped apply as st1.
    * Converged state: identical to st1 — the events table — one ground
    * truth, one oracle, shared verbatim (keys are unique across the
    * replay, so batch ORDER cannot change the converged state either).
    */
  private[graft] def st11Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    val scratch = Fixtures.scratchDir("graft-st11")
    val target = s"$scratch/t"
    val stage = s"$scratch/stage"
    val ev = Fixtures.events(s, dir).select("event_id", "user_id", "event_type", "value")
    val spec = PartitionSpec(Seq("event_id"), 64, HashMode.Xxhash64, rangeShift = Some(10))
    PartitionedTarget.write(
      ev.filter(col("event_id") % 2 === 0).withColumn("value", col("value") + 1.0),
      target, spec)
    // One file per contiguous key range. The only driver-side values are
    // the max key (1 row) and file renames — nothing row-sized.
    val maxId = ev.agg(max("event_id")).head().getLong(0)
    val per = maxId / NBatches + 1
    val fs = new org.apache.hadoop.fs.Path(scratch)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(stage))
    (0 until NBatches).foreach { b =>
      val tmp = s"$scratch/b$b"
      ev.filter(col("event_id") >= b * per && col("event_id") < (b + 1) * per)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet")).head.getPath
      if (!fs.rename(part, new org.apache.hadoop.fs.Path(s"$stage/batch$b.parquet")))
        throw new IllegalStateException(s"st11: could not stage $part")
      fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
    }
    val schema = ev.schema
    val replay = () => pinnedStateParts(s, 8) {
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(stage)
      val q = StreamingUpsert.upsertTo(stream, target, Seq("event_id"), s"$scratch/cp")
      try q.processAllAvailable() finally q.stop()
    }
    (replay, target)
  }

  /** Untimed setup for st2 (streaming dedup-on-ingest): replay the events
    * table in batches where each batch RE-SENDS the second half of the
    * previous one — the overlapping-crawl / at-least-once shape — through
    * [[StreamingUpsert.dedupedAppendTo]]. Converged state: every event
    * exactly once == the events table (cross-engine oracle, st1's
    * convention). Duplicate copies are full-row identical, so the
    * appended values are deterministic.
    */
  private[graft] def st2Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st2")
    val target = s"$scratch/t"
    val ev = Fixtures.events(s, dir).select("event_id", "user_id", "event_type", "value")
    val rows = ev.as[(Long, Long, String, Double)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, Long, String, Double)]
    val q = pinnedStateParts(s, 8)(StreamingUpsert.dedupedAppendTo(
      mem.toDF().toDF("event_id", "user_id", "event_type", "value"),
      target, Seq("event_id"), s"$scratch/cp"))
    val replay = () =>
      try {
        var carry: Seq[(Long, Long, String, Double)] = Nil
        rows.grouped(per).foreach { b =>
          mem.addData((carry ++ b).toIndexedSeq: _*)
          q.processAllAvailable()
          carry = b.takeRight(per / 2).toIndexedSeq // re-sent next batch — must dedup
        }
      } finally q.stop()
    (replay, target)
  }

  /** Untimed setup for st3 (streaming windowed aggregation): replay the
    * events table time-ordered through the watermarked
    * [[StreamingUpsert.hourlyCounts]] into an append parquet sink. Two
    * SENTINEL batches (max ts + 3h, + 6h) finish the run: the watermark
    * visible to batch N derives from batch N-1's max event time, so the
    * first sentinel raises the max and the second runs with the watermark
    * past every real window's end — flushing them all to the sink. The
    * sentinel's own window stays open forever and is excluded by type in
    * the query read. Converged state is then exactly the batch q12
    * aggregation — a real cross-engine oracle for the watermarked
    * streaming path.
    *
    * Reading the bench number: 6 micro-batches (4 data + 2 sentinel) at
    * the ~1.5 s per-batch floor profiled for st1 — streaming-harness
    * cost, not aggregation cost (the same aggregation is q12's 0.2 s).
    */
  private[graft] def st3Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st3")
    val out = s"$scratch/out"
    // Watermarks require a true TIMESTAMP (not NTZ) event-time column —
    // stage epoch micros, rebuild the instant inside the stream, and
    // convert the window bound back to NTZ at the sink (the two casts use
    // the same session TZ and cancel, so the emitted wall time equals the
    // NTZ source at any TZ).
    //
    // Time-ordered replay: an out-of-order replay could push the
    // watermark past genuinely-pending rows and DROP them, diverging from
    // the batch oracle — order is the harness's contract here, lateness
    // tolerance is the operator's (1h watermark).
    val rows = Fixtures.events(s, dir)
      .select(unix_micros(col("ts").cast("timestamp")).as("us"), col("event_type"), col("value"))
      .as[(Long, String, Double)].collect().sortBy(_._1)
    val maxUs = rows.last._1
    val hourUs = 3600L * 1000000L
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, String, Double)]
    val stream = mem.toDF().toDF("us", "event_type", "value")
      .select(timestamp_micros(col("us")).as("ts"), col("event_type"), col("value"))
    val agg = StreamingUpsert.hourlyCounts(stream, "ts", "event_type", "value")
    val q = pinnedStateParts(s, 8)(agg
      .select(col("window.start").cast("timestamp_ntz").as("hour"), col("event_type"),
        col("n"), round(col("sum_value"), 2).as("sum_value"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", s"$scratch/cp")
      .start())
    val replay = () =>
      try {
        rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
        mem.addData((maxUs + 3 * hourUs, "zzz_sentinel", 0.0)); q.processAllAvailable()
        mem.addData((maxUs + 6 * hourUs, "zzz_sentinel", 0.0)); q.processAllAvailable()
        stProfileDump("st3", q)
      } finally q.stop()
    (replay, out)
  }

  /** Untimed setup for st4 (streaming sessionization via
    * flatMapGroupsWithState): replay (user_id, ts) time-ordered through
    * [[graft.streaming.StreamingSessionize.byGap]]. The same two-sentinel
    * close as st3 (under a sentinel user id) pushes the watermark past
    * every real session's gap horizon, firing the event-time timeouts
    * that flush the open sessions — converged output equals the batch t6
    * sessionization exactly.
    *
    * Bench note: 6 micro-batches at the ~1.5 s per-batch floor (st1's
    * profile) — harness cost; the batch twin (t6) prices the same
    * aggregation at ~0.3 s.
    */
  private[graft] def st4Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st4")
    val out = s"$scratch/out"
    val rows = Fixtures.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts").cast("timestamp")).as("us"))
      .as[(Long, Long)].collect().sortBy(_._2)
    val maxUs = rows.last._2
    val hourUs = 3600L * 1000000L
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
      .withWatermark("ts", "1 hour")
    val q = pinnedStateParts(s, 8)(
      graft.streaming.StreamingSessionize.byGap(stream, "user_id", "ts", gapMinutes = 30)
        .toDF()
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", s"$scratch/cp")
        .start())
    val replay = () =>
      try {
        rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
        mem.addData((-1L, maxUs + 3 * hourUs)); q.processAllAvailable()
        mem.addData((-1L, maxUs + 6 * hourUs)); q.processAllAvailable()
        stProfileDump("st4", q)
      } finally q.stop()
    (replay, out)
  }

  /** Untimed setup for st5 (streaming embedding near-dup-on-ingest,
    * REWIRED in r14 to the persisted signature index — VERDICT r13 next
    * #3): the corpus is signatured once into the at-rest
    * [[graft.pipeline.Similarity.writeSignatureIndex]] layout, then the
    * incoming stream — TWO perturbation families of every 20th vector
    * (+10000: 1.1x+0.01, +20000: 0.9x+0.012), id-ordered so the +20000
    * twins always arrive in LATER batches than their +10000 siblings —
    * probes the index and appends its own signatures per micro-batch
    * (crash-atomic, watermarked). Cross-batch arrivals therefore PAIR:
    * the +20000 twins match both the corpus originals and the earlier
    * +10000 arrivals, which the r13 frozen-snapshot path could not see.
    * Converged sink: delta×(corpus ∪ earlier-batch deltas) pairs with a
    * shared band bucket and sim >= 0.8 — still SQL-expressible (batch
    * assignment is deterministic ceil-split arithmetic), so the
    * streaming path keeps a real cross-engine oracle.
    */
  private[graft] def st5Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st5")
    val out = s"$scratch/pairs"
    val idx = s"$scratch/idx"
    val corpus = Fixtures.table(s, dir, "embeddings").select("vec_id", "embedding")
    // Bootstrap: the pre-existing corpus signatured ONCE into the
    // at-rest index — the build cost the index exists to amortize.
    graft.pipeline.Similarity.writeSignatureIndex(
      corpus, "vec_id", "embedding", idx, dim = PipelineQueries.HpDim,
      nBits = PipelineQueries.HpBits, bandBits = PipelineQueries.HpBandBits,
      seed = PipelineQueries.HpSeed)
    // Replay rows staged on the driver — bench harness, not operator (a
    // real deployment reads Kafka/files); the engine cost measured is the
    // per-batch signature + index probe + verify + append.
    val delta = corpus.filter(col("vec_id") % 20 === 0)
    val rows = delta
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding").cast("array<double>"), x => x * lit(1.1) + lit(0.01))
          .as("embedding"))
      .unionByName(delta
        .select((col("vec_id") + 20000).as("vec_id"),
          transform(col("embedding").cast("array<double>"), x => x * lit(0.9) + lit(0.012))
            .as("embedding")))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, Array[Double])]
    val q = graft.streaming.StreamingNearDup.ingestToIndex(
      mem.toDF().toDF("vec_id", "embedding"), idx, "vec_id", "embedding",
      threshold = 0.8, out, s"$scratch/cp", bucketCap = PipelineQueries.EmbBucketCap)
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, out)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "st5_stream_neardup" -> ((s, dir) => {
      val (replay, out) = st5Setup(s, dir)
      replay()
      graft.streaming.StreamingNearDup.readIndexPairs(s, out)
        .orderBy("new_id", "corpus_id")
    }),
    "st4_stream_sessions" -> ((s, dir) => {
      val (replay, out) = st4Setup(s, dir)
      replay()
      s.read.parquet(out).filter(col("key") =!= "-1")
        .select(col("key").cast("long").as("user_id"), col("session_idx"),
          col("n_events"), col("start_us"), col("end_us"))
        .orderBy("user_id", "session_idx")
    }),
    "st3_stream_hourly" -> ((s, dir) => {
      val (replay, out) = st3Setup(s, dir)
      replay()
      s.read.parquet(out).filter(col("event_type") =!= "zzz_sentinel")
        .orderBy("hour", "event_type")
    }),
    "st1_stream_upsert" -> ((s, dir) => {
      val (replay, target) = st1Setup(s, dir)
      replay()
      PartitionedTarget.read(s, target).orderBy("event_id")
    }),
    "st11_stream_file_upsert" -> ((s, dir) => {
      val (replay, target) = st11Setup(s, dir)
      replay()
      PartitionedTarget.read(s, target).orderBy("event_id")
    }),
    "st2_stream_dedup" -> ((s, dir) => {
      val (replay, target) = st2Setup(s, dir)
      replay()
      s.read.parquet(target).orderBy("event_id")
    }),
    "st6_stream_quota" -> ((s, dir) => {
      val (replay, out) = st6Setup(s, dir)
      replay()
      s.read.parquet(out).select(col("doc_id"), col("source")).orderBy("doc_id")
    }),
    "st12_stream_sniff" -> ((s, dir) => {
      val (replay, out) = st12Setup(s, dir)
      replay()
      s.read.parquet(out).select("doc_id", "sniffed_type", "declared", "routed")
        .orderBy("doc_id")
    }),
    // Streaming ingest gate (st18): corrupted JSONL shards landing over
    // time, each micro-batch through the stateless PERMISSIVE parse +
    // quarantine routing into the verdict-partitioned sink. Consumers
    // read routed=clean partition-pruned; the converged clean partition
    // equals the batch j1 read (stateless gate, j1's oracle verbatim).
    "st18_stream_ingest" -> ((s, dir) => {
      val (replay, out) = st18Setup(s, dir)
      replay()
      s.read.parquet(out).filter(col("routed") === "clean")
        .select("doc_id", "lang", "n_chars").orderBy("doc_id")
    }),
    // Streaming WARC gate (st23): crawl shards landing over time, each
    // record routed clean/quarantine by the stateless parseWarc
    // projection into the verdict-partitioned exactly-once sink.
    // Stateless gate ⇒ converged clean partition == the batch j13 read:
    // shares j13's oracle verbatim (the st18/j1 precedent).
    "st23_warc_stream" -> ((s, dir) => {
      val (replay, out) = st23Setup(s, dir)
      replay()
      s.read.parquet(out).filter(col("routed") === "clean")
        .select("uri", "http_status", "body").orderBy("uri")
    }),
    // Streaming classifier gate (st20): weights trained upstream and
    // FROZEN, each micro-batch scored by the model-as-plan-literal and
    // routed into the verdict-partitioned exactly-once sink. Stateless
    // gate ⇒ the converged accepted partition is the batch t35 accepted
    // set — one scoring formula, one oracle machinery.
    "st20_stream_score" -> ((s, dir) => {
      val (replay, out) = st20Setup(s, dir)
      replay()
      s.read.parquet(out).filter(col("routed") === "accepted")
        .select("doc_id", "score").orderBy("doc_id")
    }),
    // Streaming multiclass router (st21): the trained langid's
    // streaming twin — the seed-trained softmax matrix FROZEN, every
    // arriving micro-batch feature-projected and routed into the
    // class-partitioned exactly-once sink (consumers read their
    // language partition-pruned). Stateless router ⇒ the converged
    // (lang, routed) confusion equals the batch t44 corpus block.
    "st21_stream_route" -> ((s, dir) => {
      val (replay, out) = st21Setup(s, dir)
      replay()
      s.read.parquet(out)
        .groupBy("lang", "routed").agg(count(lit(1)).as("n"))
        .orderBy("lang", "routed")
    }),
    // Persisted multiclass router (C204 / st25): st21 with the trained
    // softmax matrix round-tripped through ModelStore — weights,
    // feature columns, AND class labels arrive from disk, so the
    // serving session shares nothing with the training JVM but the
    // artifact directory. Converged sink == st21's (bit-identical
    // weights), st21's oracle verbatim.
    "st25_route_persisted" -> ((s, dir) => {
      val (replay, out) = st25Setup(s, dir)
      replay()
      s.read.parquet(out)
        .groupBy("lang", "routed").agg(count(lit(1)).as("n"))
        .orderBy("lang", "routed")
    }),
    // Streaming LM-perplexity gate (st22): the CCNet gate's deployable
    // form — frozen reference-trained MKN model + frozen per-lang
    // tercile cutoffs, each micro-batch scored by the BATCH scorer
    // under foreachBatch into a replay-safe batch directory. Stateless
    // across batches ⇒ the converged per-(lang, bucket) census equals
    // the batch scoring under the same frozen cutoffs.
    "st22_stream_lm_gate" -> ((s, dir) => {
      val (replay, out) = st22Setup(s, dir)
      replay()
      s.read.parquet(out)
        .groupBy("lang", "bucket").agg(count(lit(1)).as("n"),
          round(avg(col("avg_nll")), 6).as("mean_nll"))
        .orderBy("lang", "bucket")
    }),
    // Persisted-artifact streaming gate (C204+C219 / st24): st22's
    // CCNet gate with EVERY frozen input loaded from DISK as one
    // versioned ModelStore bundle (classifier + trigram model +
    // calibrated cutoffs), located through the VERSION REGISTRY
    // pointer per micro-batch (lmGateRegistryTo — no caller path
    // reaches serving; a mid-stream publish lands at the next batch
    // boundary, old-or-new, never torn) in a separate lineage from
    // the training frames. This is the production deployment shape
    // (train once, version the artifact, score anywhere); the converged
    // sink must equal st22's, so it shares st22's oracle verbatim: any
    // drift introduced by the store breaks the hash.
    "st24_lm_gate_persisted" -> ((s, dir) => {
      val (replay, out) = st24Setup(s, dir)
      replay()
      s.read.parquet(out)
        .groupBy("lang", "bucket").agg(count(lit(1)).as("n"),
          round(avg(col("avg_nll")), 6).as("mean_nll"))
        .orderBy("lang", "bucket")
    }),
    // Streaming vocabulary maintenance (st19): documents replayed in
    // batches, each micro-batch's exact token counts SUMMED into the
    // count store (read touched buckets, add, replace). Counts are
    // linear-additive — a replayed batch would double them — so the
    // in-row batch_id watermark (st16/st17's mechanism) makes replays
    // safe. The converged store ranks into the SAME top-200 vocabulary
    // as the batch build: t31's oracle verbatim.
    "st19_stream_vocab" -> ((s, dir) => {
      val (replay, store) = st19Setup(s, dir)
      replay()
      graft.pipeline.Vocab.vocabFromStore(s, store, vocabSize = 200)
        .orderBy("token_id")
    }),
    // Streaming n-gram model maintenance (C213 / st26): documents
    // replayed in batches, each micro-batch's 5-gram counts SUMMED into
    // the gram-hash-bucketed store (read touched buckets, add,
    // replace) — the ingest-time twin of the C207 snapshot merge, so
    // the LM tier's model no longer goes stale between snapshots.
    // Counts are linear-additive (a replayed batch would double them),
    // so the in-row batch_id watermark makes replays safe. The
    // converged store scores the corpus EXACTLY like the one-pass
    // model: t61's oracle verbatim.
    "st26_stream_ngram" -> ((s, dir) => {
      val (replay, store) = st26Setup(s, dir)
      replay()
      val model = TextStats.ngramModelFromStore(s, store, order = 5)
      TextStats.mknNgramNllAgainst(
          Fixtures.table(s, dir, "documents"), model, "doc_id", "text",
          order = 5)
        .orderBy("doc_id")
    }),
    // LM serving refresh, end to end (C213+C214+C215 / st27): the full
    // production loop with no seam — the STREAMING count store (st26's
    // maintainer) advances batch by batch; index VERSION 1 compiles
    // from the store mid-stream and publishes through the registry
    // pointer; the store then advances PAST it (the last batch); the
    // INCREMENTAL refresh carries the index to version 2, recomputing
    // only the buckets whose grams changed and file-copying the rest;
    // v2 publishes, and a SMALL probe batch scores through the
    // registry-resolved, bucket-pruned index. Oracle = t69's (the
    // restricted probe against the full-corpus model): one hash pins
    // maintainer + incremental refresh + atomic version flip + pruned
    // serving together — the refreshed index must be indistinguishable
    // from a one-pass build over everything.
    "st27_lm_index_refresh" -> ((s, dir) => {
      val (first, rest, store) = st26SetupPhased(s, dir, "graft-st27-store")
      first()
      val root = Fixtures.scratchDir("graft-st27") + "/index"
      TextStats.writeNgramIndexFromStore(s, store, s"$root/v=1", order = 5)
      graft.pipeline.ModelStore.publishVersion(s, root, 1)
      rest() // the store advances past the indexed version
      TextStats.refreshNgramIndexFromStore(
        s, store, s"$root/v=1", s"$root/v=2")
      graft.pipeline.ModelStore.publishVersion(s, root, 2)
      TextStats.mknNgramNllIndexed(s,
          graft.pipeline.ModelStore.resolveLatest(s, root),
          Fixtures.table(s, dir, "documents").filter(col("doc_id") < 50),
          "doc_id", "text")
        .orderBy("doc_id")
    }),
    // Streaming BM25 index maintenance (st13): the documents table
    // replayed in batches through StreamingIndex.bm25IndexTo — batch 0
    // bootstraps the index, every later batch lands as a crash-atomic
    // watermarked append — then probed once converged. The converged
    // index answers exactly like the batch-built one (t25) and the live
    // scorer (t23): shares t23's oracle verbatim.
    "st13_stream_bm25" -> ((s, dir) => {
      val (replay, idx) = st13Setup(s, dir)
      replay()
      TextStats.bm25IndexTopK(s, idx, PipelineQueries.Bm25Terms, k = 25)
    }),
    // Streaming ANN index maintenance (st14): the embeddings table
    // replayed in batches through StreamingIndex.pqIndexTo — batch 0
    // bootstraps the IVFADC index with the fixed model (e13's coarse
    // centroids + grid codebooks), later batches land as crash-atomic
    // watermarked appends — then probed once converged. The converged
    // index answers exactly like the batch-built one (e14): shares
    // e13's oracle verbatim.
    "st14_stream_ann" -> ((s, dir) => {
      val (replay, idx, q) = st14Setup(s, dir)
      replay()
      graft.pipeline.Similarity.pqIndexTopK(s, idx, "vec_id", q, k = 25, nProbe = 2)
        .orderBy(col("score").desc, col("vec_id"))
    }),
    // Streaming sketch-store maintenance (st15): events replayed
    // time-ordered, each micro-batch's per-(type, day) HLL sketches
    // unioned into the at-rest store — days trickle in across batches
    // AND batches span day boundaries, so both the bootstrap and the
    // read-union-replace paths run. No batch-id watermark: HLL union is
    // a join-semilattice, so replays converge to the identical store.
    // Sparse regime ⇒ the converged store answers q34's COUNT(DISTINCT)
    // oracle exactly.
    "st15_stream_sketches" -> ((s, dir) => {
      val (replay, store) = st15Setup(s, dir)
      replay()
      graft.operators.Sketches.storedEstimate(s, store, Seq("event_type"))
        .orderBy("event_type")
    }),
    // Streaming KLL quantile-store maintenance (st16): documents
    // replayed in doc_id order, each micro-batch's per-(lang, source)
    // length sketches MERGED into the stored slice rows (read touched
    // buckets, kll-union, replace) — slices recur across batches, so
    // the non-idempotent read-merge-replace path runs repeatedly and
    // the in-row batch_id watermark is what makes replays safe. The
    // converged store answers q37's cume_dist oracle exactly (k ≥ n:
    // every merged sketch lossless).
    "st16_stream_quantiles" -> ((s, dir) => {
      val (replay, store) = st16Setup(s, dir)
      replay()
      graft.operators.Sketches.storedQuantiles(
          s, store, Seq("lang"), Seq(0.25, 0.5, 0.75, 0.95))
        .orderBy("lang")
    }),
    // Streaming count-min-store maintenance (st17): events replayed
    // time-ordered, each micro-batch's per-day frequency sketches MERGED
    // into the stored slice rows (read touched buckets, CMS table-sum,
    // replace). CMS is linear-additive — a replayed batch would DOUBLE
    // every count — so the in-row batch_id watermark (st16's mechanism,
    // forced by the same algebraic failure) is what makes replays safe.
    // The converged store then answers heavy hitters exactly: MG
    // candidates from the corpus, one-sided stored-sketch estimates as
    // the filter (est ≥ true — cannot drop a hitter), exact recount —
    // q39's brute-force oracle verbatim.
    "st17_stream_freq" -> ((s, dir) => {
      val (replay, store) = st17Setup(s, dir)
      replay()
      graft.operators.Sketches.storedHeavyHitters(
          s, store, Fixtures.events(s, dir), "user_id", phi = 0.008)
        .orderBy("user_id")
    }),
    "st8_stream_enrich" -> ((s, dir) => {
      val (replay, out) = st8Setup(s, dir)
      replay()
      s.read.parquet(out).orderBy("event_id")
    }),
    "st9_stream_attribution" -> ((s, dir) => {
      val (replay, out) = st9Setup(s, dir)
      replay()
      s.read.parquet(out).orderBy("click_id", "view_id")
    }),
    "st10_stream_cdc" -> ((s, dir) => {
      val (replay, target) = st10Setup(s, dir)
      replay()
      PartitionedTarget.read(s, target).orderBy("o_orderkey")
    }),
    "st7_stream_unique" -> ((s, dir) => {
      val (replay, out) = st7Setup(s, dir)
      replay()
      // Sentinel windows land past every real hour; cut at the batch max
      // OF THE SAME SLICE the harness replays (the sentinel sits 3 h past
      // the slice's max, not the corpus's).
      val maxHour = Fixtures.events(s, dir).filter(col("user_id") % 10 === 0)
        .agg(max(date_trunc("hour", col("ts")))).first().get(0)
      s.read.parquet(out).filter(col("hour") <= lit(maxHour)).orderBy("hour")
    }))

  /** Untimed setup for st7 (streaming exact distinct-per-window via
    * CHAINED stateful operators — watermark-evicted dedup feeding a
    * watermarked windowed count): (us, user_id) replayed time-ordered,
    * st3's two-sentinel close (sentinel user −1 at max+3 h/+6 h) flushes
    * every real window. Converged sink == the batch
    * count(DISTINCT user_id) per hour — SQL-expressible, the st-family
    * oracle discipline.
    */
  private[graft] def st7Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st7")
    val out = s"$scratch/out"
    // Deterministic 1-in-10 user slice: the chained-stateful plan is the
    // thing under test; replaying every event only scales the harness
    // cost (the full-corpus twin is the batch q18/t6 family).
    val rows = Fixtures.events(s, dir)
      .filter(col("user_id") % 10 === 0)
      .select(unix_micros(col("ts").cast("timestamp")).as("us"), col("user_id"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val maxUs = rows.last._1
    val hourUs = 3600L * 1000000L
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("us", "user_id")
      .select(timestamp_micros(col("us")).as("ts"), col("user_id"))
    val agg = graft.streaming.StreamingUpsert.hourlyUniqueUsers(stream, "ts", "user_id")
    // Two chained stateful operators double the per-partition commit
    // cost — see pinnedStateParts.
    val q = pinnedStateParts(s, 8)(agg
      .select(col("window.start").cast("timestamp_ntz").as("hour"), col("n_users"))
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", s"$scratch/cp")
      .start())
    val replay = () =>
      try {
        rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
        mem.addData((maxUs + 3 * hourUs, -1L)); q.processAllAvailable()
        mem.addData((maxUs + 6 * hourUs, -1L)); q.processAllAvailable()
        stProfileDump("st7", q)
      } finally q.stop()
    (replay, out)
  }

  /** Untimed setup for st6 (streaming per-source admission quota): the
    * documents table replayed doc_id-ordered through
    * [[graft.streaming.StreamingQuota.admit]] (quota 15/source) into an
    * append parquet sink. The operator sorts each micro-batch's group
    * slice by id, and batches are cut in doc_id order, so the converged
    * sink is EXACTLY the first 15 docs per source by doc_id — the
    * row_number SQL twin, a real cross-engine oracle for the stateful
    * admission path (st1's convention). Contrast with s3: the batch cap
    * is a frozen-uniform hash sample; the quota is arrival-order
    * admission control.
    */
  private[graft] def st6Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st6")
    val out = s"$scratch/out"
    val rows = Fixtures.table(s, dir, "documents").select(col("source"), col("doc_id"))
      .as[(String, Long)].collect().sortBy(_._2)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(String, Long)]
    val q = pinnedStateParts(s, 8)(StreamingQuota.admit(mem.toDS(), quota = 15)
      .toDF("source", "doc_id")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", s"$scratch/cp")
      .start())
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, out)
  }

  /** Untimed setup for st12 (streaming sniff-quarantine gate): the mm13
    * mixed corpus — real PNG/GIF/WAV containers plus text-as-binary
    * liars — replayed in N batches through the STATELESS magic-byte
    * gate into the verdict-partitioned exactly-once file sink.
    * Stateless, so the converged sink is exactly the batch sniff, and
    * the planted container types are closed-form in doc_id — a real
    * cross-engine oracle. Driver staging is ~100 small containers
    * (harness, not operator; the st11 file-source shape applies
    * unchanged if the corpus outgrows the driver).
    */
  private[graft] def st12Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st12")
    val out = s"$scratch/out"
    val d = Fixtures.table(s, dir, "documents")
    val mixed = Multimodal.synthesizePngs(d.filter(col("doc_id") < 25), "doc_id")
      .unionByName(Multimodal.synthesizeGifs(
        d.filter(col("doc_id") >= 25 && col("doc_id") < 50), "doc_id"))
      .unionByName(Multimodal.synthesizeWavs(
        d.filter(col("doc_id") >= 50 && col("doc_id") < 75), "doc_id"))
      .unionByName(Multimodal.ingestBinary(
        d.filter(col("doc_id") >= 75 && col("doc_id") < 100), "doc_id", "text"))
      .unionByName(Multimodal.synthesizeJpegs(
        d.filter(col("doc_id") >= 100 && col("doc_id") < 125), "doc_id"))
    val rows = mixed.select(col("doc_id"), col("payload"),
        col("meta.media_type"), col("meta.n_bytes"), col("meta.digest"))
      .as[(Long, Array[Byte], String, Long, String)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, Array[Byte], String, Long, String)]
    val stream = mem.toDS().toDF("doc_id", "payload", "media_type", "n_bytes", "digest")
      .select(col("doc_id"), col("payload"),
        struct(col("media_type"), col("n_bytes"), col("digest")).as("meta"))
    val q = StreamingMultimodal.gateTo(stream, out, s"$scratch/cp")
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, out)
  }

  /** Untimed setup for st18 (streaming ingest gate): the j1 corrupted
    * JSONL fixture staged as `NBatches` shard files and tailed by a
    * `readStream` TEXT source (`maxFilesPerTrigger=1` — one shard per
    * micro-batch), each batch routed through the stateless
    * [[StreamingIngest]] quarantine gate into the verdict-partitioned
    * exactly-once sink. Nothing is ever staged on the driver (the st11
    * file-source shape), so this harness runs at any scale factor.
    * Stateless gate ⇒ the converged `routed=clean` partition is exactly
    * the batch j1 clean read — one damage rule, one oracle, shared.
    */
  private[graft] def st18Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    val scratch = Fixtures.scratchDir("graft-st18")
    val out = s"$scratch/out"
    val stage = IngestQueries.jsonlFixture(s, dir, nFiles = NBatches)
    val replay = () => {
      val stream = s.readStream.option("maxFilesPerTrigger", 1).text(stage)
      val q = StreamingIngest.ingestTo(
        stream, "value", IngestQueries.jsonlSchema, out, s"$scratch/cp")
      try q.processAllAvailable() finally q.stop()
    }
    (replay, out)
  }

  /** Untimed setup for st23 (streaming WARC gate): the WARC shard tree
    * staged as one file per micro-batch, tailed by a readStream.text
    * with the record delimiter (the batch scan's TextOptions apply to
    * the stream source unchanged), routed through the stateless
    * parseWarc gate into the verdict-partitioned exactly-once sink.
    */
  private[graft] def st23Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    val scratch = Fixtures.scratchDir("graft-st23")
    val out = s"$scratch/out"
    val stage = IngestQueries.warcFixture(s, dir, nFiles = NBatches)
    val replay = () => {
      val stream = s.readStream
        .option("maxFilesPerTrigger", 1).option("lineSep", "WARC/1.0\r\n")
        .text(stage).toDF("value")
        .filter(length(col("value")) > 0)
      val q = StreamingIngest.warcTo(stream, "value", out, s"$scratch/cp")
      try q.processAllAvailable() finally q.stop()
    }
    (replay, out)
  }

  /** Untimed setup for st13 (streaming BM25 index maintenance): the full
    * documents table replayed id-ordered in N disjoint batches (the
    * append contract: an id enters the stream once) through
    * [[StreamingIndex.bm25IndexTo]]. Driver staging is harness-only, the
    * st-family convention; the engine path (tokenize + bucketed posting
    * append per batch) is the thing under test.
    */
  private[graft] def st13Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st13")
    val idx = s"$scratch/idx"
    val rows = Fixtures.table(s, dir, "documents").select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, String)]
    val q = StreamingIndex.bm25IndexTo(
      mem.toDS().toDF("doc_id", "text"), idx, s"$scratch/cp", "doc_id", "text")
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, idx)
  }

  /** Untimed setup for st14 (streaming ANN index maintenance): the full
    * embeddings table replayed id-ordered in N disjoint batches through
    * [[StreamingIndex.pqIndexTo]] with e13's fixed model (centroids =
    * vec_id < 8, grid codebooks — trained-upstream-on-a-sample is the
    * C96 contract). Returns the replay thunk, the index path, and the
    * probe vector (vec 100's embedding — e13/e14's query).
    */
  private[graft] def st14Setup(
      s: SparkSession, dir: String): (() => Unit, String, Seq[Double]) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st14")
    val idx = s"$scratch/idx"
    val v = Fixtures.table(s, dir, "embeddings")
    val cents = v.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val cb = graft.pipeline.Similarity.pqGridCodebooks(dim = 64, m = 8, k = 16)
    val q = v.filter(col("vec_id") === 100).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toSeq
    val rows = v.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, Seq[Double])]
    val stream = mem.toDS().toDF("vec_id", "embedding")
    val qy = StreamingIndex.pqIndexTo(stream, idx, s"$scratch/cp",
      "vec_id", "embedding", cents, cb)
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); qy.processAllAvailable() }
      finally qy.stop()
    (replay, idx, q)
  }

  /** Untimed setup for st15 (streaming sketch-store maintenance): events
    * replayed time-ordered in N batches through
    * [[StreamingIndex.sketchStoreTo]] with (event_type, day) slices and
    * user_id as the sketched value. Time order makes the fixture honest:
    * early batches bootstrap the store, later ones union arriving
    * fragments of days the store already holds.
    */
  private[graft] def st15Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st15")
    val store = s"$scratch/store"
    val rows = Fixtures.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("us"),
        col("event_type"), col("user_id"))
      .as[(Long, Long, String, Long)].collect().sortBy(r => (r._2, r._1))
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, Long, String, Long)]
    val stream = mem.toDF().toDF("event_id", "us", "event_type", "user_id")
      .select(col("event_type"), to_date(timestamp_micros(col("us"))).as("day"),
        col("user_id"))
    val q = StreamingIndex.sketchStoreTo(
      stream, store, s"$scratch/cp", Seq("event_type", "day"), "user_id")
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, store)
  }

  /** Untimed setup for st20 (streaming classifier gate): weights
    * trained once on the static corpus (the gate carries them frozen),
    * then the FEATURE rows replayed across N micro-batches through the
    * stateless scoring gate into the verdict-partitioned sink.
    */
  private[graft] def st20Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st20")
    val out = s"$scratch/out"
    val feats = PipelineQueries.classifierFeatures(Fixtures.table(s, dir, "documents"))
    val w = graft.pipeline.Classifier.trainLogistic(
      feats, Seq("x1", "x2", "x3"), "y", iters = 3, lr = 1.0)
    val rows = feats.as[(Long, Double, Double, Double, Double)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, Double, Double, Double, Double)]
    val stream = mem.toDF().toDF("doc_id", "x1", "x2", "x3", "y")
    val q = graft.streaming.StreamingScore.scoreTo(
      stream, w, Seq("x1", "x2", "x3"), threshold = 0.5, out, s"$scratch/cp")
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, out)
  }

  /** Untimed setup for st21 (streaming multiclass router): the softmax
    * langid matrix trains on the seed UPSTREAM and freezes; the corpus
    * streams as raw (doc_id, lang, text) rows and the router computes
    * the trigram-hash features IN-STREAM (a stateless projection), so
    * the stream carries text, not a 16-column feature tuple.
    */
  private[graft] def st21Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st21")
    val out = s"$scratch/out"
    val w = PipelineQueries.langidWeights(s)
    val rows = Fixtures.table(s, dir, "documents")
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, String, String)]
    val stream = PipelineQueries.langidFeatures(
      mem.toDF().toDF("doc_id", "lang", "text"))
    val q = graft.streaming.StreamingScore.routeTo(
      stream, w, PipelineQueries.LangidFeatureCols, PipelineQueries.LangidLangs,
      out, s"$scratch/cp")
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, out)
  }

  /** Untimed setup for st22 (streaming LM-perplexity gate): the CCNet
    * pipeline's deployable form. Upstream and FROZEN: the classifier-
    * bootstrapped reference slice, the modified-KN trigram model
    * trained on it, and the per-lang tercile cutoffs read off the batch
    * calibration run (max avg_nll within ntile buckets 1 and 2 — a
    * lang-bounded collect). The corpus then streams as raw
    * (doc_id, lang, text) rows; each micro-batch runs the batch scorer
    * under foreachBatch into its own replay-safe batch directory.
    */
  private[graft] def st22Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st22")
    val out = s"$scratch/out"
    val d = Fixtures.table(s, dir, "documents")
    val rows = d.select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, String, String)]
    val stream = mem.toDF().toDF("doc_id", "lang", "text")
    // The model is pinned while the calibration reads it, then cut for
    // the gate: it outlives this call (every micro-batch joins it), and
    // the replay frees it once the stream stops. Cut from the cache, the
    // leaf carries the model's measured size, small enough to plan every
    // batch's model and scoring-table joins as broadcasts; cut from the
    // n-gram aggregate, it carries the aggregate's size estimate and
    // every batch plans shuffle joins. The scored cut the model was
    // trained from is read by nothing after that.
    val scored = PipelineQueries.classifierScored(d)
    val (q, model) = try graft.Lineage.pinned(TextStats.ngramCounts(
        d.join(scored.filter(col("accepted")).select("doc_id"), Seq("doc_id")), "text", 3)) { m =>
      // Batch calibration: the p9 terciles, read off as frozen cutoffs
      // (one (lang, c1, c2) row per language — bounded collect).
      val calib = TextStats.mknNgramNllAgainst(d, m, "doc_id", "text", 3)
        .join(d.select("doc_id", "lang"), Seq("doc_id"))
        .withColumn("bucket", ntile(3).over(
          Window.partitionBy("lang").orderBy(col("avg_nll"), col("doc_id"))))
        .groupBy("lang").agg(
          max(when(col("bucket") === 1, col("avg_nll"))).as("c1"),
          max(when(col("bucket") === 2, col("avg_nll"))).as("c2"))
        .collect()
      // A lang with < 2 scored docs has no bucket-2 rows ⇒ c2 is NULL:
      // leave it out of the cutoff map (absent ⇒ the gate's tail CASE),
      // matching the oracle's `avg_nll <= NULL ⇒ ELSE 3` semantics.
      val cut1 = calib.collect {
        case r if !r.isNullAt(1) => (r.getString(0), r.getDouble(1))
      }.toMap
      val cut2 = calib.collect {
        case r if !r.isNullAt(2) => (r.getString(0), r.getDouble(2))
      }.toMap
      val model = graft.Lineage.cut(m)
      (graft.streaming.StreamingScore.lmGateTo(
        stream, "doc_id", "text", "lang", model, cut1, cut2, out, s"$scratch/cp"), model)
    } finally graft.Lineage.free(scored)
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally { q.stop(); graft.Lineage.free(model) }
    (replay, out)
  }

  /** Untimed setup for st25 (persisted multiclass router): st21's
    * chain with the softmax matrix — weights, feature columns, class
    * labels — loaded from a [[graft.pipeline.ModelStore]] directory
    * instead of handed across in memory. The model is PUBLISHED under
    * the version registry and the serving session resolves "current
    * model" through the pointer — with a half-saved, UNPUBLISHED v=2
    * retrain sitting beside it that the pointer must ignore (the
    * mid-swap window; st25's oracle staying green pins that the gate
    * followed the pointer to the completed version).
    */
  private[graft] def st25Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st25")
    val out = s"$scratch/out"
    val root = s"$scratch/router"
    graft.pipeline.ModelStore.saveSoftmax(s, PipelineQueries.langidWeights(s),
      PipelineQueries.LangidFeatureCols, PipelineQueries.LangidLangs, s"$root/v=1")
    graft.pipeline.ModelStore.publishVersion(s, root, 1)
    // A retrain IN FLIGHT: v=2's weights landed but its meta (and the
    // publish) never did — resolveLatest must keep answering v=1.
    s.read.parquet(s"$root/v=1/weights")
      .write.mode("overwrite").parquet(s"$root/v=2/weights")
    val (w, wf, labels) = graft.pipeline.ModelStore.loadSoftmax(
      s, graft.pipeline.ModelStore.resolveLatest(s, root))
    val rows = Fixtures.table(s, dir, "documents")
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, String, String)]
    val stream = PipelineQueries.langidFeatures(
      mem.toDF().toDF("doc_id", "lang", "text"))
    val q = graft.streaming.StreamingScore.routeTo(
      stream, w, wf, labels, out, s"$scratch/cp")
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, out)
  }

  /** Untimed setup for st24 (persisted-artifact LM gate): st22's chain
    * with a HARD session boundary between training and serving — the
    * logistic weights, the trigram count frame, and the per-lang
    * cutoffs persist as ONE versioned gate bundle under the
    * [[graft.pipeline.ModelStore]] version registry, and the GATE is
    * built exclusively from artifacts the serving session resolves
    * through the registry POINTER (the r19 ask — no caller path
    * reaches serving; the bundle directory is immutable, so a reader
    * mid-retrain sees old-or-new, never torn). Like st25, a
    * half-landed v=2 retrain (lm data landed, publish never happened)
    * sits beside v=1 and the pointer must ignore it. The oracle being
    * st22's pins the store's bit-identity on the serving path.
    */
  private[graft] def st24Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st24")
    val out = s"$scratch/out"
    val root = s"$scratch/gate"
    val d = Fixtures.table(s, dir, "documents")
    // ---- train-time session: fit, calibrate, PERSIST, PUBLISH. ----
    val feats = PipelineQueries.classifierFeatures(d)
    graft.pipeline.ModelStore.saveLogistic(s,
      graft.pipeline.Classifier.trainLogistic(
        feats, Seq("x1", "x2", "x3"), "y", iters = 3, lr = 1.0),
      Seq("x1", "x2", "x3"), s"$root/v=1/clf")
    val (w0, wf0) = graft.pipeline.ModelStore.loadLogistic(s, s"$root/v=1/clf")
    val ref = d.join(
      graft.pipeline.Classifier.score(feats, w0, wf0, threshold = 0.5)
        .filter(col("accepted")).select("doc_id"),
      Seq("doc_id"))
    val trained = TextStats.ngramCounts(ref, "text", 3)
    graft.pipeline.ModelStore.saveNgram(trained, s"$root/v=1/lm", order = 3)
    TextStats.mknNgramNllAgainst(d, trained, "doc_id", "text", 3)
      .join(d.select("doc_id", "lang"), Seq("doc_id"))
      .withColumn("bucket", ntile(3).over(
        Window.partitionBy("lang").orderBy(col("avg_nll"), col("doc_id"))))
      .groupBy("lang").agg(
        max(when(col("bucket") === 1, col("avg_nll"))).as("c1"),
        max(when(col("bucket") === 2, col("avg_nll"))).as("c2"))
      .coalesce(1).write.mode("overwrite").parquet(s"$root/v=1/cutoffs")
    graft.pipeline.ModelStore.publishVersion(s, root, 1)
    // A retrain IN FLIGHT: v=2's lm counts landed but the rest of the
    // bundle (and the publish) never did — resolveLatest must keep
    // answering the complete v=1.
    s.read.parquet(s"$root/v=1/lm/counts")
      .write.mode("overwrite").parquet(s"$root/v=2/lm/counts")
    // ---- serving session: NO caller path reaches it — the gate
    // resolves the registry pointer per micro-batch and loads the
    // published bundle (lmGateRegistryTo), so it would follow a
    // mid-stream publish at the next batch boundary, old-or-new.
    val rows = d.select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, String, String)]
    val stream = mem.toDF().toDF("doc_id", "lang", "text")
    val q = graft.streaming.StreamingScore.lmGateRegistryTo(
      stream, "doc_id", "text", "lang", root, out, s"$scratch/cp")
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, out)
  }

  /** Untimed setup for st19 (streaming vocabulary store): documents
    * replayed in doc_id order across N batches — every batch carries
    * mostly already-seen tokens, so stored count rows are
    * read-summed-replaced again and again (the linear-additive path the
    * in-row watermark exists for).
    */
  private[graft] def st19Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st19")
    val store = s"$scratch/store"
    val rows = Fixtures.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = StreamingIndex.vocabStoreTo(stream, store, s"$scratch/cp", "text")
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, store)
  }

  /** Untimed setup for st26 (streaming n-gram store): documents
    * replayed in doc_id order across N batches — adjacent batches share
    * most of their gram vocabulary, so stored count rows are
    * read-summed-replaced again and again (the linear-additive path the
    * in-row watermark exists for).
    */
  private[graft] def st26Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    val (first, rest, store) = st26SetupPhased(s, dir, "graft-st26")
    (() => { first(); rest() }, store)
  }

  /** st26's fixture replay split at the LAST batch — the two-phase
    * shape st27's incremental refresh needs: index version 1 compiles
    * after the prefix, the store then ADVANCES past it (the last
    * batch), and the refresh must carry the index to the new
    * watermark. Phase 2 also stops the query; phase 1 must run first.
    */
  private[graft] def st26SetupPhased(
      s: SparkSession, dir: String,
      scratchName: String = "graft-st26"): (() => Unit, () => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir(scratchName)
    val store = s"$scratch/store"
    val rows = Fixtures.table(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val batches = rows.grouped(per).toSeq
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = StreamingIndex.ngramStoreTo(stream, store, s"$scratch/cp", "text",
      order = 5)
    val first = () =>
      try batches.dropRight(1).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      catch { case e: Throwable => q.stop(); throw e }
    val rest = () =>
      try batches.takeRight(1).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (first, rest, store)
  }

  /** Untimed setup for st17 (streaming count-min store): events replayed
    * time-ordered across N batches — days straddle batch boundaries, so
    * stored slice rows are read-merged-replaced (the linear-additive
    * path the in-row watermark exists for).
    */
  private[graft] def st17Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st17")
    val store = s"$scratch/store"
    val rows = Fixtures.events(s, dir)
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("us"),
        col("user_id"))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._2, r._1))
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, Long, Long)]
    val stream = mem.toDF().toDF("event_id", "us", "user_id")
      .select(to_date(timestamp_micros(col("us"))).as("day"), col("user_id"))
    // eps=1e-3: the narrow width the q40 convention uses — the
    // through-store report stays exact at any eps (one-sided filter +
    // exact recount), only the per-batch bucket I/O shrinks.
    val q = StreamingIndex.freqStoreTo(
      stream, store, s"$scratch/cp", Seq("day"), "user_id", eps = 1e-3)
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, store)
  }

  /** Untimed setup for st16 (streaming KLL quantile store): documents
    * replayed in doc_id order across N batches — every batch holds rows
    * of most (lang, source) slices, so stored slice rows are
    * read-merged-replaced again and again (the non-idempotent path the
    * in-row watermark exists for).
    */
  private[graft] def st16Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st16")
    val store = s"$scratch/store"
    val rows = Fixtures.table(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .as[(Long, String, String, Long)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, String, String, Long)]
    val stream = mem.toDF().toDF("doc_id", "lang", "source", "n_chars")
    val q = StreamingIndex.quantileStoreTo(
      stream, store, s"$scratch/cp", Seq("lang", "source"), "n_chars")
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, store)
  }

  /** Untimed setup for st8 (stream-static enrichment): events replayed in
    * N batches, each micro-batch inner-joined to the broadcast
    * customer×nation dimension — a hash probe per batch, no shuffle of
    * the stream side, ZERO streaming state. Stateless, so the converged
    * sink is exactly the batch join — a real cross-engine oracle.
    */
  private[graft] def st8Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st8")
    val out = s"$scratch/out"
    val dim = Fixtures.table(s, dir, "customer")
      .join(Fixtures.table(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_mktsegment"), col("n_name"))
    val rows = Fixtures.events(s, dir)
      .select("event_id", "user_id", "value")
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, Long, Double)]
    val enriched = graft.streaming.StreamingJoin.enrich(
      mem.toDF().toDF("event_id", "user_id", "value"),
      dim, Seq("user_id" -> "c_custkey"))
      .select("event_id", "user_id", "value", "c_mktsegment", "n_name")
    val q = pinnedStateParts(s, 8)(enriched
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", s"$scratch/cp")
      .start())
    val replay = () =>
      try rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
      finally q.stop()
    (replay, out)
  }

  /** Untimed setup for st9 (watermarked stream-stream interval join —
    * attribution): click and view branches of one replayed event stream,
    * both watermarked 5 h, joined on user within
    * `[view_ts, view_ts + 240 min]`. Buffered-state eviction follows the
    * watermark, so state ∝ window × arrival rate, not stream history;
    * delay (5 h) > window (4 h) and the replay is time-ordered, so no
    * in-window pair is ever late — the converged sink equals the batch
    * interval join exactly (inner append: pairs emit on match, no
    * sentinel close needed).
    */
  private[graft] def st9Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    import s.implicits._
    implicit val ctx: SQLContext = s.sqlContext
    val scratch = Fixtures.scratchDir("graft-st9")
    val out = s"$scratch/out"
    val rows = Fixtures.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_id"), unix_micros(col("ts").cast("timestamp")).as("us"),
        col("user_id"), col("event_type"))
      .as[(Long, Long, Long, String)].collect().sortBy(_._2)
    val per = math.max(1, (rows.length + NBatches - 1) / NBatches)
    val mem = MemoryStream[(Long, Long, Long, String)]
    val ev = mem.toDF().toDF("event_id", "us", "user_id", "event_type")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"),
        col("user_id"), col("event_type"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "5 hours")
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "5 hours")
    val joined = graft.streaming.StreamingJoin.intervalJoin(
      clicks, views, "click_user", "view_user", "click_ts", "view_ts",
      windowMinutes = 240)
      .select(col("click_id"), col("view_id"), col("click_user").as("user_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("view_ts")).as("view_us"))
    val q = pinnedStateParts(s, 8)(joined
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", s"$scratch/cp")
      .start())
    val replay = () =>
      try {
        rows.grouped(per).foreach { b => mem.addData(b.toIndexedSeq: _*); q.processAllAvailable() }
        stProfileDump("st9", q)
      } finally q.stop()
    (replay, out)
  }

  /** Untimed setup for st10 (streaming CDC apply): m15's I/U/D feed split
    * into file-source micro-batches (one parquet file per batch via
    * maxFilesPerTrigger=1 under an AvailableNow trigger) applied
    * continuously to a PARTITIONED orders target through
    * [[graft.streaming.StreamingCdc]] — each batch's read/rewrite/swap
    * prunes to its keys' buckets. Ops are one-per-key and commute across
    * keys, so the converged target state is independent of batch order
    * and equals the one-shot batch apply: m15's oracle, verbatim.
    */
  private[graft] def st10Setup(s: SparkSession, dir: String): (() => Unit, String) = {
    val scratch = Fixtures.scratchDir("graft-st10")
    val target = s"$scratch/t"
    val feedDir = s"$scratch/feed"

    val t = Fixtures.ordersTarget(s, dir)
    PartitionedTarget.write(t, target,
      PartitionSpec(Seq("o_orderkey"), 32, HashMode.Xxhash64))

    val src = Fixtures.ordersSource(s, dir)
    val tKeys = t.select("o_orderkey")
    val dels = t.filter(col("o_orderkey") % 13 === 0).withColumn("op", lit("D"))
    val updates = src.join(tKeys, Seq("o_orderkey"), "left_semi")
      .filter(col("o_orderkey") % 13 =!= 0).withColumn("op", lit("U"))
    val inserts = src.join(tKeys, Seq("o_orderkey"), "left_anti")
      .withColumn("op", lit("I"))
    val feed = dels.unionByName(updates).unionByName(inserts)
    feed.repartition(NBatches, col("o_orderkey")).write.parquet(feedDir)

    val stream = s.readStream.schema(feed.schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val w = graft.streaming.StreamingCdc.writer(stream, target, Seq("o_orderkey"))
      .option("checkpointLocation", s"$scratch/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
    val replay = () => pinnedStateParts(s, 8) {
      val q = w.start()
      try q.awaitTermination() finally q.stop()
    }
    (replay, target)
  }

  val oracleSql: Map[String, String] = Map(
    // st13: the converged streamed index holds exactly the batch-built
    // index's content (bootstrap + disjoint watermarked appends over the
    // full table), and the probe shares the live scorer's contribution
    // tree — t23's oracle verbatim (the t25 precedent).
    "st13_stream_bm25" -> PipelineQueries.oracleSql("t23_bm25"),
    // st14: the converged streamed IVFADC index holds exactly the
    // batch-built index's codes (bootstrap + disjoint watermarked
    // appends, model fixed), so the probe == e14 == e13's composed
    // replay oracle verbatim.
    "st14_stream_ann" -> PipelineQueries.oracleSql("e13_ivfpq_topk"),
    // st15: the converged sketch store answers the exact distinct in the
    // sparse regime (q34's oracle) — replay-idempotent by the HLL
    // semilattice argument, so convergence needs no watermark.
    "st15_stream_sketches" -> AnalyticQueries.oracleSql("q34_sketch_distinct"),
    // st16: the converged quantile store answers exactly like the batch
    // q37 — same inclusive-rule oracle.
    "st16_stream_quantiles" -> AnalyticQueries.oracleSql("q37_kll_quantiles"),
    // st17: the converged count-min store routes q39's exact-heavy-hitter
    // pipeline (one-sided estimates cannot drop a true hitter).
    "st17_stream_freq" -> AnalyticQueries.oracleSql("q39_heavy_hitters"),
    // st10: CDC ops are one-per-key and commute across keys, so the
    // converged streamed state == the one-shot batch apply (m15's SQL).
    "st10_stream_cdc" ->
      s"""${Fixtures.ordersCtes},
         |feed_keys AS (
         |  SELECT o_orderkey FROM tgt WHERE o_orderkey % 13 = 0
         |  UNION
         |  SELECT s.o_orderkey FROM src s JOIN tgt t USING (o_orderkey)
         |  WHERE s.o_orderkey % 13 <> 0
         |  UNION
         |  SELECT s.o_orderkey FROM src s
         |  WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM tgt)
         |)
         |SELECT * FROM tgt WHERE o_orderkey NOT IN (SELECT o_orderkey FROM feed_keys)
         |UNION ALL
         |SELECT s.* FROM src s JOIN tgt t USING (o_orderkey) WHERE s.o_orderkey % 13 <> 0
         |UNION ALL
         |SELECT s.* FROM src s WHERE s.o_orderkey NOT IN (SELECT o_orderkey FROM tgt)
         |ORDER BY o_orderkey""".stripMargin) ++ Map(
    // st8: stateless stream-static enrichment == the batch join.
    "st8_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.value, c.c_mktsegment, n.n_name
        |FROM events e
        |JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |ORDER BY event_id""".stripMargin,
    // st9: the interval join replayed to convergence == the batch
    // event-time interval join.
    "st9_stream_attribution" ->
      """WITH e AS (SELECT event_id, ts, user_id, event_type FROM events)
        |SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
        |       epoch_us(c.ts) AS click_us, epoch_us(v.ts) AS view_us
        |FROM e c JOIN e v ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 240 MINUTE
        |ORDER BY click_id, view_id""".stripMargin,
    // Chained-stateful exact distinct per window converges to the batch
    // COUNT(DISTINCT) — the events table itself.
    "st7_stream_unique" ->
      """SELECT date_trunc('hour', ts) AS hour, count(DISTINCT user_id) AS n_users
        |FROM events WHERE user_id % 10 = 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    // Stateless sniff gate: the converged sink is the batch sniff of the
    // planted mixed corpus — container types closed-form in doc_id, the
    // text slice quarantined for lying about its bytes.
    "st12_stream_sniff" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 125)
        |SELECT doc_id,
        |  CASE WHEN doc_id < 25 THEN 'image/png'
        |       WHEN doc_id < 50 THEN 'image/gif'
        |       WHEN doc_id < 75 THEN 'audio/wav'
        |       WHEN doc_id < 100 THEN 'application/octet-stream'
        |       ELSE 'image/jpeg' END AS sniffed_type,
        |  CASE WHEN doc_id < 25 THEN 'image/png'
        |       WHEN doc_id < 50 THEN 'image/gif'
        |       WHEN doc_id < 75 THEN 'audio/wav'
        |       WHEN doc_id < 100 THEN 'text/plain'
        |       ELSE 'image/jpeg' END AS declared,
        |  CASE WHEN doc_id < 75 OR doc_id >= 100 THEN 'accepted'
        |       ELSE 'quarantine' END AS routed
        |FROM d ORDER BY doc_id""".stripMargin,
    // Arrival-order admission quota: batches replay in doc_id order and
    // the operator sorts each group slice by id, so the admitted set is
    // the first 15 docs per source by doc_id.
    "st6_stream_quota" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source,
        |         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents
        |) WHERE rn <= 15 ORDER BY doc_id""".stripMargin,
    // Streaming near-dup-on-ingest converged state (r14, index-backed):
    // delta×corpus pairs PLUS delta×earlier-batch-delta pairs — the
    // cross-batch pairing the at-rest signature index enables. Identical
    // inlined plane matrix and sign folds (hpSignatureSql — e6's twin);
    // batch assignment replayed as the same ceil-split arithmetic the
    // harness uses (rows id-ordered, per = ceil(n/4)); the occupancy cap
    // (2000) never binds at bench SFs (bucket occupancy ~47 at sf0.1) —
    // the corpus-side clause is retained for form.
    "st5_stream_neardup" ->
      s"""WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |n AS (
         |  SELECT vec_id + 10000 AS vec_id, list_transform(embedding::DOUBLE[], x -> x * 1.1 + 0.01) AS e
         |  FROM embeddings WHERE vec_id % 20 = 0
         |  UNION ALL
         |  SELECT vec_id + 20000 AS vec_id, list_transform(embedding::DOUBLE[], x -> x * 0.9 + 0.012) AS e
         |  FROM embeddings WHERE vec_id % 20 = 0
         |),
         |nb AS (
         |  SELECT vec_id,
         |         (row_number() OVER (ORDER BY vec_id) - 1)
         |           // GREATEST(1, ((SELECT count(*) FROM n) + ${NBatches - 1}) // $NBatches) AS b
         |  FROM n
         |),
         |${PipelineQueries.hpSignatureSql("c", "c")},
         |${PipelineQueries.hpSignatureSql("n", "n")},
         |cocc AS (
         |  SELECT vec_id, band, bucket FROM (
         |    SELECT *, count(*) OVER (PARTITION BY band, bucket) AS occ FROM csig
         |  ) WHERE occ <= ${PipelineQueries.EmbBucketCap}
         |),
         |cand AS (
         |  SELECT DISTINCT ns.vec_id AS new_id, cs.vec_id AS corpus_id
         |  FROM nsig ns JOIN cocc cs ON ns.band = cs.band AND ns.bucket = cs.bucket
         |  UNION
         |  SELECT DISTINCT a.vec_id AS new_id, d.vec_id AS corpus_id
         |  FROM nsig a JOIN nsig d ON a.band = d.band AND a.bucket = d.bucket
         |  JOIN nb ba ON ba.vec_id = a.vec_id
         |  JOIN nb bd ON bd.vec_id = d.vec_id
         |  WHERE ba.b > bd.b
         |),
         |allv AS (SELECT * FROM c UNION ALL SELECT * FROM n),
         |p AS (
         |  SELECT new_id, corpus_id,
         |         round(list_dot_product(x.e, y.e)
         |               / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS sim
         |  FROM cand JOIN n x ON new_id = x.vec_id JOIN allv y ON corpus_id = y.vec_id
         |)
         |SELECT new_id, corpus_id, sim FROM p WHERE sim >= 0.8
         |ORDER BY new_id, corpus_id""".stripMargin,
    // Converged state == the events table itself.
    "st1_stream_upsert" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // st11 is st1 through the file-source harness — same engine path,
    // same converged state, one oracle (the d9/d22 precedent).
    "st11_stream_file_upsert" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // st18 is j1 through the streaming file-source harness — stateless
    // gate, so the converged clean partition is the batch clean read:
    // one damage rule, one oracle (the st11/st12 precedent).
    "st18_stream_ingest" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 13 <> 0 ORDER BY doc_id""".stripMargin,
    // st23 shares j13's oracle verbatim — the streaming WARC gate is
    // stateless, so its converged clean partition is the batch read.
    "st23_warc_stream" ->
      """SELECT 'http://example.org/doc/' || doc_id AS uri,
        |       '200' AS http_status, text AS body
        |FROM documents WHERE doc_id % 17 <> 0 ORDER BY uri""".stripMargin,
    // st20 is t35's accepted slice through the streaming gate — frozen
    // weights, stateless scoring, so the converged accepted partition
    // replays with t35's own GD-round machinery.
    "st20_stream_score" -> PipelineQueries.st20OracleSql,
    // st21 is t44's corpus block through the streaming multiclass
    // router — frozen softmax matrix, stateless routing, so the
    // converged class partitions replay with t44's own machinery.
    "st21_stream_route" -> PipelineQueries.st21OracleSql,
    "st22_stream_lm_gate" -> PipelineQueries.st22OracleSql,
    // st24 is st22 with every frozen artifact loaded from disk — the
    // store's bit-identity makes the converged sink IDENTICAL, so
    // st22's oracle verbatim (the e14/t25 at-rest==live precedent).
    "st24_lm_gate_persisted" -> PipelineQueries.st22OracleSql,
    // st25 is st21 with the matrix from disk — bit-identical weights,
    // st21's oracle verbatim.
    "st25_route_persisted" -> PipelineQueries.st21OracleSql,
    // st19 is t31 through the maintained count store — the converged
    // store ranks into the batch vocabulary: t31's oracle verbatim.
    "st19_stream_vocab" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
        |r AS (SELECT token, n,
        |             row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id
        |      FROM c)
        |SELECT token_id, token, n FROM r WHERE token_id < 200
        |ORDER BY token_id""".stripMargin,
    // st26 is t61 through the maintained n-gram store — count
    // additivity means the converged store IS the one-pass model, so
    // the whole maintenance protocol is pinned by t61's oracle hash.
    "st26_stream_ngram" -> PipelineQueries.oracleSql("t61_mkn5_nll"),
    // st27 is t69 through the maintained store + index rebuild — one
    // hash pins maintainer, rebuild, and pruned serving together.
    "st27_lm_index_refresh" -> PipelineQueries.oracleSql("t69_mkn5_probe_indexed"),
    // Dedup-on-ingest converged state: every event exactly once, despite
    // the overlapping replay — again the events table itself.
    "st2_stream_dedup" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,
    // Timeout-flushed custom-state sessionization converges to the batch
    // t6 sessionization — same SQL, same aliases.
    "st4_stream_sessions" ->
      """WITH x AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |),
        |y AS (
        |  SELECT user_id, ts_us,
        |         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM x
        |)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM y GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    // Watermark-flushed windowed aggregation converges to the batch q12
    // aggregation — same SQL, same aliases.
    "st3_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |       count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY hour, event_type""".stripMargin)
}
