package graft.streaming

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.GraftSuite
import graft.merge.{PartitionSpec, PartitionedTarget}
import graft.pipeline.HashMode

/** Streaming-extension specs: micro-batch upsert convergence and the
  * watermarked window aggregation — on both plain-parquet and
  * partition-scoped targets (the latter pins the O(delta) per-batch
  * contract: untouched bucket files stay byte-identical).
  */
class StreamingUpsertSpec extends GraftSuite {
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  test("streaming near-dup ingest converges to the batch incremental pairing, zero state") {
    import graft.pipeline.Similarity
    // 20 well-spread corpus vectors; the incoming stream carries exact
    // copies of 0 and 7 plus one vector unrelated to everything.
    val corpusRows = (0L until 20L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 13.0 + d * 5.0)))
    }
    val deltaRows = Seq(
      100L -> corpusRows(0)._2, 107L -> corpusRows(7)._2,
      200L -> Array.tabulate(8)(d => if (d % 2 == 0) 1.0 else -1.0))
    val corpus = corpusRows.toDF("vec_id", "embedding")
    val delta = deltaRows.toDF("vec_id", "embedding")

    val expected = Similarity.withHyperplaneIncrementalPairs(
      delta, corpus, "vec_id", "embedding", dim = 8, threshold = 0.999,
      nBits = 16, bandBits = 4)(
      _.select("new_id", "corpus_id").as[(Long, Long)].collect().toSet)
    assert(expected.contains((100L, 0L)) && expected.contains((107L, 7L)))
    // Delta×corpus only: the corpus' own near-identical rows never pair.
    assert(expected.forall(_._1 >= 100L))

    val scratch = Files.createTempDirectory("graft-stream-neardup").toString
    val idx = StreamingNearDup.indexCorpus(corpus, "vec_id", "embedding", dim = 8,
      nBits = 16, bandBits = 4)
    val mem = MemoryStream[(Long, Array[Double])]
    val q = StreamingNearDup.ingestTo(
      mem.toDF().toDF("vec_id", "embedding"), idx, "vec_id", "embedding",
      threshold = 0.999, s"$scratch/pairs", s"$scratch/cp")
    try {
      deltaRows.grouped(2).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // Stateless contract: no state-store rows accrete across batches.
      assert(q.lastProgress.stateOperators.forall(_.numRowsTotal == 0))
    } finally {
      q.stop()
      idx.release()
    }
    val streamed = StreamingNearDup.readPairs(spark, s"$scratch/pairs")
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(streamed === expected)
  }

  /** (relative path → (mtime, length)) for data files under bucket dirs. */
  private def snapshotBuckets(root: String): Map[String, (Long, Long)] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter(p => base.relativize(p).toString.contains(PartitionedTarget.BucketCol + "="))
      .map(p => base.relativize(p).toString -> (Files.getLastModifiedTime(p).toMillis, Files.size(p)))
      .toMap
  }

  private def bucketOfPath(rel: String): Int =
    rel.split('/').find(_.startsWith(PartitionedTarget.BucketCol + "="))
      .map(_.split('=')(1).toInt).getOrElse(sys.error(s"no bucket in $rel"))

  test("streaming sessionize: gap splits, cross-batch continuation, timeout flush, lifetime idx") {
    import org.apache.spark.sql.functions.timestamp_micros
    val dir = Files.createTempDirectory("stream-sess")
    val out = dir.resolve("out").toString
    // Offset from epoch 0: an event at exactly ts=0 ties the INITIAL
    // watermark and is dropped as late — a degenerate boundary no real
    // stream sits on.
    def us(min: Long): Long = (min + 1000) * 60L * 1000000L
    val mem = MemoryStream[(Long, Long)]
    val stream = mem.toDF().toDF("k", "us")
      .select(col("k"), timestamp_micros(col("us")).as("ts"))
      .withWatermark("ts", "10 minutes")
    val q = StreamingSessionize.byGap(stream, "k", "ts", gapMinutes = 30).toDF()
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", dir.resolve("cp").toString)
      .start()
    try {
      // Batch 1: user 1 opens a session; user 2 opens one.
      mem.addData((1L, us(0)), (1L, us(10)), (2L, us(5)))
      q.processAllAvailable()
      // Batch 2: user 1 CONTINUES (within gap of us(10)); then a >gap
      // event closes session 1 and opens session 2 in the same batch.
      mem.addData((1L, us(30)), (1L, us(90)))
      q.processAllAvailable()
      // Sentinel far ahead: watermark passes every gap horizon; the
      // event-time timeout flushes user 1's session 2 and user 2's
      // session 1.
      mem.addData((99L, us(1000))); q.processAllAvailable()
      mem.addData((99L, us(2000))); q.processAllAvailable()
      // A new event for user 1 AFTER its state timed out: lifetime
      // numbering must continue at 3, not restart at 1.
      mem.addData((1L, us(2100))); q.processAllAvailable()
      mem.addData((99L, us(4000))); q.processAllAvailable()
      mem.addData((99L, us(6000))); q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out).filter(col("key") =!= "99")
      .select(col("key"), col("session_idx"), col("n_events"), col("start_us"), col("end_us"))
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      ("1", 1L, 3L, us(0), us(30)),   // closed by the in-batch gap
      ("1", 2L, 1L, us(90), us(90)),  // flushed by timeout
      ("1", 3L, 1L, us(2100), us(2100)), // lifetime idx survives timeout
      ("2", 1L, 1L, us(5), us(5))))   // flushed by timeout
  }

  test("dedupedAppendTo suppresses duplicate keys within and across micro-batches") {
    val dir = Files.createTempDirectory("stream-dedup")
    val target = dir.resolve("t").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamingUpsert.dedupedAppendTo(
      mem.toDF().toDF("k", "v"), target, Seq("k"), dir.resolve("cp").toString)
    try {
      mem.addData((1L, "a"), (2L, "b"), (1L, "a")) // in-batch duplicate
      q.processAllAvailable()
      mem.addData((2L, "b"), (3L, "c"))            // cross-batch duplicate
      q.processAllAvailable()
      mem.addData((1L, "a"), (4L, "d"))            // duplicate two batches later
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(target).as[(Long, String)].collect().toSet
    assert(got === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    assert(spark.read.parquet(target).count() === 4) // exactly once each
  }

  test("dedupedAppendTo with watermark: in-horizon replays dedup, out-of-horizon keys age out") {
    // The bounded-state branch (dropDuplicatesWithinWatermark, VERDICT r7
    // next #7): replays arriving inside the watermark horizon are
    // suppressed like the exact branch, but a key re-sent AFTER the
    // watermark passed its expiry is admitted again — state traded for
    // recall, per key, by design.
    val dir = Files.createTempDirectory("stream-dedup-wm")
    val target = dir.resolve("t").toString
    def ts(min: Long): Timestamp = new Timestamp(min * 60L * 1000L)
    val mem = MemoryStream[(Long, Timestamp)]
    val q = StreamingUpsert.dedupedAppendTo(
      mem.toDF().toDF("k", "ts"), target, Seq("k"), dir.resolve("cp").toString,
      watermark = Some(("ts", "10 minutes")))
    try {
      mem.addData((1L, ts(0)), (2L, ts(5)))
      q.processAllAvailable()
      mem.addData((1L, ts(1)))           // in-horizon replay: suppressed
      q.processAllAvailable()
      mem.addData((99L, ts(60)))         // sentinel: watermark -> 50min, key 1 expires
      q.processAllAvailable()
      mem.addData((1L, ts(61)))          // same key beyond the horizon: admitted again
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(target).select(col("k")).as[Long].collect().toSeq
    assert(got.count(_ == 1L) === 2, s"key 1 must appear twice (aged out then re-seen): $got")
    assert(got.sorted === Seq(1L, 1L, 2L, 99L)) // the ts(1) replay was suppressed
  }

  test("streaming quota: lifetime cap across batches, arrival order, one counter per key") {
    val dir = Files.createTempDirectory("stream-quota")
    val out = dir.resolve("out").toString
    val mem = MemoryStream[(String, Long)]
    val q = StreamingQuota.admit(mem.toDS(), quota = 3)
      .toDF("src", "id")
      .writeStream.outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", dir.resolve("cp").toString)
      .start()
    try {
      // Batch 1: a fills 2 of 3; b fills 1.
      mem.addData(("a", 2L), ("a", 1L), ("b", 10L))
      q.processAllAvailable()
      // Batch 2: a sends 3 more — only ONE admitted (the smallest id in
      // the batch slice), b unaffected.
      mem.addData(("a", 5L), ("a", 3L), ("a", 4L), ("b", 11L))
      q.processAllAvailable()
      // Batch 3: a is saturated — nothing admitted ever again.
      mem.addData(("a", 99L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(out).select(col("src"), col("id"))
      .as[(String, Long)].collect().toSet
    assert(got === Set(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L), ("b", 11L)))
  }

  test("foreachBatch upsert converges to the batch-merge result across micro-batches") {
    val dir = Files.createTempDirectory("stream-upsert")
    val target = dir.resolve("t").toString
    Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("k", "v", "ver").write.parquet(target)

    val mem = MemoryStream[(Long, String, Long)]
    val q = StreamingUpsert.upsertTo(
      mem.toDF().toDF("k", "v", "ver"), target, Seq("k"),
      dir.resolve("cp").toString, orderCol = Some("ver"))
    try {
      mem.addData((2L, "B", 2L), (3L, "c", 2L))
      q.processAllAvailable()
      // mid-stream state: update + insert applied, nothing deleted
      assert(spark.read.parquet(target).count() === 3)

      // second batch: late duplicate for k=3 loses to ver=3 (last-write-wins)
      mem.addData((3L, "C", 3L), (3L, "c-old", 1L), (4L, "d", 3L))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(target).as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "a", 1L), (2L, "B", 2L), (3L, "C", 3L), (4L, "d", 3L)))
  }

  test("replayed batch is idempotent: re-merging the same rows is all no-op") {
    val dir = Files.createTempDirectory("stream-replay")
    val target = dir.resolve("t").toString
    Seq((1L, "a", 1L)).toDF("k", "v", "ver").write.parquet(target)
    val batch = Seq((1L, "a2", 2L), (2L, "b", 2L)).toDF("k", "v", "ver")
    val r1 = graft.merge.MergeApply.applyTo(spark, target, batch,
      graft.merge.MergeOptions(keys = Seq("k"), delete = graft.merge.DeleteMode.Ignore))
    val r2 = graft.merge.MergeApply.applyTo(spark, target, batch,
      graft.merge.MergeOptions(keys = Seq("k"), delete = graft.merge.DeleteMode.Ignore))
    assert(r1.affectedRows === 2L && r2.affectedRows === 0L)
  }

  test("replaying the events table in 2 batches converges to the batch merge") {
    val dir = Files.createTempDirectory("stream-events")
    val target = dir.resolve("t").toString
    // Key on event_id; value columns only (nanos ts column dropped — the
    // replay exercises upsert convergence, not timestamp plumbing).
    val ev = graft.queries.Fixtures.events(spark, graft.SparkTestBase.sf0001)
      .select($"event_id", $"user_id", $"event_type", $"value")
    // Seed the target with half the events, values perturbed (stale state).
    ev.filter($"event_id" % 2 === 0).withColumn("value", $"value" + 1.0)
      .write.parquet(target)

    val rows = ev.as[(Long, Long, String, Double)].collect().toSeq
    val (batch1, batch2) = rows.partition(_._1 < 500)
    val mem = MemoryStream[(Long, Long, String, Double)]
    val q = StreamingUpsert.upsertTo(
      mem.toDF().toDF("event_id", "user_id", "event_type", "value"),
      target, Seq("event_id"), dir.resolve("cp").toString)
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
    } finally q.stop()

    // Converged state == the events table itself (every stale value
    // overwritten, every missing event inserted).
    val got = spark.read.parquet(target).as[(Long, Long, String, Double)].collect().toSet
    assert(got === rows.toSet)
  }

  test("stale event in a LATER batch never overwrites fresher target data") {
    val dir = Files.createTempDirectory("stream-stale")
    val target = dir.resolve("t").toString
    Seq((1L, "seed", 0L)).toDF("k", "v", "ver").write.parquet(target)
    val mem = MemoryStream[(Long, String, Long)]
    val q = StreamingUpsert.upsertTo(
      mem.toDF().toDF("k", "v", "ver"), target, Seq("k"),
      dir.resolve("cp").toString, orderCol = Some("ver"))
    try {
      mem.addData((1L, "fresh", 5L))
      q.processAllAvailable()
      // Late out-of-order event for the same key with an OLDER version.
      mem.addData((1L, "stale", 3L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(target).as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "fresh", 5L))) // stale batch was a no-op
  }

  test("partitioned target: micro-batches converge AND untouched bucket files are byte-identical") {
    val dir = Files.createTempDirectory("stream-part")
    val target = dir.resolve("t").toString
    val spec = PartitionSpec(Seq("k"), 16, HashMode.Xxhash64)
    val seed = (0L until 60L).map(i => (i, s"n$i", 0L)).toDF("k", "v", "ver")
    PartitionedTarget.write(seed, target, spec)
    val before = snapshotBuckets(target)
    val touched = Seq(5L, 7L, 1000L).toDF("k")
      .select(spec.bucket(Seq(col("k"))).as("b")).as[Int].collect().toSet

    val mem = MemoryStream[(Long, String, Long)]
    val q = StreamingUpsert.upsertTo(
      mem.toDF().toDF("k", "v", "ver"), target, Seq("k"),
      dir.resolve("cp").toString, orderCol = Some("ver"))
    try {
      mem.addData((5L, "N5", 2L), (7L, "N7", 2L), (1000L, "new", 2L))
      q.processAllAvailable()
    } finally q.stop()

    // Logical: update + insert applied, everything else retained.
    val got = PartitionedTarget.read(spark, target).as[(Long, String, Long)].collect().toSet
    val expected = (0L until 60L).map {
      case 5L => (5L, "N5", 2L)
      case 7L => (7L, "N7", 2L)
      case i => (i, s"n$i", 0L)
    }.toSet + ((1000L, "new", 2L))
    assert(got === expected)

    // Physical O(delta) contract: only the touched buckets were rewritten.
    val after = snapshotBuckets(target)
    val beforeUntouched = before.filter { case (p, _) => !touched.contains(bucketOfPath(p)) }
    val afterUntouched = after.filter { case (p, _) => !touched.contains(bucketOfPath(p)) }
    assert(beforeUntouched === afterUntouched, "untouched bucket files must stay byte-identical")
  }

  test("partitioned target: stale event in a later batch loses to fresher bucket-pruned state") {
    val dir = Files.createTempDirectory("stream-part-stale")
    val target = dir.resolve("t").toString
    val spec = PartitionSpec(Seq("k"), 8, HashMode.Xxhash64)
    PartitionedTarget.write(Seq((1L, "seed", 0L)).toDF("k", "v", "ver"), target, spec)
    val mem = MemoryStream[(Long, String, Long)]
    val q = StreamingUpsert.upsertTo(
      mem.toDF().toDF("k", "v", "ver"), target, Seq("k"),
      dir.resolve("cp").toString, orderCol = Some("ver"))
    try {
      mem.addData((1L, "fresh", 5L))
      q.processAllAvailable()
      mem.addData((1L, "stale", 3L)) // out-of-order: must lose to ver=5
      q.processAllAvailable()
    } finally q.stop()
    val got = PartitionedTarget.read(spark, target).as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "fresh", 5L)))
  }

  test("composition: watermarked hourly aggregate upserts into a partitioned target per batch") {
    // The realistic continuous pipeline (VERDICT r3 next #7): events →
    // windowed agg → partitioned upsert keyed on (window start, type).
    // Aggregates for ALREADY-CLOSED windows re-emit updated rows in later
    // batches; the merge overwrites just those keys' buckets.
    val dir = Files.createTempDirectory("stream-compose")
    val target = dir.resolve("t").toString
    val spec = PartitionSpec(Seq("ws", "event_type"), 8, HashMode.Xxhash64)
    PartitionedTarget.write(
      Seq.empty[(Timestamp, String, Long, Double)].toDF("ws", "event_type", "n", "sum_value"),
      target, spec)

    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamingUpsert.hourlyCounts(
        mem.toDF().toDF("ts", "event_type", "value"), "ts", "event_type", "value")
      .select(col("window.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
    val q = StreamingUpsert.upsertTo(agg, target, Seq("ws", "event_type"), dir.resolve("cp").toString)
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 11:05:00"), "view", 5.0))
      q.processAllAvailable()
      // Second batch updates the 10:00 click window and adds a new pairing.
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:45:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 11:30:00"), "click", 7.0))
      q.processAllAvailable()
    } finally q.stop()

    val got = PartitionedTarget.read(spark, target)
      .select(col("ws").cast("string"), col("event_type"), col("n"), col("sum_value"))
      .as[(String, String, Long, Double)].collect().toSet
    assert(got === Set(
      ("2024-01-01 10:00:00", "click", 2L, 3.0),
      ("2024-01-01 11:00:00", "view", 1L, 5.0),
      ("2024-01-01 11:00:00", "click", 1L, 7.0)))
  }

  test("compactEvery: the streaming layout guard restores fragmented buckets mid-stream") {
    val dir = Files.createTempDirectory("stream-compact")
    val target = dir.resolve("t").toString
    val spec = PartitionSpec(Seq("k"), 8, HashMode.Xxhash64)
    val seed = (0L until 40L).map(i => (i, s"n$i", 0L)).toDF("k", "v", "ver")
    PartitionedTarget.write(seed, target, spec)
    // Fragment the bucket of k=5 the way an external append-writer would.
    val fragBucket = Seq(5L).toDF("k").select(spec.bucket(Seq(col("k"))).as("b")).as[Int].head()
    val fragDir = s"$target/${PartitionedTarget.BucketCol}=$fragBucket"
    Seq((1005L, "x", 0L)).toDF("k", "v", "ver").write.mode("append").parquet(fragDir)
    def fragFiles(): Int =
      Files.list(Paths.get(fragDir)).toArray.map(_.toString)
        .count(f => !f.split('/').last.startsWith("_") && !f.split('/').last.startsWith("."))
    assert(fragFiles() === 2)

    // Batches must land in OTHER buckets (else the apply itself would
    // rewrite the fragmented one and mask the compaction hook).
    val Seq(k1, k2) = (0L until 40L)
      .map(k => k -> Seq(k).toDF("k").select(spec.bucket(Seq(col("k"))).as("b")).as[Int].head())
      .collect { case (k, b) if b != fragBucket => k }.take(2).toSeq
    val mem = MemoryStream[(Long, String, Long)]
    val q = StreamingUpsert.upsertTo(
      mem.toDF().toDF("k", "v", "ver"), target, Seq("k"),
      dir.resolve("cp").toString, orderCol = Some("ver"), compactEvery = 2)
    try {
      mem.addData((k1, "U1", 2L))
      q.processAllAvailable()
      assert(fragFiles() === 2) // batch 0: no compaction yet
      mem.addData((k2, "U2", 2L))
      q.processAllAvailable() // batch 1 → (batchId+1) % 2 == 0 → compact
      assert(fragFiles() === 1)
    } finally q.stop()

    val got = PartitionedTarget.read(spark, target).as[(Long, String, Long)].collect().toSet
    val expected = (0L until 40L).map {
      case `k1` => (k1, "U1", 2L)
      case `k2` => (k2, "U2", 2L)
      case i => (i, s"n$i", 0L)
    }.toSet + ((1005L, "x", 0L))
    assert(got === expected)
  }

  test("watermarked hourly aggregation emits per-window counts") {
    val mem = MemoryStream[(Timestamp, String, Double)]
    val agg = StreamingUpsert.hourlyCounts(
      mem.toDF().toDF("ts", "event_type", "value"), "ts", "event_type", "value")
    val q = agg.writeStream.outputMode("update").format("memory").queryName("hc_test").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 10:45:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 11:05:00"), "view", 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("hc_test")
      .selectExpr("event_type", "n", "sum_value").as[(String, Long, Double)].collect().toSet
    assert(rows === Set(("click", 2L, 3.0), ("view", 1L, 5.0)))
  }
}
