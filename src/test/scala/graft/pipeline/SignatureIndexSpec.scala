package graft.pipeline

import org.apache.spark.sql.functions._

import graft.GraftSuite

/** Persisted hyperplane signature index (VERDICT r13 next #3): the at-rest
  * `(band, bucket, vid)` form of the e6 detector, with the full C82
  * maintenance discipline — probe parity with the live path, crash-atomic
  * append, derived-cache self-heal, compaction, recovery — and the
  * streaming ingest that finally pairs cross-batch arrivals.
  */
class SignatureIndexSpec extends GraftSuite {
  import spark.implicits._

  private val Dim = 8

  /** 20 well-spread bases (the e6 spec's fixture family). */
  private def baseVecs(ids: Range) = ids.map { i =>
    (i.toLong, Array.tabulate(Dim)(d => math.sin(i * 13.0 + d * 5.0).toFloat))
  }

  private def scaled(v: Array[Float], s: Float): Array[Float] = v.map(_ * s)

  test("probe against the at-rest index == the live incremental pairing, row-for-row") {
    val corpus = baseVecs(0 until 20).toDF("vec_id", "embedding")
    // Delta: near-copies of bases 0 and 7 (cosine 1 under scaling) plus
    // two unrelated vectors.
    val delta = (Seq(
      100L -> scaled(baseVecs(0 until 1).head._2, 1.1f),
      107L -> scaled(baseVecs(7 until 8).head._2, 0.9f)) ++
      baseVecs(40 until 42).map { case (i, v) => (i + 100) -> v })
      .toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("sigidx").toString
    val idx = s"$base/idx"
    Similarity.writeSignatureIndex(corpus, "vec_id", "embedding", idx, dim = Dim)
    val atRest = Similarity.pairsAgainstSignatureIndex(
      spark, idx, delta, "vec_id", "embedding", threshold = 0.999)
      .orderBy("new_id", "corpus_id").collect().toSeq
    val live = Similarity.withHyperplaneIncrementalPairs(
      delta, corpus, "vec_id", "embedding", dim = Dim, threshold = 0.999)(
      _.orderBy("new_id", "corpus_id").collect().toSeq)
    assert(atRest === live)
    assert(atRest.map(r => (r.getLong(0), r.getLong(1))).toSet
      .contains((100L, 0L)))
    // Occupancy cap parity: the at-rest anti-join form computes exactly
    // the live count-window form at a binding cap. (Unlike the e6
    // self-join, cap 1 does NOT empty the result here: single-occupant
    // corpus buckets survive the cap and still meet delta rows.)
    val cappedAtRest = Similarity.pairsAgainstSignatureIndex(
      spark, idx, delta, "vec_id", "embedding", threshold = 0.999, bucketCap = 1)
      .orderBy("new_id", "corpus_id").collect().toSeq
    val cappedLive = Similarity.withHyperplaneIncrementalPairs(
      delta, corpus, "vec_id", "embedding", dim = Dim, threshold = 0.999, bucketCap = 1)(
      _.orderBy("new_id", "corpus_id").collect().toSeq)
    assert(cappedAtRest === cappedLive)
    // Plane-family pinning: a non-index path fails loudly.
    val err = intercept[IllegalArgumentException] {
      Similarity.pairsAgainstSignatureIndex(
        spark, s"$base/nowhere", delta, "vec_id", "embedding", threshold = 0.9)
    }
    assert(err.getMessage.contains("writeSignatureIndex"))
  }

  test("append makes earlier deltas visible to later probes; the occ cache self-heals") {
    val corpus = baseVecs(0 until 10).toDF("vec_id", "embedding")
    val b1 = baseVecs(30 until 33).toDF("vec_id", "embedding")
    // b2 contains a near-copy of a B1 vector — invisible to the frozen
    // st5 corpus snapshot, found through the appended index.
    val b2 = Seq(300L -> scaled(baseVecs(30 until 31).head._2, 1.2f))
      .toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("sigidx-app").toString
    val idx = s"$base/idx"
    Similarity.writeSignatureIndex(corpus, "vec_id", "embedding", idx, dim = Dim)
    Similarity.appendToSignatureIndex(spark, idx, b1, "vec_id", "embedding")
    val pairs = Similarity.pairsAgainstSignatureIndex(
      spark, idx, b2, "vec_id", "embedding", threshold = 0.999)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((300L, 30L)), s"cross-delta pair missing: $pairs")
    // Append == rebuild: the accreted index answers exactly like one
    // built from corpus ∪ b1 in a single shot.
    val fresh = s"$base/fresh"
    Similarity.writeSignatureIndex(
      corpus.unionByName(b1), "vec_id", "embedding", fresh, dim = Dim)
    def probe(p: String) = Similarity.pairsAgainstSignatureIndex(
      spark, p, b2, "vec_id", "embedding", threshold = 0.999)
      .orderBy("new_id", "corpus_id").collect().toSeq
    assert(probe(idx) === probe(fresh))
    // The occ cache is DERIVED: deleting it self-heals from sig.
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$idx/occ"), true)
    assert(probe(idx) === probe(fresh))
  }

  test("crash windows: marked append rolls forward, unmarked staging drops, probes gate mid-promotion") {
    val corpus = baseVecs(0 until 10).toDF("vec_id", "embedding")
    val b1 = Seq(200L -> scaled(baseVecs(3 until 4).head._2, 1.1f))
      .toDF("vec_id", "embedding")
    val probeVecs = Seq(900L -> scaled(baseVecs(3 until 4).head._2, 0.8f))
      .toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("sigidx-crash").toString
    val idx = s"$base/idx"
    Similarity.writeSignatureIndex(corpus, "vec_id", "embedding", idx, dim = Dim)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // Mid-promotion crash, reconstructed by hand: stage b1's append from
    // a scratch index build, then write the marker without promoting.
    val scratch = s"$base/scratch"
    Similarity.writeSignatureIndex(b1, "vec_id", "embedding", scratch, dim = Dim)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/append.staging"))
    for (sub <- Seq("sig", "vecs"))
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$scratch/$sub"),
        new org.apache.hadoop.fs.Path(s"$idx/append.staging/$sub")))
    spark.read.parquet(s"$idx/occ")
      .unionByName(spark.read.parquet(s"$idx/append.staging/sig")
        .groupBy("band", "bucket").agg(count(lit(1)).as("occ")))
      .groupBy("band", "bucket").agg(sum("occ").as("occ"))
      .write.parquet(s"$idx/append.staging/occ")
    fs.create(new org.apache.hadoop.fs.Path(idx, "_graft_append_intent"), true).close()

    // Probes fail loudly while the marker stands.
    intercept[IllegalStateException] {
      Similarity.pairsAgainstSignatureIndex(
        spark, idx, probeVecs, "vec_id", "embedding", threshold = 0.9)
    }
    // Recovery rolls FORWARD; the appended vector is then probe-visible.
    assert(Similarity.recoverSignatureIndex(spark, idx))
    val pairs = Similarity.pairsAgainstSignatureIndex(
      spark, idx, probeVecs, "vec_id", "embedding", threshold = 0.999)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((900L, 200L)))

    // Unmarked staging (append never reached its intent point) drops.
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/append.staging/sig"))
    assert(Similarity.recoverSignatureIndex(spark, idx))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/append.staging")))
    // Healthy index: recover is a no-op.
    assert(!Similarity.recoverSignatureIndex(spark, idx))
  }

  test("compaction: layout-only (content identical), interrupted swap recovers") {
    val corpus = baseVecs(0 until 10).toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("sigidx-comp").toString
    val idx = s"$base/idx"
    Similarity.writeSignatureIndex(corpus, "vec_id", "embedding", idx, dim = Dim)
    // Accrete file sets through several appends.
    (0 until 3).foreach { i =>
      Similarity.appendToSignatureIndex(spark, idx,
        baseVecs(50 + i * 2 until 52 + i * 2).toDF("vec_id", "embedding"),
        "vec_id", "embedding")
    }
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(sub: String): Int = fs.listStatus(new org.apache.hadoop.fs.Path(s"$idx/$sub"))
      .count(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
    val before = spark.read.parquet(s"$idx/sig")
      .orderBy("vid", "band").collect().toSeq
    val preFiles = files("sig")
    val rewritten = Similarity.compactSignatureIndex(spark, idx, minFiles = 2)
    assert(rewritten.contains("sig"))
    assert(files("sig") < preFiles)
    assert(spark.read.parquet(s"$idx/sig").orderBy("vid", "band").collect().toSeq === before)
    // Interrupted swap: live dir retired, staging present → roll back.
    spark.read.parquet(s"$idx/vecs").write.parquet(s"$idx/vecs.staging")
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx/vecs"),
      new org.apache.hadoop.fs.Path(s"$idx/vecs.retired")))
    assert(Similarity.recoverSignatureIndex(spark, idx))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$idx/vecs")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/vecs.retired")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/vecs.staging")))
  }

  test("streaming ingest: cross-batch arrivals pair, replays skip, watermark survives") {
    val corpus = baseVecs(0 until 10).toDF("vec_id", "embedding")
    val b0 = baseVecs(30 until 33).toDF("vec_id", "embedding")
    val b1 = Seq(
      300L -> scaled(baseVecs(30 until 31).head._2, 1.2f), // near-dup of a B0 ARRIVAL
      301L -> scaled(baseVecs(4 until 5).head._2, 1.1f))   // near-dup of a corpus vector
      .toDF("vec_id", "embedding")
    val base = java.nio.file.Files.createTempDirectory("sigidx-stream").toString
    val idx = s"$base/idx"
    val out = s"$base/pairs"
    Similarity.writeSignatureIndex(corpus, "vec_id", "embedding", idx, dim = Dim)
    import graft.streaming.StreamingNearDup
    StreamingNearDup.applyIndexBatch(b0, 0L, idx, "vec_id", "embedding", 0.999, out, 10000)
    StreamingNearDup.applyIndexBatch(b1, 1L, idx, "vec_id", "embedding", 0.999, out, 10000)
    val pairs = StreamingNearDup.readIndexPairs(spark, out)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    // THE r13 gap closed: a near-dup arriving one batch later pairs.
    assert(pairs.contains((300L, 30L)), s"cross-batch pair missing: $pairs")
    assert(pairs.contains((301L, 4L)))
    // Replays of landed batches are no-ops (watermark = 1): the pair
    // frame and index are unchanged.
    val sigCount = spark.read.parquet(s"$idx/sig").count()
    StreamingNearDup.applyIndexBatch(b0, 0L, idx, "vec_id", "embedding", 0.999, out, 10000)
    StreamingNearDup.applyIndexBatch(b1, 1L, idx, "vec_id", "embedding", 0.999, out, 10000)
    assert(spark.read.parquet(s"$idx/sig").count() === sigCount)
    assert(StreamingNearDup.readIndexPairs(spark, out)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet === pairs)
    assert(Similarity.readSigStreamBatch(spark, idx) === Some(1L))
    // A batch never pairs against itself: B0's three distinct bases
    // produced no (b0, b0) rows.
    assert(!pairs.exists { case (a, b) => a >= 30L && a < 33L && b >= 30L && b < 33L })
  }
}
