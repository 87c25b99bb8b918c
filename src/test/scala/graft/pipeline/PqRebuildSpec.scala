package graft.pipeline

import org.apache.spark.sql.functions._

import graft.GraftSuite

/** Atomic IVFADC rebuild-on-drift (VERDICT r13 next #5): the recall
  * gauge detects a drifted index; rebuildPqIndex retrains on a sample
  * and swaps the whole model in place under the intent-marker protocol,
  * so the detect → retrain → promote loop closes atomically.
  */
class PqRebuildSpec extends GraftSuite {
  import spark.implicits._

  private val Dim = 4
  private val M = 2
  private val PqK = 8
  private val K = 2

  /** Initial corpus: an arc of unit vectors in the (x1, x2) block with a
    * small constant (x3, x4) block. Equal norms EVERYWHERE (both
    * clusters) so ADC's inner-product ranking coincides with the exact
    * baseline's cosine ranking — the spec then measures quantization
    * quality, not a metric mismatch; and no block slice is all-zero
    * (zero-norm centroids would break the k-means trainer).
    */
  private def initialVecs = (0L until 20L)
    .map(i => (i, Seq(math.cos(0.05 * i).toFloat, math.sin(0.05 * i).toFloat, 0.1f, 0.01f)))
    .toDF("vec_id", "embedding")

  /** Drift: the same arc moved into the (x3, x4) block — a region the
    * original codebooks never saw, so every drifted vector collapses
    * onto one stale code and ADC ranking degenerates to id ties.
    */
  private def driftVecs = (100L until 120L)
    .map(i => (i, Seq(0.1f, 0.01f,
      math.cos(0.05 * (i - 100)).toFloat, math.sin(0.05 * (i - 100)).toFloat)))
    .toDF("vec_id", "embedding")

  test("drift degrades index recall; rebuild restores it and equals a fresh build; watermark survives") {
    val base = java.nio.file.Files.createTempDirectory("pqrebuild").toString
    val idx = s"$base/idx"
    // Build with a model trained on the INITIAL corpus only.
    val cents0 = Similarity.trainCentroids(initialVecs, "vec_id", "embedding", K)
    val books0 = Similarity.pqTrainCodebooks(initialVecs, "vec_id", "embedding", M, PqK)
    Similarity.writePqIndex(initialVecs, cents0, "vec_id", "embedding", books0, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Similarity.writePqStreamBatch(fs, idx, 7L) // a streamed index's watermark
    // The corpus drifts through appends the stale model must still encode.
    Similarity.appendToPqIndex(driftVecs, "vec_id", "embedding", idx)
    val corpus = initialVecs.unionByName(driftVecs)
    val probes = driftVecs.filter(col("vec_id").between(105, 109))
    def recall(): Double = Similarity.pqIndexRecallAt(
      spark, idx, corpus, probes, "vec_id", "embedding", k = 5, nProbe = K)
      .select("macro_recall").head().getDouble(0)
    val before = recall()
    assert(before < 1.0, s"fixture failed to stage drift (recall $before)")

    // Rebuild: retrain on the full corpus, swap atomically.
    Similarity.rebuildPqIndex(spark, idx, corpus, "vec_id", "embedding",
      nCentroids = K, m = M, pqK = PqK)
    val after = recall()
    assert(after > before, s"rebuild did not restore recall: $before -> $after")
    // The training pipeline is deterministic, so the swapped-in index
    // answers exactly like one built fresh from the same corpus.
    val fresh = s"$base/fresh"
    val cents1 = Similarity.trainCentroids(corpus, "vec_id", "embedding", K)
    val books1 = Similarity.pqTrainCodebooks(corpus, "vec_id", "embedding", M, PqK)
    Similarity.writePqIndex(corpus, cents1, "vec_id", "embedding", books1, fresh)
    def probeAll(p: String) = Similarity.pqIndexTopKBatch(
      spark, p, probes, "vec_id", "embedding", k = 5, nProbe = K)
      .orderBy("probe_id", "rnk").collect().toSeq
    assert(probeAll(idx) === probeAll(fresh))
    // The stream watermark carried across the swap (the replay contract).
    assert(Similarity.readPqStreamBatch(spark, idx) === Some(7L))
    // No maintenance debris.
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/rebuild.staging")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(idx, "_graft_rebuild_intent")))
  }

  test("crash windows: marked rebuild rolls forward (probes gate), unmarked staging drops") {
    val base = java.nio.file.Files.createTempDirectory("pqrebuild-crash").toString
    val idx = s"$base/idx"
    val cents0 = Similarity.trainCentroids(initialVecs, "vec_id", "embedding", K)
    val books0 = Similarity.pqTrainCodebooks(initialVecs, "vec_id", "embedding", M, PqK)
    Similarity.writePqIndex(initialVecs, cents0, "vec_id", "embedding", books0, idx)
    val corpus = initialVecs.unionByName(driftVecs)
    val probes = driftVecs.filter(col("vec_id").between(105, 109))
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // Mid-promotion crash, reconstructed by hand: a complete staged
    // rebuild + the intent marker, promotion never run.
    val scratch = s"$base/scratch"
    val cents1 = Similarity.trainCentroids(corpus, "vec_id", "embedding", K)
    val books1 = Similarity.pqTrainCodebooks(corpus, "vec_id", "embedding", M, PqK)
    Similarity.writePqIndex(corpus, cents1, "vec_id", "embedding", books1, scratch)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/rebuild.staging"))
    for (sub <- Seq("codes", "centroids", "codebooks"))
      assert(fs.rename(new org.apache.hadoop.fs.Path(s"$scratch/$sub"),
        new org.apache.hadoop.fs.Path(s"$idx/rebuild.staging/$sub")))
    fs.create(new org.apache.hadoop.fs.Path(idx, "_graft_rebuild_intent"), true).close()

    // Probes fail loudly mid-promotion (a half-swapped model would score
    // codes against the wrong codebooks silently).
    intercept[IllegalStateException] {
      Similarity.pqIndexTopKBatch(spark, idx, probes, "vec_id", "embedding", k = 5, nProbe = K)
    }
    // Recovery rolls FORWARD deterministically: the rebuilt index is live.
    assert(Similarity.recoverPqIndex(spark, idx))
    val fresh = s"$base/fresh"
    Similarity.writePqIndex(corpus, cents1, "vec_id", "embedding", books1, fresh)
    def probeAll(p: String) = Similarity.pqIndexTopKBatch(
      spark, p, probes, "vec_id", "embedding", k = 5, nProbe = K)
      .orderBy("probe_id", "rnk").collect().toSeq
    assert(probeAll(idx) === probeAll(fresh))

    // Unmarked staging = a rebuild that never reached its intent point:
    // dropped, live index untouched.
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$idx/rebuild.staging/codes"))
    val beforeDrop = probeAll(idx)
    assert(Similarity.recoverPqIndex(spark, idx))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/rebuild.staging")))
    assert(probeAll(idx) === beforeDrop)
    // Healthy: recover is a no-op.
    assert(!Similarity.recoverPqIndex(spark, idx))
  }
}
