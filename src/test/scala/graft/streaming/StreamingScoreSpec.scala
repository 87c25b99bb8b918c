package graft.streaming

import org.apache.spark.sql.functions._

import graft.GraftSuite

/** Streaming scoring-gate laws (C183): the gate is a pure projection —
  * routing totality (every row to exactly one verdict), and frozen-
  * model equivalence (the gate's scores are the batch scorer's scores,
  * verbatim — the property the shared t35/st20 oracle rests on).
  */
class StreamingScoreSpec extends GraftSuite {
  import spark.implicits._

  private val feats = Seq(
    (1L, 2.0), (2L, -2.0), (3L, 0.4), (4L, -0.1)).toDF("doc_id", "x1")
  private val w = Seq(0.0, 1.5)

  test("routing totality: accepted + rejected partition the input exactly") {
    val out = StreamingScore.gate(feats, w, Seq("x1"), threshold = 0.5)
    assert(out.count() === 4)
    val byRoute = out.groupBy("routed").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRoute.values.sum === 4L && byRoute.keySet.subsetOf(Set("accepted", "rejected")))
    assert(out.filter(col("accepted") =!= (col("routed") === "accepted")).isEmpty)
  }

  test("frozen-model law: gate scores == batch scorer scores, verbatim") {
    val gate = StreamingScore.gate(feats, w, Seq("x1"), threshold = 0.5)
      .select("doc_id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val batch = graft.pipeline.Classifier.score(feats, w, Seq("x1"), threshold = 0.5)
      .select("doc_id", "score").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gate === batch)
  }

  private val kfeats = Seq(
    (1L, 2.0, -1.0), (2L, -2.0, 2.0), (3L, 0.0, 0.0)).toDF("doc_id", "x1", "x2")
  private val kw = Seq(Seq(0.0, 1.0, 0.0), Seq(0.0, 0.0, 1.0), Seq(0.0, -1.0, -1.0))
  private val labels = Seq("a", "b", "c")

  test("multiclass router: every row routes to exactly one class label") {
    val out = StreamingScore.routeGate(kfeats, kw, Seq("x1", "x2"), labels)
    assert(out.count() === 3)
    val routed = out.select("doc_id", "routed").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // doc 1 leans class a (x1 weight), doc 2 class b, doc 3 ties all at
    // p=1/3 → lowest class index → 'a'.
    assert(routed === Map(1L -> "a", 2L -> "b", 3L -> "a"))
  }

  test("multiclass router: frozen-matrix law — routed == batch scoreSoftmax argmax label") {
    val viaGate = StreamingScore.routeGate(kfeats, kw, Seq("x1", "x2"), labels)
      .select("doc_id", "routed").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaBatch = graft.pipeline.Classifier.scoreSoftmax(kfeats, kw, Seq("x1", "x2"))
      .select(col("doc_id"), element_at(
        array(labels.map(lit): _*), (col("pred_class") + 1).cast("int")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaGate === viaBatch)
  }

  test("multiclass router: label arity is validated") {
    intercept[IllegalArgumentException] {
      StreamingScore.routeGate(kfeats, kw, Seq("x1", "x2"), Seq("a", "b"))
    }
  }

  private val lmDocs = Seq(
    (1L, "en", "the cat sat on the mat today"),
    (2L, "en", "the cat sat on the mat again"),
    (3L, "en", "zq xv qq zz vq xx qv zx"),
    (4L, "fr", "le chat dort sur le tapis")).toDF("doc_id", "lang", "text")

  test("lm gate: frozen-model law — NLLs == batch mknNgramNllAgainst, cutoffs route by CASE") {
    val model = graft.pipeline.TextStats.ngramCounts(
      lmDocs.filter(col("doc_id") <= 2), "text", 3)
    val batchNll = graft.pipeline.TextStats
      .mknNgramNllAgainst(lmDocs, model, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // Cutoffs read off the en NLLs; the gate must replay the CASE rule.
    val en = Seq(1L, 2L, 3L).map(batchNll).sorted
    val out = StreamingScore.lmGate(lmDocs, "doc_id", "text", "lang", model,
        cut1 = Map("en" -> en(0)), cut2 = Map("en" -> en(1)))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Double]("avg_nll"), r.getAs[Long]("bucket")))).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(i => out(i)._1 === batchNll(i)))
    def expected(nll: Double): Long =
      if (nll <= en(0)) 1L else if (nll <= en(1)) 2L else 3L
    assert(Seq(1L, 2L, 3L).forall(i => out(i)._2 === expected(batchNll(i))))
    // The OOV-soup doc must land in the tail under its lang's cutoffs.
    assert(out(3L)._2 === 3L)
    // A lang with no calibrated cutoffs routes to the tail bucket.
    assert(out(4L)._2 === 3L)
  }

  test("registry-routed lm gate follows a v1→v2 publish mid-stream without a torn read: each batch serves one COMPLETE published version, a half-landed retrain is invisible") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.pipeline.{ModelStore, TextStats}
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val scratch = graft.queries.Fixtures.scratchDir("graft-lmgate-registry")
    val root = s"$scratch/gate"
    val out = s"$scratch/out"
    def bundle(ver: Int, modelDocs: org.apache.spark.sql.DataFrame): Unit = {
      ModelStore.saveNgram(
        TextStats.ngramCounts(modelDocs, "text", 3), s"$root/v=$ver/lm", order = 3)
      Seq(("en", 3.0, 6.0)).toDF("lang", "c1", "c2")
        .coalesce(1).write.mode("overwrite").parquet(s"$root/v=$ver/cutoffs")
    }
    bundle(1, lmDocs.filter(col("doc_id") <= 2))
    ModelStore.publishVersion(spark, root, 1)
    val mem = MemoryStream[(Long, String, String)]
    val q = StreamingScore.lmGateRegistryTo(
      mem.toDF().toDF("doc_id", "lang", "text"), "doc_id", "text", "lang",
      root, out, s"$scratch/cp")
    def feed(): Unit = {
      mem.addData(
        lmDocs.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getString(2))).toIndexedSeq: _*)
      q.processAllAvailable()
    }
    try {
      feed() // batch 0 under the published v1
      // A retrain IN FLIGHT: v2's lm landed, nothing published — the
      // next batch must still serve the complete v1.
      ModelStore.saveNgram(
        TextStats.ngramCounts(lmDocs, "text", 3), s"$root/v=2/lm", order = 3)
      feed() // batch 1: still v1
      // The retrain completes and publishes: the NEXT batch boundary
      // picks up v2 — the running query follows the pointer.
      bundle(2, lmDocs)
      ModelStore.publishVersion(spark, root, 2)
      feed() // batch 2: v2
    } finally q.stop()
    val sink = spark.read.parquet(out)
    def versionsOf(batch: Long): Set[Long] =
      sink.filter(input_file_name().contains(s"batch=$batch"))
        .select("model_version").distinct().collect().map(_.getLong(0)).toSet
    assert(versionsOf(0L) === Set(1L) && versionsOf(1L) === Set(1L) &&
      versionsOf(2L) === Set(2L))
    // And the scores per batch are exactly the BATCH scoring under that
    // whole version's model — one complete version, never a mixture.
    def nllOf(modelDocs: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      TextStats.mknNgramNllAgainst(
          lmDocs, TextStats.ngramCounts(modelDocs, "text", 3), "doc_id", "text", 3)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val v1Nll = nllOf(lmDocs.filter(col("doc_id") <= 2))
    val v2Nll = nllOf(lmDocs)
    def sinkNll(batch: Long): Map[Long, Double] =
      sink.filter(input_file_name().contains(s"batch=$batch"))
        .select("doc_id", "avg_nll").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(sinkNll(0L) === v1Nll && sinkNll(1L) === v1Nll && sinkNll(2L) === v2Nll)
  }

  test("lm gate: per-batch directory overwrite makes a replayed batch a no-op") {
    val model = graft.pipeline.TextStats.ngramCounts(lmDocs, "text", 3)
    val path = graft.queries.Fixtures.scratchDir("graft-lmgate-spec") + "/out"
    def writeBatch(id: Long): Unit =
      StreamingScore.lmGate(lmDocs, "doc_id", "text", "lang", model,
          Map("en" -> 100.0, "fr" -> 100.0), Map.empty)
        .write.mode("overwrite").parquet(s"$path/batch=$id")
    writeBatch(0L)
    val once = spark.read.parquet(path).orderBy("doc_id").collect().toSeq
    writeBatch(0L) // foreachBatch replay: same id, same rows, no duplication
    val twice = spark.read.parquet(path).orderBy("doc_id").collect().toSeq
    assert(twice === once && once.size === 4)
  }
}
