package graft

import org.apache.spark.sql.functions._

/** [[Lineage]] — the cut-type switch (VERDICT r20 next #4) and the
  * iterative operators' storage-release discipline (next #5).
  */
class LineageSpec extends GraftSuite {

  private def leafRdd(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  private def frame() =
    spark.range(100).select(col("id"), (col("id") % 7).as("k"))
      .groupBy("k").agg(sum("id").as("s"))

  test("cut: local-checkpoint leaf without a checkpoint dir, reliable with one, rows identical") {
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "suite precondition: no checkpoint dir configured")
    val local = Lineage.cut(frame())
    val lr = leafRdd(local)
    assert(lr.isDefined, "cut must return a leaf-RDD plan")
    // Local checkpoint: block-manager blocks, no checkpoint file.
    assert(lr.get.getStorageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "default cut is a local checkpoint (blocks in the block manager)")
    assert(lr.get.getCheckpointFile.isEmpty)

    val dir = java.nio.file.Files.createTempDirectory("graft-lineage-cp").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val rel = Lineage.cut(frame())
      val rr = leafRdd(rel)
      assert(rr.isDefined, "reliable cut must also return a leaf-RDD plan")
      assert(rr.get.getCheckpointFile.isDefined,
        "with a checkpoint dir the cut is RELIABLE (files, not executor blocks)")
      assert(rr.get.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE,
        "reliable cut holds no block-manager blocks")
      // Same rows either way — the flag moves WHERE the rows live, never
      // what they are.
      assert(rel.orderBy("k").collect().toSeq == local.orderBy("k").collect().toSeq)
      assert(rel.count() == 7)
      Lineage.free(rel)
    } finally {
      // Local mode: setCheckpointDir(null) resets to None (the non-local
      // path-validation branch is skipped when isLocal).
      spark.sparkContext.setCheckpointDir(null)
      Lineage.free(local)
    }
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("free deletes a superseded reliable cut's checkpoint files, and only a cut's") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage-free").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val held = Lineage.cut(frame())
      val heldFile = new java.io.File(new java.net.URI(leafRdd(held).get.getCheckpointFile.get))
      // A frame derived from a cut is not a cut: its leaf is `held`.
      Lineage.free(held.filter(col("k") > 0))
      assert(heldFile.isDirectory && held.count() == 7)

      val superseded = Lineage.cut(frame())
      val file = new java.io.File(new java.net.URI(leafRdd(superseded).get.getCheckpointFile.get))
      assert(file.isDirectory && file.list().exists(_.startsWith("part-")),
        "a reliable cut's rows live in checkpoint part files")
      Lineage.free(superseded)
      assert(!file.exists, s"free left the checkpoint files of a superseded cut at $file")
      assert(heldFile.isDirectory && held.count() == 7, "free touched another cut's files")
      Lineage.free(held)
      assert(!heldFile.exists)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("clusters under a checkpoint dir keeps only its result's files, none once freed") {
    import spark.implicits._
    val chain = (1L until 201L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage-cc").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val cpDir = new java.io.File(new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      def rddDirs() = Option(cpDir.list()).toSeq.flatten.filter(_.startsWith("rdd-")).toSet
      val out = graft.pipeline.Dedup.clusters(chain)
      val outDir = new java.io.File(new java.net.URI(leafRdd(out).get.getCheckpointFile.get)).getName
      // Every star round is a reliable cut; each superseded round must
      // take its checkpoint files with it.
      assert(rddDirs() === Set(outDir))
      assert(out.as[(Long, Long)].collect().toMap === (1L to 201L).map(_ -> 1L).toMap)
      Lineage.free(out)
      assert(rddDirs().isEmpty)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("operators under a reliable checkpoint dir: GraphRank/kCenters results hash-equal") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"), ("b", "d"))
      .toDF("src", "dst")
    val vecs = (0L until 12L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 7 + j * 3) % 11).toDouble)))
      .toDF("vec_id", "embedding")
    def ranks() = graft.operators.GraphRank.pageRank(edges, "src", "dst", iters = 3)
      .orderBy("node").collect().toSeq
    def centers() = graft.pipeline.Similarity.kCenters(vecs, "vec_id", "embedding", k = 4)
      .orderBy("step").collect().toSeq
    val (rLocal, cLocal) = (ranks(), centers())
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage-ops").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      assert(ranks() == rLocal, "pageRank must be bit-identical under either cut type")
      assert(centers() == cLocal, "kCenters must be bit-identical under either cut type")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("pageRank releases superseded iteration checkpoints (flat storage at high iters)") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "a"), ("b", "d"))
      .toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val r = graft.operators.GraphRank.pageRank(edges, "src", "dst", iters = 20)
    assert(r.count() == 4)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    // 20 iterations once left ~23 leaves (e, nodes, outDeg, every rank
    // frame) pinned until GC; now exactly the returned rank frame stays.
    assert(added.size <= 1,
      s"expected only the final rank frame to stay pinned, found ${added.size}")
    Lineage.free(r)
  }

  test("CrawlStages.route releases its langid seed-feature pin: persistent RDDs back at baseline") {
    import spark.implicits._
    val docs = Seq((1L, "the cat sat on the mat"), (2L, "le chat est sur le tapis"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val routed = graft.queries.CrawlStages.route(spark, docs)
    assert(routed.count() === 2L)
    Lineage.free(routed) // the caller owns the returned cut
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
  }

  test("kCenters releases its round frames") {
    import spark.implicits._
    val vecs = (0L until 12L).map(i =>
      (i, Array.tabulate(4)(j => ((i * 5 + j) % 13).toDouble)))
      .toDF("vec_id", "embedding")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val picks = graft.pipeline.Similarity.kCenters(vecs, "vec_id", "embedding", k = 6)
    assert(picks.count() == 6)
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.isEmpty,
      s"kCenters returns a driver-side frame; no round leaf may stay pinned, found ${added.size}")
  }

  test("pruneDuplicates frees its cluster cut when its scope returns: persistent RDDs at baseline") {
    import spark.implicits._
    val docs = Seq(
      (1L, "prune leak probe alpha beta gamma delta"),
      (2L, "prune leak probe alpha beta gamma delta"),
      (3L, "an unrelated prune-leak document body"))
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val kept = graft.pipeline.Dedup.withJaccardPairs(docs, "doc_id", "text", 3, 50, 0.6)(
      pairs => graft.pipeline.Dedup.pruneDuplicates(docs, pairs, "doc_id")(
        _.select("doc_id").as[Long].collect().toSet))
    assert(kept === Set(1L, 3L))
    val added = spark.sparkContext.getPersistentRDDs -- before
    assert(added.isEmpty, added.values.map(r => s"${r.id}:${r.getStorageLevel.description}").mkString(", "))
  }

  test("releaseAll after p9 under a checkpoint dir: no checkpoint file and no persistent RDD left") {
    // p9's lazy result reads the classifier's scored cut, which only the
    // harness's reset can release — under a checkpoint dir, files too.
    val dir = java.nio.file.Files.createTempDirectory("graft-lineage-reset").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val cpDir = new java.io.File(new java.net.URI(spark.sparkContext.getCheckpointDir.get))
      def rddDirs() = Option(cpDir.list()).toSeq.flatten.filter(_.startsWith("rdd-"))
      val p9 = graft.SparkEntry.queries("p9_perplexity_gate")
      assert(p9(spark, SparkTestBase.sf0001).count() > 0)
      assert(rddDirs().nonEmpty, "p9's scored cut is reliable under a checkpoint dir")
      Lineage.releaseAll(spark)
      assert(rddDirs().isEmpty, rddDirs().mkString("checkpoint files left: ", ", ", ""))
      assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("src/main persists, caches, checkpoints and releases only through Lineage") {
    // One materialization policy: a raw call outside Lineage decides the
    // storage level, the caller-owned-cache rule or the release again.
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no ${root.getAbsolutePath}")
    val raw = """\.(persist|cache|localCheckpoint|checkpoint|unpersist)\(""".r
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val hits = for {
      f <- files(root) if f.getName != "Lineage.scala"
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().toSeq.zipWithIndex
      code = line.trim
      if !code.startsWith("//") && !code.startsWith("*") && !code.startsWith("/*")
      if raw.findFirstIn(code.split("//", 2)(0)).isDefined
    } yield s"${f.getPath}:${i + 1}: $code"
    assert(hits.isEmpty, hits.mkString("raw materialization outside Lineage:\n", "\n", ""))
  }

  test("p13's CrawlStages chain: persistent RDDs back at baseline once the caller frees the frames it holds") {
    import graft.queries.CrawlStages
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val shard = graft.queries.IngestQueries.warcCrawlNearFixture(spark, SparkTestBase.sf0001)
    val (ingested, _) = CrawlStages.ingest(spark, shard)
    val deduped = CrawlStages.dedup(CrawlStages.scrub(ingested))
    val near = CrawlStages.nearDedup(deduped)
    val routed = CrawlStages.route(spark, near)
    val corpus = CrawlStages.gateSketch(routed)
    val model = CrawlStages.trainTokenizer(corpus)
    val (ids, seqs) = CrawlStages.packSequences(corpus, model)
    assert(seqs.count() > 0L)
    // The caller owns the cuts the stages hand back: release every leaf.
    Seq(deduped, near, routed, corpus, ids, seqs).foreach(_.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false)))
    val added = spark.sparkContext.getPersistentRDDs -- before
    assert(added.isEmpty, added.values.map(r => s"${r.id}:${r.getStorageLevel.description}").mkString(", "))
  }
}
