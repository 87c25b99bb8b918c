package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.DataFrame

import graft.GraftSuite

/** The shared index maintenance protocol, crashed HALFWAY through a
  * promotion: the state every "idempotent re-promotion" claim is about.
  * For each index layout (shingle, signature, IVFADC append, BM25) and
  * the IVFADC rebuild, one step runs uninterrupted on a copy of the
  * index; on a second copy the same step is reconstructed as staged data
  * plus its intent marker, about half the staged data files are moved
  * into place by hand, and the next replaced entry has its live twin
  * deleted but not yet replaced. Recovery must then reach exactly the
  * uninterrupted result.
  */
class IndexDirSpec extends GraftSuite {
  import spark.implicits._

  /** One maintenance step on one layout.
    *
    * @param appended subdirs the step grows file by file
    * @param replaced entries the step swaps in whole, in promotion order
    */
  private case class Layout(
      name: String,
      build: String => Unit,
      step: String => Unit,
      probe: String => Seq[String],
      recover: String => Boolean,
      appended: Seq[String],
      replaced: Seq[String],
      staging: String = "append.staging",
      intent: String = "_graft_append_intent")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private val docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta"),
    (2L, "dup dup merge alpha beta gamma"),
    (3L, "one two three four five six seven eight nine")).toDF("doc_id", "text")
  private val newDocs = Seq(
    (10L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
    (11L, "completely fresh content with no corpus overlap at all"),
    (12L, "merge merge dup beta beta")).toDF("doc_id", "text")
  private val probeDocs = Seq(
    (20L, "completely fresh content with no corpus overlap at all indeed"),
    (21L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")

  private def vecs(ids: Range) = ids.map { i =>
    (i.toLong, Array.tabulate(8)(d => math.sin(i * 13.0 + d * 5.0).toFloat))
  }.toDF("vec_id", "embedding")
  private val probeVecs = vecs(30 until 32).union(vecs(3 until 5))

  private val cents = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
    (1L, Seq(0.0f, 0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
  private val codebooks = Similarity.pqGridCodebooks(dim = 4, m = 2, k = 16)
  private def arc(ids: Range, shift: Int) = ids.map { i =>
    val a = 0.15 * (i - shift)
    val v = Seq(math.cos(a).toFloat, math.sin(a).toFloat, 0.1f, 0.01f)
    (i.toLong, if (shift == 0) v else v.reverse)
  }.toDF("vec_id", "embedding")
  private val pqBase = arc(0 until 12, 0)
  private val pqDelta = arc(100 until 112, 100)
  private def pqProbe(p: String): Seq[String] =
    Seq(Seq(1.0, 0.0, 0.0, 0.0), Seq(0.0, 0.0, 0.1, 1.0)).flatMap(q =>
      rows(Similarity.pqIndexTopK(spark, p, "vec_id", q, k = 5, nProbe = 2)))

  private val layouts = Seq(
    Layout("shingle append",
      Dedup.writeShingleIndex(docs, "doc_id", "text", _, n = 3),
      Dedup.appendToShingleIndex(spark, _, newDocs, "doc_id", "text"),
      p => Dedup.withJaccardPairsAgainstIndex(
        spark, p, probeDocs, "doc_id", "text", dfCap = 50, threshold = 0.3)(rows),
      Dedup.recoverShingleIndex(spark, _),
      appended = Seq("index", "sizes"), replaced = Seq("df")),
    Layout("signature append",
      Similarity.writeSignatureIndex(vecs(0 until 10), "vec_id", "embedding", _, dim = 8),
      Similarity.appendToSignatureIndex(spark, _, vecs(30 until 36), "vec_id", "embedding",
        streamBatchId = Some(5L)),
      p => rows(Similarity.pairsAgainstSignatureIndex(
        spark, p, probeVecs, "vec_id", "embedding", threshold = 0.9)),
      Similarity.recoverSignatureIndex(spark, _),
      appended = Seq("sig", "vecs"), replaced = Seq("occ", "_graft_stream_batch")),
    Layout("IVFADC append",
      Similarity.writePqIndex(pqBase, cents, "vec_id", "embedding", codebooks, _),
      Similarity.appendToPqIndex(pqDelta, "vec_id", "embedding", _, streamBatchId = Some(5L)),
      pqProbe,
      Similarity.recoverPqIndex(spark, _),
      appended = Seq("codes"), replaced = Seq("_graft_stream_batch")),
    Layout("BM25 append",
      TextStats.writeBm25Index(docs, "doc_id", "text", _, nBuckets = 8),
      TextStats.appendToBm25Index(spark, _, newDocs, "doc_id", "text", streamBatchId = Some(5L)),
      p => rows(TextStats.bm25IndexTopK(spark, p, Seq("dup", "merge", "alpha"), k = 5)),
      TextStats.recoverBm25Index(spark, _),
      appended = Seq("postings"), replaced = Seq("terms", "corpus", "_graft_stream_batch")),
    Layout("IVFADC rebuild",
      Similarity.writePqIndex(pqBase, cents, "vec_id", "embedding", codebooks, _),
      Similarity.rebuildPqIndex(spark, _, pqBase.unionByName(pqDelta), "vec_id", "embedding",
        nCentroids = 2, m = 2, pqK = 8),
      pqProbe,
      Similarity.recoverPqIndex(spark, _),
      appended = Nil, replaced = Seq("codes", "centroids", "codebooks"),
      staging = "rebuild.staging", intent = "_graft_rebuild_intent"))

  /** Paths of the data files below `root`, relative to it, sorted. */
  private def dataFiles(fs: FileSystem, root: Path): Seq[String] =
    if (!fs.exists(root)) Nil
    else {
      val prefix = root.toUri.getPath.stripSuffix("/") + "/"
      val it = fs.listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next().getPath)
        .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith("."))
        .map(_.toUri.getPath.stripPrefix(prefix)).toSeq.sorted
    }

  for (l <- layouts) test(s"${l.name}: a promotion crashed halfway recovers to the uninterrupted result") {
    val base = java.nio.file.Files.createTempDirectory("indexdir-crash").toString
    val Seq(before, after, crashed) = Seq("before", "after", "crashed").map(d => new Path(base, d))
    val fs = before.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    l.build(before.toString)
    for (copy <- Seq(after, crashed)) assert(FileUtil.copy(fs, before, fs, copy, false, conf))
    l.step(after.toString)
    val expected = l.probe(after.toString)

    // The committed step on `crashed`: staged data + marker, nothing promoted.
    val staged = new Path(crashed, l.staging)
    val newFiles = l.appended.flatMap { sub =>
      val old = dataFiles(fs, new Path(before, sub)).toSet
      dataFiles(fs, new Path(after, sub)).filterNot(old).map(rel => s"$sub/$rel")
    }
    assert(newFiles.nonEmpty || l.appended.isEmpty, s"${l.name}: the step appended no file")
    for (rel <- newFiles)
      assert(FileUtil.copy(fs, new Path(after, rel), fs, new Path(staged, rel), false, conf))
    for (entry <- l.replaced)
      assert(FileUtil.copy(fs, new Path(after, entry), fs, new Path(staged, entry), false, conf))
    fs.create(new Path(crashed, l.intent), true).close()

    // The crash: about half the staged data files already moved into
    // place, half the replaced entries swapped in, and the next one's
    // live twin deleted but not yet replaced.
    for (rel <- newFiles.take((newFiles.length + 1) / 2)) {
      fs.mkdirs(new Path(crashed, rel).getParent)
      assert(fs.rename(new Path(staged, rel), new Path(crashed, rel)))
    }
    val (swapped, next) = l.replaced.splitAt(l.replaced.length / 2)
    for (entry <- swapped) {
      fs.delete(new Path(crashed, entry), true)
      assert(fs.rename(new Path(staged, entry), new Path(crashed, entry)))
    }
    next.headOption.foreach(entry => fs.delete(new Path(crashed, entry), true))

    intercept[IllegalStateException](l.probe(crashed.toString)) // gated mid-promotion
    assert(l.recover(crashed.toString))
    assert(l.probe(crashed.toString) === expected)
    assert(!fs.exists(staged) && !fs.exists(new Path(crashed, l.intent)))
    assert(IndexDir.readStreamBatch(spark, crashed.toString) ===
      IndexDir.readStreamBatch(spark, after.toString))
    assert(!l.recover(crashed.toString))
  }
}
