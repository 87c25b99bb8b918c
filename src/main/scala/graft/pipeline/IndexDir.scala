package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** The staged-maintenance protocol of an at-rest index root — one code
  * path for the shingle index ([[Dedup.writeShingleIndex]]), the
  * hyperplane signature and IVFADC indexes
  * ([[Similarity.writeSignatureIndex]], [[Similarity.writePqIndex]]) and
  * the BM25 posting index ([[TextStats.writeBm25Index]]). It is the index
  * twin of [[graft.merge.MergeApply.commit]]: a maintenance step lands
  * all-or-nothing, what the reference gets from BEGIN TRAN / COMMIT
  * (sp_SimpleMerge.sql:470-484). An index declares only its [[Layout]];
  * the protocol is
  *
  *   - '''guard''': not an index → `IllegalArgumentException`; an intent
  *     marker pending → `IllegalStateException`, so no probe or step
  *     reads a half-promoted index;
  *   - '''commit''': the step's data is written COMPLETELY under
  *     `append.staging/` (or `rebuild.staging/`), an intent marker
  *     declares it committed, then it is promoted;
  *   - '''promote''': every data file of a staged APPEND subdir moves into
  *     the live subdir at the same path below it (flat `index/`, `sig/`
  *     and partitioned `codes/bucket=N/`, `postings/pbucket=N/` alike);
  *     every other staged entry replaces its live twin by
  *     delete-then-rename; then staging and marker go. A moved file is no
  *     longer staged and a replaced entry no longer exists in staging, so
  *     a promotion interrupted anywhere re-runs to completion;
  *   - '''recover''': marker present → promote forward (staged data is
  *     complete by the marker's contract); unmarked staging → garbage from
  *     a step that never reached its intent point, dropped; an interrupted
  *     compaction swap rolls per subdir ([[compactFlat]]'s
  *     `<sub>.staging`/`<sub>.retired`, or [[graft.merge.MergeApply.recover]]
  *     for a bucket-partitioned subdir).
  *
  * Every crash point is unambiguous: no marker → the live index is
  * untouched; marker → recover completes the step; marker gone → the step
  * is fully visible.
  */
private[graft] object IndexDir {

  /** A staged maintenance step: its staging dir and intent marker. */
  sealed abstract class Step(val staging: String, val intent: String, val verb: String)
  case object Append extends Step("append.staging", "_graft_append_intent", "append")
  case object Rebuild extends Step("rebuild.staging", "_graft_rebuild_intent", "rebuild")

  /** The stream-batch watermark: the last streaming batch id applied to
    * the index. Staged with an append it promotes under the same marker,
    * so a replayed micro-batch can always tell whether its append landed.
    */
  val StreamBatchFile = "_graft_stream_batch"

  /** What an index declares.
    *
    * @param kind     what the index is called in errors
    * @param sentinel the entry whose presence marks a built index
    * @param build    the def that builds it, named in errors
    * @param recover  the def that recovers it, named in errors
    * @param appended the subdirs an append grows file by file; the same
    *                 subdirs are the ones compaction rewrites
    */
  final case class Layout(
      kind: String, sentinel: String, build: String, recover: String, appended: Seq[String])

  private def fsOf(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Refuse anything but a built index with no step pending. The marker
    * is checked first: mid-promotion the sentinel itself may be between
    * its delete and its rename, and the fix is still to recover.
    */
  def guard(spark: SparkSession, path: String, layout: Layout): Unit = {
    val fs = fsOf(spark, path)
    Seq(Append, Rebuild).find(s => fs.exists(new Path(path, s.intent))).foreach { s =>
      throw new IllegalStateException(
        s"$path has an interrupted ${s.verb} — run ${layout.recover} to roll it forward")
    }
    if (!fs.exists(new Path(path, layout.sentinel)))
      throw new IllegalArgumentException(
        s"$path is not a ${layout.kind} (no ${layout.sentinel}) — build it with ${layout.build}")
  }

  /** Run one maintenance step: `stage` writes the step's data completely
    * under the staging dir it is given; then the intent marker, then the
    * promotion. With `streamBatchId`, the stream watermark stages (and so
    * promotes) with the data — the exactly-once hinge of the streaming
    * maintainers. Callers [[guard]] first.
    */
  def commit(
      spark: SparkSession, path: String, layout: Layout, step: Step = Append,
      streamBatchId: Option[Long] = None)(stage: String => Unit): Unit = {
    val fs = fsOf(spark, path)
    val staged = new Path(path, step.staging)
    fs.delete(staged, true) // unmarked leftovers: a step that never reached its intent point
    stage(staged.toString)
    streamBatchId.foreach(writeStreamBatch(fs, staged.toString, _))
    fs.create(new Path(path, step.intent), true).close()
    promote(fs, new Path(path), step, layout)
  }

  private def promote(fs: FileSystem, root: Path, step: Step, layout: Layout): Unit = {
    val staged = new Path(root, step.staging)
    val appended = if (step == Append) layout.appended else Nil
    if (fs.exists(staged))
      fs.listStatus(staged).filterNot(_.getPath.getName.startsWith(".")).foreach { st =>
        val live = new Path(root, st.getPath.getName)
        if (st.isDirectory && appended.contains(st.getPath.getName)) moveDataFiles(fs, st.getPath, live)
        else {
          fs.delete(live, true)
          if (!fs.rename(st.getPath, live))
            throw new IllegalStateException(s"${step.verb}: could not promote ${st.getPath} to $live")
        }
      }
    fs.delete(staged, true)
    fs.delete(new Path(root, step.intent), false)
  }

  /** Move every data file below `from` to the same path below `to`. */
  private def moveDataFiles(fs: FileSystem, from: Path, to: Path): Unit = {
    fs.mkdirs(to)
    fs.listStatus(from).filter(isData).foreach { st =>
      val dest = new Path(to, st.getPath.getName)
      if (st.isDirectory) moveDataFiles(fs, st.getPath, dest)
      else if (!fs.rename(st.getPath, dest))
        throw new IllegalStateException(s"append: could not promote ${st.getPath} to $dest")
    }
  }

  /** A data file or partition directory, not a sidecar (`_SUCCESS`) or a
    * hidden checksum/temp file.
    */
  private def isData(st: FileStatus): Boolean = {
    val name = st.getPath.getName
    !name.startsWith("_") && !name.startsWith(".")
  }

  /** Roll any interrupted maintenance step of the index at `path` to a
    * consistent state (see the object doc). An absent root is healthy.
    * @return true when anything was repaired.
    */
  def recover(spark: SparkSession, path: String, layout: Layout): Boolean = {
    val fs = fsOf(spark, path)
    val root = new Path(path)
    val stepped = Seq(Append, Rebuild).map { step =>
      if (fs.exists(new Path(root, step.intent))) { promote(fs, root, step, layout); true }
      else fs.delete(new Path(root, step.staging), true)
    }
    val swapped = layout.appended.map { sub =>
      rollFlatSwap(fs, root, sub) | graft.merge.MergeApply.recover(spark, s"$path/$sub")
    }
    (stepped ++ swapped).contains(true)
  }

  /** [[compactFlat]]'s swap runs stage → retire → promote → drop, so:
    * live missing with a retired backup → roll BACK; live and backup both
    * present → the swap completed, drop the backup; orphan staging → drop.
    */
  private def rollFlatSwap(fs: FileSystem, root: Path, sub: String): Boolean = {
    val live = new Path(root, sub)
    val retired = new Path(root, s"$sub.retired")
    val restored = !fs.exists(live) && fs.exists(retired) && {
      if (!fs.rename(retired, live))
        throw new IllegalStateException(s"recover: could not restore $retired")
      true
    }
    val dropped = Seq(retired, new Path(root, s"$sub.staging")).map(fs.delete(_, true))
    restored || dropped.contains(true)
  }

  /** Restore a healthy file layout to the flat appended subdirs: every
    * append lands one file set per subdir, so a year of daily deltas is
    * 365 file sets per probe scan. A subdir [[graft.merge.PartitionedTarget]]
    * judges fragmented is rewritten (through `rewrite`, which may
    * re-aggregate it) into its desired file count under
    * `<sub>.staging`, then swapped in through `<sub>.retired`;
    * [[recover]] rolls an interrupted swap.
    *
    * @return the subdirs rewritten (empty = nothing degraded).
    */
  def compactFlat(
      spark: SparkSession, path: String, layout: Layout,
      targetFileBytes: Long, minFiles: Int)(
      rewrite: (String, DataFrame) => DataFrame = (_, df) => df): Seq[String] = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    require(minFiles >= 2, s"minFiles must be >= 2, got $minFiles")
    guard(spark, path, layout)
    val fs = fsOf(spark, path)
    layout.appended.flatMap { sub =>
      val live = new Path(path, sub)
      val health = graft.merge.PartitionedTarget.dirHealth(fs, live, targetFileBytes, minFiles)
      if (!health.fragmented) None
      else {
        val staging = new Path(path, s"$sub.staging")
        val retired = new Path(path, s"$sub.retired")
        rewrite(sub, spark.read.parquet(live.toString)).repartition(health.desired)
          .write.mode(SaveMode.Overwrite).parquet(staging.toString)
        if (!fs.rename(live, retired))
          throw new IllegalStateException(s"compact: could not retire $live")
        if (!fs.rename(staging, live))
          throw new IllegalStateException(s"compact: could not promote $staging")
        fs.delete(retired, true)
        Some(sub)
      }
    }
  }

  /** The last applied stream batch id, or None for a batch-built (or
    * interrupted-bootstrap) index. A torn or unparseable watermark also
    * reads as None, so the interrupted-bootstrap rebuild path repairs it
    * instead of every later batch dying on the parse.
    */
  def readStreamBatch(spark: SparkSession, path: String): Option[Long] = {
    val p = new Path(path, StreamBatchFile)
    val fs = fsOf(spark, path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try new String(in.readAllBytes(), UTF_8).trim.toLongOption finally in.close()
    }
  }

  /** Write the stream watermark into `dir` under a dot-temp name, then
    * rename it over the live file: a single-file rename is atomic on
    * local/HDFS, so a crash mid-write never leaves a torn watermark live.
    */
  def writeStreamBatch(fs: FileSystem, dir: String, batchId: Long): Unit = {
    val tmp = new Path(dir, s".$StreamBatchFile.tmp")
    val live = new Path(dir, StreamBatchFile)
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes(UTF_8)) finally out.close()
    fs.delete(live, false)
    if (!fs.rename(tmp, live))
      throw new IllegalStateException(s"could not promote watermark $tmp to $live")
  }
}
