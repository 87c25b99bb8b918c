package graft.merge

import java.time.format.DateTimeFormatter
import java.time.Instant
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.json4s.{JArray, JInt, JObject, JString}

/** Outcome of a merge apply — counts and verdict the reference surfaces via
  * `@@ROWCOUNT` / variance / RAISERROR (sp_SimpleMerge.sql:470-491).
  *
  * @param affectedRows rows inserted+updated+deleted (A21)
  * @param targetRows   (filtered) target rowcount used as the variance
  *                     denominator (A20)
  * @param variancePct  affected/target*100, NaN when target is empty
  * @param committed    whether the staged result replaced the target
  * @param auditPath    where the audit OUTPUT rows were appended, when the
  *                     `audit` option was set (A17 / `@output`)
  */
final case class MergeResult(
    affectedRows: Long,
    targetRows: Long,
    variancePct: Double,
    committed: Boolean,
    auditPath: Option[String] = None)

/** Transactional apply: what the reference gets from BEGIN TRAN / COMMIT /
  * ROLLBACK (sp_SimpleMerge.sql:470-484) we get from a staged parquet write
  * plus an atomic directory swap — all-or-nothing, single-writer assumed,
  * rename-atomic filesystem assumed (HDFS/local; on S3-style object stores
  * front this with a metastore pointer swap). After a committed merge, a
  * `lastUpdate` ISO-8601 timestamp is stamped into a sidecar, the analog of
  * the reference's extended property (sp_SimpleMerge.sql:129-140,485-491).
  *
  * Scale design (the 100 TB constraint): the expensive full-outer join
  * executes exactly ONCE per apply, and its affected/insert/total counts
  * come from one [[Observation]] on the classified frame, collected by
  * the first write that runs it —
  *
  *   - without audit: the merged result streams straight to the staging
  *     directory and the counts arrive with that write; the threshold
  *     verdict is decided after the write, before the swap (the same
  *     execute-then-rollback shape as the reference's BEGIN TRAN /
  *     ROLLBACK);
  *   - with audit: the classified frame (merged columns + before-images +
  *     action) is staged once and the counts arrive with that write, so
  *     the verdict is decided before the rewrite; the audit table and the
  *     final target content are derived from the staged copy — cheap
  *     rescans of already-joined data, never a join re-run.
  *
  * Both shapes run through [[commit]], which every merge writer shares.
  */
object MergeApply {

  val MetaFile = "_simplemerge_meta.json"

  /** Default audit table location, the analog of the reference's
    * `@output` default name `<target>_SimpleMergeOutput`
    * (sp_SimpleMerge.sql:64, README.md:42-44).
    */
  def defaultAuditPath(targetPath: String): String =
    targetPath.stripSuffix("/") + "_SimpleMergeOutput"

  /** Run the merge against a parquet-backed target directory.
    *
    * Threshold semantics (A22/A23): variance = affected/targetCount*100;
    * commit iff no threshold, or target is empty (bypass,
    * sp_SimpleMerge.sql:473-476), or variance <= threshold — otherwise the
    * target is left untouched, staging is cleaned up, and
    * MergeThresholdExceededException is raised with the actual variance.
    * Unlike the reference (which stamps lastUpdate even after a threshold
    * RAISERROR — a documented quirk, SURVEY §3.3), we do NOT stamp on
    * abort, and audit rows are NOT written on abort (the reference's
    * OUTPUT rows roll back with the transaction).
    */
  def applyTo(
      spark: SparkSession,
      targetPath: String,
      source: DataFrame,
      opts: MergeOptions,
      auditPath: Option[String] = None,
      evolveSchema: Boolean = false): MergeResult = {
    // Parse/validate the threshold up front (A23) so a malformed string
    // fails before any data movement, like the reference's isnumeric gate
    // (sp_SimpleMerge.sql:92-95).
    val thresholdPct = opts.thresholdPct

    // Opt-in schema evolution (C116) applied to the ON-DISK content: the
    // rewritten target carries the evolved columns; without the flag a
    // widened source is rejected by the alignment gate below.
    // The schema comes from one footer (no inference job) where it can.
    val raw = PartitionedTarget.dataSchema(spark, targetPath)
      .fold(spark.read)(spark.read.schema).parquet(targetPath)
    val target = if (evolveSchema) SimpleMerge.evolveTarget(raw, source) else raw
    val plan = MergePlan.build(target.schema, source.schema, opts)
    val frame = new MergeFrame(target, source, plan)

    val staging = Staging(spark, targetPath)
    commit(frame, thresholdPct, staging, auditTarget(opts, targetPath, auditPath))(
      writeOrCleanup(_, staging.dir, staging.fs), swap(staging))
  }

  /** Partition-scoped apply against a [[PartitionedTarget]] directory:
    * reads, rewrites, and swaps ONLY the bucket directories the source's
    * keys hash into — apply cost scales with the delta, not the target.
    * See [[PartitionedApply]] for the semantics contract (equivalent to an
    * implicit targetFilter on the touched buckets).
    */
  def applyToPartitioned(
      spark: SparkSession,
      targetPath: String,
      source: DataFrame,
      opts: MergeOptions,
      auditPath: Option[String] = None): MergeResult =
    PartitionedApply.applyTo(spark, targetPath, source, opts, auditPath)

  /** Where an apply with these options appends its audit rows, if any. */
  private[merge] def auditTarget(
      opts: MergeOptions, targetPath: String, auditPath: Option[String]): Option[String] =
    if (opts.audit) Some(auditPath.getOrElse(defaultAuditPath(targetPath))) else None

  /** The one commit sequence of every merge writer — stage, threshold
    * verdict, swap, audit append, `lastUpdate` stamp: the reference's
    * execute / threshold check / COMMIT or ROLLBACK / stamp block
    * (sp_SimpleMerge.sql:470-491). A writer supplies only what differs:
    * `write` stages a merged frame into `staging.dir`, `promote` swaps the
    * staged result in.
    *
    * The counts come from one Observation on the classified frame (see the
    * class doc): with audit off the staged write delivers them; with audit
    * on, the work-dir copy of the classified frame does, so a breached
    * threshold stops before the rewrite. A breach removes the staged
    * output and raises; the target is untouched and nothing is stamped.
    * Audit rows append AFTER the swap: the reference's OUTPUT rows exist
    * iff the transaction commits, and an append cannot be rolled back —
    * so a staging/swap failure must never leave phantom audit rows behind.
    * (Residual window: a committed swap whose audit append then fails
    * surfaces as an exception with the target already updated.)
    */
  private[merge] def commit(
      frame: MergeFrame,
      thresholdPct: Option[Double],
      staging: Staging,
      auditPath: Option[String])(
      write: DataFrame => Unit,
      promote: => Unit): MergeResult = {
    val obs = Observation(s"merge-${staging.token}")
    val counted = frame.observed(obs)
    // Taken once, as soon as the first write that runs `counted` is done.
    lazy val verdict = {
      val metrics = obs.get
      val affected = metrics("affected").asInstanceOf[Long]
      val targetRows = metrics("total").asInstanceOf[Long] - metrics("inserted").asInstanceOf[Long]
      val variance = verdictOrCleanup(affected, targetRows, thresholdPct, staging.fs, staging.dir)
      MergeResult(affected, targetRows, variance, committed = true, auditPath = auditPath)
    }
    val work = staging.sibling("work")
    try {
      val resolved = auditPath.fold(counted) { _ =>
        writeOrCleanup(counted, work, staging.fs)
        verdict
        counted.sparkSession.read.parquet(work.toString)
      }
      write(frame.mergedFrom(resolved))
      verdict
      promote
      auditPath.foreach(frame.auditFrom(resolved).write.mode(SaveMode.Append).parquet(_))
      stampLastUpdate(staging.fs, staging.target)
      verdict
    } finally staging.fs.delete(work, true)
  }

  /** Write a frame to a staging dir, deleting the partial output if the
    * write itself fails (no leaked staging dirs).
    */
  private def writeOrCleanup(df: DataFrame, dir: Path, fs: FileSystem): Unit =
    try df.write.mode(SaveMode.Overwrite).parquet(dir.toString)
    catch { case e: Throwable => fs.delete(dir, true); throw e }

  /** Threshold verdict (A22): returns the variance, or cleans up the
    * staged output and raises when the threshold is breached.
    */
  private def verdictOrCleanup(
      affected: Long,
      targetRows: Long,
      thresholdPct: Option[Double],
      fs: FileSystem,
      cleanup: Path): Double = {
    val variance: Double =
      if (targetRows > 0) affected.toDouble / targetRows * 100.0 else Double.NaN
    val within = thresholdPct match {
      case Some(pct) if targetRows > 0 => variance <= pct
      case _ => true // no threshold, or empty-target bypass (sql:473-476)
    }
    if (!within) {
      fs.delete(cleanup, true)
      throw new MergeThresholdExceededException(variance, thresholdPct.get)
    }
    variance
  }

  /** Atomic two-rename swap under a crash-recovery intent marker
    * (VERDICT r2 next #8). If the promote rename fails, the retire is
    * rolled back; on any failure the staging dir is cleaned up. A process
    * CRASH between the two renames previously left the target missing
    * under its retired name with nothing recording why — the marker makes
    * that state detectable and [[recover]] restores it (single-writer,
    * rename-atomic filesystem assumed — documented above).
    */
  private def swap(staging: Staging): Unit = {
    val Staging(fs, tgt, token) = staging
    val retired = staging.sibling("retired")
    writeSwapMarker(fs, tgt, token, staging.dir, retired, buckets = Nil, preExisting = Nil)
    if (!fs.rename(tgt, retired)) {
      fs.delete(staging.dir, true)
      removeSwapMarker(fs, tgt, token)
      throw new IllegalStateException(s"Atomic swap failed: could not retire $tgt")
    }
    if (!fs.rename(staging.dir, tgt)) {
      // Roll back the retire. If THAT rename also fails, the target exists
      // only under its retired name — keep the marker (it is the breadcrumb
      // recover() needs to restore the target); removing it here would
      // destroy the only record of where the content went (ADVICE r3 #2).
      val rolledBack = fs.rename(retired, tgt)
      fs.delete(staging.dir, true)
      if (rolledBack) removeSwapMarker(fs, tgt, token)
      throw new IllegalStateException(s"Atomic swap failed: could not promote ${staging.dir}" +
        (if (rolledBack) "" else s"; rollback also failed — run MergeApply.recover on $tgt"))
    }
    fs.delete(retired, true)
    removeSwapMarker(fs, tgt, token)
  }

  private def markerPath(tgt: Path, token: String): Path =
    new Path(tgt.getParent, s".${tgt.getName}.swap-$token.json")

  /** Persist the swap intent BEFORE the first rename: which staging dir is
    * being promoted, where the previous content retires to, and (for a
    * partitioned apply) which bucket directories participate and which of
    * them EXISTED before the swap. The existed-set lets [[recover]] tell "a
    * brand-new bucket was promoted" apart from "a pre-existing bucket whose
    * swap had not started" — inferring that from directory presence is
    * ambiguous exactly when a pre-existing bucket has no staged output
    * (retire-only delete), and guessing wrong deletes pre-merge data
    * (ADVICE r3 #1). Removed as the final step of a successful swap — so a
    * marker on disk always means "a swap was interrupted" and carries
    * everything [[recover]] needs. Written through [[graft.Sidecar]], so
    * quotes or backslashes in a target path cannot corrupt the marker.
    */
  private[merge] def writeSwapMarker(
      fs: FileSystem,
      tgt: Path,
      token: String,
      staging: Path,
      retired: Path,
      buckets: Seq[Int],
      preExisting: Seq[Int],
      partCol: String = PartitionedTarget.BucketCol): Unit = {
    graft.Sidecar.write(fs, markerPath(tgt, token), JObject(
      "staging" -> JString(staging.toString),
      "retired" -> JString(retired.toString),
      "buckets" -> JArray(buckets.map(JInt(_)).toList),
      "preExisting" -> JArray(preExisting.map(JInt(_)).toList),
      "partCol" -> JString(partCol)))
  }

  private[merge] def removeSwapMarker(fs: FileSystem, tgt: Path, token: String): Unit =
    fs.delete(markerPath(tgt, token), false)

  /** Recover a target whose swap was interrupted (process crash between
    * renames): scans for leftover intent markers and restores a consistent
    * state, returning true when anything was repaired.
    *
    * Policy — whole-directory swap: the commit point is the promote rename,
    * so target present with staging consumed → the swap committed, roll
    * FORWARD (drop retired leftovers); target missing → roll BACK (restore
    * the retired content, drop staging). Partitioned swap: the commit point
    * is the staging-root delete (the first cleanup step after every bucket
    * rename succeeded) — staging still present → roll BACK per bucket
    * (restore pre-existing buckets from their retired dirs, remove promoted
    * new-bucket dirs); staging gone → every rename completed, roll FORWARD.
    * Which buckets were pre-existing comes from the marker itself, never
    * inferred from directory presence — a pre-existing bucket with no
    * retired dir is one whose swap had not started, and its current
    * directory is the pre-merge data that must be kept (ADVICE r3 #1).
    *
    * A malformed marker is skipped with a warning (left in place for manual
    * inspection) rather than aborting recovery of the remaining markers.
    */
  def recover(spark: SparkSession, targetPath: String): Boolean = {
    val tgt = new Path(targetPath)
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = tgt.getParent
    if (parent == null || !fs.exists(parent)) return false
    val prefix = s".${tgt.getName}.swap-"
    val markers = fs.listStatus(parent).map(_.getPath)
      .filter(p => p.getName.startsWith(prefix) && p.getName.endsWith(".json"))
    var repaired = false
    markers.foreach { m =>
      val json = graft.Sidecar.read(fs, m)
      import graft.Sidecar.{ints, string}
      // partCol absent in pre-r10 markers → the merge-target default.
      val partCol = string(json, "partCol").getOrElse(PartitionedTarget.BucketCol)
      (string(json, "staging"), string(json, "retired"), ints(json, "buckets"), ints(json, "preExisting")) match {
        case (Some(stg), Some(ret), Some(buckets), Some(preExisting)) =>
          recoverOne(fs, tgt, new Path(stg), new Path(ret), buckets, preExisting.toSet, partCol)
          fs.delete(m, false)
          repaired = true
        case _ =>
          System.err.println(s"[merge] skipping malformed swap marker $m — inspect and remove manually")
      }
    }
    repaired
  }

  private def recoverOne(
      fs: FileSystem,
      tgt: Path,
      staging: Path,
      retired: Path,
      buckets: Seq[Int],
      preExisting: Set[Int],
      partCol: String): Unit = {
    if (buckets.isEmpty) {
      val promoted = fs.exists(tgt) && !fs.exists(staging)
      if (!promoted) {
        if (!fs.exists(tgt) && fs.exists(retired)) fs.rename(retired, tgt)
        fs.delete(staging, true)
      }
      fs.delete(retired, true)
    } else if (!fs.exists(staging)) {
      // Every bucket rename completed and the staging root was removed —
      // the partitioned swap committed; roll forward by dropping leftovers.
      fs.delete(retired, true)
    } else {
      buckets.foreach { b =>
        val name = s"$partCol=$b"
        val cur = new Path(tgt, name)
        val ret = new Path(retired, name)
        if (preExisting.contains(b)) {
          if (fs.exists(ret)) { // retire ran (promote may have): restore
            fs.delete(cur, true)
            fs.rename(ret, cur)
          }
          // else: this bucket's swap had not started — cur still holds the
          // pre-merge data; leave it alone.
        } else {
          fs.delete(cur, true) // brand-new bucket: undo any promote
        }
      }
      fs.delete(staging, true)
      fs.delete(retired, true)
    }
  }

  /** Write the lastUpdate sidecar (datetime2(3)-style millisecond precision,
    * sp_SimpleMerge.sql:488).
    */
  private[merge] def stampLastUpdate(fs: FileSystem, tgt: Path): Unit = {
    val ts = DateTimeFormatter.ISO_INSTANT
      .format(Instant.now().truncatedTo(java.time.temporal.ChronoUnit.MILLIS))
    graft.Sidecar.write(fs, new Path(tgt, MetaFile), JObject("lastUpdate" -> JString(ts)))
  }

  /** Read back the lastUpdate stamp, if any. */
  def lastUpdate(spark: SparkSession, targetPath: String): Option[String] = {
    val tgt = new Path(targetPath, MetaFile)
    val fs = tgt.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.Sidecar.string(graft.Sidecar.read(fs, tgt), "lastUpdate")
  }
}

/** One write's private namespace beside its target: the
  * `.<name>.<kind>-<token>` siblings (`staging`, `work`, `retired`) that a
  * merge, change-feed apply or compaction stages into and swaps through.
  * The token is fresh per write, so concurrent leftovers never collide.
  */
private[graft] final case class Staging(fs: FileSystem, target: Path, token: String) {
  def sibling(kind: String): Path = new Path(target.getParent, s".${target.getName}.$kind-$token")
  /** Where the staged result is written before the swap. */
  def dir: Path = sibling("staging")
}

private[graft] object Staging {
  /** Every staged writer starts here, so this is also where the session's
    * `file:` writes are made fork-free ([[graft.LocalFs.install]]).
    */
  def apply(spark: SparkSession, targetPath: String): Staging = {
    graft.LocalFs.install(spark)
    val tgt = new Path(targetPath)
    Staging(tgt.getFileSystem(spark.sparkContext.hadoopConfiguration), tgt,
      UUID.randomUUID().toString.take(8))
  }
}
