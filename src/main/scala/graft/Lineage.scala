package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The one materialization policy: every persist, checkpoint and
  * release in the program goes through here, under one rule.
  *
  *   - A frame that several jobs of ONE call reuse is [[pinned]] for
  *     that call's scope and released when the scope exits, by return or
  *     by throw. A frame its caller already cached is left alone.
  *   - A frame that outlives the call (the lazy plan it returns still
  *     reads it, or a loop's next round joins against it) is a [[cut]]:
  *     materialized eagerly, with its lineage replaced by one leaf. The
  *     cut's owner releases it with [[free]] once nothing reads it; what
  *     a query hands its harness, the harness's [[releaseAll]] releases.
  *
  * A cut keeps the logical plan constant-size: an iterative operator
  * that joins round r against round r−1 without it doubles its plan
  * per round, and planning itself becomes the bottleneck (guide §3.3;
  * the q41 9,723-line / 1,137-Exchange plan). `localCheckpoint` is the
  * cheap cut: blocks live in executor memory/disk, no distributed-FS
  * round trip. Its documented trade is fault tolerance — executor-local
  * blocks cannot be recomputed (the lineage is gone) NOR re-fetched
  * after an executor loss, so on a real cluster a spot kill / OOM /
  * dynamic deallocation mid-operator fails every downstream job
  * unrecoverably. Single-tenant local runs never see that failure mode.
  *
  * [[cut]] therefore keys the cut type off the session's checkpoint
  * directory — the standard Spark switch for exactly this trade:
  *
  *   - `spark.sparkContext.setCheckpointDir(...)` set (a production
  *     cluster pointing at durable storage): RELIABLE checkpoint —
  *     `Dataset.checkpoint(eager = true)` writes the rows to the
  *     checkpoint dir; an executor loss costs a re-read, not the job.
  *   - unset (the local default): `localCheckpoint(eager = true)`.
  *
  * Both paths materialize the same rows eagerly and return a leaf plan
  * over them — results are bit-identical (spec-pinned in LineageSpec);
  * only where the materialized rows LIVE differs.
  *
  * [[free]] releases a superseded cut's storage eagerly, for either
  * kind: a local checkpoint's block-manager blocks (waiting for the
  * GC-driven ContextCleaner measurably leaks — the d22 12 → 63 s
  * degradation), or a reliable checkpoint's files under the checkpoint
  * dir (the ContextCleaner deletes those only under
  * `spark.cleaner.referenceTracking.cleanCheckpoints`, off by default,
  * so otherwise they stay for the session).
  */
object Lineage {

  /** Materialize `df` eagerly and cut its lineage — reliable iff the
    * session has a checkpoint directory (see class doc).
    */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(true)

  /** Release the storage behind a superseded [[cut]] (a frame whose plan
    * is one `LogicalRDD` leaf): a local checkpoint's block-manager blocks,
    * a reliable checkpoint's files. The frame is unreadable afterwards.
    * Any other frame is left alone, including one derived from a cut,
    * whose leaf may be a frame its caller still holds.
    */
  def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.unpersist(false)
      l.rdd.getCheckpointFile.foreach { f =>
        val dir = new Path(f)
        dir.getFileSystem(l.rdd.sparkContext.hadoopConfiguration).delete(dir, true)
      }
    case _ =>
  }

  /** Release everything the session has materialized: every cache,
    * every persisted RDD (local cuts included) and every reliable cut's
    * files under the checkpoint dir. A harness's reset between runs,
    * once no frame of the last run is read again — the owner of the cuts
    * a query's returned lazy plan reads.
    */
  private[graft] def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    sc.getCheckpointDir.foreach { d =>
      val dir = new Path(d)
      val fs = dir.getFileSystem(sc.hadoopConfiguration)
      if (fs.exists(dir)) fs.listStatus(dir).foreach(st => fs.delete(st.getPath, true))
    }
  }

  /** Run `body` with `df` cached (MEMORY_AND_DISK) for its duration — for
    * a frame that several jobs of one operation consume, so its lineage
    * runs once. A frame the caller already persisted is left exactly as
    * it is: not re-pinned, and NOT unpersisted on return, so the
    * caller's later reuse still hits its cache.
    */
  def pinned[T](df: DataFrame)(body: DataFrame => T): T = {
    val mine = df.storageLevel == StorageLevel.NONE
    if (mine) df.persist(StorageLevel.MEMORY_AND_DISK)
    try body(df) finally if (mine) df.unpersist(false)
  }
}
