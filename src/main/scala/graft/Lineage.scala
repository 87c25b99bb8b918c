package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage-cut policy for the iterative operators (GraphRank,
  * Dedup.clusters/clustersAlternating, Bpe.train, kCenters, the frozen
  * LM-gate table pinning, the CrawlStages seams).
  *
  * These operators materialize an intermediate once per round and join
  * later rounds against the materialized leaf — without the cut, the
  * logical plan doubles per round and planning itself becomes the
  * bottleneck (guide §3.3; the q41 9,723-line / 1,137-Exchange plan).
  * `localCheckpoint` is the cheap cut: blocks live in executor memory/
  * disk, no distributed-FS round trip. Its documented trade is fault
  * tolerance — executor-local blocks cannot be recomputed (the lineage
  * is gone) NOR re-fetched after an executor loss, so on a real cluster
  * a spot kill / OOM / dynamic deallocation mid-operator fails every
  * downstream job unrecoverably. Single-tenant local runs (this bench)
  * never see that failure mode.
  *
  * [[cut]] therefore keys the cut type off the session's checkpoint
  * directory — the standard Spark switch for exactly this trade:
  *
  *   - `spark.sparkContext.setCheckpointDir(...)` set (a production
  *     cluster pointing at durable storage): RELIABLE checkpoint —
  *     `Dataset.checkpoint(eager = true)` writes the rows to the
  *     checkpoint dir; an executor loss costs a re-read, not the job.
  *   - unset (the local default): `localCheckpoint(eager = true)`,
  *     exactly the pre-flag behavior.
  *
  * Both paths materialize the same rows eagerly and return a leaf plan
  * over them — results are bit-identical (spec-pinned in LineageSpec);
  * only where the materialized rows LIVE differs.
  *
  * [[free]] releases a superseded cut's storage: for a local checkpoint
  * it drops the block-manager blocks eagerly (waiting for the GC-driven
  * ContextCleaner measurably leaks — the d22 12 → 63 s degradation);
  * for a reliable checkpoint the files under the checkpoint dir are the
  * cluster's to clean (`spark.cleaner.referenceTracking.cleanCheckpoints`
  * or dir lifecycle policy), so it is a no-op there.
  *
  * [[pinned]] is the scoped cache for a frame with several consumers
  * inside one operation; it never touches a cache its caller owns.
  */
object Lineage {

  /** Materialize `df` eagerly and cut its lineage — reliable iff the
    * session has a checkpoint directory (see class doc).
    */
  def cut(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(true)

  /** Release the block-manager blocks behind a superseded [[cut]] leaf.
    * No-op when `df` is not a leaf-RDD plan (e.g. a reliable checkpoint
    * whose storage is files, or a frame that was never cut).
    */
  def free(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(false))

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
