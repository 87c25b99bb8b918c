package graft.merge

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** CDC change-feed application — the merge variant where the source is
  * not a full snapshot to DIFF against (the [[MergeFrame]] contract) but
  * an authoritative stream of per-row operations (Debezium/CDC shape):
  * `D` removes the key, `U`/`I` upsert the row, keys absent from the
  * feed are untouched. The feed is TRUSTED — no change detection, no
  * not-matched-by-source handling; that is exactly the semantic gap
  * between applying a snapshot and applying a log.
  *
  * Scale shape: one key-wise anti-join (broadcast when the feed is a
  * small delta — the normal CDC case) + a union; cost ∝ target scan +
  * |feed|, and composes with [[PartitionedTarget]] the same way any
  * merged frame does.
  */
object ChangeFeed {

  /** Apply a change feed to a target.
    *
    * @param feed   target-schema rows plus `opCol` ∈ {I, U, D}
    *               (case-insensitive); for `D` rows only the key columns
    *               are read. One row per key — a raw multi-op log must be
    *               collapsed to its latest op per key upstream (window on
    *               the log's sequence column), since "latest" is the
    *               log's notion of order, not this operator's.
    * @param keys   merge key columns (null-safe matched).
    */
  def apply(target: DataFrame, feed: DataFrame, keys: Seq[String], opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "at least one key column required")
    require(feed.columns.contains(opCol), s"feed must carry the op column '$opCol'")
    val feedKeys = feed.select(keys.map(col): _*).distinct()
    val cond = keys.map(k => target(k) <=> feedKeys(k)).reduce(_ && _)
    val untouched = target.join(feedKeys, cond, "left_anti")
    val upserts = feed.filter(upper(col(opCol)).isin("I", "U")).drop(opCol)
    untouched.unionByName(upserts)
  }

  /** EXTRACT the change feed between two snapshots — the inverse of
    * [[apply]], closing the CDC loop: `apply(old, diff(old, new)) == new`
    * row-for-row (the round-trip law the spec pins). This is what turns
    * a vendor who can only deliver full snapshots into a CDC source:
    * diff consecutive snapshots once, then ship/apply/replay the
    * few-row feed instead of the full table — at 100 TB the difference
    * between rewriting everything nightly and touching the buckets a
    * few thousand changed keys hash into
    * ([[applyToPartitioned]] downstream).
    *
    * Semantics: keys only in `newSnap` → `I`; keys only in `oldSnap` →
    * `D` (key columns carried, value columns from the old row — audit
    * convenience, [[apply]] reads only the keys); keys in both with ANY
    * value difference (null-safe, struct equality) → `U` with the NEW
    * row. Unchanged keys emit nothing — the feed is the change set, so
    * its size is the churn, not the table.
    *
    * Scale shape: ONE full-outer join on the keys (null-safe), change
    * detection as a single struct `<=>` comparison (the A10 machinery's
    * form), no window, no collect. Snapshots must share the schema;
    * column order follows `newSnap`.
    */
  def diff(
      oldSnap: DataFrame, newSnap: DataFrame, keys: Seq[String],
      opCol: String = "op"): DataFrame = {
    require(keys.nonEmpty, "at least one key column required")
    require(oldSnap.columns.sorted.sameElements(newSnap.columns.sorted),
      s"snapshots must share a schema; got ${oldSnap.columns.mkString(",")} " +
        s"vs ${newSnap.columns.mkString(",")}")
    val valueCols = newSnap.columns.filterNot(keys.contains).toSeq
    val o = oldSnap.select(
      keys.map(k => col(k).as(s"__ko_$k")) ++
        valueCols.map(c => col(c).as(s"__o_$c")): _*)
    val n = newSnap.select(
      keys.map(k => col(k).as(s"__kn_$k")) ++
        valueCols.map(c => col(c).as(s"__n_$c")): _*)
    val cond = keys.map(k => o(s"__ko_$k") <=> n(s"__kn_$k")).reduce(_ && _)
    // Presence flags via marker columns: a side is present iff its row
    // existed — tracked explicitly so all-null value rows still count.
    val withFlags = o.withColumn("__po", lit(true))
      .join(n.withColumn("__pn", lit(true)), cond, "full_outer")
    val oldVals = struct(valueCols.map(c => col(s"__o_$c")): _*)
    val newVals = struct(valueCols.map(c => col(s"__n_$c")): _*)
    val op = when(col("__po").isNull, lit("I"))
      .when(col("__pn").isNull, lit("D"))
      .when(!(oldVals <=> newVals), lit("U"))
    val keyOut = keys.map(k => coalesce(col(s"__kn_$k"), col(s"__ko_$k")).as(k))
    val valOut = valueCols.map(c =>
      when(col("__pn").isNull, col(s"__o_$c"))
        .otherwise(col(s"__n_$c")).as(c))
    withFlags
      .withColumn(opCol, op)
      .filter(col(opCol).isNotNull)
      .select((col(opCol) +: keyOut) ++ valOut: _*)
  }

  /** Apply a change feed to a [[PartitionedTarget]] ON DISK, rewriting and
    * swapping ONLY the bucket directories the feed's keys hash into —
    * CDC apply cost scales with the feed, not the target (the same pruning
    * contract as [[MergeApply.applyToPartitioned]], without the snapshot
    * merge's change detection the trusted log doesn't need). Delete-only
    * buckets are still in the touched set — a bucket whose every row is
    * `D`'d stages no output and the swap retires its directory. Runs under
    * the same staged-write + intent-marker protocol, so
    * [[MergeApply.recover]] rolls back a crash mid-swap.
    *
    * @return the touched bucket ids (metadata-sized; empty feed → empty).
    */
  def applyToPartitioned(
      spark: SparkSession, targetPath: String, feed: DataFrame,
      keys: Seq[String], opCol: String = "op"): Seq[Int] = {
    require(keys.nonEmpty, "at least one key column required")
    require(feed.columns.contains(opCol), s"feed must carry the op column '$opCol'")
    PartitionedApply.withTouched(spark, targetPath, feed, keys) { t =>
      if (t.buckets.nonEmpty) {
        val slice = t.slice(StructType(t.delta.schema.filterNot(_.name == opCol)))
        t.write(apply(slice, t.delta, keys, opCol))
        t.swap()
        MergeApply.stampLastUpdate(t.staging.fs, t.staging.target)
      }
      t.buckets
    }
  }
}
