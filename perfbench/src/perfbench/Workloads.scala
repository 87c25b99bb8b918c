package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.merge._
import graft.pipeline.HashMode

/** What one committed apply wrote, found by listing the target before and
  * after it: the new data files, their bytes and rows, and the directories
  * (buckets) they landed in.
  */
final case class Written(files: Int, bytes: Long, rows: Long, dirs: Int)

object Written {
  def between(ctx: Ctx, before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Written = {
    val fresh = after.filter { case (p, v) => !before.get(p).contains(v) }
    val conf = ctx.spark.sparkContext.hadoopConfiguration
    val rows = fresh.keys.toSeq.map { p =>
      val r = ParquetFileReader.open(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p), conf))
      try r.getRecordCount finally r.close()
    }.sum
    val dirs = (fresh.keys ++ before.keys.filterNot(after.contains)).map(p => new Path(p).getParent.toString).toSet
    Written(fresh.size, fresh.values.map(_._1).sum, rows, dirs.size)
  }
}

/** Layer figures shared by both merge workloads (traced runs). */
object MergeLayers {
  def apply(ctx: Ctx, classify: Window, call: Window, affected: Long, wr: Written): Map[String, Double] =
    ctx.sparkLayer(call) ++ Map(
      "merge.frame.classify_s" -> classify.seconds,
      "merge.frame.rows_in" -> classify.d.inputRecords.toDouble,
      "merge.frame.self_s" -> ctx.selfSeconds(classify),
      "merge.apply.call_s" -> call.seconds,
      "merge.apply.write_swap_s" -> (call.seconds - classify.seconds),
      "merge.apply.self_s" -> ctx.selfSeconds(call),
      "merge.apply.jobs" -> call.d.jobs.toDouble,
      "merge.apply.rows_read" -> call.d.inputRecords.toDouble,
      "merge.apply.rows_written" -> call.d.outputRecords.toDouble,
      "merge.apply.bytes_written" -> call.d.outputBytes.toDouble,
      "merge.apply.files_written" -> wr.files.toDouble,
      "merge.apply.touched_buckets" -> wr.dirs.toDouble,
      "merge.apply.useful_ratio" -> affected.toDouble / math.max(call.d.outputRecords, 1L))
}

/** snapshot_sync: the reference's canonical call — a daily full snapshot
  * merged into a composite-key target with delete=YES under a threshold,
  * through [[MergeApply.applyTo]] with audit off. A planted bad feed
  * (most keys missing) must abort and leave the target untouched.
  */
object Snapshot {
  val Keys = Seq("region", "account")

  def run(ctx: Ctx): Unit = {
    import ctx._
    val truth = Json.read(s"$work/truth.json")
    val days = truth.get("days")
    val opts = MergeOptions(keys = Keys, delete = DeleteMode.Delete,
      threshold = Some(truth.get("threshold").asText))
    val target = s"$work/target"
    def day(d: Int): DataFrame = spark.read.parquet(f"$work/day_$d%03d.parquet")

    for (_ <- 1 to 3) loadSeconds += timed(day(0).write.mode("overwrite").parquet(target))._2
    val baseline = persistentRdds

    def commit(d: Int, timedOp: Boolean): Unit = spans("snapshot_sync.commit") {
      val tr = days.get(d - 1)
      val src = day(d)
      val rddsBefore = persistentRdds
      val bytesBefore = storageBytes
      val before = dataFiles(target)
      val classify = if (!traced) None else Some(measure("merge.frame.classify") {
        SimpleMerge.into(spark.read.parquet(target)).using(src).keys(Keys: _*).delete("YES")
          .merged.write.format("noop").mode("overwrite").save()
      }._2)
      val (res, call) = measure("merge.apply.call")(MergeApply.applyTo(spark, target, src, opts))
      val lineage = lineageLayer(rddsBefore, bytesBefore)
      val wr = Written.between(ctx, before, dataFiles(target))
      if (timedOp) ops += Op("commit", call.seconds, tr.get("rows").asLong, res.affectedRows, wr.rows)
      check("committed", res.committed, s"day $d")
      check("affected_rows", res.affectedRows == tr.get("affected").asLong,
        s"day $d: affectedRows ${res.affectedRows}, generator ${tr.get("affected").asLong}")
      check("target_rows", res.targetRows == tr.get("target_rows").asLong,
        s"day $d: targetRows ${res.targetRows}, generator ${tr.get("target_rows").asLong}")
      Checks.sameRows(spark.read.parquet(target), src).foreach(why => check("target_equals_snapshot", false, s"day $d: $why"))
      check("target_equals_snapshot", true)
      checkLeftovers(s"day $d", target)
      checkRddBaseline(s"day $d", baseline)
      if (traced && timedOp) layers += MergeLayers(ctx, classify.get, call, res.affectedRows, wr) ++ lineage
    }

    def abort(timedOp: Boolean): Unit = spans("snapshot_sync.abort") {
      val before = dataFiles(target)
      val stamp = MergeApply.lastUpdate(spark, target)
      val (outcome, call) = measure("merge.apply.call") {
        try Right(MergeApply.applyTo(spark, target, spark.read.parquet(s"$work/bad.parquet"), opts))
        catch { case e: MergeThresholdExceededException => Left(e) }
      }
      if (timedOp) ops += Op("abort", call.seconds, 0, 0, 0)
      check("bad_feed_aborted", outcome.isLeft, s"bad feed committed: $outcome")
      check("abort_leaves_target", dataFiles(target) == before && MergeApply.lastUpdate(spark, target) == stamp,
        "target files or lastUpdate changed by an aborted merge")
      checkLeftovers("abort", target)
      checkRddBaseline("abort", baseline)
    }

    // Warm-up (untimed): first commit and first abort pay class loading,
    // JIT and code generation.
    warmupSeconds = timed { commit(1, timedOp = false); abort(timedOp = false) }._2

    var d = 2
    var n = 0
    while (more && d <= days.size) {
      commit(d, timedOp = true)
      d += 1
      n += 1
      if (n % 3 == 1 && more) abort(timedOp = true)
    }
    val files = dataFiles(target)
    extra("days_committed") = (d - 1).toString
    extra("target_rows") = days.get(d - 2).get("rows").asText
    extra("target_bytes") = files.values.map(_._1).sum.toString
  }
}

/** cdc_trickle: a closed loop of small deltas into a range-bucketed
  * [[PartitionedTarget]] through [[MergeApply.applyToPartitioned]]
  * (delete=Ignore, threshold), with a full-scan aggregate and a key-range
  * lookup on [[PartitionedTarget.read]] every few merges.
  */
object Cdc {
  val ReadEvery = 5
  /** Untimed merges before the loop: op times settle only after a few. */
  val Warmup = 4

  def run(ctx: Ctx): Unit = {
    import ctx._
    val truth = Json.read(s"$work/truth.json")
    val deltas = truth.get("deltas")
    val lookups = truth.get("lookups")
    val width = truth.get("range_width").asLong
    val spec = PartitionSpec(Seq("id"), truth.get("buckets").asInt, HashMode.Xxhash64,
      rangeShift = Some(truth.get("shift").asInt))
    val opts = MergeOptions(keys = Seq("id"), delete = DeleteMode.Ignore,
      threshold = Some(truth.get("threshold").asText))
    val target = s"$work/target"
    val readLog = ArrayBuffer.empty[String]
    var applied = 0

    for (_ <- 1 to 3)
      loadSeconds += timed(PartitionedTarget.write(spark.read.parquet(s"$work/initial.parquet"), target, spec))._2
    val baseline = persistentRdds

    def merge(j: Int, timedOp: Boolean): Unit = spans("cdc_trickle.merge") {
      val tr = deltas.get(j)
      val src = spark.read.parquet(f"$work/delta_$j%04d.parquet")
      val rddsBefore = persistentRdds
      val bytesBefore = storageBytes
      val before = dataFiles(target)
      val classify = if (!traced) None else {
        // The apply's own scope: the existing bucket directories the
        // delta's keys fall in.
        val buckets = src.select(spec.bucket(Seq(src("id")))).distinct().collect().map(_.getInt(0))
        val dirs = buckets.map(b => s"$target/${PartitionedTarget.BucketCol}=$b").filter(p => fs.exists(new Path(p)))
        Some(measure("merge.frame.classify") {
          val slice = spark.read.option("basePath", target).parquet(dirs.toIndexedSeq: _*)
            .drop(PartitionedTarget.BucketCol)
          SimpleMerge.into(slice).using(src).keys("id").delete("ignore")
            .merged.write.format("noop").mode("overwrite").save()
        }._2)
      }
      val (res, call) = measure("merge.apply.call")(MergeApply.applyToPartitioned(spark, target, src, opts))
      val lineage = lineageLayer(rddsBefore, bytesBefore)
      val wr = Written.between(ctx, before, dataFiles(target))
      applied = j + 1
      if (timedOp) ops += Op("merge", call.seconds, tr.get("rows").asLong, res.affectedRows, wr.rows)
      check("committed", res.committed, s"delta $j")
      check("affected_rows", res.affectedRows == tr.get("affected").asLong,
        s"delta $j: affectedRows ${res.affectedRows}, generator ${tr.get("affected").asLong}")
      checkLeftovers(s"delta $j", target)
      checkRddBaseline(s"delta $j", baseline)
      if (traced && timedOp) layers += MergeLayers(ctx, classify.get, call, res.affectedRows, wr) ++ lineage
    }

    def reads(i: Int, timedOp: Boolean): Unit = spans("cdc_trickle.read") {
      val files = dataFiles(target)
      val (scan, ws) = measure("merge.target.read") {
        PartitionedTarget.read(spark, target)
          .agg(count(lit(1)), sum("value"), sum("version"), max("id")).head()
      }
      val lo = lookups.get(i % lookups.size).asLong
      val (range, wr) = measure("merge.target.read") {
        PartitionedTarget.read(spark, target).filter(col("id") >= lo && col("id") < lo + width)
          .agg(count(lit(1)), sum("value")).head()
      }
      readLog += Json.obj("after" -> applied.toString, "kind" -> Json.str("scan"),
        "count" -> scan.getLong(0).toString, "sum_value" -> scan.getLong(1).toString,
        "sum_version" -> scan.getLong(2).toString, "max_id" -> scan.getLong(3).toString)
      readLog += Json.obj("after" -> applied.toString, "kind" -> Json.str("range"),
        "lo" -> lo.toString, "hi" -> (lo + width).toString,
        "count" -> range.getLong(0).toString, "sum_value" -> range.getLong(1).toString)
      if (timedOp) {
        ops += Op("read", ws.seconds, scan.getLong(0), 0, 0)
        ops += Op("read", wr.seconds, range.getLong(0), 0, 0)
      }
      if (traced && timedOp) Seq(ws, wr).foreach { w =>
        layers += Map(
          "merge.target.read_s" -> w.seconds,
          "merge.target.self_s" -> selfSeconds(w),
          "merge.target.files" -> files.size.toDouble,
          "merge.target.bytes" -> files.values.map(_._1).sum.toDouble)
      }
      checkRddBaseline("read", baseline)
    }

    // Warm-up (untimed): the first merges and reads pay class loading, JIT
    // and code generation.
    warmupSeconds = timed { (0 until Warmup).foreach(merge(_, timedOp = false)); reads(0, timedOp = false) }._2

    var j = Warmup
    var r = 1
    while (more && j < deltas.size) {
      merge(j, timedOp = true)
      j += 1
      if ((j - Warmup) % ReadEvery == 0 && more) { reads(r, timedOp = true); r += 1 }
    }
    val files = dataFiles(target)
    extra("merges_applied") = applied.toString
    extra("target_bytes") = files.values.map(_._1).sum.toString
    extra("target_files") = files.size.toString
    extra("reads") = Json.arr(readLog.toSeq)
  }
}
