package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.merge._

/** End-to-end demo/driver of the public merge API against the real testdata
  * parquet: seeds a target directory, applies a threshold-guarded merge with
  * atomic swap, prints before/after evidence. Run:
  *   sbt "runMain graft.tools.MergeDemo [sfDir] [workDir]"
  */
object MergeDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val work = args.lift(1).getOrElse("/tmp/graft-merge-demo")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-merge-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LocalFs.install(spark)

    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    // target: 90% of orders, some prices perturbed; source: the truth.
    val tgtPath = s"$work/orders_target"
    // Fresh audit table per run (the engine appends by design).
    val auditDir = new org.apache.hadoop.fs.Path(MergeApply.defaultAuditPath(tgtPath))
    auditDir.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(auditDir, true)
    orders.filter(col("o_orderkey") % 10 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(1.0))
          .otherwise(col("o_totalprice")))
      .write.mode("overwrite").parquet(tgtPath)
    val source = orders.filter(col("o_orderkey") % 7 =!= 0)

    val before = spark.read.parquet(tgtPath).count()
    println(s"[demo] target rows before merge: $before, source rows: ${source.count()}")

    val m = SimpleMerge.into(spark.read.parquet(tgtPath), "orders_target")
      .using(source, "orders_source")
      .joinColumns("o_orderkey")
      .delete("YES")
      .threshold("60%")
    println("[demo] debug grid (@debug=1 analog):")
    m.describe(spark).collect().foreach(r => println(s"--- ${r.getString(0)} ---\n${r.getString(1)}"))

    val res = m.applyToPath(spark, tgtPath)
    println(s"[demo] applied: affected=${res.affectedRows} targetRows=${res.targetRows} " +
      f"variance=${res.variancePct}%.2f%% committed=${res.committed}")
    val after = spark.read.parquet(tgtPath)
    println(s"[demo] target rows after merge: ${after.count()} (expect == source count)")
    println(s"[demo] lastUpdate stamp: ${MergeApply.lastUpdate(spark, tgtPath)}")

    // Audit persistence (@output): a no-op-free re-merge with audit on
    // writes one OUTPUT row per affected row next to the target.
    val auditSource = source.withColumn("o_totalprice", col("o_totalprice") + lit(2.0))
    val auditRes = SimpleMerge.into(spark.read.parquet(tgtPath), "orders_target")
      .using(auditSource, "orders_source")
      .joinColumns("o_orderkey").delete("NO").audit(true)
      .applyToPath(spark, tgtPath)
    val auditRows = spark.read.parquet(auditRes.auditPath.get).count()
    println(s"[demo] audit persisted: ${auditRes.auditPath.get} rows=$auditRows " +
      s"(expect == affected=${auditRes.affectedRows})")

    // Threshold-abort probe: merging the now-converged target with a
    // different source slice under a 1% threshold must abort and leave the
    // target untouched.
    val abortSource = orders.filter(col("o_orderkey") % 2 === 0)
    try {
      SimpleMerge.into(spark.read.parquet(tgtPath), "orders_target").using(abortSource, "orders_half")
        .joinColumns("o_orderkey").delete("YES").threshold("1%")
        .applyToPath(spark, tgtPath)
      println("[demo] ERROR: threshold abort did not fire")
    } catch {
      case e: MergeThresholdExceededException =>
        println(s"[demo] threshold abort fired as expected: ${e.getMessage}")
        println(s"[demo] target rows after abort: ${spark.read.parquet(tgtPath).count()} (unchanged)")
    }

    // Partition-scoped apply (the 100 TB path): bucket the target once,
    // then a contiguous-keyrange delta rewrites only the buckets it
    // touches; untouched bucket files stay byte-identical; compact is a
    // no-op on a healthy layout.
    val ptPath = s"$work/orders_partitioned"
    val spec = PartitionSpec(Seq("o_orderkey"), 16, graft.pipeline.HashMode.Xxhash64,
      rangeShift = Some(8)) // buckets of 256 contiguous keys
    PartitionedTarget.write(spark.read.parquet(tgtPath), ptPath, spec)
    def snapshot(): Map[String, Long] = {
      val root = new org.apache.hadoop.fs.Path(ptPath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(root).filter(_.isDirectory).flatMap(d =>
        fs.listStatus(d.getPath).filter(_.isFile)
          .map(f => f.getPath.toString -> f.getModificationTime)).toMap
    }
    val filesBefore = snapshot()
    val delta = orders.filter(col("o_orderkey") <= 300)
      .withColumn("o_totalprice", col("o_totalprice") + lit(5.0))
    val pres = MergeApply.applyToPartitioned(spark, ptPath, delta,
      MergeOptions(keys = Seq("o_orderkey"), delete = DeleteMode.Ignore))
    val filesAfter = snapshot()
    val untouched = filesBefore.filter { case (p, t) => filesAfter.get(p).contains(t) }
    println(s"[demo] partitioned apply: affected=${pres.affectedRows} " +
      s"touched-slice rows=${pres.targetRows}; " +
      s"${untouched.size}/${filesBefore.size} pre-existing bucket files physically untouched")
    println(s"[demo] compact on healthy layout: ${PartitionedTarget.compact(spark, ptPath)} " +
      "(expect empty), recover: " + MergeApply.recover(spark, ptPath) + " (expect false)")
    spark.stop()
  }
}
