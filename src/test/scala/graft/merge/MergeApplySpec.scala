package graft.merge

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.GraftSuite
import graft.pipeline.HashMode

/** Apply-path specs: threshold guard / abort (A22), percent parse (A23),
  * lastUpdate stamp (A24), empty-target bypass (sp_SimpleMerge.sql:473-476),
  * audit persistence (`@output`, :350-410), and the single-execution
  * guarantee of the staged apply.
  */
class MergeApplySpec extends GraftSuite {
  import MergeApplySpec.Writer
  import spark.implicits._

  private def freshDir(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  private def writeTarget(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  private def target3: DataFrame =
    Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "name", "v")

  private def opts(threshold: Option[String] = None, audit: Boolean = false) =
    MergeOptions(keys = Seq("k"), threshold = threshold, audit = audit)

  /** The partitioned writer's one-bucket spec makes its touched slice the
    * whole target, so both writers merge the same rows and report the same
    * counts.
    */
  private val writers = Seq(
    Writer("applyTo", writeTarget, MergeApply.applyTo(spark, _, _, _)),
    Writer("applyToPartitioned",
      PartitionedTarget.write(_, _, PartitionSpec(Seq("k"), 1, HashMode.Xxhash64)),
      MergeApply.applyToPartitioned(spark, _, _, _)))

  /** Every file under `root`: relative path → content. */
  private def fileBytes(root: String): Map[String, Seq[Byte]] = {
    val base = Paths.get(root)
    Files.walk(base).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
  }

  test("commit path: result replaces target, counts and stamp correct (A21, A24)") {
    val path = freshDir("apply-commit")
    writeTarget(target3, path)
    // update k=2, insert k=4, delete k=3
    val source = Seq((1L, "a", 10.0), (2L, "B", 21.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    val r = MergeApply.applyTo(spark, path, source, opts())
    assert(r.committed && r.affectedRows === 3L && r.targetRows === 3L)
    assert(math.abs(r.variancePct - 100.0) < 1e-9)
    val after = spark.read.parquet(path).as[(Long, String, Double)].collect().toSet
    assert(after === Set((1L, "a", 10.0), (2L, "B", 21.0), (4L, "d", 40.0)))
    assert(MergeApply.lastUpdate(spark, path).isDefined)
  }

  for (w <- writers; audit <- Seq(false, true))
    test(s"threshold abort (A22), ${w.name}, audit=$audit: nothing changes") {
      val path = freshDir("apply-abort")
      w.load(target3, path)
      val source = Seq((1L, "a", 10.0), (2L, "B", 21.0), (4L, "d", 40.0)).toDF("k", "name", "v")
      val before = fileBytes(path)
      val e = intercept[MergeThresholdExceededException] {
        w.apply(path, source, opts(threshold = Some("50%"), audit = audit))
      }
      assert(math.abs(e.variancePct - 100.0) < 1e-9 && e.thresholdPct === 50.0)
      assert(fileBytes(path) === before)
      assert(MergeApply.lastUpdate(spark, path).isEmpty)
      // OUTPUT rows roll back with the transaction.
      assert(!Files.exists(Paths.get(MergeApply.defaultAuditPath(path))))
      // No leftover staging/work/retired siblings.
      val parent = Paths.get(path).getParent
      val leaks = Files.list(parent).toArray.map(_.toString).filter(_.contains(".t."))
      assert(leaks.isEmpty, s"leaked: ${leaks.mkString(",")}")
    }

  test("variance within threshold commits; exact boundary is inclusive (A22)") {
    val path = freshDir("apply-within")
    writeTarget(target3, path)
    // one change out of three rows = 33.33% <= 34%
    val source = Seq((1L, "a", 10.0), (2L, "B", 21.0), (3L, "c", 30.0)).toDF("k", "name", "v")
    val r = MergeApply.applyTo(spark, path, source, opts(threshold = Some("34%")))
    assert(r.committed && r.affectedRows === 1L)
  }

  test("empty-target bypass: threshold ignored when target has no rows (sql:473-476)") {
    val path = freshDir("apply-empty")
    writeTarget(target3.filter($"k" < 0), path)
    val source = Seq((1L, "a", 10.0)).toDF("k", "name", "v")
    val r = MergeApply.applyTo(spark, path, source, opts(threshold = Some("0.001%")))
    assert(r.committed && r.targetRows === 0L && r.variancePct.isNaN)
    assert(spark.read.parquet(path).count() === 1L)
  }

  test("invalid threshold string rejected before any data movement (A23)") {
    val path = freshDir("apply-badthresh")
    writeTarget(target3, path)
    intercept[MergeValidationException] {
      MergeApply.applyTo(spark, path, target3, opts(threshold = Some("lots%")))
    }
    assert(spark.read.parquet(path).count() === 3L)
  }

  for (w <- writers)
    test(s"audit persistence (@output), ${w.name}: d_*/i_* rows appended") {
      val path = freshDir("apply-audit")
      w.load(target3, path)
      val source = Seq((1L, "a", 10.0), (2L, "B", 21.0), (4L, "d", 40.0)).toDF("k", "name", "v")
      val r = w.apply(path, source, opts(audit = true))
      assert(r.auditPath === Some(MergeApply.defaultAuditPath(path)))
      val audit = spark.read.parquet(r.auditPath.get)
      assert(audit.count() === r.affectedRows)
      assert(audit.columns.toSeq === Seq("actionTime", "action", "k", "d_name", "d_v", "i_name", "i_v"))
      val byAction = audit.collect().map(r => r.getAs[String]("action") -> r).toMap
      assert(byAction("DELETE").getAs[String]("d_name") === "c")
      assert(byAction("DELETE").getAs[String]("i_name") === null) // inserted.* NULL on delete
      assert(byAction("INSERT").getAs[String]("d_name") === null) // deleted.* NULL on insert
      assert(byAction("UPDATE").getAs[String]("d_name") === "b")
      assert(byAction("UPDATE").getAs[String]("i_name") === "B")
      // A no-op re-merge appends zero audit rows.
      val r2 = w.apply(path, source, opts(audit = true))
      assert(r2.affectedRows === 0L)
      assert(spark.read.parquet(r.auditPath.get).count() === r.affectedRows)
    }

  test("subset source: audit images cover target-only columns (ADVICE r1 #1)") {
    val path = freshDir("apply-subset-audit")
    writeTarget(target3, path)
    // Source lacks the `v` column (m10 shape): images must still carry d_v/i_v.
    val source = Seq((2L, "B"), (4L, "d")).toDF("k", "name")
    val r = MergeApply.applyTo(spark, path, source,
      MergeOptions(keys = Seq("k"), delete = DeleteMode.Ignore, audit = true))
    val audit = spark.read.parquet(r.auditPath.get)
    assert(audit.columns.toSeq === Seq("actionTime", "action", "k", "d_name", "d_v", "i_name", "i_v"))
    val byAction = audit.collect().map(r => r.getAs[String]("action") -> r).toMap
    // UPDATE: target-only column v preserved — post-image equals pre-image.
    assert(byAction("UPDATE").getAs[Double]("d_v") === 20.0)
    assert(byAction("UPDATE").getAs[Double]("i_v") === 20.0)
    // INSERT: no pre-image; post-image of the target-only column is NULL.
    assert(byAction("INSERT").isNullAt(byAction("INSERT").fieldIndex("d_v")))
    assert(byAction("INSERT").isNullAt(byAction("INSERT").fieldIndex("i_v")))
  }

  test("salted badKey rank: 1..n permutation per key, multiset == plain window") {
    // Heavily skewed: one hot key with 40 rows, plus normal keys.
    val hot = (1 to 40).map(i => (7L, s"h$i", i.toDouble))
    val rest = Seq((1L, "a", 1.0), (2L, "b", 2.0), (2L, "b2", 3.0))
    val target = (hot ++ rest).toDF("k", "name", "v")
    val source = (hot.map { case (k, n, v) => (k, n + "'", v + 0.5) } ++ rest).toDF("k", "name", "v")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, String, Double)].collect().sortBy(_.toString).toSeq
    val plain = SimpleMerge.into(target).using(source).keys("k").badKey(true).delete("YES").merged
    val salted = SimpleMerge.into(target).using(source).keys("k").badKeySalt(5).delete("YES").merged
    assert(sorted(salted) === sorted(source.toDF()))
    assert(sorted(salted) === sorted(plain))
  }

  test("a source column named 'present' survives the merge (marker collision)") {
    val t = Seq((1L, "old", "x")).toDF("k", "present", "other")
    val s = Seq((1L, "new", "x"), (2L, "p2", "y")).toDF("k", "present", "other")
    val got = SimpleMerge.into(t).using(s).keys("k").delete("YES")
      .merged.as[(Long, String, String)].collect().toSet
    assert(got === Set((1L, "new", "x"), (2L, "p2", "y")))
  }

  test("soft-delete SET evaluates all RHS against the pre-update image (a=b,b=a swaps)") {
    val t = Seq((1L, "A", "B"), (2L, "keep", "keep2")).toDF("k", "a", "b")
    val s = Seq((2L, "keep", "keep2")).toDF("k", "a", "b")
    val got = SimpleMerge.into(t).using(s).keys("k")
      .delete("set a = b, b = a")
      .merged.as[(Long, String, String)].collect().toSet
    assert(got === Set((1L, "B", "A"), (2L, "keep", "keep2"))) // swapped, not b,b
  }

  test("SET with bracket identifiers parses like targetFilter does") {
    val t = Seq((1L, "live"), (2L, "live")).toDF("k", "status")
    val s = Seq((1L, "live")).toDF("k", "status")
    val got = SimpleMerge.into(t).using(s).keys("k")
      .delete("set [status] = concat('was-', [status])")
      .merged.as[(Long, String)].collect().toSet
    assert(got === Set((1L, "live"), (2L, "was-live")))
  }

  test("type gates: safe upcast allowed and target type preserved; narrowing rejected") {
    val t = Seq((1L, 10L)).toDF("k", "v") // v: bigint
    val sInt = Seq((1L, 11), (2L, 12)).toDF("k", "v") // v: int — upcasts
    val merged = SimpleMerge.into(t).using(sInt).keys("k").delete("NO").merged
    assert(merged.schema("v").dataType === org.apache.spark.sql.types.LongType)
    assert(merged.as[(Long, Long)].collect().toSet === Set((1L, 11L), (2L, 12L)))

    val tInt = Seq((1, 10)).toDF("k", "v")
    val sStr = Seq((1, "x")).toDF("k", "v") // string -> int: rejected
    val e = intercept[MergeValidationException] {
      SimpleMerge.into(tInt).using(sStr).keys("k").merged
    }
    assert(e.getMessage.contains("not compatible"))
  }

  test("reserved __graft_ column prefix is rejected") {
    val bad = Seq((1L, "x")).toDF("k", "__graft_action")
    intercept[MergeValidationException] {
      SimpleMerge.into(bad).using(bad).keys("k").merged
    }
  }

  test("duplicate-key guard restores the reference's fail-fast (opt-in)") {
    val dupTarget = Seq((1L, "a", 1.0), (1L, "a2", 2.0), (2L, "b", 3.0)).toDF("k", "name", "v")
    val source = Seq((1L, "a3", 4.0)).toDF("k", "name", "v")
    val m = SimpleMerge.into(dupTarget).using(source).keys("k")
    val e = intercept[MergeValidationException] { m.assertUniqueKeys() }
    assert(e.getMessage.contains("1 target / 0 source"))
    // badKey=true makes duplicates legal — guard is a no-op.
    SimpleMerge.into(dupTarget).using(source).keys("k").badKey(true).assertUniqueKeys()
  }

  /** (join-bearing, all) query executions `body` runs: listener delivery
    * is async, so wait until `expected` have arrived, then settle to catch
    * any late extra one.
    */
  private def executions(expected: Int)(body: => Unit): (Int, Int) = {
    val joins = new AtomicInteger(0)
    val all = new AtomicInteger(0)
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        if (qe.executedPlan.toString.contains("Join")) joins.incrementAndGet()
        all.incrementAndGet()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.nanoTime() + 5.seconds.toNanos
      while (all.get() < expected && System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(500)
      (joins.get(), all.get())
    } finally spark.listenerManager.unregister(listener)
  }

  test("audit-off apply executes the join exactly once (scale guarantee)") {
    val path = freshDir("apply-once")
    writeTarget(target3, path)
    val source = Seq((2L, "B", 21.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    val (joins, _) = executions(1) {
      MergeApply.applyTo(spark, path, source, opts(threshold = Some("500%")))
    }
    assert(joins === 1, s"expected exactly one join-bearing execution, saw $joins")
  }

  test("audit-on apply runs the join once, in three query executions") {
    val path = freshDir("apply-once-audit")
    writeTarget(target3, path)
    val source = Seq((2L, "B", 21.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    val (joins, all) = executions(3) {
      MergeApply.applyTo(spark, path, source, opts(threshold = Some("500%"), audit = true))
    }
    assert(joins === 1, s"expected exactly one join-bearing execution, saw $joins")
    assert(all === 3, s"expected three query executions, saw $all")
  }

  test("flat-target apply reads its schema from a footer: 3 jobs (4 with schema inference), none outside a SQL execution") {
    val path = freshDir("apply-jobs")
    writeTarget(target3, path)
    val source = Seq((2L, "B", 21.0), (4L, "d", 40.0)).toDF("k", "name", "v")
    // (jobId, SQL execution id) of every job the apply runs; a job outside
    // any SQL execution is planning work such as schema inference.
    val group = "apply-job-count"
    val marker = "apply-job-count-drained"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Option[String])]()
    @volatile var drained = false
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.job.description") == marker)) drained = true
        else if (props.exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.add(e.jobId -> props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))))
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "flat apply job count")
      try MergeApply.applyTo(spark, path, source, opts(threshold = Some("500%")))
      finally sc.clearJobGroup()
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30.seconds.toNanos
      while (!drained && System.nanoTime() < deadline) Thread.sleep(10)
      assert(drained, "listener bus did not deliver the marker job")
    } finally sc.removeSparkListener(listener)
    val seen = jobs.asScala.toSeq.sortBy(_._1)
    assert(seen.forall(_._2.isDefined), s"jobs outside a SQL execution: ${seen.mkString(", ")}")
    assert(seen.size === 3, s"jobs per apply: ${seen.mkString(", ")}")
  }

  test("footer schema of a flat target == spark.read.parquet schema (decimal, nested struct, nullability)") {
    import org.apache.spark.sql.functions._
    val path = freshDir("apply-footer")
    Seq((1L, 7, "a"), (2L, 8, null)).toDF("k", "n", "s")
      .select(
        col("k"), col("n"), // n is non-nullable in the written frame
        (col("k") * 1.25).cast("decimal(12,3)").as("dec"),
        struct(col("s"), struct(col("n").as("inner"), array(col("s")).as("arr")).as("deep")).as("nested"))
      .write.parquet(path)
    assert(PartitionedTarget.dataSchema(spark, path) === Some(spark.read.parquet(path).schema))
  }

  test("a key=value-partitioned flat directory still merges with its partition column") {
    val path = freshDir("apply-hive")
    Seq((1L, "a", "x"), (2L, "b", "y")).toDF("k", "name", "p").write.partitionBy("p").parquet(path)
    val source = Seq((1L, "A", "x"), (3L, "c", "z")).toDF("k", "name", "p")
    val r = MergeApply.applyTo(spark, path, source, MergeOptions(keys = Seq("k")))
    assert(r.committed && r.affectedRows === 3L)
    val after = spark.read.parquet(path).select("k", "name", "p").as[(Long, String, String)].collect().toSet
    assert(after === Set((1L, "A", "x"), (3L, "c", "z")))
  }

  private implicit class IntSeconds(n: Int) {
    def seconds: scala.concurrent.duration.FiniteDuration = scala.concurrent.duration.Duration(n, "s")
  }
}

object MergeApplySpec {
  /** A merge writer with the target layout it applies to. */
  private final case class Writer(
      name: String,
      load: (DataFrame, String) => Unit,
      apply: (String, DataFrame, MergeOptions) => MergeResult)
}
