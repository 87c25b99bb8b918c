package graft
import org.apache.spark.sql.SparkSession

import graft.queries.BenchPhases

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line (driver contract).
  *
  * Measurement discipline (VERDICT r3 next #2 — the r3 bench swung ±48%
  * on unchanged code and could not police a 2× gate):
  *
  *   - every query runs `SPARK_GRAFT_BENCH_ITERS` times (default 3) and
  *     reports the MEDIAN — one slow GC pause or compilation stall no
  *     longer defines a query's number;
  *   - `spark.catalog.clearCache()` before every iteration: queries
  *     persist intermediates (dedup shingle indexes) that would otherwise
  *     leak across iterations and queries, making run order — not code —
  *     decide the numbers;
  *   - queries listed in [[BenchPhases.timedSections]] (m13/m14/st1)
  *     split untimed fixture setup from the measured operation, so the
  *     m13-vs-m14 line compares APPLY cost, which is the claim under test
  *     (apply ∝ delta on the partitioned path vs ∝ target on the full
  *     rewrite);
  *   - fixed alphabetical query order, one untimed warmup job.
  *
  * A crashing query reports wall-time -1 (unmistakable error marker) and
  * is listed in "failed" — failures are never silently folded into a
  * normal-looking timing (VERDICT r1 "what's wrong" #3).
  */
object Bench {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_ITERS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true") // events nanos ts
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    LocalFs.install(spark)
    // Steady-state warmup (untimed): one trivial job so the first timed
    // query doesn't absorb executor startup + first-codegen costs that a
    // long-lived cluster never pays per query. Guarded — a broken sfDir
    // must degrade to per-query failures, not kill the whole run.
    try {
      spark.range(1000).selectExpr("sum(id)").collect()
      spark.read.parquet(s"$sfDir/region.parquet").count()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup skipped: ${e.getMessage}") }

    // Dev loop: SPARK_GRAFT_BENCH_ONLY=m13_merge_partitioned,m14_... runs a
    // subset. The driver never sets it, so round benches stay complete.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // Full isolation between timed runs (VERDICT r5 next #3 — unchanged
    // queries swung 2-20×, and run-order interference, not code, was the
    // suspect): clearCache covers catalog-cached frames, but NOT
    // localCheckpoint blocks (d9, cluster outputs) — those live in
    // getPersistentRDDs until the ContextCleaner happens to GC their
    // references. Release them explicitly (`Lineage.releaseAll`, which
    // also deletes reliable cuts' checkpoint files), and delete the scratch
    // targets (m13/m14/st1 write a full copy per iteration) instead of
    // parking them on disk until JVM exit.
    def isolate(): Unit = {
      Lineage.releaseAll(spark)
      queries.Fixtures.purgeScratch()
    }
    val results = selected.map { case (name, fn) =>
      def runOnce(i: Int): Option[Double] = {
        isolate()
        try {
          val body: () => Unit = BenchPhases.timedSections.get(name) match {
            case Some(split) => split(spark, sfDir) // untimed fixture setup
            case None => () => { fn(spark, sfDir).count(); () }
          }
          val t0 = System.nanoTime()
          body()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name iter $i FAILED: ${e.getMessage}")
            None
        }
      }
      System.gc() // settle accumulated garbage before the first timed run
      val base = (1 to iters).flatMap(runOnce)
      // Sub-second queries are the ones that swung relative-most between
      // rounds — a single stray GC or compile stall IS their whole number.
      // Give them extra samples so the median has room to shed outliers.
      // Extras are opportunistic: every successful sample sharpens the
      // median, but a transient failure among them must never demote a
      // query whose REQUIRED iterations all succeeded. Gated on iters > 1:
      // ITERS=1 is the one-sample-per-JVM contract of
      // tools/bench_isolated.py, and folding 2 same-JVM extras back in
      // would reintroduce exactly the within-JVM confound that tool
      // exists to remove.
      val times =
        if (iters > 1 && base.length == iters && median(base) < 1.0)
          base ++ (1 to 2).flatMap(i => runOnce(iters + i))
        else base
      // Every required iteration must succeed for a trustworthy median.
      if (base.length == iters) (name, median(times), true, times)
      else (name, -1.0, false, times)
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedNames = results.collect { case (k, _, false, _) => k }
    val failed = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _) => v }.sum
    // SPARK_GRAFT_BENCH_RAW=1 appends every per-iteration sample (not just
    // the median) — the isolated A/B protocol wants the spread, and extra
    // JSON fields are invisible to the driver's parser.
    val raw =
      if (sys.env.get("SPARK_GRAFT_BENCH_RAW").contains("1"))
        results.map { case (k, _, _, ts) => s"\"" + k + "\":[" + ts.mkString(",") + "]" }
          .mkString(""","raw":{""", ",", "}")
      else ""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir","iterations":$iters$raw}"""
    println(line)
    // The driver captures stdout through a log tail that has truncated
    // mid-list before (BENCH_r10's artifact lost the d/e/m families), so
    // the full sorted-keys JSON is also written to a file when
    // SPARK_GRAFT_BENCH_OUT names one — the artifact of record survives
    // any log truncation.
    // Default lands in the repo working dir so the per-round driver run
    // leaves a durable copy without any env cooperation.
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"[bench] self-artifact write failed: ${e.getMessage}") }
    // Driver-parseable summary (VERDICT r20 "what's wrong" #1): the full
    // line above is ~28 KB for 275 queries, and the driver's captured log
    // tail is 2,000 chars — it can never recover the full line, so both
    // r19 and r20 judged with `parsed: null`. This LAST line is a compact
    // (<300 byte) JSON object that always fits the tail: totals, counts,
    // and failures — the gate-relevant facts — while the per-query map
    // stays in the full line and in the BENCH_SELF.json artifact of
    // record. Additions-only: the full line is still printed first, so
    // any parser that scans for the first '{"metric"' line is unaffected.
    println(summaryLine(total, results.size, failedNames, sfDir,
      scala.util.Try(cpus.toInt).getOrElse(-1), iters, out))
    spark.stop()
  }

  /** The compact summary line printed last, bounded however many
    * queries fail: it lists the first 10 failed names, `n_failed` carries
    * the count and the full line every name.
    */
  private[graft] def summaryLine(
      total: Double, n: Int, failedNames: Seq[String], sfDir: String, cpus: Int,
      iters: Int, out: String): String = {
    val failed = failedNames.take(10).map("\"" + _ + "\"").mkString("[", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec","n":$n,"n_failed":${failedNames.size},"failed":$failed,"sf":"$sfDir","cpus":$cpus,"iterations":$iters,"full":"$out"}"""
  }
}
