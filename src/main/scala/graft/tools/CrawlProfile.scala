package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.queries.{CrawlStages, IngestQueries}

/** Per-stage wall-clock attribution for the composed crawl chains
  * (p11/p13) — guide §1.5: label the jobs, time each stage at its
  * materialization boundary. Valid attribution because every stage ends
  * with an eager lineage cut (CrawlStages' seam discipline), so a
  * stage's cost cannot leak into its successor; the lazy parse/scrub
  * land in the dedup stage that materializes them, stated in the row
  * name.
  *
  * Usage: CrawlProfile <sfDir> [p11|p13]
  * Prints one `[crawl-profile] stage=... sec=...` line per stage plus a
  * total; jobs are labelled per stage for UI reading.
  */
object CrawlProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val variant = args.lift(1).getOrElse("p13")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LocalFs.install(spark)

    val times = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def phase[T](name: String)(body: => T): T = {
      spark.sparkContext.setJobDescription(s"$variant: $name")
      val t0 = System.nanoTime()
      val r = body
      times += name -> (System.nanoTime() - t0) / 1e9
      spark.sparkContext.setJobDescription(null)
      r
    }

    // Fixture construction is SETUP (BenchPhases stages it out of the
    // timed samples); time it separately so it never pollutes the rows.
    val fixture = phase("fixture(setup)")(
      if (variant == "p11") IngestQueries.warcCrawlFixture(spark, sfDir)
      else IngestQueries.warcCrawlNearFixture(spark, sfDir))

    val (ingested, _) = CrawlStages.ingest(spark, fixture)
    val deduped = phase("parse+scrub+dedup")(
      CrawlStages.dedup(CrawlStages.scrub(ingested)))
    val base =
      if (variant == "p11") deduped
      else phase("nearDedup")(CrawlStages.nearDedup(deduped))
    val routed = phase("route(langid)")(CrawlStages.route(spark, base))
    val gated = phase(if (variant == "p11") "gate(ntile)" else "gateSketch(perlang)")(
      if (variant == "p11") CrawlStages.gate(routed)
      else CrawlStages.gateSketch(routed))
    val model = phase("trainTokenizer")(CrawlStages.trainTokenizer(gated))
    val (_, seqs) = phase("packSequences(ids cut)")(
      CrawlStages.packSequences(gated, model))
    phase("splice+census")(
      seqs.groupBy("pred_lang", "pack_id")
        .agg(count(lit(1)).as("n_positions"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("piece_id")).as("sum_piece_ids"),
          sum(col("pos") * col("piece_id")).as("pos_weighted_sum"))
        .orderBy("pred_lang", "pack_id").count())

    val timed = times.filterNot(_._1.endsWith("(setup)"))
    times.foreach { case (n, s) => println(f"[crawl-profile] stage=$n%-24s sec=$s%.2f") }
    println(f"[crawl-profile] stage=TOTAL(timed)            sec=${timed.map(_._2).sum}%.2f")
    spark.stop()
  }
}
