package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.sources.Ingest

/** End-to-end demo/driver of the ingestion boundary over the real
  * `documents` testdata — the full life of a crawl drop, each stage one
  * library operator, with evidence printed per stage:
  *
  *   serialize documents to lang-partitioned JSONL shards with planted
  *   damage (every 13th line torn) → field inventory on the RAW lines
  *   (schema discovery before a schema exists) → quarantine read
  *   (clean/quarantine totality + health report) → per-shard corrupt
  *   triage off the provenance columns → manifest-gated promotion into
  *   the per-file-partitioned corpus (run TWICE — the second run must
  *   no-op) → a late shard arrives → incremental promotion (only the
  *   new file reads) → compaction into the downstream layout →
  *   final reconciliation: compacted corpus == clean lines exactly.
  *
  * No driver-side row data at any stage (the one `.collect` is the
  * per-shard report — file-level metadata). Run:
  *   sbt "runMain graft.tools.IngestDemo [sfDir]"
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ingest-demo")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LocalFs.install(spark)
    def log(m: String): Unit = println(s"[demo] $m")

    val schema = graft.queries.IngestQueries.jsonlSchema
    val src = graft.queries.IngestQueries.partitionedJsonlFixture(spark, sfDir)
    val nDocs = spark.read.parquet(s"$sfDir/documents.parquet").count()
    log(s"staged lang-partitioned JSONL shards from $nDocs documents (every 13th line torn)")

    // 1. Schema discovery on raw lines — before committing to a schema.
    val lines = spark.read.textFile(src).toDF("value")
    val inv = Ingest.fieldInventory(lines, "value").orderBy(desc("present_frac"), asc("field"))
    log("field inventory (raw lines): " + inv.collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}@${r.getDouble(2)}").mkString(", "))

    // 2. Quarantine read: totality + health gate.
    val parsed = Ingest.parseJsonl(lines, "value", schema)
    val report = Ingest.report(parsed).head()
    val (nClean, nCorrupt) = (report.getLong(0), report.getLong(1))
    log(s"quarantine read: clean=$nClean corrupt=$nCorrupt frac=${report.getDouble(2)} " +
      s"(totality: ${nClean + nCorrupt} == ${lines.count()} input lines)")

    // 3. Per-shard triage off the provenance columns.
    val triage = Ingest.quarantineOf(parsed)
      .groupBy(Ingest.shardLabel(col("src_file")).as("shard"))
      .agg(count(lit(1)).as("n")).orderBy("shard").collect()
    log("per-shard corrupt triage: " +
      triage.map(r => s"${r.getString(0)}:${r.getLong(1)}").mkString(", "))

    // 4. Manifest-gated promotion — twice; the re-run must no-op.
    val root = graft.queries.Fixtures.scratchDir("graft-ingest-demo")
    def promote() = Ingest.promoteJsonl(spark, src, schema,
      s"$root/corpus", s"$root/quarantine", s"$root/manifest")
    val first = promote().count()
    val second = promote().count()
    log(s"promotion: $first shards promoted; re-run promoted $second (expect 0)")
    val corpusRows = spark.read.parquet(s"$root/corpus").count()
    log(s"corpus rows after double promote: $corpusRows (expect == clean=$nClean)")

    // 5. A late shard arrives — incremental promotion reads ONLY it.
    val late = new org.apache.hadoop.fs.Path(src, "lang=xx/late-shard.jsonl")
    val fs = late.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(late, true)
    out.write(Seq(
      """{"doc_id":900000001,"lang":"xx","n_chars":1,"text":"late"}""",
      "torn-late-line").mkString("\n").getBytes("UTF-8"))
    out.close()
    val inc = promote().collect()
    log(s"late shard: ${inc.length} newly promoted " +
      s"(${inc.map(r => s"${r.getAs[String]("src_shard")} clean=${r.getAs[Long]("n_clean")} corrupt=${r.getAs[Long]("n_corrupt")}").mkString("; ")})")

    // 6. Compact into the downstream layout and reconcile exactly.
    Ingest.compactCorpus(spark, s"$root/corpus", s"$root/compact")
    val compact = spark.read.parquet(s"$root/compact")
    val expect = Ingest.cleanOf(
      Ingest.parseJsonl(spark.read.textFile(src).toDF("value"), "value", schema), schema)
    val missing = expect.join(compact, Seq("doc_id"), "left_anti").count()
    val extra = compact.join(expect, Seq("doc_id"), "left_anti").count()
    log(s"compacted corpus: ${compact.count()} rows across " +
      compact.inputFiles.length + " files; reconciliation vs clean lines: " +
      s"missing=$missing extra=$extra (expect 0/0)")

    // 7. The crawl container: the same corpus as WARC response records
    //    (every 17th missing its target URI), read back through the
    //    splittable record scan — payloads byte-exact, damage loud.
    val warcPath = graft.queries.IngestQueries.warcFixture(spark, sfDir)
    val (wClean, wQuar) = Ingest.warc(spark, warcPath)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bodyBad = wClean
      .withColumn("doc_id",
        regexp_extract(col("uri"), "doc/([0-9]+)", 1).cast("long"))
      .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      .filter(col("body") =!= col("text")).count()
    log(s"warc: ${wClean.count()} clean records, ${wQuar.count()} quarantined " +
      s"(expect every 17th), payload mismatches vs source: $bodyBad (expect 0)")
    spark.stop()
  }
}
