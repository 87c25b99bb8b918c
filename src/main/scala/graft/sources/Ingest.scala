package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Robust line-format ingestion — the boundary where a 100 TB crawl
  * actually enters the engine. JSONL/CSV shards arrive with torn lines,
  * type drift, and schema drift; a reader that either crashes on the
  * first bad line or silently drops it (`DROPMALFORMED`) is unusable at
  * scale — the first loses the job hours in, the second loses data with
  * no audit trail. Every reader here therefore parses in PERMISSIVE
  * mode and QUARANTINES malformed lines (raw bytes preserved) instead
  * of dropping them, so ingest is total: every input line lands in
  * exactly one of (clean, quarantine).
  *
  * Design: files are read with Spark's `text` source (line splitting is
  * Hadoop's — splittable, distributed, no driver involvement) and
  * parsed with `from_json` / `from_csv`, NOT with the `json`/`csv`
  * sources directly. Two reasons:
  *   - the raw line stays in the row, so the quarantine frame can
  *     preserve the exact input bytes for replay/debugging — the
  *     `json` source's corrupt-record column cannot be queried on its
  *     own (SPARK-26243's restriction) and never carries the raw line
  *     for rows that DID parse;
  *   - parse errors and quarantine routing become plain codegen'd
  *     expressions in one map stage — no second pass, no cache, no
  *     shuffle. The whole clean/quarantine split is map-only; `.explain`
  *     shows a single scan per sink.
  *
  * Schema drift tolerance falls out of JSON semantics: a field missing
  * from an older shard parses as NULL (clean), while a line that is not
  * valid JSON at all, or whose field TYPE contradicts the schema,
  * quarantines. That is exactly the asymmetry a training-data pipeline
  * wants — additive schema evolution is routine, torn bytes are not.
  *
  * Compressed shards: the `text` source decodes `.gz` (and any Hadoop
  * codec) transparently, so [[jsonl]]/[[csv]] read gzipped shard trees
  * unchanged. Gzip is NOT splittable — each `.gz` shard is one task, so
  * scan parallelism equals shard count (pinned by `IngestSpec`). The
  * 100 TB discipline follows: writers must emit shards of a few hundred
  * MB, never one multi-TB archive, or a single task owns the whole
  * decode. Splittable alternatives (plain text, or a block codec) lift
  * the restriction; the reader is agnostic.
  *
  * CSV caveat: the line-oriented [[csv]] path tears a quoted field that
  * embeds a newline — Hadoop's splitter runs before the CSV parser and
  * cannot know about quotes. `IngestSpec` pins the exact failure mode:
  * the HEAD fragment parses clean with a silently TRUNCATED field (the
  * parser closes the dangling quote at end-of-line), and the TAIL
  * fragment quarantines whenever it violates the schema (always true
  * when the leading column is numeric, as in every fixture here). The
  * quarantine count is therefore the canary — a "CSV" shard whose
  * quarantine contains mid-record tails is an embedded-newline shard —
  * but the head-row truncation means the line-oriented path must NOT
  * be pointed at quote-newline CSV at all: route those shards through
  * [[csvMultiline]], which parses whole files (per-file, NON-splittable
  * — one task per shard, same discipline as gzip) with the quote-aware
  * csv source.
  */
object Ingest {

  /** Internal corrupt-record column name used during parsing; never
    * visible in either returned frame. */
  private val CorruptCol = "__graft_corrupt"

  private def parseOptions: Map[String, String] = Map(
    "mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> CorruptCol)

  /** Parse a frame of raw lines (`lineCol`) as JSONL against `schema`.
    * Returns the input columns plus a `parsed` struct (schema fields)
    * and a boolean `is_clean`. Pure projection — callers split/route
    * without re-reading the source.
    */
  def parseJsonl(lines: DataFrame, lineCol: String, schema: StructType): DataFrame = {
    val withCorrupt = schema.add(CorruptCol, StringType, nullable = true)
    lines
      .withColumn("__p", from_json(col(lineCol), withCorrupt, parseOptions))
      // A malformed line sets the corrupt column; a NULL/empty line
      // parses to a NULL struct — both quarantine (neither is a clean
      // record of `schema`).
      .withColumn("is_clean",
        col("__p").isNotNull && col(s"__p.$CorruptCol").isNull)
      .withColumn("parsed", col("__p").dropFields(CorruptCol))
      .drop("__p")
  }

  /** Parse raw lines as CSV (no header) against `schema`. Same contract
    * as [[parseJsonl]]. CSV has no missing-field tolerance: a line with
    * the wrong token count or a type-contradicting token quarantines.
    */
  def parseCsv(
      lines: DataFrame, lineCol: String, schema: StructType,
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val withCorrupt = schema.add(CorruptCol, StringType, nullable = true)
    lines
      .withColumn("__p",
        from_csv(col(lineCol), withCorrupt, parseOptions ++ extraOptions))
      .withColumn("is_clean",
        col("__p").isNotNull && col(s"__p.$CorruptCol").isNull)
      .withColumn("parsed", col("__p").dropFields(CorruptCol))
      .drop("__p")
  }

  /** Read a JSONL directory tree with quarantine: (clean, quarantine).
    * `clean` has exactly `schema`'s columns; `quarantine` has the
    * [[quarantineOf]] provenance columns preserving the offending input
    * verbatim and its origin. Both frames derive from ONE `text` scan
    * lineage — Spark schedules each sink's scan independently, but
    * neither pays a shuffle and no line is ever dropped: every input
    * row lands in exactly one frame.
    */
  def jsonl(spark: SparkSession, path: String, schema: StructType): (DataFrame, DataFrame) = {
    val parsed = parseJsonl(spark.read.textFile(path).toDF("value"), "value", schema)
    (cleanOf(parsed, schema), quarantineOf(parsed))
  }

  /** Read a CSV directory tree with quarantine — [[jsonl]]'s contract. */
  def csv(
      spark: SparkSession, path: String, schema: StructType,
      extraOptions: Map[String, String] = Map.empty): (DataFrame, DataFrame) = {
    val parsed = parseCsv(spark.read.textFile(path).toDF("value"), "value", schema, extraOptions)
    (cleanOf(parsed, schema), quarantineOf(parsed))
  }

  /** Quote-aware CSV reader for shards whose quoted fields embed
    * newlines — the case the line-oriented [[csv]] path cannot parse
    * (it pins the tear instead; see the object doc). Reads with the
    * csv SOURCE in `multiLine` mode: per-FILE parsing, non-splittable
    * (one task per shard — the gzip shard-size discipline applies).
    * Same (clean, quarantine) totality contract; the quarantine's
    * `raw_line` is the csv source's corrupt record (the malformed
    * logical record, which may span input lines — the raw-bytes
    * guarantee weakens to raw-RECORD here, an inherent property of
    * quote-aware splitting). The parsed frame is a [[graft.Lineage.cut]]
    * before the split: the csv source refuses plans that reference only
    * the corrupt-record column (SPARK-26243), and after Catalyst prunes
    * the quarantine projection that is exactly what the scan would be.
    * Both returned frames read that cut; it lives until the session's
    * [[graft.Lineage.releaseAll]] (a harness's reset between runs).
    */
  def csvMultiline(
      spark: SparkSession, path: String, schema: StructType,
      extraOptions: Map[String, String] = Map.empty): (DataFrame, DataFrame) = {
    val withCorrupt = schema.add(CorruptCol, StringType, nullable = true)
    val parsed = spark.read
      .options(parseOptions ++ extraOptions + ("multiLine" -> "true"))
      .schema(withCorrupt).csv(path)
      .withColumn("is_clean", col(CorruptCol).isNull)
      // Provenance must be captured ON the scan — input_file_name() is
      // empty once the rows live in the cut's leaf.
      .withColumn("src_file", input_file_name())
      .transform(graft.Lineage.cut)
    val clean = parsed.filter(col("is_clean"))
      .select(schema.fieldNames.map(f => col(s"`$f`")).toSeq: _*)
    val quarantine = parsed.filter(!col("is_clean"))
      .select(col(CorruptCol).as("raw_line"),
        col("src_file"),
        xxhash64(col(CorruptCol)).as("line_hash"))
    (clean, quarantine)
  }

  /** The clean projection of a [[parseJsonl]]/[[parseCsv]] result. */
  def cleanOf(parsed: DataFrame, schema: StructType): DataFrame =
    parsed.filter(col("is_clean"))
      .select(schema.fieldNames.map(f => col(s"parsed.`$f`").as(f)).toSeq: _*)

  /** Parse WARC (ISO 28500 — the CommonCrawl container) response
    * records. `records` holds ONE WARC record per row (everything after
    * the `WARC/1.0` version line, as the [[warc]] scan produces). Adds
    * `rec_type`, `uri`, `http_status`, `body` and `is_clean`; a record
    * missing its WARC-Type, its target URI, or the HTTP status line
    * quarantines WHOLE — the [[parseJsonl]] routing contract, so
    * [[quarantineOf]]/[[report]] compose unchanged. Map-only regexp
    * projections; no shuffle.
    *
    * Payload framing is STRUCTURAL, not content-sensitive: the body is
    * everything after the SECOND `\r\n\r\n` (end of the WARC header
    * block, then end of the HTTP header block) — a NON-GREEDY anchored
    * prefix strip, so a text payload that itself contains a CRLF blank
    * line (routine in crawled CRLF-newline text) survives byte-exact
    * instead of being silently truncated to its tail.
    *
    * Scope, stated honestly: TEXT payloads. A BINARY payload whose
    * bytes collide with `\r\n\r\n` INSIDE one of the two header blocks
    * would still mis-frame — byte-exact binary records need
    * Content-Length slicing, a stateful scan neither engine's portable
    * string surface expresses. Real crawl TEXT extraction (WAT/WET-
    * style pipelines) is exactly this text-payload shape.
    */
  def parseWarc(records: DataFrame, recCol: String): DataFrame = {
    val rec = col(recCol)
    records
      .withColumn("rec_type", regexp_extract(rec, "WARC-Type: ([^\r\n]+)", 1))
      .withColumn("uri", regexp_extract(rec, "WARC-Target-URI: ([^\r\n]+)", 1))
      // The HTTP message: everything after the WARC header block's
      // blank line, with any INTERIM 1xx response blocks peeled off
      // (RFC 7231 §6.2 — a capture can legally carry "HTTP/1.1 100
      // Continue\r\n…\r\n\r\n" before the final response). A 1xx block
      // is stripped ONLY when another status line follows it — the
      // trailing capture group, restored by the $1 replacement — so a
      // record whose FINAL response is itself 1xx (101 Switching
      // Protocols with no subsequent block) keeps its status and
      // surfaces clean instead of quarantining with an empty status.
      // Still RE2-clean for any future oracle twin — a capture group,
      // not lookaround. Both the status and the payload then come from
      // the FINAL block — the old framings either took the interim
      // status (first-match) or leaked the final header block into the
      // body (fixed-count slicing).
      .withColumn("__http",
        regexp_replace(
          regexp_replace(rec, "(?s)^.*?\r\n\r\n", ""),
          "(?s)^(?:HTTP/1\\.[01] 1[0-9]{2}.*?\r\n\r\n)+(HTTP/1\\.[01] [0-9]{3})",
          "$1"))
      .withColumn("http_status",
        regexp_extract(col("__http"), "^HTTP/1\\.[01] ([0-9]{3})", 1))
      // The payload after the final block's header/body blank line
      // (anchored non-greedy prefix strip). A record truncated before
      // that blank line keeps its full text as body — inspectable,
      // never silently sliced. Exactly ONE trailing newline is the
      // text writer's row terminator, not record content — a payload
      // that legitimately ends in newlines keeps the rest (the
      // byte-exact contract). \z, not $: Java's $ also matches BEFORE
      // a final line terminator, so "\n$" would strip two.
      .withColumn("body",
        regexp_replace(
          regexp_replace(col("__http"), "(?s)^.*?\r\n\r\n", ""),
          "\n\\z", ""))
      .withColumn("is_clean",
        col("rec_type") === "response" && col("uri") =!= "" &&
          col("http_status") =!= "")
      .drop("__http")
  }

  /** Read a WARC tree with quarantine: ONE `text` scan with the record
    * header as the custom line separator (`WARC/1.0\r\n`) — Hadoop's
    * custom-record-delimiter reader, so the scan SPLITS inside large
    * shard files (parallelism follows byte splits, not file count — the
    * property gzip shards lose, C160) — then [[parseWarc]]. Returns
    * (clean, quarantine): clean = (uri, http_status, body); quarantine
    * = raw records with the [[quarantineOf]] provenance.
    */
  def warc(spark: SparkSession, path: String): (DataFrame, DataFrame) = {
    val recs = spark.read.option("lineSep", "WARC/1.0\r\n").text(path)
      .toDF("value").filter(length(col("value")) > 0)
    val parsed = parseWarc(recs, "value")
    (parsed.filter(col("is_clean")).select("uri", "http_status", "body"),
      quarantineOf(parsed))
  }

  /** The quarantine projection: raw offending lines, verbatim, with
    * provenance — `src_file` (the shard the line came from, via
    * `input_file_name()`; empty when the frame does not derive from a
    * file scan) and `line_hash` (xxhash64 of the raw bytes — a stable
    * id for dedup/ticketing across re-ingests). All three are map-only
    * projections; no shuffle.
    */
  def quarantineOf(parsed: DataFrame): DataFrame =
    parsed.filter(!col("is_clean")).select(
      col("value").as("raw_line"),
      input_file_name().as("src_file"),
      xxhash64(col("value")).as("line_hash"))

  /** A shard label from a `src_file` path: the last `key=value` path
    * segment when the shard tree is partition-laid-out, else the file
    * basename. Directory-partitioned trees get stable, meaningful
    * labels; flat trees get the part-file name.
    */
  def shardLabel(srcFile: Column): Column = {
    val partSeg = regexp_extract(srcFile, "/([^/=]+=[^/]+)/[^/]*$", 1)
    when(partSeg =!= "", partSeg)
      .otherwise(regexp_extract(srcFile, "[^/]+$", 0))
  }

  /** Persist the quarantine of a parse projection to `path`, partitioned
    * by source shard ([[shardLabel]] by default — pass `shardOf` to
    * override, e.g. extracting a partition key from the path). The sink
    * an ingest job keeps NEXT TO the corpus it promoted: rejected bytes
    * stay replayable per shard, and per-shard corrupt counts (the
    * shard-health report) are a partition-pruned scan of this sink, not
    * a re-read of the corpus. Map-only write — one text scan, no
    * shuffle; `maxRecordsPerFile` bounds file size at crawl scale.
    */
  def quarantineTo(
      parsed: DataFrame, path: String,
      shardOf: Column => Column = shardLabel): Unit =
    quarantineOf(parsed)
      .withColumn("src_shard", shardOf(col("src_file")))
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 5000000)
      .partitionBy("src_shard").parquet(path)

  /** List the data files under a shard tree — driver-side METADATA only
    * (a filesystem listing, never a data read; ~400k entries for 100 TB
    * of 256 MB shards — strings, not rows). Hidden/underscore files
    * (`_SUCCESS`, `.crc`) are skipped, matching Spark's own convention.
    */
  def listShardFiles(spark: SparkSession, path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (f.isFile && !n.startsWith("_") && !n.startsWith("."))
        out += f.getPath.toString
    }
    out.toSeq.sorted
  }

  /** Canonical comparison key for a file path/URI: the scheme-stripped
    * path. Hadoop listings ("file:/x"), `input_file_name()`
    * ("file:///x"), and bare paths ("/x") must all compare equal — the
    * manifest diff in [[promoteJsonl]] is only as correct as this
    * normalization. Single-filesystem-root assumption: paths from
    * different buckets/authorities are not disambiguated.
    */
  private[sources] def canonPath(p: String): String =
    try {
      val u = new java.net.URI(p)
      if (u.getPath != null && u.getPath.nonEmpty) u.getPath else p
    } catch { case _: java.net.URISyntaxException => p }

  /** Manifest-gated IDEMPOTENT shard promotion — exactly-once batch
    * ingest without a streaming checkpoint. The streaming gate
    * ([[graft.streaming.StreamingIngest]]) gets exactly-once from the
    * file-sink log; a batch crawl re-run after a crash has no such log,
    * and a naive append re-promotes every shard it already ingested.
    * Two mechanisms compose here, each carrying half the contract:
    *
    *   - a MANIFEST (parquet at `manifestPath`: one row per promoted
    *     shard file with its clean/corrupt counts) makes re-runs SKIP
    *     work already done — the listing diff is driver-side metadata,
    *     and only genuinely new shard files are ever read;
    *   - both sinks are partitioned by a PER-FILE key (`src_key`, the
    *     xxhash64 of the source path) and written with DYNAMIC
    *     partition overwrite, so re-promoting a shard file (manifest
    *     lost, crash between data and manifest writes) REPLACES exactly
    *     that file's partition instead of duplicating rows. Idempotence
    *     comes from the layout, not from trusting the manifest — and
    *     the key must be per-FILE, not per-shard-label: a partial
    *     manifest commit followed by a re-run of the unmanifested
    *     subset must never clobber a partition shared with an
    *     already-manifested file.
    *
    * Crash anywhere ⇒ re-run converges to the same corpus: shards in
    * the manifest are skipped, shards not in it are (re)written in
    * place. The manifest is appended AFTER data lands — the safe order,
    * since a re-promote is a no-op rewrite while a skipped unwritten
    * shard would be data loss.
    *
    * Grain trade, stated honestly: partition count equals shard-file
    * count (~400k dirs for 100 TB of 256 MB shards). That is within
    * parquet/HMS practice but not free — writers should aim for
    * few-hundred-MB shards (the C160 discipline), and a corpus that
    * outgrows file-listing should compact promoted partitions into a
    * coarser layout downstream; [[shardLabel]] rides along as a data
    * column for human triage either way.
    *
    * Returns the promotion report: one row per NEWLY promoted shard
    * (src_file, src_shard, n_clean, n_corrupt) — empty when everything
    * was already promoted.
    */
  def promoteJsonl(
      spark: SparkSession, srcPath: String, schema: StructType,
      corpusPath: String, quarantinePath: String, manifestPath: String): DataFrame = {
    val manifestExists = {
      val p = new org.apache.hadoop.fs.Path(manifestPath)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    // File-level metadata only: one string per promoted SHARD (not per
    // row) — bounded by shard count, the same driver-side scale as the
    // listing itself.
    val done: Set[String] =
      if (!manifestExists) Set.empty
      else spark.read.parquet(manifestPath)
        .select("src_file").collect().map(r => canonPath(r.getString(0))).toSet
    val newFiles = listShardFiles(spark, srcPath)
      .filterNot(f => done.contains(canonPath(f)))
    if (newFiles.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        new StructType().add("src_file", StringType).add("src_shard", StringType)
          .add("n_clean", org.apache.spark.sql.types.LongType)
          .add("n_corrupt", org.apache.spark.sql.types.LongType))
    val srcKey = lower(hex(xxhash64(input_file_name())))
    val parsed = parseJsonl(
        spark.read.textFile(newFiles: _*).toDF("value"), "value", schema)
      .withColumn("src_file", input_file_name())
      .withColumn("src_shard", shardLabel(input_file_name()))
    cleanOf(parsed, schema)
      .withColumn("src_shard", shardLabel(input_file_name()))
      .withColumn("src_key", srcKey)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("src_key").parquet(corpusPath)
    parsed.filter(!col("is_clean"))
      .select(col("value").as("raw_line"), col("src_file"),
        xxhash64(col("value")).as("line_hash"), col("src_shard"),
        srcKey.as("src_key"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("src_key").parquet(quarantinePath)
    // Seed the report from the LISTED files, not the parsed rows: a
    // zero-line shard yields no parsed rows, and a row-derived manifest
    // would never record it — re-listing and re-reading it (a no-op
    // rewrite) on every subsequent promote run. The left join keys on
    // the scheme-stripped path ([[canonPath]]'s rule, as a column) since
    // input_file_name() URIs and the Hadoop listing spell the scheme
    // differently.
    import spark.implicits._
    val canonCol = (f: Column) =>
      regexp_replace(f, "^[a-zA-Z][a-zA-Z0-9+.-]*:/*", "/")
    val listed = newFiles.toDF("src_file")
      .withColumn("src_shard", shardLabel(col("src_file")))
      .withColumn("__canon", canonCol(col("src_file")))
    val perFile = parsed.groupBy(canonCol(col("src_file")).as("__canon")).agg(
      sum(when(col("is_clean"), 1L).otherwise(0L)).as("n_clean"),
      sum(when(col("is_clean"), 0L).otherwise(1L)).as("n_corrupt"))
    val shardReport = listed.join(perFile, Seq("__canon"), "left")
      .select(col("src_file"), col("src_shard"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"),
        coalesce(col("n_corrupt"), lit(0L)).as("n_corrupt"))
    shardReport.write.mode("append").parquet(manifestPath)
    shardReport
  }

  /** Replay a persisted quarantine under a corrected schema — the step
    * that closes the quarantine lifecycle: the rejects were KEPT (raw
    * bytes + provenance) precisely so that when the parser assumption
    * that rejected them is fixed (a field's type was wrong, a format
    * variant unhandled), the data is recovered instead of re-crawled.
    * Reads the [[quarantineTo]] sink (or any frame with `raw_line` +
    * provenance columns) and re-parses under `schema`:
    * (recovered, stillBad) — recovered has exactly `schema`'s columns;
    * stillBad keeps raw bytes + provenance and goes back to the
    * quarantine. Totality again: every quarantined line lands in
    * exactly one side. Map-only, same single-pass shape as the
    * original parse.
    */
  def replayQuarantine(
      quarantine: DataFrame, schema: StructType): (DataFrame, DataFrame) = {
    val parsed = parseJsonl(quarantine, "raw_line", schema)
    val recovered = parsed.filter(col("is_clean"))
      .select(schema.fieldNames.map(f => col(s"parsed.`$f`").as(f)).toSeq: _*)
    val stillBad = parsed.filter(!col("is_clean"))
      .select(quarantine.columns.map(c => col(s"`$c`")).toSeq: _*)
    (recovered, stillBad)
  }

  /** Schema-drift inventory over raw JSONL lines: per top-level FIELD,
    * how many lines carry it and what fraction of the corpus that is —
    * the triage view that answers "which fields are new, which shards
    * predate field X, is `quality` present enough to filter on yet"
    * BEFORE anyone commits to a read schema. Works on the raw lines
    * (no schema needed — the point is discovering one): torn lines
    * yield NULL from `json_object_keys` and drop out of the explode,
    * so the inventory is over parseable lines only. Top-level keys
    * only, deliberately — nested drift is a schema-version question,
    * not a presence question. Scale shape: one map-only explode + one
    * aggregation keyed by field name (bounded by schema width, not
    * corpus size) + a 1-row total broadcast (the t10/t12 precedent).
    */
  def fieldInventory(lines: DataFrame, lineCol: String): DataFrame = {
    val total = lines.agg(count(lit(1)).as("n_lines"))
    lines.select(explode(json_object_keys(col(lineCol))).as("field"))
      .groupBy("field").agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(total))
      .select(col("field"), col("n_docs"),
        round(col("n_docs") / col("n_lines"), 6).as("present_frac"))
  }

  /** Compact a [[promoteJsonl]] corpus into a coarser layout — the
    * downstream step the per-file promotion grain trades against: once
    * a tree of shards is fully promoted, the src_key partition dirs
    * (one per shard file) are replaced by plain size-bounded parquet,
    * with the src_shard provenance column retained in-row. Out-of-place
    * write (read promoted → write compacted): the promoted corpus stays
    * the crash-safe ingest frontier; the compacted copy is what
    * downstream pipelines scan. One distributed scan, one write, no
    * shuffle (`maxRecordsPerFile` splits oversized tasks without one).
    */
  def compactCorpus(
      spark: SparkSession, corpusPath: String, outPath: String,
      maxRecordsPerFile: Long = 5000000L): Unit =
    spark.read.parquet(corpusPath)
      .drop("src_key")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(outPath)

  /** Ingest health report: one row — (n_clean, n_corrupt, corrupt_frac).
    * Single aggregation over the parse projection (one scan, map-side
    * combined); the gate a pipeline checks before promoting a shard.
    */
  def report(parsed: DataFrame): DataFrame =
    parsed.agg(
      sum(when(col("is_clean"), 1L).otherwise(0L)).as("n_clean"),
      sum(when(col("is_clean"), 0L).otherwise(1L)).as("n_corrupt"))
      .select(col("n_clean"), col("n_corrupt"),
        round(col("n_corrupt") / (col("n_clean") + col("n_corrupt")), 6)
          .as("corrupt_frac"))

  /** Convenience: a deterministic corruption column for fixtures/specs.
    * The `NUL ###` prefix guarantees invalid JSONL (any non-whitespace
    * prefix breaks JSON) and poisons CSV schemas whose first field is
    * numeric; a CSV schema whose first field is StringType would accept
    * the prefix as string content, so type-poison CSV fixtures corrupt
    * a numeric token instead (see `IngestQueries.csvFixture`).
    */
  def corruptWhen(cond: Column, line: Column): Column =
    when(cond, concat(lit("\u0000###"), line)).otherwise(line)
}
