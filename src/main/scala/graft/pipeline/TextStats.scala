package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators: corpus statistics, per-document quality
  * signals, heuristic language ID, token counting. All single-pass
  * expression trees (one scan, partial aggregation before any shuffle) —
  * the shapes that stay cheap when `documents` is 100 TB.
  */
object TextStats {

  /** BPE-ish tokenizer regex: word runs or single non-space symbols — a
    * deterministic stand-in for a real subword vocabulary, with the same
    * plumbing shape (regex extraction, per-doc counts).
    */
  val TokenPattern = "[a-zA-Z0-9]+|[^a-zA-Z0-9\\s]"

  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(TokenPattern), lit(0)))

  /** Frequent word n-grams — boilerplate-phrase mining: every n-gram
    * covering more than `phi` of the corpus's gram occurrences, with its
    * EXACT count. Template footers, cookie banners, and licence
    * boilerplate are phrase-level heavy hitters long before they are
    * document-level duplicates (C51 removes repeated BLOCKS; this finds
    * the phrases worth turning into blocklist rules). Routed through the
    * C143 Misra–Gries machinery, which is what makes it viable at
    * 100 TB: the exploded gram stream (≈ tokens-per-corpus rows, the
    * highest-cardinality frame in the repo) feeds a fixed-memory
    * per-partition pass — the trillion-key gram tail is never shuffled —
    * and only ≤ parts·ceil(1/phi) candidates reach the exact recount.
    * Grams are space-joined token windows (the d2 shingle form, so the
    * oracle replays them verbatim); the MG superset guarantee makes the
    * answer exactly the brute-force `GROUP BY gram HAVING`.
    */
  def frequentPhrases(
      docs: DataFrame, textCol: String, n: Int, phi: Double): DataFrame = {
    require(n >= 2, s"gram width must be >= 2, got $n")
    val grams = docs
      .select(TextOps.tokens(col(textCol)).as("__w"))
      .filter(size(col("__w")) >= n)
      .select(explode(expr(
        s"transform(sequence(1, size(__w) - ${n - 1}), " +
          s"i -> array_join(slice(__w, i, $n), ' '))")).as("phrase"))
    graft.operators.Sketches.heavyHitters(grams, "phrase", phi)
  }

  /** Corpus statistics grouped by a dimension column: document count,
    * char/token totals and means.
    */
  def corpusStats(docs: DataFrame, groupCols: Seq[String], textCol: String): DataFrame = {
    val toks = TextOps.tokenCount(col(textCol))
    val chars = length(col(textCol))
    docs
      .groupBy(groupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(chars).as("total_chars"),
        round(avg(chars), 4).as("avg_chars"),
        sum(toks).as("total_tokens"),
        round(avg(toks), 4).as("avg_tokens"))
  }

  /** Top-k distinctive terms per group by TF-IDF — the corpus-profiling
    * op behind source/domain characterization and keyword reports:
    * tf(group, term) weighted by ln(N / df) with doc-level document
    * frequency, ranked within each group (score desc, term asc tiebreak).
    *
    * Scale shape: one token explode feeds BOTH frequency aggregations,
    * each with map-side partial aggregation (tf keyed on (group, term),
    * df on term via a distinct over (doc, term) — never raw token rows
    * past their first combine); the tf⋈df join is term-keyed; the corpus
    * size N is a 1-row broadcast; the rank window runs over
    * groups × vocabulary AGGREGATED rows only, never token rows. Nothing
    * in the plan scales with corpus size except the linear scan.
    *
    * @return (groupCol, term, tf, df, score, rnk), rnk <= k;
    *         score = round(tf * ln(N / df), 6).
    */
  def tfIdfTopTerms(
      docs: DataFrame, idCol: String, textCol: String, groupCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val tok = docs.select(
      col(groupCol), col(idCol).as("__id"),
      explode(TextOps.tokens(col(textCol))).as("term"))
    val tf = tok.groupBy(col(groupCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = tok.select(col("__id"), col("term")).distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("__n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score", round(col("tf") * log(col("__n") / col("df")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(groupCol), col("term"), col("tf"), col("df"), col("score"), col("rnk"))
  }

  /** Okapi BM25 ad-hoc retrieval (Robertson–Spärck Jones, with Lucene's
    * `+1` idf floor so scores stay nonnegative at any df): score every
    * document against a fixed bag of query terms and return the top k —
    * the "find me training docs about X" query a curation team runs
    * against the corpus (targeted eval-set construction, contamination
    * triage, domain spot checks).
    *
    *   score(d) = Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
    *              · tf · (k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * Scale shape: per-term tf and dl are HOF projections over the token
    * array — the token rows NEVER explode and nothing shuffles on tokens;
    * the corpus stats (N, Σdl, per-term df) partial-aggregate to ONE row
    * broadcast back; the top-k is TakeOrdered (no global sort). Two
    * pruned columnar scans by design (stats pass + score pass), the
    * classic two-pass ad-hoc BM25 — for repeated query workloads build a
    * posting-list index instead (the C82 persisted-index pattern).
    *
    * Determinism across engines (the t12 discipline): Σdl and df are
    * exact integer sums, avgdl one double division, the per-term
    * contributions summed left-to-right in query-term order, and the
    * final score rounded to 6 decimals — the ranking sorts on the
    * ROUNDED score with the id as tiebreak, so the top-k cut is
    * deterministic on both sides.
    *
    * @return (id, dl, tf0..tf{q-1} — one per query term in order, score),
    *         top k by (score desc, id asc).
    */
  /** One query term's BM25 contribution — shared VERBATIM by the live
    * scorer ([[bm25TopK]]) and the index probe ([[bm25IndexTopK]]), so
    * the two paths evaluate bit-identical doubles (same tree shape,
    * same left-to-right operation order) and the index can share the
    * live query's oracle.
    */
  private def bm25Contribution(tf: Column, dl: Column, n: Column, sumdl: Column,
      df: Column, k1: Double, b: Double): Column = {
    val tfd = tf.cast("double")
    val idf = log(
      (n.cast("double") - df.cast("double") + lit(0.5)) /
        (df.cast("double") + lit(0.5)) + lit(1.0))
    idf * (tfd * lit(k1 + 1.0)) /
      (tfd + lit(k1) * (lit(1.0 - b) + lit(b) * dl.cast("double") /
        (sumdl.cast("double") / n.cast("double"))))
  }

  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String, queryTerms: Seq[String],
      k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "at least one query term required")
    require(queryTerms.distinct == queryTerms, s"duplicate query terms: $queryTerms")
    require(k >= 1, s"k must be >= 1, got $k")
    val base = docs.select(col(idCol), TextOps.tokens(col(textCol)).as("__w"))
      .withColumn("__dl", size(col("__w")).cast("long"))
    val withTf = queryTerms.zipWithIndex.foldLeft(base) { case (d, (t, i)) =>
      d.withColumn(s"tf$i", size(filter(col("__w"), x => x === lit(t))).cast("long"))
    }.drop("__w")
    val statAggs = Seq(count(lit(1)).as("__n"), sum(col("__dl")).as("__sumdl")) ++
      queryTerms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"__df$i"))
    val stats = withTf.agg(statAggs.head, statAggs.tail: _*)
    val contribs = queryTerms.indices.map { i =>
      bm25Contribution(col(s"tf$i"), col("__dl"),
        col("__n"), col("__sumdl"), col(s"__df$i"), k1, b)
    }
    withTf.crossJoin(broadcast(stats))
      .withColumn("score", round(contribs.reduceLeft(_ + _), 6))
      .select(Seq(col(idCol), col("__dl").as("dl")) ++
        queryTerms.indices.map(i => col(s"tf$i")) :+ col("score"): _*)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Build the persisted posting-list BM25 index — the at-rest form the
    * [[bm25TopK]] scaladoc promises for REPEATED query workloads (the
    * C36/C82 persisted-index discipline applied to text): tokenize the
    * corpus ONCE, write `(term, doc_id, dl, tf)` postings partitioned by
    * a bounded term-hash bucket (a real vocabulary is millions of terms
    * — one directory per term would melt the filesystem; `nBuckets`
    * bounds the layout and the probe's partition filter stays exact),
    * plus a per-term df sidecar and a one-row corpus sidecar (N, Σdl,
    * n_buckets). After the build, a query never scans the corpus.
    */
  def writeBm25Index(docs: DataFrame, idCol: String, textCol: String, path: String,
      nBuckets: Int = 64): Unit = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val base = docs.select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__w"))
      .withColumn("dl", size(col("__w")).cast("long"))
    val postings = base
      .select(col("doc_id"), col("dl"), explode(col("__w")).as("term"))
      .groupBy("term", "doc_id", "dl").agg(count(lit(1)).cast("long").as("tf"))
      .withColumn("pbucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
    postings.write.mode("overwrite").partitionBy("pbucket").parquet(s"$path/postings")
    // df per term = postings rows per term (postings are unique per
    // (term, doc)); derived from the WRITTEN files so it cannot drift.
    postings.sparkSession.read.parquet(s"$path/postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$path/terms")
    base.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
      .withColumn("n_buckets", lit(nBuckets))
      .write.mode("overwrite").parquet(s"$path/corpus")
  }

  /** BM25 top-k against the persisted index: the probe reads ONLY the
    * partitions its query terms hash to (driver-side bucket choice, the
    * C36 pattern — `PartitionFilters` prunes the listing), joins the
    * query-term df rows and the one-row corpus sidecar as broadcasts,
    * and TakeOrdereds the per-doc scores. No corpus scan, no tokenize —
    * query cost scales with the query terms' posting lists, not the
    * corpus.
    *
    * Bit-parity with [[bm25TopK]]: per-row contributions use the SAME
    * [[bm25Contribution]] tree over the same integers, each term's
    * contribution lands in its own column (a `sum` over one row — never
    * a float reduction whose order could drift), and the final score
    * adds the term columns left-to-right in query order with absent
    * terms coalesced to the same 0.0 the live path computes. Contract:
    * returns the top k of the docs matching ≥ 1 query term (zero-match
    * docs score 0 and are not indexed) — identical to [[bm25TopK]]
    * whenever the k-th live score is positive.
    */
  def bm25IndexTopK(spark: SparkSession, path: String, queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "at least one query term required")
    require(queryTerms.distinct == queryTerms, s"duplicate query terms: $queryTerms")
    require(k >= 1, s"k must be >= 1, got $k")
    val corpus = bm25Corpus(spark, path)
    val nBuckets = corpus.select("n_buckets").head().getInt(0)
    // Driver-side bucket choice through the SAME hash the build used —
    // query-terms-sized, the e4 "touched buckets" license.
    import spark.implicits._
    val wanted = queryTerms.toDF("term")
      .select(pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
      .as[Long].collect().distinct.toSeq
    val posts = spark.read.parquet(s"$path/postings")
      .filter(col("pbucket").isin(wanted: _*) && col("term").isin(queryTerms: _*))
    val stats = bm25Terms(spark, path)
      .filter(col("term").isin(queryTerms: _*))
    val scored = posts.join(broadcast(stats), Seq("term"))
      .crossJoin(broadcast(corpus))
      .withColumn("__c",
        bm25Contribution(col("tf"), col("dl"), col("n"), col("sumdl"), col("df"), k1, b))
    val aggs = queryTerms.zipWithIndex.flatMap { case (t, i) =>
      Seq(sum(when(col("term") === t, col("tf"))).as(s"__tf$i"),
        sum(when(col("term") === t, col("__c"))).as(s"__c$i"))
    }
    val allAggs = max(col("dl")).as("dl") +: aggs
    val perDoc = scored.groupBy("doc_id")
      .agg(allAggs.head, allAggs.tail: _*)
    val score = queryTerms.indices
      .map(i => coalesce(col(s"__c$i"), lit(0.0))).reduceLeft(_ + _)
    perDoc
      .withColumn("score", round(score, 6))
      .select(Seq(col("doc_id"), col("dl")) ++
        queryTerms.indices.map(i => coalesce(col(s"__tf$i"), lit(0L)).as(s"tf$i")) :+
        col("score"): _*)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Filename of the BM25 append intent marker: present ⇔ a fully-staged
    * append is mid-promotion, which [[recoverBm25Index]] rolls FORWARD.
    * Probes, appends, and compactions refuse to run while it exists —
    * the postings/terms/corpus trio may be mutually inconsistent
    * mid-swap, and a probe would score with a stale df or N silently.
    */
  private val Bm25AppendIntent = "_graft_append_intent"

  /** The corpus sidecar, behind the index/consistency gate: `path` must
    * be a [[writeBm25Index]] layout and must not have a pending append.
    */
  private def bm25Corpus(spark: SparkSession, path: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/corpus")))
      throw new IllegalArgumentException(
        s"$path is not a persisted BM25 index (no corpus sidecar) — build it with writeBm25Index")
    if (fs.exists(new org.apache.hadoop.fs.Path(path, Bm25AppendIntent)))
      throw new IllegalStateException(
        s"$path has an interrupted append — run recoverBm25Index to roll it forward")
    spark.read.parquet(s"$path/corpus")
  }

  /** The per-term df cache — a DERIVED cache in the d23 discipline:
    * rebuilt from the authoritative postings (one row per (term, doc) ⇒
    * df = rows per term) if an interrupted maintenance step lost it.
    * The corpus sidecar, by contrast, is authoritative: zero-token docs
    * count toward N and Σdl but leave no posting to rebuild from, so it
    * only ever moves under the append intent marker.
    */
  private def bm25Terms(spark: SparkSession, path: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/terms")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) spark.read.parquet(s"$path/terms")
    else spark.read.parquet(s"$path/postings")
      .groupBy("term").agg(count(lit(1)).as("df"))
  }

  /** Append an ingest delta to the at-rest BM25 index, crash-atomically
    * (VERDICT r12 next #3 — every other persisted index already had the
    * append/compact/recover discipline; an ingest-growing corpus forced
    * a full rebuild here). The [[appendToShingleIndex]] protocol:
    *
    *   1. the delta's postings (tokenized once, bucketed by the SAME
    *      term hash the build used), the merged df cache (old ⊎ delta —
    *      one aggregation over the terms cache + the STAGED files, never
    *      a corpus re-scan), and the advanced corpus sidecar
    *      (N + |delta|, Σdl + Σdl_delta) are written COMPLETELY under
    *      `append.staging/`;
    *   2. an intent marker declares the append committed;
    *   3. staged posting files promote by per-file rename into their
    *      `pbucket=` directories, the df/corpus sidecars by
    *      stage-delete-rename, and the marker is removed.
    *
    * Crash points are unambiguous: no marker → live index untouched,
    * staging is garbage; marker → staged data complete,
    * [[recoverBm25Index]] re-runs the (idempotent) promotion while
    * probes fail loudly through the [[bm25Corpus]] gate; marker gone →
    * fully visible. Contract (the [[appendToPqIndex]] convention): delta
    * doc ids are disjoint from indexed ones — re-ingesting a doc would
    * double its postings, not replace them.
    */
  /** Filename of the stream-batch watermark sidecar: holds the last
    * streaming batch id applied to the index. Staged and promoted
    * ATOMICALLY with an append (under the same intent marker), so a
    * replayed micro-batch can always tell whether its append landed —
    * the exactly-once hinge of
    * [[graft.streaming.StreamingIndex.bm25IndexTo]].
    */
  private[graft] val Bm25StreamBatchFile = "_graft_stream_batch"

  /** Write the stream-batch watermark (bootstrap path; appends stage it
    * through [[appendToBm25Index]]'s `streamBatchId` instead). Written to
    * a temp name and renamed into place — single-file rename is atomic on
    * local/HDFS, so a crash mid-write can never leave a torn watermark in
    * the live directory (ADVICE r13 #1; the torn file would otherwise
    * wedge every later batch on a parse error the recovery path cannot
    * see).
    */
  private[graft] def writeBm25StreamBatch(
      fs: org.apache.hadoop.fs.FileSystem, dir: String, batchId: Long): Unit =
    atomicWriteWatermark(fs, dir, Bm25StreamBatchFile, batchId)

  /** Shared by the BM25 and PQ watermark writers: stage the bytes under a
    * dot-temp name, fsync-close, then rename over the live file. */
  private[graft] def atomicWriteWatermark(
      fs: org.apache.hadoop.fs.FileSystem, dir: String, name: String, batchId: Long): Unit = {
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val live = new org.apache.hadoop.fs.Path(dir, name)
    val out = fs.create(tmp, true)
    try out.write(batchId.toString.getBytes("UTF-8")) finally out.close()
    fs.delete(live, false)
    if (!fs.rename(tmp, live))
      throw new IllegalStateException(s"could not promote watermark $tmp to $live")
  }

  /** The last applied stream batch id, or None for a non-streaming (or
    * interrupted-bootstrap) index. An unreadable/unparseable watermark —
    * a torn write from a pre-rename crash, or manual damage — also reads
    * as None (ADVICE r13 #1): the caller's interrupted-bootstrap rebuild
    * path then repairs it, instead of every batch dying on the parse.
    */
  private[graft] def readBm25StreamBatch(
      spark: SparkSession, path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(path, Bm25StreamBatchFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      txt.trim.toLongOption
    }
  }

  def appendToBm25Index(spark: SparkSession, path: String,
      newDocs: DataFrame, idCol: String, textCol: String,
      streamBatchId: Option[Long] = None): Unit = {
    val corpus = bm25Corpus(spark, path).head()
    val (oldN, oldSumdl) = (corpus.getLong(corpus.fieldIndex("n")),
      corpus.getLong(corpus.fieldIndex("sumdl")))
    val nBuckets = corpus.getInt(corpus.fieldIndex("n_buckets"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Unmarked staging leftovers are garbage from an append that never
    // reached its intent point.
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/append.staging"), true)
    graft.Lineage.pinned(newDocs
        .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("__w"))
        .withColumn("dl", size(col("__w")).cast("long"))) { base =>
      base.select(col("doc_id"), col("dl"), explode(col("__w")).as("term"))
        .groupBy("term", "doc_id", "dl").agg(count(lit(1)).cast("long").as("tf"))
        .withColumn("pbucket", pmod(xxhash64(col("term")), lit(nBuckets.toLong)))
        .write.mode("overwrite").partitionBy("pbucket")
        .parquet(s"$path/append.staging/postings")
      // Delta df from the WRITTEN staging files, so the cache cannot
      // drift from what actually landed.
      val stagedDf = spark.read.parquet(s"$path/append.staging/postings")
        .groupBy("term").agg(count(lit(1)).as("df"))
      bm25Terms(spark, path).unionByName(stagedDf)
        .groupBy("term").agg(sum("df").as("df"))
        .write.mode("overwrite").parquet(s"$path/append.staging/terms")
      val d = base.agg(count(lit(1)).as("dn"), coalesce(sum("dl"), lit(0L)).as("dsumdl")).head()
      spark.range(1).select(
        lit(oldN + d.getLong(0)).as("n"),
        lit(oldSumdl + d.getLong(1)).as("sumdl"),
        lit(nBuckets).as("n_buckets"))
        .coalesce(1).write.mode("overwrite").parquet(s"$path/append.staging/corpus")
      // The stream watermark stages WITH the append, so it promotes (or
      // rolls forward) atomically with the postings it describes.
      streamBatchId.foreach(id =>
        writeBm25StreamBatch(fs, s"$path/append.staging", id))
      val marker = fs.create(new org.apache.hadoop.fs.Path(path, Bm25AppendIntent), true)
      try marker.write("pending".getBytes("UTF-8")) finally marker.close()
      promoteBm25Append(fs, path)
    }
  }

  /** Promote a fully-staged BM25 append (intent marker present).
    * Idempotent: already-promoted files are no longer in staging, so an
    * interrupted promotion re-runs to completion.
    */
  private def promoteBm25Append(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val stagedPosts = new org.apache.hadoop.fs.Path(s"$path/append.staging/postings")
    if (fs.exists(stagedPosts)) {
      fs.listStatus(stagedPosts)
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("pbucket="))
        .foreach { d =>
          val dest = new org.apache.hadoop.fs.Path(s"$path/postings/${d.getPath.getName}")
          if (!fs.exists(dest)) fs.mkdirs(dest)
          fs.listStatus(d.getPath)
            .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))
            .foreach { f =>
              val to = new org.apache.hadoop.fs.Path(dest, f.getPath.getName)
              if (!fs.rename(f.getPath, to))
                throw new IllegalStateException(s"append: could not promote ${f.getPath} to $to")
            }
        }
    }
    for (sub <- Seq("terms", "corpus", Bm25StreamBatchFile)) {
      val staged = new org.apache.hadoop.fs.Path(s"$path/append.staging/$sub")
      if (fs.exists(staged)) {
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$sub"), true)
        if (!fs.rename(staged, new org.apache.hadoop.fs.Path(s"$path/$sub")))
          throw new IllegalStateException(s"append: could not promote $sub sidecar at $path")
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/append.staging"), true)
    fs.delete(new org.apache.hadoop.fs.Path(path, Bm25AppendIntent), false)
  }

  /** Restore a healthy file layout to an append-accreted BM25 index:
    * every [[appendToBm25Index]] lands one file set per touched
    * `pbucket=` directory, so a year of daily deltas is 365 file sets
    * per probed bucket — the same degradation every other persisted
    * index guards against. Delegates to the shared staged-swap bucket
    * compaction ([[graft.merge.PartitionedTarget]]'s engine, the
    * [[Similarity.compactPqIndex]] precedent); postings content is
    * already one row per (term, doc), so only file layout changes.
    * Run [[recoverBm25Index]] after a crash.
    *
    * @return the pbucket ids rewritten (empty = nothing degraded).
    */
  def compactBm25Index(spark: SparkSession, path: String,
      targetFileBytes: Long = 128L << 20, minFiles: Int = 2): Seq[Int] = {
    bm25Corpus(spark, path) // gate: real index, no pending append
    graft.merge.PartitionedTarget.compactDirs(
      spark, s"$path/postings", "pbucket", targetFileBytes, minFiles)
  }

  /** Roll an interrupted BM25 maintenance step to a consistent state:
    * a marked append promotes FORWARD (staged data is complete by the
    * marker's contract), unmarked staging leftovers are dropped, and an
    * interrupted compaction swap rolls through the shared marker
    * protocol against the postings root. @return true when anything was
    * repaired.
    */
  def recoverBm25Index(spark: SparkSession, path: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path, Bm25AppendIntent)
    val staging = new org.apache.hadoop.fs.Path(s"$path/append.staging")
    val appendActed =
      if (fs.exists(marker)) { promoteBm25Append(fs, path); true }
      else if (fs.exists(staging)) { fs.delete(staging, true); true }
      else false
    appendActed | graft.merge.MergeApply.recover(spark, s"$path/postings")
  }

  /** Vocabulary-coverage / OOV-rate report (C90): build the top-V corpus
    * vocabulary by token OCCURRENCE count (deterministic tie-break:
    * count desc, token asc — both engines rank identically) and score
    * every document's fraction of token occurrences that fall outside
    * it — the tokenizer-coverage diagnostic run before committing a
    * vocabulary size: the per-doc OOV tail tells you which documents a
    * V-entry tokenizer will shred into bytes/unks.
    *
    * Scale shape: one token explode feeds a (token) count aggregation
    * with map-side partial combine; the top-V cut runs on the
    * AGGREGATED vocabulary rows (vocabulary-sized, never corpus-sized)
    * and BROADCASTS into the second, per-doc pass — a left join + flag
    * sum per doc, no corpus-sized shuffle keyed on anything but the doc
    * id. V is a broadcastable list by definition (a tokenizer vocab is
    * 10⁴–10⁶ entries).
    */
  def vocabOovReport(
      docs: DataFrame, idCol: String, textCol: String, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val tok = docs.select(col(idCol).as("__id"), explode(TextOps.tokens(col(textCol))).as("term"))
    val vocab = tok.groupBy("term").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(vocabSize)
      .select(col("term"), lit(1).as("__in_vocab"))
    tok.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("__id").as(idCol))
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("__in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_frac", round(col("n_oov") / col("n_tokens"), 6))
  }

  /** Cross-snapshot content-drift report (C91): per source, the cosine
    * similarity between two crawl snapshots' term-occurrence vectors —
    * the drift check run between snapshots before retraining decides
    * whether a source's content distribution moved (template change,
    * spam flood, language shift). Relative-frequency normalization
    * cancels inside cosine, so raw occurrence counts are exact.
    *
    * Scale shape: one (source, term) count aggregation per side with
    * map-side partial combine (each side corpus-scanned once), an inner
    * join on (source, term) for the dot product — fan-out bounded by
    * shared-vocabulary size per source, never doc counts — and
    * vocabulary-sized per-source norm aggregations. Sums cast to double
    * before the divide so DuckDB's HUGEINT sums and Spark's longs take
    * the identical IEEE path (exact while Σcnt² < 2⁵³ — beyond that,
    * pre-scale counts; the REPORT is a per-source scalar either way).
    * A source present in only one snapshot reports cosine 0 (maximal
    * drift), not null.
    */
  def sourceDrift(
      snapshotA: DataFrame, snapshotB: DataFrame,
      srcCol: String, textCol: String): DataFrame = {
    def counts(df: DataFrame, cnt: String) = df
      .select(col(srcCol).as("src"), explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy("src", "term").agg(count(lit(1)).as(cnt))
    val ca = counts(snapshotA, "ca")
    val cb = counts(snapshotB, "cb")
    val dot = ca.join(cb, Seq("src", "term"))
      .groupBy("src").agg(sum(col("ca") * col("cb")).as("dot"))
    val na = ca.groupBy("src").agg(
      sum(col("ca") * col("ca")).as("na2"), count(lit(1)).as("n_terms_a"))
    val nb = cb.groupBy("src").agg(
      sum(col("cb") * col("cb")).as("nb2"), count(lit(1)).as("n_terms_b"))
    na.join(nb, Seq("src"), "full")
      .join(dot, Seq("src"), "left")
      .select(
        col("src").as(srcCol),
        coalesce(col("n_terms_a"), lit(0L)).as("n_terms_a"),
        coalesce(col("n_terms_b"), lit(0L)).as("n_terms_b"),
        when(col("na2").isNull || col("nb2").isNull, lit(0.0))
          .otherwise(round(
            coalesce(col("dot"), lit(0L)).cast("double") /
              (sqrt(col("na2").cast("double")) * sqrt(col("nb2").cast("double"))), 6))
          .as("cosine"))
  }

  /** Per-group token-length distribution: count/min/max/mean plus
    * p25/p50/p75 quantiles — the corpus-health report behind length-filter
    * threshold tuning (t5's 30/60 bounds come from a report like this one,
    * re-run per crawl snapshot to catch drift).
    *
    * `exact = true` uses the exact `percentile` aggregate (linear
    * interpolation, DuckDB `quantile_cont` parity) — it buffers each
    * group's values, which is fine for group-level reporting but is the
    * knob to flip at extreme cardinality: `exact = false` switches to
    * `percentile_approx` (bounded-memory sketch, Greenwald-Khanna), the
    * 100 TB path when groups are huge — same schema, approximate values
    * (unit-pinned near the exact ones).
    */
  def lengthDistribution(
      docs: DataFrame, groupCol: String, textCol: String, exact: Boolean = true): DataFrame = {
    val probs = "array(0.25D, 0.5D, 0.75D)"
    val q =
      if (exact) expr(s"percentile(__n, $probs)")
      else expr(s"percentile_approx(__n, $probs, 10000)").cast("array<double>")
    docs
      .select(col(groupCol), TextOps.tokenCount(col(textCol)).cast("long").as("__n"))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("__n")).as("min_tokens"),
        max(col("__n")).as("max_tokens"),
        round(avg(col("__n")), 6).as("avg_tokens"),
        round(element_at(q, 1), 6).as("p25"),
        round(element_at(q, 2), 6).as("p50"),
        round(element_at(q, 3), 6).as("p75"))
  }

  /** Stopword list for quality scoring / language ID. Deliberately tiny and
    * hardcoded: the point is the dataflow shape (array HOFs, no UDF), not
    * lexicography.
    */
  val EnStopwords: Seq[String] = Seq("a", "the", "of", "and", "in", "to", "is")

  /** Per-document quality signals: token counts, type/token ratio, mean
    * word length, stopword ratio. One projection — no shuffle at all.
    */
  def qualitySignals(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = TextOps.tokens(col(textCol))
    val stop = array(EnStopwords.map(lit): _*)
    val nTok = size(w).cast("double")
    // Counts are cast to long for schema parity with the oracle suite
    // (DuckDB len()/sum() are BIGINT).
    docs.select(
      col(idCol),
      length(col(textCol)).cast("long").as("n_chars"),
      size(w).cast("long").as("n_tokens"),
      size(array_distinct(w)).cast("long").as("n_types"),
      round(size(array_distinct(w)) / nTok, 6).as("type_token_ratio"),
      round(aggregate(transform(w, t => length(t)), lit(0), (acc, v) => acc + v) / nTok, 6)
        .as("avg_word_len"),
      round(size(filter(w, t => array_contains(stop, t))) / nTok, 6).as("stopword_ratio"),
      regexTokenCount(col(textCol)).cast("long").as("n_regex_tokens"))
  }

  /** Rule-based quality filter — the curation verdict built from the
    * quality signals: per-document booleans for each rejection rule plus
    * the final keep decision. Kept as separate flag columns (not a reasons
    * array) so downstream per-rule rejection stats are one aggregation.
    * Map-only, like the signals themselves.
    */
  def qualityFilter(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      minTokens: Int = 10,
      maxTokens: Int = 5000,
      minTypeTokenRatio: Double = 0.2): DataFrame = {
    val w = TextOps.tokens(col(textCol))
    val nTok = size(w)
    val ttr = size(array_distinct(w)) / nTok.cast("double")
    docs.select(
      col(idCol),
      (nTok < minTokens).as("too_short"),
      (nTok > maxTokens).as("too_long"),
      (ttr < minTypeTokenRatio).as("low_diversity"))
      .withColumn("keep", !col("too_short") && !col("too_long") && !col("low_diversity"))
  }

  /** Marker vocabularies for heuristic language ID. Any deterministic
    * token→language evidence works; scoring is marker-hit counting.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "value", "table"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"))

  /** Heuristic language ID: count marker-token hits per language, predict
    * the argmax (first language wins ties, "und" = undetermined when no
    * marker hits at all). Pure projection — scales as a map-only stage.
    */
  def langId(docs: DataFrame, idCol: String, textCol: String,
      keep: Seq[String] = Nil): DataFrame = {
    val w = TextOps.tokens(col(textCol))
    val scored = docs.select(
      Seq(col(idCol)) ++ keep.map(col) ++ LangMarkers.map { case (lang, markers) =>
        size(filter(w, t => array_contains(array(markers.map(lit): _*), t))).cast("long").as(s"score_$lang")
      }: _*)
    val best = LangMarkers.map { case (lang, _) => col(s"score_$lang") }
    val maxScore = greatest(best: _*)
    val pred = LangMarkers.foldLeft(when(maxScore === 0, lit("und"))) { case (acc, (lang, _)) =>
      acc.when(col(s"score_$lang") === maxScore, lit(lang))
    }
    scored.withColumn("pred_lang", pred)
  }

  /** Unicode-script mix per document — the multilingual triage step
    * [[langId]]'s token markers cannot do: marker lists only know the
    * languages they were given, while script classes partition ALL text
    * ("is this Cyrillic, CJK, Latin, or a spoofing mix?" is answerable
    * with zero language knowledge). Reports per-script character
    * fractions (latin/cyrillic/han/digit over total chars), the dominant
    * script (priority-ordered tie-break — deterministic on any engine),
    * and a `mixed_script` flag (≥2 script classes each covering ≥
    * `mixThreshold` of the doc — the homoglyph-spoofing / OCR-noise /
    * template-collage signature a single-label langid hides).
    *
    * Counting is subtraction, not explosion: count(class) =
    * len(text) − len(regexp_replace(text, class, "")) — a pure codegen'd
    * projection, one map-only pass, no per-character explode. Lengths
    * are UTF-16 code units in Spark and code points in the oracle —
    * identical for BMP scripts (all four classes here); astral-plane
    * text would need a code-point contract first.
    */
  /** The dominant script class of a text column — [[scriptMix]]'s
    * priority-ordered argmax as a STANDALONE map-only expression, for
    * pipelines that route on script (e.g. into
    * [[TextOps.segmentNoSpaceScripts]]) without materializing the full
    * report. Same rounded fractions, same priority CASE, same 'other'
    * fallback as scriptMix (equality spec-pinned in ScriptMixSpec).
    */
  def dominantScript(text: Column): Column = {
    val total = length(text)
    def cnt(cls: String) = total - length(regexp_replace(text, cls, ""))
    val denom = greatest(total, lit(1)).cast("double")
    val fr = Seq(
      "latin" -> round(cnt("\\p{IsLatin}") / denom, 6),
      "cyrillic" -> round(cnt("\\p{IsCyrillic}") / denom, 6),
      "han" -> round(cnt("\\p{IsHan}") / denom, 6),
      "digit" -> round(cnt("[0-9]") / denom, 6))
    val g = greatest(fr.map(_._2): _*)
    fr.foldLeft(when(g === 0.0, lit("other"))) {
      case (acc, (n, f)) => acc.when(f === g, lit(n))
    }
  }

  def scriptMix(
      docs: DataFrame, idCol: String, textCol: String,
      mixThreshold: Double = 0.2): DataFrame = {
    require(mixThreshold > 0 && mixThreshold <= 1.0,
      s"mixThreshold must lie in (0, 1], got $mixThreshold")
    val s = col(textCol)
    val total = length(s)
    def cnt(cls: String) = total - length(regexp_replace(s, cls, ""))
    val denom = greatest(total, lit(1)).cast("double")
    val classes = Seq(
      "latin" -> cnt("\\p{IsLatin}"), "cyrillic" -> cnt("\\p{IsCyrillic}"),
      "han" -> cnt("\\p{IsHan}"), "digit" -> cnt("[0-9]"))
    val withCounts = docs.select(
      Seq(col(idCol), total.cast("long").as("n_chars_total")) ++
        classes.map { case (name, c) => round(c / denom, 6).as(s"f_$name") }: _*)
    // Dominant: priority-ordered CASE (latin > cyrillic > han > digit on
    // ties), 'other' when no class scores at all.
    val names = classes.map(_._1)
    val dominant = names.foldLeft(
      when(greatest(names.map(n => col(s"f_$n")): _*) === 0.0, lit("other"))) {
      case (acc, n) =>
        acc.when(col(s"f_$n") === greatest(names.map(m => col(s"f_$m")): _*), lit(n))
    }
    val nBig = names.map(n => when(col(s"f_$n") >= mixThreshold, 1).otherwise(0))
      .reduce(_ + _)
    withCounts
      .withColumn("dominant", dominant)
      .withColumn("mixed_script", nBig >= 2)
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, adapted to a
    * line-less corpus): per document,
    *
    *   - `dup_token_frac` — 1 − distinct/total tokens (map-only);
    *   - `top{n}_char_frac` for n ∈ `topNs` — characters covered by the
    *     single most frequent word n-gram (count × n-gram length /
    *     document chars), ties broken toward the lexicographically
    *     largest n-gram so the winner is engine-independent;
    *   - `dup{n}_char_frac` for n ∈ `dupNs` — characters across ALL
    *     occurrences of n-grams that occur more than once, / document
    *     chars. Overlapping occurrences each count (a repetition RATIO
    *     that can exceed 1.0 for degenerate loops — deliberately, since
    *     saturating at 1 would hide exactly the pathological repetition
    *     this signal exists to catch).
    *
    * Scale shape: ONE scan — every requested n-gram family is built in a
    * single projection (tagged `(n, gram)` structs, flattened, exploded),
    * then two partial-aggregated shuffles: (id, n, gram) counts, then the
    * per-id conditional rollup. No joins; docs too short for every n
    * still emit via a sentinel row. At 100 TB the count shuffle moves
    * one row per distinct (doc, n, gram) — bounded by corpus token mass.
    */
  def repetitionSignals(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      topNs: Seq[Int] = Seq(2, 3),
      dupNs: Seq[Int] = Seq(5)): DataFrame = {
    require(topNs.nonEmpty || dupNs.nonEmpty, "at least one n-gram family required")
    val allNs = (topNs ++ dupNs).distinct.sorted
    require(allNs.forall(_ >= 1), s"n-gram sizes must be >= 1, got $allNs")
    // Tokenize ONCE into a materialized column before shingling: the gram
    // lambdas reference the token array per element_at, and an inlined
    // split() would be re-evaluated for every access — measured 18 s vs
    // 1.5 s on the sf0.1 corpus. CollapseProject keeps the two
    // projections apart because the alias is non-cheap and multiply
    // referenced.
    val w = col("__graft_w")
    val nTok = size(w).cast("double")
    // dup_token_frac is computed HERE, over the materialized token array
    // and before the explode — referenced above the Generate it would be
    // re-evaluated (array_distinct over the full array) once per gram row
    // instead of once per document.
    val tokenized = docs
      .select(
        col(idCol).as("id"),
        length(col(textCol)).cast("double").as("n_chars"),
        TextOps.tokens(col(textCol)).as("__graft_w"))
      .withColumn("dup_token_frac", round(lit(1.0) - size(array_distinct(w)) / nTok, 6))
    // Sentinel (n=0) keeps short docs in the frame; conditional aggs skip it.
    val tagged = (allNs.map(n =>
      transform(TextOps.allShingles(w, n), g => struct(lit(n).as("n"), g.as("g")))) :+
      array(struct(lit(0).as("n"), lit("").as("g"))))
    val exploded = tokenized.select(
      col("id"),
      col("n_chars"),
      col("dup_token_frac"),
      explode(concat(tagged: _*)).as("ng"))
    val counts = exploded
      .groupBy(col("id"), col("n_chars"), col("dup_token_frac"),
        col("ng.n").as("n"), col("ng.g").as("g"))
      .agg(count(lit(1)).as("cnt"))
    val topCols = topNs.map { n =>
      // max(struct) = highest count, then lexicographically largest gram —
      // the deterministic winner whose chars the fraction counts.
      val top = max(when(col("n") === n, struct(col("cnt"), col("g"))))
      round(coalesce(top.getField("cnt") * length(top.getField("g")), lit(0)) / col("n_chars"), 6)
        .as(s"top${n}_char_frac")
    }
    val dupCols = dupNs.map { n =>
      val dupChars = sum(when(col("n") === n && col("cnt") >= 2, col("cnt") * length(col("g"))))
      round(coalesce(dupChars, lit(0)) / col("n_chars"), 6).as(s"dup${n}_char_frac")
    }
    counts
      .groupBy(col("id").as(idCol), col("n_chars"), col("dup_token_frac"))
      .agg((topCols ++ dupCols).head, (topCols ++ dupCols).tail: _*)
      .drop("n_chars")
  }

  /** Unigram language-model term counts over a reference corpus — the
    * "model" side of [[unigramNllAgainst]]. One aggregation with
    * map-side combine; the output is vocabulary-sized (grows with
    * distinct terms, not corpus size), the frame you persist or write
    * once and score every crawl snapshot against.
    *
    * @return (term, cw) — raw term occurrence counts.
    */
  def unigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("cw"))

  /** Per-document negative log-likelihood under an add-k-smoothed
    * unigram language model — the scalable stand-in for the KenLM
    * perplexity filter of CCNet (Wenzek et al. 2020): documents scoring
    * far from the reference distribution (wrong language, gibberish,
    * boilerplate soup) surface with high `avg_nll`, and a percentile
    * cut over this column is the classic head/middle/tail quality
    * split. Smoothing keeps out-of-vocabulary tokens finite:
    * p(w) = (c(w) + k) / (N + k·V) with c = 0 for unseen terms.
    *
    * Determinism contract: the per-document sum of ln p(w) folds the
    * token scores in POSITION order (sorted collect + left fold, the
    * e5 pattern) — a distributed float `sum()` would be
    * partition-order-dependent and break run-to-run and cross-engine
    * reproducibility at the 1e-15 level that rounding cannot always
    * absorb at document lengths.
    *
    * Scale shape: one token explode feeds the score join; the model is
    * vocabulary-sized and joined on the term key (equi-join with
    * partial-aggregated fan-in; broadcast it when the vocabulary fits),
    * totals are a 1-row broadcast (the t10 N pattern); the per-doc fold
    * buffers one document's scores — bounded by document length, never
    * corpus size.
    *
    * @param model (term, cw) counts from [[unigramCounts]] — typically a
    *              trusted reference corpus, not `docs` itself.
    * @return (idCol, n_tokens, avg_nll) — avg_nll rounded to 6; lower is
    *         more reference-like; exp(avg_nll) is the perplexity.
    */
  def unigramNllAgainst(
      docs: DataFrame, model: DataFrame, idCol: String, textCol: String,
      addK: Double = 1.0): DataFrame = {
    require(addK > 0, s"addK must be > 0 (smoothing keeps OOV finite), got $addK")
    val totals = model.agg(
      sum(col("cw")).as("__n"), count(lit(1)).as("__v"))
    val tok = docs.select(
      col(idCol).as("id"), posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "w")))
    tok
      .join(model.select(col("term").as("w"), col("cw")), Seq("w"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("lnp",
        log((coalesce(col("cw"), lit(0L)) + lit(addK)) / (col("__n") + lit(addK) * col("__v"))))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"), collect_list(struct(col("pos"), col("lnp"))).as("__s"))
      .withColumn("__sum", aggregate(
        transform(array_sort(col("__s")), e => e.getField("lnp")),
        lit(0.0), (acc, x) => acc + x))
      .select(col(idCol), col("n_tokens"),
        round(-col("__sum") / col("n_tokens"), 6).as("avg_nll"))
  }

  /** [[unigramNllAgainst]] with the model trained on `docs` itself —
    * self-perplexity, the no-reference-corpus bootstrap: outliers against
    * the corpus's own distribution are still the junk you inspect first.
    */
  def unigramNll(
      docs: DataFrame, idCol: String, textCol: String, addK: Double = 1.0): DataFrame =
    unigramNllAgainst(docs, unigramCounts(docs, textCol), idCol, textCol, addK)

  /** Adjacent-token bigram counts over a reference corpus — the order-2
    * model side of [[bigramNllAgainst]]. Map-only pair build (one
    * `transform` over each doc's token array, no self-join), one
    * aggregation with map-side combine; output is bigram-vocabulary-
    * sized, the frame you persist beside [[unigramCounts]]' and score
    * every crawl snapshot against.
    *
    * @return (w1, w2, cb) — raw adjacent-pair occurrence counts.
    */
  def bigramCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(TextOps.tokens(col(textCol)).as("__ws"))
      .filter(size(col("__ws")) >= 2)
      .select(explode(transform(sequence(lit(1), size(col("__ws")) - 1),
        i => struct(element_at(col("__ws"), i).as("w1"),
          element_at(col("__ws"), i + 1).as("w2")))).as("__b"))
      .select(col("__b.w1").as("w1"), col("__b.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))

  /** Per-document negative log-likelihood under an add-k-smoothed BIGRAM
    * language model — one Markov order closer to the KenLM filter
    * [[unigramNllAgainst]] approximates: token i ≥ 1 scores
    * ln p(wᵢ | wᵢ₋₁) = ln (c(wᵢ₋₁,wᵢ)+k)/(c(wᵢ₋₁)+k·V), the first token
    * under the unigram start distribution. A unigram model cannot see
    * WORD-ORDER damage — a shuffled document has the exact same unigram
    * score as its original — while the bigram conditional collapses on
    * it (spec-pinned), which is precisely the gibberish/boilerplate-soup
    * signature a perplexity filter exists to catch.
    *
    * Same determinism contract as [[unigramNllAgainst]]: per-doc ln-sums
    * fold in POSITION order; scale shape adds one more vocabulary-sized
    * equi-join (the bigram table on (prev, w)) — still no corpus-sized
    * shuffle keyed on anything but the doc id.
    *
    * Denominator convention (ADVICE r13 #4, deliberate): c(wᵢ₋₁) is the
    * UNIGRAM count from `unigramModel`, not the bigram context sum
    * Σ_w c(wᵢ₋₁,w). The two differ exactly on doc-final tokens (which
    * occur but never precede), so the smoothed conditionals do not sum
    * to 1 over the vocabulary — a textbook add-k model would derive
    * contexts from the bigram table. The unigram form is kept because
    * it reuses the persisted [[unigramCounts]] frame a deployment
    * already maintains (no second model store), the skew is a uniform
    * per-context deflation that preserves the filter's RANKING use, and
    * the oracle replays the same formula so cross-engine parity is
    * exact.
    *
    * @param bigramModel  (w1, w2, cb) from [[bigramCounts]]
    * @param unigramModel (term, cw) from [[unigramCounts]] — supplies
    *                     the contexts c(w1), the vocabulary size V, and
    *                     the start-token distribution
    * @return (idCol, n_tokens, avg_nll) — avg_nll rounded to 6; lower is
    *         more reference-like.
    */
  def bigramNllAgainst(
      docs: DataFrame, bigramModel: DataFrame, unigramModel: DataFrame,
      idCol: String, textCol: String, addK: Double = 1.0): DataFrame = {
    require(addK > 0, s"addK must be > 0 (smoothing keeps OOV finite), got $addK")
    val totals = unigramModel.agg(
      sum(col("cw")).as("__n"), count(lit(1)).as("__v"))
    val tok = docs
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__ws"))
      .select(col("id"), col("__ws"), posexplode(col("__ws")).as(Seq("pos", "w")))
      // element_at is 1-based: at 0-based position pos, index `pos` IS
      // the previous token.
      .withColumn("prev", when(col("pos") === 0, lit(null).cast("string"))
        .otherwise(element_at(col("__ws"), col("pos"))))
      .drop("__ws")
    tok
      .join(unigramModel.select(col("term").as("w"), col("cw")), Seq("w"), "left")
      .join(unigramModel.select(col("term").as("prev"), col("cw").as("cprev")),
        Seq("prev"), "left")
      .join(bigramModel.select(col("w1").as("prev"), col("w2").as("w"), col("cb")),
        Seq("prev", "w"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("lnp",
        when(col("prev").isNull,
          log((coalesce(col("cw"), lit(0L)) + lit(addK)) /
            (col("__n") + lit(addK) * col("__v"))))
          .otherwise(
            log((coalesce(col("cb"), lit(0L)) + lit(addK)) /
              (coalesce(col("cprev"), lit(0L)) + lit(addK) * col("__v")))))
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"), collect_list(struct(col("pos"), col("lnp"))).as("__s"))
      .withColumn("__sum", aggregate(
        transform(array_sort(col("__s")), e => e.getField("lnp")),
        lit(0.0), (acc, x) => acc + x))
      .select(col(idCol), col("n_tokens"),
        round(-col("__sum") / col("n_tokens"), 6).as("avg_nll"))
  }

  /** [[bigramNllAgainst]] with both models trained on `docs` itself —
    * bigram self-perplexity (the [[unigramNll]] bootstrap, order 2).
    */
  def bigramNll(
      docs: DataFrame, idCol: String, textCol: String, addK: Double = 1.0): DataFrame =
    bigramNllAgainst(docs, bigramCounts(docs, textCol), unigramCounts(docs, textCol),
      idCol, textCol, addK)

  /** Per-document NLL under a Jelinek–Mercer INTERPOLATED trigram model
    * — the closest engine-native step toward the KenLM-grade filter the
    * perplexity tier has approximated since C52/C124: token i ≥ 2
    * scores
    *   p = λ₃·(c₃+k)/(c₂ctx+kV) + λ₂·(c₂+k)/(c₁ctx+kV) + λ₁·(c₁+k)/(N+kV)
    * (λ₁ = 1−λ₃−λ₂; every component add-k-smoothed, so OOV stays
    * finite at any order and the mixture never needs a backoff special
    * case — interpolation IS the backoff). Token 1 uses the bigram and
    * unigram parts with the trigram mass folded into the bigram
    * (λ₃+λ₂ vs λ₁); token 0 the unigram start distribution. The
    * deliberate denominator conventions inherit from [[bigramNllAgainst]]:
    * bigram contexts come from the UNIGRAM table, trigram contexts from
    * the BIGRAM table — the stores a deployment already persists.
    *
    * Why order 3 earns its keep (spec-pinned): bigram models cannot see
    * damage that preserves adjacent pairs — a corpus of "a b" pairs
    * glued in random order scores identically at order 2, while the
    * trigram conditional collapses on the unseen (b, a-of-next-pair)
    * contexts. That is the template-soup signature order-2 misses.
    *
    * Same determinism contract as the rest of the family: per-doc
    * ln-sums fold in POSITION order, final avg rounded 6dp; scale shape
    * adds one trigram-vocabulary equi-join and one bigram-context join
    * — still nothing corpus-keyed but the final doc-id groupBy.
    *
    * @return (idCol, n_tokens, avg_nll) — lower is more reference-like.
    */
  def trigramNllAgainst(
      docs: DataFrame, trigramModel: DataFrame, bigramModel: DataFrame,
      unigramModel: DataFrame, idCol: String, textCol: String,
      addK: Double = 1.0, lambda3: Double = 0.5, lambda2: Double = 0.3): DataFrame = {
    require(addK > 0, s"addK must be > 0 (smoothing keeps OOV finite), got $addK")
    require(lambda3 >= 0 && lambda2 >= 0 && lambda3 + lambda2 <= 1.0,
      s"need lambda3, lambda2 >= 0 with lambda3 + lambda2 <= 1, got ($lambda3, $lambda2)")
    val l1 = 1.0 - lambda3 - lambda2
    val totals = unigramModel.agg(
      sum(col("cw")).as("__n"), count(lit(1)).as("__v"))
    val tok = docs
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__ws"))
      .select(col("id"), col("__ws"), posexplode(col("__ws")).as(Seq("pos", "w")))
      .withColumn("prev", when(col("pos") === 0, lit(null).cast("string"))
        .otherwise(element_at(col("__ws"), col("pos"))))
      .withColumn("prev2", when(col("pos") <= 1, lit(null).cast("string"))
        .otherwise(element_at(col("__ws"), col("pos") - 1)))
      .drop("__ws")
    val kV = lit(addK) * col("__v")
    val scored = tok
      .join(unigramModel.select(col("term").as("w"), col("cw")), Seq("w"), "left")
      .join(unigramModel.select(col("term").as("prev"), col("cw").as("cprev")),
        Seq("prev"), "left")
      .join(bigramModel.select(col("w1").as("prev"), col("w2").as("w"), col("cb")),
        Seq("prev", "w"), "left")
      .join(bigramModel.select(col("w1").as("prev2"), col("w2").as("prev"),
        col("cb").as("cctx")), Seq("prev2", "prev"), "left")
      .join(trigramModel.select(col("w1").as("prev2"), col("w2").as("prev"),
        col("w3").as("w"), col("ct")), Seq("prev2", "prev", "w"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__pu",
        (coalesce(col("cw"), lit(0L)) + lit(addK)) / (col("__n") + kV))
      .withColumn("__pb",
        (coalesce(col("cb"), lit(0L)) + lit(addK)) /
          (coalesce(col("cprev"), lit(0L)) + kV))
      .withColumn("__pt",
        (coalesce(col("ct"), lit(0L)) + lit(addK)) /
          (coalesce(col("cctx"), lit(0L)) + kV))
      .withColumn("lnp",
        when(col("prev").isNull, log(col("__pu")))
          .when(col("prev2").isNull,
            log(lit(lambda3 + lambda2) * col("__pb") + lit(l1) * col("__pu")))
          .otherwise(log(lit(lambda3) * col("__pt") + lit(lambda2) * col("__pb") +
            lit(l1) * col("__pu"))))
    scored
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"), collect_list(struct(col("pos"), col("lnp"))).as("__s"))
      .withColumn("__sum", aggregate(
        transform(array_sort(col("__s")), e => e.getField("lnp")),
        lit(0.0), (acc, x) => acc + x))
      .select(col(idCol), col("n_tokens"),
        round(-col("__sum") / col("n_tokens"), 6).as("avg_nll"))
  }

  /** Per-document NLL under an interpolated KNESER–NEY bigram model —
    * the actual KenLM smoothing math (Kneser & Ney 1995; the modified
    * form KenLM estimates), which the add-k family approximates: the
    * lower-order distribution is not unigram FREQUENCY but unigram
    * CONTINUATION (in how many distinct contexts does w appear?), the
    * fix for the "San Francisco" failure — 'Francisco' is frequent but
    * appears after almost nothing, so a backoff to raw frequency
    * overrates it exactly where the bigram has no evidence:
    *
    *   p(w|v) = (max(c(v,w) − d, 0) + d · N₁₊(v,·) · p_cont(w)) / c(v)
    *   p_cont(w) = N₁₊(·,w) / B
    *
    * with d the absolute discount, N₁₊(v,·) the distinct continuations
    * of v, N₁₊(·,w) the distinct contexts of w, B the distinct bigram
    * types, and c(v) = Σ_w c(v,w) the bigram-consistent context total.
    * Interpolation weights are exact by construction: Σ_w p(w|v) = 1
    * for every seen context (spec-pinned by enumeration). Doc-initial
    * tokens and unseen contexts score the continuation distribution
    * with an add-1 guard over (B + V); the SAME guard also catches the
    * other reachable raw-KN zero — an OOV word after a SEEN context
    * (c(v,w) and N₁₊(·,w) both absent ⇒ both mixture terms 0), which
    * cross-corpus scoring hits on every probe token the model never
    * saw. Every token therefore scores a finite NLL, per the family's
    * smoothing convention.
    *
    * Everything is exact integer counts + one division — no tuned λs —
    * so the oracle replays it literally. Same determinism contract as
    * the family (position-ordered ln fold, 6dp final round); scale
    * shape identical to [[bigramNllAgainst]] plus two
    * vocabulary-sized aggregations of the MODEL (context and
    * continuation stats), which a deployment computes once per model,
    * not per scored corpus.
    *
    * @param bigramModel (w1, w2, cb) from [[bigramCounts]] — the ONLY
    *                    model input; KN derives everything from it.
    */
  def knBigramNllAgainst(
      docs: DataFrame, bigramModel: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, s"discount must lie in (0,1), got $discount")
    val ctx = bigramModel.groupBy(col("w1").as("prev"))
      .agg(sum(col("cb")).as("cv"), count(lit(1)).as("n1fwd"))
    val cont = bigramModel.groupBy(col("w2").as("w"))
      .agg(count(lit(1)).as("n1bwd"))
    // __v in ONE model scan (explode over both token positions) — the
    // two-scan union recomputed an unmaterialized model lineage twice.
    // Same multiset, same countDistinct.
    val totals = bigramModel.agg(count(lit(1)).as("__b"))
      .crossJoin(
        bigramModel.select(explode(array(col("w1"), col("w2"))).as("t"))
          .agg(countDistinct(col("t")).as("__v")))
    val tok = docs
      .select(col(idCol).as("id"), TextOps.tokens(col(textCol)).as("__ws"))
      .select(col("id"), col("__ws"), posexplode(col("__ws")).as(Seq("pos", "w")))
      .withColumn("prev", when(col("pos") === 0, lit(null).cast("string"))
        .otherwise(element_at(col("__ws"), col("pos"))))
      .drop("__ws")
    val scored = tok
      .join(cont, Seq("w"), "left")
      .join(ctx, Seq("prev"), "left")
      .join(bigramModel.select(col("w1").as("prev"), col("w2").as("w"), col("cb")),
        Seq("prev", "w"), "left")
      .crossJoin(broadcast(totals))
      .withColumn("__pcont",
        coalesce(col("n1bwd"), lit(0L)) / col("__b").cast("double"))
      .withColumn("__pguard",
        (coalesce(col("n1bwd"), lit(0L)) + lit(1.0)) / (col("__b") + col("__v")))
      .withColumn("lnp",
        // The zero-mixture case is exactly {cb null AND n1bwd null}: a
        // seen (v,w) keeps cb−d > 0 (counts ≥ 1 > d), and a seen w keeps
        // d·N₁₊(v,·)·p_cont > 0 — either alone is finite.
        when(col("prev").isNull || col("cv").isNull ||
            (col("n1bwd").isNull && col("cb").isNull), log(col("__pguard")))
          .otherwise(log(
            (greatest(coalesce(col("cb"), lit(0L)) - lit(discount), lit(0.0)) +
              lit(discount) * col("n1fwd") * col("__pcont")) / col("cv"))))
    scored
      .groupBy(col("id").as(idCol))
      .agg(count(lit(1)).as("n_tokens"), collect_list(struct(col("pos"), col("lnp"))).as("__s"))
      .withColumn("__sum", aggregate(
        transform(array_sort(col("__s")), e => e.getField("lnp")),
        lit(0.0), (acc, x) => acc + x))
      .select(col(idCol), col("n_tokens"),
        round(-col("__sum") / col("n_tokens"), 6).as("avg_nll"))
  }

  /** [[mknNgramNllAgainst]]'s top-order discount estimation, exposed
    * for auditability: (D₁, D₂, D₃₊) from the n-gram table's
    * count-of-counts, each bin FALLING BACK to KenLM's
    * `--discount_fallback` defaults (0.5, 1.0, 1.5) when its formula
    * is not computable (an empty bin divides by zero) or yields a
    * non-positive value (count-of-counts that are not Zipf-shaped —
    * synthetic or heavily deduplicated corpora do this; this fixture's
    * sf0.1 cut estimates D₂ ≈ −2). Deterministic and total: the oracle
    * computes the identical guarded expressions in SQL.
    */
  def mknDiscounts(ngramModel: DataFrame): (Double, Double, Double) = {
    val cc = ngramModel.agg(
      sum(when(col("ct") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("ct") === 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("ct") === 3, 1L).otherwise(0L)).as("n3"),
      sum(when(col("ct") === 4, 1L).otherwise(0L)).as("n4")).head()
    // Null sums ⇔ zero model rows: fail loud with the cause, not a
    // ROW_VALUE_IS_NULL deep in the mixture (an empty model means the
    // corpus — or, in the CCNet composition, the classifier-selected
    // REFERENCE slice — has no doc as long as the model order; there is
    // nothing to score against).
    if (cc.isNullAt(0)) throw new IllegalArgumentException(
      "empty n-gram model: the model corpus has no doc with >= order tokens " +
        "(in a reference-gated pipeline this means the gate accepted " +
        "nothing) — a KN/MKN model cannot be estimated from it.")
    val (n1, n2, n3, n4) =
      (cc.getLong(0), cc.getLong(1), cc.getLong(2), cc.getLong(3))
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def bin(divisorBin: Long, raw: => Double, fallback: Double): Double =
      if (divisorBin > 0 && n1 + 2 * n2 > 0 && raw > 0) r6(raw) else fallback
    def y = n1.toDouble / (n1 + 2 * n2)
    (bin(n1, 1 - 2 * y * n2 / n1, 0.5),
      bin(n2, 2 - 3 * y * n3 / n2, 1.0),
      bin(n3, 3 - 4 * y * n4 / n3, 1.5))
  }

  /** Adjacent-token n-gram counts over a reference corpus — the one
    * count builder behind every KN/MKN model here (`order = 3` is the
    * trigram table). Map-only window build (one `transform` per doc, no
    * self-join), one map-side-combined aggregation; output is
    * n-gram-vocabulary-sized.
    *
    * `groupCols` builds one independent model per group value (the
    * CCNet per-language reference: each language's model sees only its
    * own reference slice) — the group key is prepended to the one
    * aggregation; output is sum-of-per-group-vocabularies-sized.
    *
    * @return (`groupCols`…, w1, …, w`order`, ct) — raw adjacent-tuple
    *         occurrence counts, the [[ModelStore.saveNgram]] layout
    *         when ungrouped.
    */
  def ngramCounts(
      docs: DataFrame, textCol: String, order: Int,
      groupCols: Seq[String] = Nil): DataFrame = {
    require(order >= 1, s"order must be >= 1, got $order")
    val g = groupCols.map(col)
    docs
      .select(g :+ TextOps.tokens(col(textCol)).as("__ws"): _*)
      .filter(size(col("__ws")) >= order)
      .select(g :+ explode(transform(sequence(lit(1), size(col("__ws")) - (order - 1)),
        i => struct((0 until order).map(o =>
          element_at(col("__ws"), i + o).as(s"w${o + 1}")): _*))).as("__t"): _*)
      .select(g ++ (1 to order).map(i => col(s"__t.w$i").as(s"w$i")): _*)
      .groupBy(g ++ (1 to order).map(i => col(s"w$i")): _*)
      .agg(count(lit(1)).as("ct"))
  }

  /** Per-document NLL under an interpolated MODIFIED-Kneser–Ney model
    * of any order ≥ 3 (Chen & Goodman 1999; the KenLM default is
    * `order = 5`, t45 and the CCNet gates score `order = 3`). The one
    * MKN implementation: one-shot, pre-derived ([[mknNgramNllWith]]),
    * per-group and at-rest ([[mknNgramNllIndexed]]) scoring share
    * [[mknScore]]'s expression trees.
    *
    * The TOP order scores raw counts under count-binned discounts
    *
    *   p(w|ctx) = max(c(ctx w)−D(c),0)/c(ctx·) + γ(ctx)·p(w|ctx′)
    *   γ(ctx)   = [D₁N₁(ctx·)+D₂N₂(ctx·)+D₃₊N₃₊(ctx·)]/c(ctx·)
    *
    * (D₁/D₂/D₃₊ from [[mknDiscounts]]); each MIDDLE order k scores
    * CONTINUATION counts c_k(u) = N₁₊(·u), one aggregation per level
    * from the level above (the raw n-gram table is the ONLY model
    * input), under the single `discount` with the exact discounted-mass
    * weight (Σ_w p = 1 for every seen context); the base is the
    * continuation-of-continuation unigram distribution with the
    * family's add-1 guard over (U + V). KenLM bins discounts at EVERY
    * order; this engine bins the top order only, because lower-order
    * count-of-counts are degenerate on small corpora (zero
    * bigram-continuation doubletons at some fixture scales).
    *
    * Zero-routing: a position with fewer than k context tokens scores
    * at level k = pos; an UNSEEN context at any level falls to the level
    * below; the level-2 zero-mixture case (continuation count AND
    * unigram continuation both absent — OOV after a seen context) takes
    * the guard. Every token scores finite.
    *
    * Per group (`groupCols`, the model from [[ngramCounts]] with the
    * same `groupCols`): each document scores against ITS OWN group's
    * model — CCNet's per-language gate. Every derived table carries the
    * group key, every scoring join adds it, and the discounts are
    * estimated per group in-engine ([[mknDiscountsBy]]): no per-group
    * loop and no per-group collect. A doc whose group has NO model is
    * absent from the output (the per-group totals join is inner — no
    * reference, no pass). One constant group equals the ungrouped
    * scorer, every double (spec-pinned).
    *
    * Determinism: discounts are rounded 6dp once (the oracle computes
    * the identical guarded expressions in SQL); ln-sums fold in position
    * order, final avg rounded 6dp. Each level's probability is its OWN
    * projection column (`__pl2` … `__plTop`) that higher levels
    * reference — inlined, level k's tree would duplicate 2^(n−k) times.
    *
    * Scale shape: 2(n−1) model-side aggregations (n-gram-vocabulary-
    * sized), 2(n−1)+1 vocabulary-keyed equi-joins on the probe stream,
    * a totals broadcast (one row, or one per group) and the
    * position-ordered ln fold; nothing shuffles the corpus more than
    * the token explode already does.
    *
    * @param ngramModel (`groupCols`…, w1, …, w`order`, ct) from
    *                   [[ngramCounts]]
    * @return (`idCol`, `groupCols`…, n_tokens, avg_nll) — lower is more
    *         reference-like.
    */
  def mknNgramNllAgainst(
      docs: DataFrame, ngramModel: DataFrame, idCol: String, textCol: String,
      order: Int, discount: Double = 0.75,
      groupCols: Seq[String] = Nil): DataFrame =
    mknNgramNllWith(docs, mknTables(ngramModel, order, groupCols), idCol, textCol,
      discount)

  /** [[mknNgramNllAgainst]] against pre-derived [[MknTables]] — the
    * repeated-scoring entry (a streaming gate derives a frozen model's
    * tables once and scores every micro-batch here); bit-identical.
    */
  def mknNgramNllWith(
      docs: DataFrame, tables: MknTables, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame =
    mknScore(docs, idCol, textCol, tables.order, tables.groupCols, discount,
      _ => tables)

  /** The derived, frozen form of an order-n MKN model: every table the
    * scoring join chain consumes, plus the three binned discounts as
    * Columns (plan literals ungrouped; per group, columns of `totals`).
    * Built by [[mknTables]] / [[mknTablesMaterialized]] or read from an
    * at-rest index ([[mknNgramNllIndexed]]) — one type, one scorer.
    */
  final case class MknTables private[graft] (
      order: Int, groupCols: Seq[String],
      d1: Column, d2: Column, d3: Column,
      topRaw: DataFrame, topCtx: DataFrame,
      conts: Map[Int, DataFrame], ctxTabs: Map[Int, DataFrame],
      totals: DataFrame)

  /** Derive [[MknTables]] from an n-gram count frame, lazily. Ungrouped,
    * the discounts are estimated here (one eager collect that fails loud
    * on an empty model).
    */
  def mknTables(
      ngramModel: DataFrame, order: Int, groupCols: Seq[String] = Nil): MknTables =
    mknDerive(ngramModel, order, groupCols, identity)

  /** [[mknTables]] with every derived table PINNED eagerly
    * ([[graft.Lineage.cut]]) — for the streaming LM gates, which score
    * many batches against one frozen model: each level derives from the
    * pinned level above, and each batch joins checkpointed leaves.
    * `topRaw` stays unpinned: it is the model frame the caller already
    * holds, read once per scoring run either way. Bit-identical tables.
    */
  def mknTablesMaterialized(
      ngramModel: DataFrame, order: Int, groupCols: Seq[String] = Nil): MknTables =
    mknDerive(ngramModel, order, groupCols, graft.Lineage.cut)

  /** Positional context-column names, nearest token first. */
  private def mknCtxKeys(j: Int): Seq[String] = (j to 1 by -1).map(i => s"__p$i")

  /** Derive every scoring table from the raw n-gram count frame. Each
    * table is one aggregation of the table above it (never of the
    * corpus); `pin` intercepts each. `totals.__v` is ONE scan of the
    * model (the n token positions explode into one stream). A caller
    * holding the ungrouped triple passes `discounts` and skips the
    * estimation ([[refreshNgramIndexFromStore]], once per dirty table).
    */
  private def mknDerive(
      ngramModel: DataFrame, order: Int, groupCols: Seq[String],
      pin: DataFrame => DataFrame,
      discounts: Option[(Double, Double, Double)] = None): MknTables = {
    require(order >= 3, s"order must be >= 3 (use knBigramNllAgainst below), got $order")
    val n = order
    val g = groupCols
    val ctxKeys = mknCtxKeys _
    def by(keys: Seq[String]) = (g ++ keys).map(col)
    // Ungrouped: the triple as plan literals (estimated first, so an
    // empty model fails before any table is pinned). Per group: columns
    // of the per-group discount frame joined into totals below.
    val (d1, d2, d3) =
      if (g.isEmpty) {
        val (a, b, c) = discounts.getOrElse(mknDiscounts(ngramModel))
        (lit(a), lit(b), lit(c))
      } else (col("d1"), col("d2"), col("d3"))
    // The model with positional names: w_i (i < n) is the token n−i
    // back from the scored token; w_n is the token itself.
    val topRaw = ngramModel.select(g.map(col) ++
      (1 until n).map(i => col(s"w$i").as(s"__p${n - i}")) ++
      Seq(col(s"w$n").as("w"), col("ct")): _*)
    val topCtx = pin(topRaw.groupBy(by(ctxKeys(n - 1)): _*).agg(
      sum(col("ct")).as("cuv"),
      sum(when(col("ct") === 1, 1L).otherwise(0L)).as("n1uv"),
      sum(when(col("ct") === 2, 1L).otherwise(0L)).as("n2uv"),
      sum(when(col("ct") >= 3, 1L).otherwise(0L)).as("n3uv")))
    // Continuation tables, level n−1 down to 1: level k's rows are the
    // DISTINCT (k+1)-suffixes of the level above, counted — exactly
    // N₁₊(·u), each one aggregation of the previous (never of the
    // corpus); each level's context table follows its counts.
    val conts = scala.collection.mutable.Map.empty[Int, DataFrame]
    val ctxTabs = scala.collection.mutable.Map.empty[Int, DataFrame]
    var cur: DataFrame = topRaw
    for (k <- (n - 1) to 1 by -1) {
      cur = pin(cur.groupBy(by(ctxKeys(k - 1) :+ "w"): _*)
        .agg(count(lit(1)).as(s"c$k")))
      conts(k) = cur
      if (k >= 2) ctxTabs(k) = pin(cur.groupBy(by(ctxKeys(k - 1)): _*)
        .agg(sum(col(s"c$k")).as(s"cv$k"), count(lit(1)).as(s"n1v$k")))
    }
    val vocab = ngramModel.select(g.map(col) :+
      explode(array((1 to n).map(i => col(s"w$i")): _*)).as("t"): _*)
    val totals = pin(
      if (g.isEmpty)
        conts(2).agg(count(lit(1)).as("__u"))
          .crossJoin(vocab.agg(countDistinct(col("t")).as("__v")))
      else
        conts(2).groupBy(g.map(col): _*).agg(count(lit(1)).as("__u"))
          .join(vocab.groupBy(g.map(col): _*).agg(countDistinct(col("t")).as("__v")), g)
          .join(mknDiscountsBy(ngramModel, g), g))
    MknTables(n, g, d1, d2, d3, topRaw, topCtx, conts.toMap, ctxTabs.toMap, totals)
  }

  /** [[mknDiscounts]] PER GROUP, in-engine: the same guarded bin
    * formulas as column expressions (`round(…, 6)` is the same HALF_UP),
    * one row per group — collecting one triple per group would put the
    * group count on a collect for no reason. Arithmetic order mirrors
    * [[mknDiscounts]] and the oracle exactly (left-assoc products), so
    * the doubles agree bit-for-bit.
    *
    * @return (`groupCols`…, d1, d2, d3)
    */
  private def mknDiscountsBy(ngramModel: DataFrame, groupCols: Seq[String]): DataFrame = {
    val cc = ngramModel.groupBy(groupCols.map(col): _*).agg(
      sum(when(col("ct") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("ct") === 2, 1L).otherwise(0L)).as("n2"),
      sum(when(col("ct") === 3, 1L).otherwise(0L)).as("n3"),
      sum(when(col("ct") === 4, 1L).otherwise(0L)).as("n4"))
    def binned(divisorBin: Column, raw: Column, fallback: Double): Column =
      when(divisorBin > 0 && (col("n1") + lit(2) * col("n2")) > 0 && raw > 0,
        round(raw, 6)).otherwise(lit(fallback))
    val y = col("n1").cast("double") / (col("n1") + lit(2) * col("n2"))
    cc.select(groupCols.map(col) ++ Seq(
      binned(col("n1"), lit(1) - lit(2) * y * col("n2") / col("n1"), 0.5).as("d1"),
      binned(col("n2"), lit(2) - lit(3) * y * col("n3") / col("n2"), 1.0).as("d2"),
      binned(col("n3"), lit(3) - lit(4) * y * col("n4") / col("n3"), 1.5).as("d3")): _*)
  }

  /** The order-n MKN scoring join chain + lnp fold over a probe stream,
    * against tables from `tablesFor` (which receives the built token
    * frame so an at-rest provider can prune its reads to the buckets
    * the probe actually touches). `groupCols` ride the token frame,
    * every join key and the output.
    */
  private def mknScore(
      docs: DataFrame, idCol: String, textCol: String, order: Int,
      groupCols: Seq[String], discount: Double,
      tablesFor: DataFrame => MknTables): DataFrame = {
    require(discount > 0 && discount < 1, s"discount must lie in (0,1), got $discount")
    val n = order
    val g = groupCols
    val ctxKeys = mknCtxKeys _
    val tok0 = docs
      .select((col(idCol).as("id") +: g.map(col)) :+
        TextOps.tokens(col(textCol)).as("__ws"): _*)
      .select((col("id") +: g.map(col)) ++
        Seq(col("__ws"), posexplode(col("__ws")).as(Seq("pos", "w"))): _*)
    val tok = (1 until n).foldLeft(tok0)((df, j) =>
        df.withColumn(s"__p$j", when(col("pos") <= j - 1, lit(null).cast("string"))
          .otherwise(element_at(col("__ws"), col("pos") - (j - 1)))))
      .drop("__ws")
    val t = tablesFor(tok)
    val (d1, d2, d3) = (t.d1, t.d2, t.d3)
    var scored = tok.join(t.conts(1), g :+ "w", "left")
    for (k <- 2 until n) {
      scored = scored
        .join(t.conts(k), g ++ ctxKeys(k - 1) :+ "w", "left")
        .join(t.ctxTabs(k), g ++ ctxKeys(k - 1), "left")
    }
    scored = scored
      .join(t.topRaw, g ++ ctxKeys(n - 1) :+ "w", "left")
      .join(t.topCtx, g ++ ctxKeys(n - 1), "left")
    // Inner per-group totals join: no model for the group ⇒ unscorable.
    scored = (if (g.isEmpty) scored.crossJoin(broadcast(t.totals))
      else scored.join(broadcast(t.totals), g))
      .withColumn("__pug",
        (coalesce(col("c1"), lit(0L)) + lit(1.0)) / (col("__u") + col("__v")))
      // Level 2 — raw continuation-unigram tail inside the mixture,
      // guard on the zero-mixture case.
      .withColumn("__pl2",
        when(col("cv2").isNull || (col("c2").isNull && col("c1").isNull),
          col("__pug"))
          .otherwise(
            (greatest(coalesce(col("c2"), lit(0L)) - lit(discount), lit(0.0)) +
              lit(discount) * col("n1v2") *
                (coalesce(col("c1"), lit(0L)) / col("__u").cast("double"))) /
              col("cv2")))
    for (k <- 3 until n) {
      scored = scored.withColumn(s"__pl$k",
        when(col(s"cv$k").isNull, col(s"__pl${k - 1}"))
          .otherwise(
            greatest(coalesce(col(s"c$k"), lit(0L)) - lit(discount), lit(0.0)) /
              col(s"cv$k") +
              (lit(discount) * col(s"n1v$k") / col(s"cv$k")) *
                col(s"__pl${k - 1}")))
    }
    val dTop = when(col("ct") === 1, d1)
      .when(col("ct") === 2, d2).otherwise(d3)
    val lnpExpr = {
      var c = when(col("__p1").isNull, log(col("__pug")))
      for (k <- 2 until n) c = c.when(col(s"__p$k").isNull, log(col(s"__pl$k")))
      c.otherwise(log(col("__plTop")))
    }
    scored
      .withColumn("__gt",
        (d1 * col("n1uv") + d2 * col("n2uv") + d3 * col("n3uv")) / col("cuv"))
      .withColumn("__plTop",
        when(col("cuv").isNull, col(s"__pl${n - 1}"))
          .otherwise(
            when(col("ct").isNull, lit(0.0))
              .otherwise(greatest(col("ct") - dTop, lit(0.0))) / col("cuv") +
              col("__gt") * col(s"__pl${n - 1}")))
      .withColumn("lnp", lnpExpr)
      .groupBy((col("id").as(idCol) +: g.map(col)): _*)
      .agg(count(lit(1)).as("n_tokens"),
        collect_list(struct(col("pos"), col("lnp"))).as("__s"))
      .withColumn("__sum", aggregate(
        transform(array_sort(col("__s")), e => e.getField("lnp")),
        lit(0.0), (acc, x) => acc + x))
      .select((col(idCol) +: g.map(col)) ++ Seq(col("n_tokens"),
        round(-col("__sum") / col("n_tokens"), 6).as("avg_nll")): _*)
  }

  /** [[mknNgramNllAgainst]] with the model trained on `docs` itself —
    * order-n modified-KN self-perplexity (the bootstrap; `order = 5`
    * is the KenLM default, `order = 3` t45's trigram model).
    */
  def mknNgramNll(
      docs: DataFrame, idCol: String, textCol: String, order: Int = 5,
      discount: Double = 0.75): DataFrame =
    mknNgramNllAgainst(docs, ngramCounts(docs, textCol, order), idCol, textCol,
      order, discount)

  /** Build the persisted AT-REST form of an order-n MKN model — the
    * C109/t25 posting discipline applied to the LM tier. The live
    * scorer re-derives 2(n−1)+1 model tables per scoring run and joins
    * the probe against each IN FULL; at real scale those tables exceed
    * memory and every level becomes a full shuffle join. This writes
    * each derived table ONCE, bucket-partitioned by a hash of ITS OWN
    * join key (context-hash for the ctx tables, context+word for the
    * count tables), so a probe reads only the buckets its contexts
    * hash to (`PartitionFilters` prunes the listing — spec-pinned) and
    * the derivation cost is paid at build time, never per batch. The
    * in-Spark analog of compiling a KenLM binary, plus the partition
    * pruning a flat binary cannot give a distributed probe.
    *
    * Layout: `top`/`topctx`/`cont1..cont{n−1}`/`ctx2..ctx{n−1}` as
    * pbucket-partitioned parquet, the one-row `totals`, and `meta`
    * (order, bucket count, the three binned discounts — derived from
    * count-of-counts the index does not store) written LAST, so a
    * torn FIRST build has no meta and every probe fails loud. Like
    * every model artifact here, an index version is ONE IMMUTABLE
    * DIRECTORY — re-building over a live index in place is the one
    * window this layout does not defend (write a new version and flip
    * the [[ModelStore.publishVersion]] pointer instead).
    */
  def writeNgramIndex(
      ngramModel: DataFrame, path: String, order: Int,
      nBuckets: Int = 0, lastBatchId: Long = -1L): Unit = {
    require(order >= 3, s"order must be >= 3, got $order")
    require(nBuckets >= 0, s"nBuckets must be >= 0 (0 = size-derived), got $nBuckets")
    val spark = ngramModel.sparkSession
    import spark.implicits._
    val n = order
    val buckets = if (nBuckets > 0) nBuckets else ngramIndexBuckets(ngramModel)
    val (d1, d2, d3) = mknDiscounts(ngramModel)
    val t = mknDerive(ngramModel, order, Nil, identity, Some((d1, d2, d3)))
    // The 2(n−1)+1 table writes are independent jobs over the shared
    // derived frames — submit them concurrently so each write's tail
    // back-fills the others' idle executors (guide §2.6); output paths
    // are disjoint and the derived frames are read-only, so order
    // cannot change any table's content.
    inParallel(mknIndexTables(n)) { case (nm, keys) =>
      writeIndexTab(indexTabOf(t, nm), keys, s"$path/$nm", buckets)
    }
    t.totals.coalesce(1).write.mode("overwrite").parquet(s"$path/totals")
    Seq((order, buckets, d1, d2, d3, lastBatchId))
      .toDF("order", "n_buckets", "d1", "d2", "d3", "last_batch_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Size-derived bucket count for [[writeNgramIndex]] — the C24
    * [[graft.operators.Layout]] discipline applied to the LM index
    * (the r19 finding: a FIXED default bucket count means probed-
    * bucket content grows linearly with the model, and the t69
    * fixed-probe cell grows with it). Buckets scale with the model
    * frame's optimizer size estimate so per-bucket bytes — and hence
    * the cost of a pruned probe — stay ~constant as the model grows.
    * The estimate is the in-memory size (overshoots disk 2–4×, like
    * [[graft.operators.Layout.writeSized]]'s); the floor keeps tiny
    * fixture models from degenerating to one bucket, the cap bounds
    * per-table directory fan-out.
    */
  def ngramIndexBuckets(
      ngramModel: DataFrame, targetBucketBytes: Long = 16L << 20): Int = {
    require(targetBucketBytes > 0,
      s"targetBucketBytes must be positive, got $targetBucketBytes")
    val est = ngramIndexBytes(ngramModel)
    ((est + targetBucketBytes - 1) / targetBucketBytes)
      .max(BigInt(8)).min(BigInt(65536)).toInt
  }

  /** The size figure [[ngramIndexBuckets]] divides: max(optimizer
    * estimate, exact one-pass content measure). The optimizer estimate
    * alone is the [[graft.operators.Layout]] input — fine for a
    * parquet-backed model (real file sizes) — but through an
    * UNMATERIALIZED aggregate-over-generate it can collapse to
    * metadata scale (measured: a 10× corpus's 5-gram model estimated
    * at 2.4 MB), and for a bucket-count an UNDERestimate is the one
    * failure mode that matters at scale: a terabyte model floored to 8
    * buckets is 8 unprunable megafiles. The content measure is one
    * map-side-combined aggregation of the model frame — marginal next
    * to the 2(n−1)+1 derivations a build already pays, and exact.
    */
  private[pipeline] def ngramIndexBytes(ngramModel: DataFrame): BigInt = {
    val n = ngramModel.columns.count(c => c.startsWith("w") &&
      c.drop(1).forall(_.isDigit))
    val planEst = ngramModel.queryExecution.optimizedPlan.stats.sizeInBytes
    val measured = Option(
      ngramModel.agg(sum(octet_length(concat_ws(" ",
          (1 to n).map(i => col(s"w$i")): _*)) + lit(8L * (n + 2))))
        .first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    planEst.max(BigInt(measured))
  }

  /** Run `f` over `items` from a small fixed pool and return results in
    * item order — the guide §2.6 "overlap independent jobs" shape for
    * the index writers' per-table jobs: Spark schedules concurrent jobs
    * FIFO, so a later job's tasks back-fill executors the earlier job's
    * straggler tail leaves idle. Width 4: enough to fill the tail,
    * not so many the jobs fight for executors (guide's own guidance).
    * First failure propagates after the pool drains — same failure
    * semantics as the sequential loop it replaces.
    */
  private def inParallel[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, math.max(1, items.size)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(
        items.map(a => scala.concurrent.Future(f(a)))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  /** The (name → derived-table join keys, positional names) layout of
    * an order-n index — ONE listing shared by the writer, the pruned
    * reader, and the incremental refresh, so the three can never
    * disagree about which table is bucketed by which key.
    */
  private def mknIndexTables(n: Int): Seq[(String, Seq[String])] =
    Seq("top" -> (mknCtxKeys(n - 1) :+ "w"),
      "topctx" -> mknCtxKeys(n - 1)) ++
      (1 until n).map(k => s"cont$k" -> (mknCtxKeys(k - 1) :+ "w")) ++
      (2 until n).map(k => s"ctx$k" -> mknCtxKeys(k - 1))

  private def indexTabOf(t: MknTables, name: String): DataFrame = name match {
    case "top" => t.topRaw
    case "topctx" => t.topCtx
    case c if c.startsWith("cont") => t.conts(c.drop(4).toInt)
    case c if c.startsWith("ctx") => t.ctxTabs(c.drop(3).toInt)
  }

  private def writeIndexTab(
      df: DataFrame, keys: Seq[String], dest: String, nBuckets: Int): Unit =
    df.withColumn("pbucket",
        pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong)))
      .write.mode("overwrite").partitionBy("pbucket").parquet(dest)

  /** [[writeNgramIndex]] from a MAINTAINED COUNT STORE
    * ([[writeNgramStore]]): reads the converged model, records the
    * store's max batch id in the index meta — the version cursor
    * [[refreshNgramIndexFromStore]] keys its changed-gram set on.
    * Like the maintainers, assumes no concurrent apply advances the
    * store mid-build (single writer; the refresh loop runs them
    * sequentially).
    */
  def writeNgramIndexFromStore(
      spark: SparkSession, storePath: String, path: String, order: Int,
      nBuckets: Int = 0): Unit = {
    val stored = graft.merge.PartitionedTarget.read(spark, storePath)
    val asOf = Option(stored.agg(max(col("batch_id"))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(-1L)
    writeNgramIndex(ngramModelFromStore(spark, storePath, order), path, order,
      nBuckets, lastBatchId = asOf)
  }

  /** INCREMENTAL at-rest index refresh — the r19 ask: a new index
    * version used to re-derive every MKN table from the whole model
    * (`writeNgramIndex` over `ngramModelFromStore`), re-pricing the
    * full model per version. The store carries a per-gram `batch_id`,
    * so the grams that changed since the previous index version are
    * identifiable; this refresh recomputes ONLY the index buckets
    * those grams map to and hard-copies every clean bucket's files
    * from the previous version — the C36 append/compact discipline
    * applied to the LM index.
    *
    * Correctness: each derived table's pre-aggregation filter is
    * GROUP-PRESERVING — a table groups the model by (a suffix of) the
    * gram, the bucket is a pure function of that group key, so
    * filtering the model to "rows whose group key hashes into a dirty
    * bucket" keeps every row of every recomputed group, and the
    * recomputed bucket content is bit-equal to a full rebuild's (the
    * spec pins index==live through a store that advanced between
    * versions). Discounts and totals are global count-of-count
    * aggregations — cheap one-pass map-side-combined scans, recomputed
    * exactly (`totals.__u` is the distinct final-bigram count, equal
    * by construction to the rebuild's cont2 row count).
    *
    * Scale shape: the changed-gram set is one pruned-write's worth of
    * metadata (ONE aggregation collects every table's dirty-bucket
    * set, each ≤ nBuckets values — the e4/C36 license); per table, the
    * recompute scans the model with a group-preserving filter (shuffle
    * and write ∝ dirty-bucket content, not the model) and clean
    * buckets move by FILE COPY, never recomputation (server-side copy
    * on object stores). The new version keeps the previous bucket
    * count — bucket membership must match for the copy to be legal;
    * resizing ([[ngramIndexBuckets]] drift) takes a full rebuild.
    * Versions stay immutable directories: refresh writes a NEW
    * directory and the caller flips the
    * [[ModelStore.publishVersion]] pointer.
    *
    * @return dirty bucket ids per table (spec-pinned: a refresh after
    *         a small store advance touches few buckets)
    */
  def refreshNgramIndexFromStore(
      spark: SparkSession, storePath: String, prevIndexPath: String,
      newIndexPath: String): Map[String, Seq[Long]] = {
    import spark.implicits._
    val meta = spark.read.parquet(s"$prevIndexPath/meta").head()
    val n = meta.getAs[Int]("order")
    val nBuckets = meta.getAs[Int]("n_buckets")
    require(meta.schema.fieldNames.contains("last_batch_id"),
      s"index at $prevIndexPath predates incremental refresh (no " +
        "last_batch_id in meta) — rebuild it once with " +
        "writeNgramIndexFromStore, then refresh incrementally.")
    val since = meta.getAs[Long]("last_batch_id")
    val stored = graft.merge.PartitionedTarget.read(spark, storePath)
    val model = ngramModelFromStore(spark, storePath, n)
    val asOf = Option(stored.agg(max(col("batch_id"))).first().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(since)

    // Positional key name -> the raw model column it renames (writeTab
    // buckets by the POSITIONAL columns; the pre-aggregation filter
    // must hash the same values in the same order).
    def rawCols(keys: Seq[String]): Seq[Column] = keys.map {
      case "w" => col(s"w$n")
      case p => col(s"w${n - p.drop(3).toInt}")
    }
    def bucketOf(keys: Seq[String]): Column =
      pmod(xxhash64(rawCols(keys): _*), lit(nBuckets.toLong))

    val tables = mknIndexTables(n)
    // ONE aggregation over the changed grams computes every table's
    // dirty-bucket set (each ≤ nBuckets values — metadata-sized).
    val changed = stored.filter(col("batch_id") > since)
    val aggs = tables.map { case (nm, ks) => collect_set(bucketOf(ks)).as(nm) }
    val sets = changed.agg(aggs.head, aggs.tail: _*).head()

    val conf = spark.sparkContext.hadoopConfiguration
    // Discounts estimated ONCE here (they feed meta below); the per-
    // table derivations receive them instead of re-running the eager
    // count-of-counts aggregation per dirty table — that was one wasted
    // filtered-model job per table (the derived frame is the only thing
    // a table write consumes).
    val (d1, d2, d3) = mknDiscounts(model)
    // Per-table recompute + clean-bucket copy are independent of every
    // other table (disjoint output directories, read-only inputs) — run
    // them concurrently so each write job's tail back-fills the others
    // (guide §2.6). Map-from-pairs keeps the returned dirty sets keyed
    // identically to the sequential form.
    val dirty = inParallel(tables) { case (nm, ks) =>
      val d = sets.getSeq[Long](sets.fieldIndex(nm)).sorted
      if (d.nonEmpty) {
        // Group-preserving filter: every model row whose group key
        // hashes into a dirty bucket — recomputed bucket content is
        // the full rebuild's, bit for bit.
        val t = mknDerive(model.filter(bucketOf(ks).isin(d: _*)), n, Nil, identity,
          Some((d1, d2, d3)))
        writeIndexTab(indexTabOf(t, nm), ks, s"$newIndexPath/$nm", nBuckets)
      }
      val src = new org.apache.hadoop.fs.Path(s"$prevIndexPath/$nm")
      val dst = new org.apache.hadoop.fs.Path(s"$newIndexPath/$nm")
      val fs = src.getFileSystem(conf)
      fs.mkdirs(dst)
      val skip = d.map(b => s"pbucket=$b").toSet
      fs.listStatus(src).foreach { st =>
        val dirName = st.getPath.getName
        if (st.isDirectory && dirName.startsWith("pbucket=") && !skip(dirName))
          org.apache.hadoop.fs.FileUtil.copy(
            fs, st.getPath, fs, new org.apache.hadoop.fs.Path(dst, dirName),
            false, conf)
      }
      nm -> d
    }.toMap

    // Globals recomputed exactly (cheap one-pass aggregations); meta
    // written LAST, same torn-build posture as the full writer.
    model.select(col(s"w${n - 1}").as("a"), col(s"w$n").as("b")).distinct()
      .agg(count(lit(1)).as("__u"))
      .crossJoin(
        model.select(explode(array((1 to n).map(i => col(s"w$i")): _*)).as("t"))
          .agg(countDistinct(col("t")).as("__v")))
      .coalesce(1).write.mode("overwrite").parquet(s"$newIndexPath/totals")
    Seq((n, nBuckets, d1, d2, d3, asOf))
      .toDF("order", "n_buckets", "d1", "d2", "d3", "last_batch_id")
      .coalesce(1).write.mode("overwrite").parquet(s"$newIndexPath/meta")
    dirty
  }

  /** Score a probe batch against the AT-REST model — bit-identical to
    * [[mknNgramNllAgainst]] over the same counts (the two paths share
    * [[mknScore]]'s expression trees; spec-pinned), but every model
    * table is read PRUNED to the buckets the probe's contexts hash to:
    * ONE aggregation over the token frame computes every table's
    * touched-bucket set (each ≤ nBuckets values — the driver collect
    * is layout-bounded, the e4/C36 license), and each scan's
    * `PartitionFilters` then prunes the listing. Scoring a small batch
    * reads a few buckets per level instead of n full model tables.
    */
  def mknNgramNllIndexed(
      spark: SparkSession, path: String, docs: DataFrame, idCol: String,
      textCol: String, discount: Double = 0.75): DataFrame = {
    val meta = spark.read.parquet(s"$path/meta").head()
    val n = meta.getAs[Int]("order")
    val nBuckets = meta.getAs[Int]("n_buckets")
    mknScore(docs, idCol, textCol, n, Nil, discount, tok => {
      def b(keys: Seq[String]) =
        pmod(xxhash64(keys.map(col): _*), lit(nBuckets.toLong))
      val keysFor = mknIndexTables(n)
      val aggs = keysFor.map { case (nm, ks) => collect_set(b(ks)).as(nm) }
      val sets = tok.agg(aggs.head, aggs.tail: _*).head()
      def read(nm: String): DataFrame = {
        val wanted = sets.getSeq[Long](sets.fieldIndex(nm))
        spark.read.parquet(s"$path/$nm")
          .filter(col("pbucket").isin(wanted: _*)).drop("pbucket")
      }
      MknTables(n, Nil,
        lit(meta.getAs[Double]("d1")), lit(meta.getAs[Double]("d2")),
        lit(meta.getAs[Double]("d3")),
        read("top"), read("topctx"),
        (1 until n).map(k => k -> read(s"cont$k")).toMap,
        (2 until n).map(k => k -> read(s"ctx$k")).toMap,
        spark.read.parquet(s"$path/totals"))
    })
  }

  /** Merge n-gram count frames by SUMMATION — the incremental-model
    * discipline a crawl pipeline needs and a compiled KenLM binary
    * cannot offer: raw n-gram counts are exactly additive over a
    * disjoint document partition ([[ngramCounts]] windows never cross
    * document boundaries), so per-snapshot count frames persisted via
    * [[ModelStore.saveNgram]] merge into the full-corpus model without
    * ever re-reading old snapshots — and every MKN quantity
    * (count-of-counts, continuation tables, discounts) derives from
    * the merged frame as if it had been built in one pass (spec-pinned
    * row-for-row; t62 pins it through the scorer's hash). One
    * union + one n-gram-vocabulary-sized aggregation.
    */
  def mergeNgramCounts(models: Seq[DataFrame], order: Int): DataFrame = {
    require(models.nonEmpty, "need at least one model frame to merge")
    val expected = (1 to order).map(i => s"w$i") :+ "ct"
    models.foreach(m => require(m.columns.toSeq == expected,
      s"n-gram model columns ${m.columns.toSeq} do not match order-$order " +
        s"layout $expected"))
    models.reduce(_ unionByName _)
      .groupBy((1 to order).map(i => col(s"w$i")): _*)
      .agg(sum(col("ct")).as("ct"))
  }

  /** Write an n-gram count frame plus its in-row `batch_id` watermark
    * as an AT-REST STORE — gram-hash-bucketed parquet under the
    * staged-write conventions (the [[graft.pipeline.Vocab]] count-store
    * layout on the composite (w1…wn) key): reads touch only the buckets
    * their grams hash to, upserts swap only touched buckets. This is
    * the ingest-time shape of the C207 snapshot merge — counts accrete
    * batch by batch instead of snapshot by snapshot, and the LM model
    * tracks the live crawl with no re-read of history.
    */
  def writeNgramStore(
      counts: DataFrame, path: String, order: Int, nBuckets: Int = 8): Unit = {
    require(order >= 1, s"order must be >= 1, got $order")
    val expected = ((1 to order).map(i => s"w$i") :+ "ct") :+ "batch_id"
    require(counts.columns.toSeq == expected,
      s"n-gram store columns ${counts.columns.toSeq} do not match order-$order " +
        s"layout $expected")
    graft.merge.PartitionedTarget.write(counts, path,
      graft.merge.PartitionSpec((1 to order).map(i => s"w$i"), nBuckets,
        HashMode.Xxhash64))
  }

  /** Merge an arriving (w1…wn, ct, batch_id) count frame into the
    * store: read ONLY the buckets the arriving grams hash to, restrict
    * to the arriving grams (untouched grams keep their rows), SUM the
    * counts — raw n-gram counts are exactly linear-additive over a
    * disjoint document partition ([[ngramCounts]] windows never cross
    * document boundaries), the same algebra as [[mergeNgramCounts]] —
    * carry the max batch_id per gram (the watermark rides IN the rows,
    * the st16/st17 mechanism), and upsert through the partition-scoped
    * apply. Cost tracks the batch's gram vocabulary and its touched
    * buckets, never store history.
    */
  def mergeNgramCountsIntoStore(
      spark: SparkSession, path: String, arriving: DataFrame): Unit =
    graft.merge.PartitionedTarget.foldIntoStore(spark, path, arriving) { (both, keys) =>
      both.groupBy(keys.map(col): _*)
        .agg(sum(col("ct")).as("ct"), max(col("batch_id")).as("batch_id"))
    }

  /** The n-gram model as of the store's last completed maintenance —
    * the (w1…wn, ct) frame [[mknNgramNllAgainst]] consumes, bit-
    * identical to a one-pass [[ngramCounts]] over the same documents
    * (count additivity; st-pinned against t61's oracle). The store's
    * bucket layout rides along for free: scoring joins read the
    * partitioned parquet directly.
    */
  def ngramModelFromStore(
      spark: SparkSession, path: String, order: Int): DataFrame = {
    val stored = graft.merge.PartitionedTarget.read(spark, path)
    val expected = ((1 to order).map(i => s"w$i") :+ "ct") :+ "batch_id"
    require(stored.columns.toSeq.sorted == expected.sorted,
      s"n-gram store at $path has columns ${stored.columns.toSeq}, not the " +
        s"order-$order layout $expected — refusing to score a mislaid model.")
    stored.select(((1 to order).map(i => col(s"w$i")) :+ col("ct")): _*)
  }

  /** [[knBigramNllAgainst]] with the model trained on `docs` itself —
    * Kneser–Ney self-perplexity (the bootstrap).
    */
  def knBigramNll(
      docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame =
    knBigramNllAgainst(docs, bigramCounts(docs, textCol), idCol, textCol, discount)

  /** [[trigramNllAgainst]] with all three models trained on `docs`
    * itself — interpolated-trigram self-perplexity (order-3 bootstrap).
    */
  def trigramNll(
      docs: DataFrame, idCol: String, textCol: String, addK: Double = 1.0,
      lambda3: Double = 0.5, lambda2: Double = 0.3): DataFrame =
    trigramNllAgainst(docs, ngramCounts(docs, textCol, 3), bigramCounts(docs, textCol),
      unigramCounts(docs, textCol), idCol, textCol, addK, lambda3, lambda2)
}
