package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress fixture generator (VERDICT r10 next #3): synthesize a
  * ~K× corpus from an existing SF dir so the flagship 100 TB claims can
  * be MEASURED beyond sf0.1 instead of argued from plan shape. The
  * scaling preserves each operator's per-copy structure instead of
  * multiplying it quadratically:
  *
  *   - `documents`: K copies, ids shifted 1M apart; every TOKEN is
  *     salted per copy (`tok_k`), so shingle vocabularies are DISJOINT
  *     across copies — each copy reproduces the base corpus's pair/df
  *     structure internally and totals scale linearly, the shape a real
  *     K×-bigger crawl has (a naive K-fold text copy would instead plant
  *     K-cliques of exact dups and explode pair counts quadratically).
  *   - `embeddings`: K copies, ids shifted; each component perturbed by
  *     a deterministic per-(id, dim) offset so copies are distinct
  *     vectors with the same distribution (a verbatim copy would stack
  *     identical points onto identical LSH/IVF buckets).
  *   - `supplier`: K copies, keys shifted; names PREFIXED with per-copy
  *     salts pairwise ≥2 edits apart, so maxDist=1 fuzzy pairs never
  *     cross copies and the deletion-neighborhood load scales linearly.
  *   - `lineitem`: K copies, order keys shifted 10M apart (clears the
  *     4×2^21 replica bands of the m13 keyed fixture).
  *   - everything else: copied verbatim (same file, bench warmup reads
  *     region).
  *
  * Run: `sbt "runMain graft.tools.ScaleFixture [srcDir] [outDir] [K]"`,
  * then point the isolated bench at outDir. An optional 4th arg is a
  * comma-list of tokens EXEMPT from the per-copy salt — the weak-label
  * markers ('the') that classifier-bootstrapped pipelines (p9's CCNet
  * gate) key on: the default salt erases the marker from copies 1..K−1,
  * collapsing the label prior from ~77% to ~8% and training the gate to
  * reject everything, which is a fixture artifact, not a pipeline
  * property. Exempting only the marker keeps shingle vocabularies
  * effectively disjoint (a shared stop-token changes no 3-gram across
  * copies unless its entire neighborhood is also shared).
  */
object ScaleFixture {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft-sfx10")
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-scale-fixture")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LocalFs.install(spark)

    def copies(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(spark.range(k).select(col("id").as("__copy"))))

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scale] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }

    val keep = args.lift(3).map(_.split(",").toSeq).getOrElse(Seq.empty)
    val docs = spark.read.parquet(s"$src/documents.parquet")
    write("documents", copies(docs).select(
      (col("doc_id") + col("__copy") * 1000000L).as("doc_id"),
      // Copy 0 keeps the base text verbatim; copies 1..K-1 salt every
      // token (minus the exempt markers), giving disjoint shingle
      // vocabularies per copy.
      when(col("__copy") === 0, col("text"))
        .otherwise(concat_ws(" ",
          transform(split(col("text"), " "), t =>
            if (keep.isEmpty) concat(t, lit("_"), col("__copy"))
            else when(t.isin(keep: _*), t)
              .otherwise(concat(t, lit("_"), col("__copy"))))))
        .as("text"),
      col("lang"), col("source"), col("n_chars")))

    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    write("embeddings", copies(emb).select(
      (col("vec_id") + col("__copy") * 1000000L).as("vec_id"),
      when(col("__copy") === 0, col("embedding"))
        .otherwise(transform(col("embedding"),
          (v, i) => v + (sin((col("vec_id") + i + 1) * (col("__copy") + 1)) * lit(0.02)).cast("float")))
        .as("embedding"),
      col("label")))

    val sup = spark.read.parquet(s"$src/supplier.parquet")
    write("supplier", copies(sup).select(
      (col("s_suppkey") + col("__copy") * 100000L).as("s_suppkey"),
      when(col("__copy") === 0, col("s_name"))
        // "11 ", "22 ", … pairwise ≥2 edits apart: no cross-copy pair
        // survives maxDist=1, so fuzzy load scales linearly.
        .otherwise(concat(col("__copy"), col("__copy"), lit(" "), col("s_name")))
        .as("s_name"),
      col("s_nationkey"), col("s_acctbal")))

    val li = spark.read.parquet(s"$src/lineitem.parquet")
    write("lineitem", copies(li).select(
      (col("l_orderkey") + col("__copy") * 10000000L).as("l_orderkey") +:
        li.columns.filter(_ != "l_orderkey").map(col).toIndexedSeq: _*))

    // Events scale too (keys + users shifted per copy; timestamps kept,
    // so per-copy session/window structure reproduces) — the file-source
    // streaming harness (st11) replays this at any K with zero driver
    // staging.
    val evr = spark.read.parquet(s"$src/events.parquet")
    write("events", copies(evr).select(
      (col("event_id") + col("__copy") * 10000000L).as("event_id") +:
        (col("user_id") + col("__copy") * 1000000L).as("user_id") +:
        evr.columns.filterNot(c => c == "event_id" || c == "user_id").map(col).toIndexedSeq: _*))

    for (t <- Seq("region", "nation", "customer", "part", "orders"))
      write(t, spark.read.parquet(s"$src/$t.parquet"))

    spark.stop()
  }
}
