package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Frequency-ranked vocabulary construction + token-id encoding — the
  * tokenizer-adjacent step a pretraining pipeline runs between curation
  * and batching: fix a top-V vocabulary over the corpus, then map every
  * token stream to dense integer ids with out-of-vocabulary tokens
  * folded into a bounded set of hash buckets (the feature-hashing
  * standard for the tail the vocab cannot hold).
  *
  * Determinism is the contract: ranks break ties by (count DESC, token
  * ASC), OOV buckets use the portable hash — the same build on any run,
  * engine, or cluster size yields byte-identical ids, which is what
  * makes encoded corpora cacheable and diffable.
  */
object Vocab {

  /** Build the top-`vocabSize` vocabulary of the corpus's whitespace
    * tokens: (token_id, token, n), ids 0..V−1 dense in rank order.
    *
    * Scale shape: one map-side-combined token count (the t1 aggregation
    * shape — the shuffle carries distinct tokens, not the token
    * stream), then TakeOrdered V — the driver holds V rows, never the
    * tail. The final rank window runs on the V-row frame (bounded by
    * the vocab budget, not the corpus), so its single-partition sort is
    * metadata-scale by construction.
    */
  def build(docs: DataFrame, textCol: String, vocabSize: Int): DataFrame =
    rankVocab(tokenCounts(docs, textCol), vocabSize)

  /** The corpus's exact token-count table (token, n) — [[build]]'s
    * aggregation half, exposed because it is also the unit the
    * persisted count store maintains incrementally.
    */
  def tokenCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(TextOps.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))

  /** Rank a (token, n) count table into the top-`vocabSize` vocabulary —
    * [[build]]'s ranking half, shared verbatim by the at-rest store path
    * so a store-derived vocabulary is bit-identical to a batch build.
    */
  def rankVocab(counts: DataFrame, vocabSize: Int): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    counts.select(col("token"), col("n"))
      .orderBy(desc("n"), asc("token")).limit(vocabSize)
      .withColumn("token_id",
        (row_number().over(Window.orderBy(desc("n"), asc("token"))) - 1).cast("long"))
      .select("token_id", "token", "n")
  }

  /** Write a (token, n, batch_id) count table as an at-rest store —
    * token-hash-bucketed parquet under the staged-write conventions, the
    * same layout discipline as the sketch stores: reads touch only the
    * buckets their tokens hash to, upserts swap only touched buckets.
    */
  def writeCountStore(
      counts: DataFrame, path: String, nBuckets: Int = 8,
      hashMode: HashMode = HashMode.Xxhash64): Unit =
    graft.merge.PartitionedTarget.write(
      counts, path, graft.merge.PartitionSpec(Seq("token"), nBuckets, hashMode))

  /** Merge an arriving (token, n, batch_id) count table into the store:
    * read ONLY the buckets the arriving tokens hash to, restrict to the
    * arriving tokens (untouched tokens keep their rows), SUM the counts,
    * carry the max batch_id per token (exact counts are linear-additive
    * — the store's watermark rides in the rows, the st16/st17
    * mechanism), and upsert through the partition-scoped apply.
    */
  def mergeCountsIntoStore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      arriving: DataFrame): Unit =
    graft.merge.PartitionedTarget.foldIntoStore(spark, path, arriving) { (both, keys) =>
      both.groupBy(keys.map(col): _*)
        .agg(sum(col("n")).as("n"), max(col("batch_id")).as("batch_id"))
    }

  /** The top-`vocabSize` vocabulary as of the store's last completed
    * maintenance — [[rankVocab]] over the persisted counts, so the
    * result is bit-identical to a batch [[build]] over the same corpus.
    */
  def vocabFromStore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      vocabSize: Int): DataFrame =
    rankVocab(graft.merge.PartitionedTarget.read(spark, path), vocabSize)

  /** Encode every document's token stream against a [[build]] vocabulary:
    * (idCol, pos, token_id) — pos is the 0-based token position, in-vocab
    * tokens take their vocab id, OOV tokens take
    * `vocabSize + portableHash(token) mod oovBuckets` (ids stay dense in
    * [0, vocabSize + oovBuckets)). Exploded-row output rather than an
    * array column: order-stable, engine-comparable, and the shape the
    * packing tier (C41) already consumes.
    *
    * Scale shape: posexplode is map-only; the vocab attaches as a
    * BROADCAST join (V rows by construction — never a shuffle of the
    * token stream against the vocabulary); the OOV fallback is a
    * codegen'd hash — no second pass.
    */
  def encode(
      docs: DataFrame, idCol: String, textCol: String, vocab: DataFrame,
      vocabSize: Int, oovBuckets: Int, seed: Int,
      hashMode: HashMode = HashMode.Md5Portable): DataFrame = {
    require(oovBuckets >= 1, s"oovBuckets must be >= 1, got $oovBuckets")
    docs.select(col(idCol),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "token")))
      .join(broadcast(vocab.select(col("token"), col("token_id"))),
        Seq("token"), "left")
      .withColumn("token_id", coalesce(col("token_id"),
        lit(vocabSize.toLong) + pmod(hashMode.hash(col("token"), seed), lit(oovBuckets.toLong))))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("token_id"))
  }
}
