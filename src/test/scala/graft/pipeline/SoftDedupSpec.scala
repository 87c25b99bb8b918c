package graft.pipeline

import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.SparkTestBase

/** Soft-dedup weight laws (C167/d31): totality (every doc kept), the
  * 1/|cluster| arithmetic, and the conservation law that makes the
  * weights meaningful — each cluster's CONTENT contributes exactly 1
  * in expectation, so Σweight == number of distinct contents.
  */
class SoftDedupSpec extends GraftSuite {

  test("hand clusters: 1/|cluster| per member, singletons weigh 1") {
    import spark.implicits._
    val docs = (1L to 6L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val w = Dedup.softDedupWeights(docs, pairs, "doc_id")(
      _.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap)
    assert(w(1L) === ((1L, 0.333333)) && w(2L) === ((1L, 0.333333)) && w(3L) === ((1L, 0.333333)))
    assert(w(4L) === ((4L, 0.5)) && w(5L) === ((4L, 0.5)))
    assert(w(6L) === ((6L, 1.0)))
  }

  test("conservation on the corpus: every doc kept; Σweight == distinct contents (±rounding)") {
    val d = spark.read.parquet(s"${SparkTestBase.sf001}/documents.parquet")
      .select("doc_id", "text")
    val aug = d.unionByName(d.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" zq zq zq")).as("text")))
    val out = Dedup.withJaccardPairs(aug, "doc_id", "text",
        n = 3, dfCap = 100, threshold = 0.5)(
      pairs => Dedup.softDedupWeights(aug.select("doc_id"), pairs, "doc_id")(graft.Lineage.cut))
    assert(out.count() === aug.count()) // nothing dropped — that's the point
    val Array(sumW, nClusters) = out.agg(
      sum("weight"), countDistinct("cluster_id")).head()
      .toSeq.map(_.toString.toDouble).toArray
    assert(math.abs(sumW - nClusters) < 1e-3, s"$sumW vs $nClusters")
    // And the weighted mass of any one cluster is exactly 1 (pre-round).
    val maxClusterMass = out.groupBy("cluster_id").agg(sum("weight").as("m"))
      .agg(max(abs(col("m") - 1.0))).head().getDouble(0)
    assert(maxClusterMass < 1e-3)
  }
}
