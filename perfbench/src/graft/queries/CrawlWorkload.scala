package graft.queries

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import _root_.perfbench.{Ctx, Json, Op, Window}

/** crawl_corpus: p13's chain of [[CrawlStages]] stage calls over a WARC
  * shard, ending in the per-pack census p13's DuckDB oracle replays. No
  * merge code runs here. Lives in graft.queries because CrawlStages is
  * package-private there.
  */
object CrawlWorkload {
  def run(ctx: Ctx): Unit = {
    import ctx._
    val shard = s"$work/shard"
    val baseline = persistentRdds
    var first = true
    while (more) spans("crawl_corpus.pipeline") {
      val rddsBefore = persistentRdds
      val bytesBefore = storageBytes
      val stageW = LinkedHashMap.empty[String, Window]
      def stage[A](name: String)(body: => A): A = {
        val (r, w) = measure(s"crawl.$name")(body)
        stageW(name) = w
        r
      }
      val held = ArrayBuffer.empty[DataFrame]
      val (rows, w) = measure("crawl.pipeline") {
        val (ingested, _) = stage("ingest")(CrawlStages.ingest(spark, shard))
        val scrubbed = stage("scrub")(CrawlStages.scrub(ingested))
        val deduped = stage("dedup")(CrawlStages.dedup(scrubbed))
        val near = stage("nearDedup")(CrawlStages.nearDedup(deduped))
        val routed = stage("route")(CrawlStages.route(spark, near))
        val corpus = stage("gateSketch")(CrawlStages.gateSketch(routed))
        val model = stage("trainTokenizer")(CrawlStages.trainTokenizer(corpus))
        val (ids, seqs) = stage("packSequences")(CrawlStages.packSequences(corpus, model))
        held ++= Seq(deduped, near, routed, corpus, ids, seqs)
        stage("aggregate") {
          seqs.groupBy("pred_lang", "pack_id")
            .agg(count(lit(1)).as("n_positions"),
              countDistinct(col("doc_id")).as("n_docs"),
              sum(col("piece_id")).as("sum_piece_ids"),
              sum(col("pos") * col("piece_id")).as("pos_weighted_sum"))
            .orderBy("pred_lang", "pack_id").collect()
        }
      }
      ops += Op("pipeline", w.seconds, 0, rows.length, 0)
      // The caller owns the materialized frames the stages handed it:
      // release every lineage cut under them before looking for leaks.
      held.foreach(_.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd }.foreach(_.unpersist(false)))
      val lineage = lineageLayer(rddsBefore, bytesBefore)
      if (traced) {
        val perStage = stageW.toSeq.flatMap { case (n, sw) =>
          Seq(s"crawl.$n.s" -> sw.seconds, s"crawl.$n.jobs" -> sw.d.jobs.toDouble)
        }
        layers += sparkLayer(w) ++ perStage ++ lineage +
          ("crawl.self_s" -> stageW.values.map(selfSeconds).sum)
      }
      checkRddBaseline("pipeline", baseline)
      if (first) {
        Json.write(s"$work/result.json", Json.arr(rows.toSeq.map(r => Json.obj(
          "pred_lang" -> Json.str(r.getString(0)), "pack_id" -> r.get(1).toString,
          "n_positions" -> r.get(2).toString, "n_docs" -> r.get(3).toString,
          "sum_piece_ids" -> r.get(4).toString, "pos_weighted_sum" -> r.get(5).toString))))
        Json.write(s"$work/oracle.sql", graft.SparkEntry.oracleSql("p13_crawl_to_corpus_scale"))
        first = false
      }
    }
  }
}
