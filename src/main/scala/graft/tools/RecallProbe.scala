package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.Similarity

/** Measures the IVF recall@k curve over the real `embeddings` testdata —
  * the [[graft.pipeline.Similarity.recallAt]] readout an index operator
  * tunes `nProbe` / centroid count with, and the source of the numbers
  * quoted in README's ANN section. Centroids are trained (k-means, the
  * production path), probes are a deterministic hash-sample of the
  * corpus, and the exact [[graft.pipeline.Similarity.cosineTopK]] is the
  * baseline. Run:
  *   sbt "runMain graft.tools.RecallProbe [sfDir] [nCentroids] [k]"
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val nCentroids = args.lift(1).map(_.toInt).getOrElse(16)
    val k = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-recall-probe")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LocalFs.install(spark)

    val v = spark.read.parquet(s"$sfDir/embeddings.parquet").select("vec_id", "embedding")
    val n = v.count()
    val cents = Similarity.trainCentroids(v, "vec_id", "embedding", k = nCentroids, iters = 4)
    println(s"[recall] corpus=$n vectors, $nCentroids trained centroids, k=$k, probes=5% hash-sample")
    Seq(1, 2, 4, 8).foreach { nProbe =>
      val row = Similarity.recallAt(v, cents, v, "vec_id", "embedding",
          k = k, nProbe = nProbe, sampleRate = 0.05)
        .select("n_probes", "macro_recall", "micro_recall").collect().head
      println(f"[recall] nProbe=$nProbe%2d  recall@$k macro=${row.getDouble(1)}%.4f " +
        f"micro=${row.getDouble(2)}%.4f  (n_probes=${row.getLong(0)})")
    }
    spark.stop()
  }
}
