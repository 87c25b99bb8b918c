package graft.merge

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.GraftSuite
import graft.operators.Sketches
import graft.pipeline.{TextStats, Vocab}

/** The five store merges that fold an arriving batch into a store kept as
  * a partitioned target: each must leave a frame its caller persisted
  * cached, and each must leave the store equal to a store built from all
  * the batches at once.
  */
class StoreFoldSpec extends GraftSuite {
  import StoreFoldSpec.Store
  import spark.implicits._

  private def docs(rows: (String, Long, String)*): DataFrame = rows.toDF("g", "v", "text")

  private val batch0 = docs(("x", 1L, "a b a"), ("x", 2L, "b c"), ("y", 3L, "a"))
  private val batch1 = docs(("x", 2L, "a b"), ("x", 5L, "c d"), ("z", 7L, "d a b"))

  private def sorted(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private val stores = Seq(
    Store("Vocab.mergeCountsIntoStore",
      Vocab.tokenCounts(_, "text").withColumn("batch_id", lit(0L)),
      Vocab.writeCountStore(_, _),
      Vocab.mergeCountsIntoStore(spark, _, _),
      p => sorted(PartitionedTarget.read(spark, p).select("token", "n"))),
    Store("TextStats.mergeNgramCountsIntoStore",
      TextStats.ngramCounts(_, "text", 2).withColumn("batch_id", lit(0L)),
      TextStats.writeNgramStore(_, _, 2),
      TextStats.mergeNgramCountsIntoStore(spark, _, _),
      p => sorted(PartitionedTarget.read(spark, p).select("w1", "w2", "ct"))),
    Store("Sketches.mergeIntoStore",
      Sketches.distinctSketches(_, Seq("g"), "v"),
      Sketches.writeSketchStore(_, _, Seq("g")),
      Sketches.mergeIntoStore(spark, _, _),
      p => sorted(Sketches.storedEstimate(spark, p, Seq("g")))),
    Store("Sketches.mergeQuantilesIntoStore",
      Sketches.quantileSketches(_, Seq("g"), "v").withColumn("batch_id", lit(0L)),
      Sketches.writeSketchStore(_, _, Seq("g")),
      Sketches.mergeQuantilesIntoStore(spark, _, _),
      p => sorted(Sketches.storedQuantiles(spark, p, Seq("g"), Seq(0.5, 1.0)))),
    Store("Sketches.mergeFreqIntoStore",
      Sketches.freqSketches(_, Seq("g"), "v").withColumn("batch_id", lit(0L)),
      Sketches.writeSketchStore(_, _, Seq("g")),
      Sketches.mergeFreqIntoStore(spark, _, _),
      p => PartitionedTarget.read(spark, p).select("g", "sketch").as[(String, Array[Byte])]
        .collect().map { case (g, sk) => g + ":" + sk.mkString(",") }.sorted.toSeq))

  for (s <- stores)
    test(s"${s.name} keeps a caller-persisted batch cached; store == one-pass build") {
      val base = Files.createTempDirectory("store-fold")
      val store = base.resolve("store").toString
      s.create(s.rows(batch0), store)
      val arriving = s.rows(batch1).persist()
      try {
        arriving.count()
        s.merge(store, arriving)
        assert(arriving.storageLevel !== StorageLevel.NONE, "the merge dropped its caller's cache")
      } finally arriving.unpersist()

      val oneShot = base.resolve("one-shot").toString
      s.create(s.rows(batch0.unionByName(batch1)), oneShot)
      assert(s.content(store) === s.content(oneShot))
    }
}

object StoreFoldSpec {
  /** A store: the rows a batch contributes, how a first batch creates the
    * store, the merge under test, and the store's content as the answers
    * it gives (watermark columns left out: they record which batch
    * landed last, not what the store holds).
    */
  private final case class Store(
      name: String,
      rows: DataFrame => DataFrame,
      create: (DataFrame, String) => Unit,
      merge: (String, DataFrame) => Unit,
      content: String => Seq[String])
}
