package graft.pipeline

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Model-artifact persistence — the tokenizer.json discipline for every
  * trained artifact the engine produces: a production pipeline trains
  * ONCE, versions the artifact, and scores across sessions and
  * clusters, so a model that lives only in the training JVM
  * ([[Bpe.BpeModel]], [[Unigram.UnigramModel]], classifier weight
  * matrices, n-gram count frames) is not deployable. This store gives
  * each a `save` that lays the artifact down as parquet under one
  * directory and a `load` that reconstructs it BIT-IDENTICALLY
  * (spec-pinned: a loaded model encodes/scores exactly like the one
  * that trained).
  *
  * Layout: `<path>/meta` (a one-row parquet frame — typed, no
  * hand-rolled JSON parsing, doubles round-trip exactly) plus the
  * artifact's table(s) (`merges`, `words`, `pieces`, `weights`,
  * `counts`). Everything a `load` collects is bounded by the MODEL
  * (merge count, vocabulary, K×(d+1) weights), never the corpus — the
  * same boundedness argument the trainers already make; the BPE word
  * table and n-gram counts stay DataFrames backed by their parquet.
  *
  * Versioning: `formatVersion` is written and checked (a future layout
  * bumps it; an old reader fails loud, never misparses), `modelType`
  * is written and checked (loading a BPE directory as a unigram model
  * is an error message, not garbage weights). ARTIFACT versions are
  * the caller's path discipline — one immutable directory per trained
  * version (`.../bpe/v=3`), the same convention as the persisted-index
  * stores; [[latestVersion]]/[[publishVersion]] resolve "the current
  * version" atomically across a retrain (marker files — create is
  * atomic, so a mid-swap reader sees old-or-new, never a torn pair).
  *
  * Torn-save detection: meta is written LAST and carries the ROW COUNT
  * of every data table (format v2); load re-counts the parquet (a
  * footer-only read) and rejects a mismatch. A crash mid-save over an
  * existing directory can leave a previous save's meta beside partial
  * tables — the counts make that directory fail loud instead of
  * readMeta accepting stale metadata over new data (the weight tables
  * already had this property via the exact K×(d+1) entry check).
  *
  * Reference framing: sentencepiece's `.model`/`.vocab` files, HF
  * `tokenizer.json`, KenLM `.arpa`/binary — all "model = small typed
  * tables + metadata, frozen at train time". Spark-first shape: the
  * tables are parquet frames, so the streaming gates can load them on
  * any cluster with one read.
  */
object ModelStore {

  /** Bump when the on-disk layout changes; readers reject newer.
    * v2 added per-table `rows_*` checksums to meta.
    */
  val FormatVersion = 2

  private val MetaSchema = StructType(Seq(
    StructField("format_version", IntegerType, nullable = false),
    StructField("model_type", StringType, nullable = false)))

  private def writeMeta(
      spark: SparkSession, path: String, modelType: String,
      extra: Seq[(String, Any)]): Unit = {
    val schema = extra.foldLeft(MetaSchema) { case (sch, (k, v)) =>
      sch.add(k, v match {
        case _: Int => IntegerType
        case _: Long => LongType
        case _: Double => DoubleType
        case _: Boolean => BooleanType
        case _: String => StringType
        case s: Seq[_] if s.forall(_.isInstanceOf[String]) =>
          ArrayType(StringType, containsNull = false)
        case other => throw new IllegalArgumentException(
          s"unsupported meta field type for $k: ${other.getClass}")
      }, nullable = false)
    }
    val row = Row.fromSeq(FormatVersion +: modelType +: extra.map(_._2))
    spark.createDataFrame(
        new java.util.ArrayList[Row](java.util.Arrays.asList(row)), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  private def readMeta(
      spark: SparkSession, path: String, expectType: String): Row = {
    val rows = spark.read.parquet(s"$path/meta").collect()
    require(rows.length == 1,
      s"malformed model store at $path: expected one meta row, got ${rows.length}")
    val m = rows.head
    val ver = m.getAs[Int]("format_version")
    require(ver <= FormatVersion,
      s"model store at $path has format_version $ver; this reader supports " +
        s"<= $FormatVersion — upgrade the library, never guess at a layout.")
    val tpe = m.getAs[String]("model_type")
    require(tpe == expectType,
      s"model store at $path holds a '$tpe' artifact, not '$expectType' — " +
        "refusing to misparse one model family as another.")
    m
  }

  /** The row count a data table was saved with — a parquet footer-only
    * re-count at load, so a torn directory (stale meta beside a
    * partial/new table after a mid-save crash) fails loud like every
    * other guard in this store. Absent field = a pre-v2 directory;
    * nothing to verify (the format version already gates layout).
    */
  private def requireRows(
      spark: SparkSession, path: String, table: String, meta: Row): Unit =
    if (meta.schema.fieldNames.contains(s"rows_$table")) {
      val expected = meta.getAs[Long](s"rows_$table")
      val actual = spark.read.parquet(s"$path/$table").count()
      require(actual == expected,
        s"model store at $path is TORN: table '$table' has $actual rows but " +
          s"meta recorded $expected — a crash mid-save left mismatched " +
          "meta/data; re-save the artifact (one immutable directory per " +
          "version makes this unreachable).")
    }

  /** Row count of a just-written table — parquet footers only. */
  private def writtenRows(spark: SparkSession, path: String): Long =
    spark.read.parquet(path).count()

  /** A meta field that did not exist before format v2 — absent on a v1
    * directory, where the layout's behavior was the given default (the
    * same tolerance [[requireRows]] extends to absent `rows_*` fields;
    * a v1 artifact must keep loading as it did when it was saved, not
    * throw an unversioned missing-field error).
    */
  private def fieldOr[T](meta: Row, name: String, default: T): T =
    if (meta.schema.fieldNames.contains(name)) meta.getAs[T](name) else default

  // -------------------------------------------------- version registry

  private val LatestMarkerRe = "_latest_v([0-9]+)".r

  /** Publish `version` as the newest artifact under `root` — the C163
    * manifest discipline shrunk to a pointer: a zero-byte marker file
    * `_latest_v&lt;version&gt;` lands via an ATOMIC create (never a
    * mutate-in-place), strictly AFTER the caller finished `save` into
    * `root/v=&lt;version&gt;`. A mid-swap reader therefore resolves
    * old-or-new, never a torn pair: markers are immutable, data
    * directories are immutable, and the newest marker always points at
    * a completed save. Re-publishing the same version is a no-op.
    */
  def publishVersion(spark: SparkSession, root: String, version: Int): Unit = {
    require(version >= 0, s"version must be >= 0, got $version")
    val dir = new org.apache.hadoop.fs.Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val marker = new org.apache.hadoop.fs.Path(dir, s"_latest_v$version")
    // Atomic create IS the idempotence check: a lost race (or an earlier
    // publish of the same version) surfaces as already-exists, which is
    // exactly the documented no-op — a pre-check `exists` would leave a
    // window where two concurrent publishers both pass it and one throws.
    try fs.create(marker, false).close()
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
      case _: java.nio.file.FileAlreadyExistsException => ()
      case _: java.io.IOException if fs.exists(marker) => ()
    }
  }

  /** The newest published version under `root` (max over the markers),
    * or None when nothing has been published yet.
    */
  def latestVersion(spark: SparkSession, root: String): Option[Int] = {
    val dir = new org.apache.hadoop.fs.Path(root)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq
      .map(_.getPath.getName)
      .collect { case LatestMarkerRe(v) => v.toInt }
      .sorted(Ordering[Int].reverse).headOption
  }

  /** The current model directory under `root` — the path a serving
    * session loads without knowing version numbers: `root/v=&lt;max
    * published&gt;`. Fails loud when nothing is published (a gate must
    * not guess).
    */
  def resolveLatest(spark: SparkSession, root: String): String = {
    val v = latestVersion(spark, root).getOrElse(throw new IllegalStateException(
      s"no published model version under $root: save into root/v=<n> then " +
        "publishVersion(n) — serving never guesses at an unpublished layout."))
    s"$root/v=$v"
  }

  // ---------------------------------------------------------------- BPE

  /** Persist a trained [[Bpe.BpeModel]]: the ordered merge table, the
    * segmented word table, and the model metadata — `byteLevel`, the
    * TOKENIZER (by name: the split convention is part of the artifact,
    * so a serving session cannot encode under a different one), the
    * reserved special-token band, and `cappedOut`. The merge table is
    * k rows by construction; the word table is vocabulary-bounded.
    */
  def saveBpe(model: Bpe.BpeModel, path: String): Unit = {
    val spark = model.words.sparkSession
    model.mergeTable(spark).coalesce(1)
      .write.mode("overwrite").parquet(s"$path/merges")
    model.words.select("word", "freq", "seg")
      .write.mode("overwrite").parquet(s"$path/words")
    writeMeta(spark, path, "bpe", Seq(
      "byte_level" -> model.byteLevel,
      "tokenizer" -> model.tokenizer.name,
      "reserved" -> model.reserved,
      "capped_out" -> model.cappedOut,
      "rows_merges" -> model.merges.size.toLong,
      "rows_words" -> writtenRows(spark, s"$path/words")))
  }

  /** Reload a [[Bpe.BpeModel]]. Merges collect ordered by `step` (k
    * rows — bounded by the merge budget); the word table collects into
    * the same driver-local table the trainers return ([[Bpe.localWords]]).
    */
  def loadBpe(spark: SparkSession, path: String): Bpe.BpeModel = {
    val m = readMeta(spark, path, "bpe")
    requireRows(spark, path, "merges", m)
    requireRows(spark, path, "words", m)
    val merges = spark.read.parquet(s"$path/merges")
      .orderBy("step").collect()
      .map(r => Bpe.Merge(r.getAs[Long]("step"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[String]("merged"), r.getAs[Long]("n")))
      .toSeq
    import spark.implicits._
    val words = spark.read.parquet(s"$path/words")
      .select("word", "freq", "seg").as[(String, Long, String)].collect()
    Bpe.BpeModel(merges, Bpe.localWords(spark, words.toSeq),
      cappedOut = m.getAs[Long]("capped_out"),
      // as in loadUnigram: artifacts saved before these identity fields
      // existed were word-grain whitespace models — load them that way.
      byteLevel = fieldOr[Boolean](m, "byte_level", false),
      tokenizer = TextOps.tokByName(
        fieldOr[String](m, "tokenizer", TextOps.WhitespaceTok.name)),
      reserved = m.getAs[scala.collection.Seq[String]]("reserved").toSeq)
  }

  // ------------------------------------------------------------ Unigram

  /** Persist a trained [[Unigram.UnigramModel]]: the piece table with
    * an explicit `ord` column (the model's piece SEQUENCE is part of
    * the artifact — binary-UTF-8 sorted at train time; the load must
    * not depend on parquet row order), plus `unkLogp`/`maxPieceLen`/
    * `cappedOut` and the C202 identity metadata — the symbol GRAIN
    * (`byte_level`) and the TOKENIZER by name, so a serving session
    * can never split text or slice symbols under a different
    * convention than the one that trained (the same discipline as
    * [[saveBpe]]).
    */
  def saveUnigram(model: Unigram.UnigramModel, path: String): Unit = {
    val spark = SparkSession.active
    import spark.implicits._
    model.pieces.zipWithIndex
      .map { case ((p, mass, lp), i) => (i.toLong, p, mass, lp) }
      .toDF("ord", "piece", "mass", "logp")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/pieces")
    writeMeta(spark, path, "unigram", Seq(
      "unk_logp" -> model.unkLogp,
      "max_piece_len" -> model.maxPieceLen,
      "capped_out" -> model.cappedOut,
      "reserved" -> model.reserved,
      "byte_level" -> model.byteLevel,
      "tokenizer" -> model.tokenizer.name,
      "rows_pieces" -> model.pieces.size.toLong))
  }

  def loadUnigram(spark: SparkSession, path: String): Unigram.UnigramModel = {
    val m = readMeta(spark, path, "unigram")
    requireRows(spark, path, "pieces", m)
    val pieces = spark.read.parquet(s"$path/pieces")
      .orderBy("ord").collect()
      .map(r => (r.getAs[String]("piece"), r.getAs[Long]("mass"),
        r.getAs[Double]("logp")))
      .toSeq
    Unigram.UnigramModel(pieces,
      unkLogp = m.getAs[Double]("unk_logp"),
      maxPieceLen = m.getAs[Int]("max_piece_len"),
      cappedOut = m.getAs[Long]("capped_out"),
      reserved = m.getAs[scala.collection.Seq[String]]("reserved").toSeq,
      // pre-v2 unigram artifacts predate the byte grain and tokenizer
      // identity fields; their behavior WAS word-grain whitespace, so
      // absent fields resolve to it instead of an unversioned error.
      byteLevel = fieldOr[Boolean](m, "byte_level", false),
      tokenizer = TextOps.tokByName(
        fieldOr[String](m, "tokenizer", TextOps.WhitespaceTok.name)))
  }

  // -------------------------------------------------- classifier weights

  /** Persist a trained softmax matrix ([[Classifier.trainSoftmax]]):
    * K×(d+1) weights as (class_idx, weight_idx, w) rows — parquet
    * doubles are exact, so the loaded matrix scores bit-identically —
    * plus the feature-column and class-label vectors the matrix is
    * meaningless without.
    */
  def saveSoftmax(
      spark: SparkSession, weights: Seq[Seq[Double]],
      featureCols: Seq[String], classLabels: Seq[String],
      path: String): Unit = {
    require(weights.nonEmpty && weights.forall(_.size == featureCols.size + 1),
      s"need K rows of ${featureCols.size + 1} weights (bias first)")
    require(classLabels.size == weights.size,
      s"need one label per class: ${weights.size} classes, ${classLabels.size} labels")
    import spark.implicits._
    weights.zipWithIndex.flatMap { case (wk, k) =>
      wk.zipWithIndex.map { case (w, i) => (k, i, w) }
    }.toDF("class_idx", "weight_idx", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/weights")
    writeMeta(spark, path, "softmax", Seq(
      "feature_cols" -> featureCols,
      "class_labels" -> classLabels))
  }

  /** @return (weights K×(d+1), featureCols, classLabels) */
  def loadSoftmax(
      spark: SparkSession,
      path: String): (Seq[Seq[Double]], Seq[String], Seq[String]) = {
    val m = readMeta(spark, path, "softmax")
    val feats = m.getAs[scala.collection.Seq[String]]("feature_cols").toSeq
    val labels = m.getAs[scala.collection.Seq[String]]("class_labels").toSeq
    val w = loadWeightRows(spark, path, labels.size, feats.size + 1)
    (w, feats, labels)
  }

  /** Persist a binary logistic weight vector
    * ([[Classifier.trainLogistic]]) — the K=1 shape of the same layout.
    */
  def saveLogistic(
      spark: SparkSession, weights: Seq[Double], featureCols: Seq[String],
      path: String): Unit = {
    require(weights.size == featureCols.size + 1,
      s"need ${featureCols.size + 1} weights (bias first), got ${weights.size}")
    import spark.implicits._
    weights.zipWithIndex.map { case (w, i) => (0, i, w) }
      .toDF("class_idx", "weight_idx", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/weights")
    writeMeta(spark, path, "logistic", Seq("feature_cols" -> featureCols))
  }

  /** @return (weights bias-first, featureCols) */
  def loadLogistic(
      spark: SparkSession, path: String): (Seq[Double], Seq[String]) = {
    val m = readMeta(spark, path, "logistic")
    val feats = m.getAs[scala.collection.Seq[String]]("feature_cols").toSeq
    (loadWeightRows(spark, path, 1, feats.size + 1).head, feats)
  }

  private def loadWeightRows(
      spark: SparkSession, path: String, k: Int, d1: Int): Seq[Seq[Double]] = {
    val rows = spark.read.parquet(s"$path/weights").collect()
      .map(r => ((r.getAs[Int]("class_idx"), r.getAs[Int]("weight_idx")),
        r.getAs[Double]("w")))
      .toMap
    require(rows.size == k * d1,
      s"weight table at $path has ${rows.size} entries, expected ${k * d1}")
    (0 until k).map(c => (0 until d1).map(i => rows((c, i))))
  }

  // ------------------------------------------------------ n-gram counts

  /** Persist an n-gram count frame (the ONLY model input of the KN/MKN
    * scorers — [[TextStats.mknNgramNllAgainst]] derives everything
    * from it): the counts as parquet plus the `order` so a loader
    * cannot score a trigram table as a 5-gram model. The in-Spark
    * analog of shipping a KenLM binary.
    */
  def saveNgram(model: DataFrame, path: String, order: Int): Unit = {
    require(order >= 1, s"order must be >= 1, got $order")
    val expected = (1 to order).map(i => s"w$i") :+ "ct"
    require(model.columns.toSeq == expected,
      s"n-gram model columns ${model.columns.toSeq} do not match order-$order " +
        s"layout $expected")
    model.write.mode("overwrite").parquet(s"$path/counts")
    writeMeta(model.sparkSession, path, "ngram", Seq(
      "order" -> order,
      "rows_counts" -> writtenRows(model.sparkSession, s"$path/counts")))
  }

  /** @return (counts frame, order) — the frame stays parquet-backed. */
  def loadNgram(spark: SparkSession, path: String): (DataFrame, Int) = {
    val m = readMeta(spark, path, "ngram")
    requireRows(spark, path, "counts", m)
    (spark.read.parquet(s"$path/counts"), m.getAs[Int]("order"))
  }
}
