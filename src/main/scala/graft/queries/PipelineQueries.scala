package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Lineage
import graft.pipeline.{Bpe, Classifier, Dedup, HashMode, ModelStore, Multimodal, Sampling, Similarity, SpecialTokens, TextOps, TextStats, Unigram, Vocab}

/** Driver-contract queries for the training-data-pipeline operator family
  * (dedup, similarity search, text analysis, multimodal plumbing) over the
  * `documents` / `embeddings` fixtures. Every query has an exact DuckDB
  * oracle — including the banded MinHash/LSH path, whose hash function
  * (md5-prefix, TextOps.portableHash) is chosen precisely because both
  * engines compute it bit-identically.
  *
  * The corpus has no native duplicates (500/500 distinct texts at sf0.01),
  * so the dedup fixtures synthesize them the same way the merge fixtures
  * perturb orders: union a deterministic slice back in with shifted ids —
  * exact copies for d1, +3-token near-copies for d2/d3/d4.
  */
object PipelineQueries {
  import Fixtures.table

  private[graft] val ShingleN = 3
  private[graft] val DfCap = 50
  private[graft] val JaccardThreshold = 0.6
  private val Bands = 4
  private val RowsPerBand = 4
  private val BucketCap = 200
  // e3's centroid buckets hold |corpus|/8 vectors (~70 at sf0.01, ~650 at
  // sf0.1) — the cap must sit above normal occupancy at every bench SF and
  // still bound a duplicate flood. The oracle inlines the same constant.
  private[queries] val EmbBucketCap = 2000
  private val BlockTokens = 16
  private val BlockSeed = 21
  // e6/st5 hyperplane-LSH constants — the oracles inline the identical
  // plane matrix, so these are shared between the Spark queries and the
  // SQL twins (StreamingQueries reuses them for st5).
  private[queries] val HpDim = 64
  private[queries] val HpBits = 16
  private[queries] val HpBandBits = 8
  private[queries] val HpSeed = 7
  private[queries] val RpOutDim = 16
  private[queries] val RpSeed = 11

  /** DuckDB twin of the hyperplane sign-signature build: emits CTEs
    * `${prefix}bits` (vec_id, e, b0..b{nBits-1}) and `${prefix}sig`
    * (vec_id, band, bucket) over a source CTE `srcCte(vec_id, e)`. The ±1
    * plane matrix is inlined from [[Similarity.hyperplanes]] (same seed →
    * same entries), and each sign uses the identical left-to-right double
    * fold Spark's native dot performs (list_reduce — the e5 pattern;
    * exact, no rounding, ±1 entries keep every product representable).
    */
  private[queries] def hpSignatureSql(srcCte: String, prefix: String): String = {
    val planes = Similarity.hyperplanes(HpBits, HpDim, HpSeed)
    val bitCols = planes.zipWithIndex.map { case (p, i) =>
      val arr = p.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      s"    CASE WHEN list_reduce(list_transform(range(1, ${HpDim + 1}), i -> e[i] * ($arr)[i]), (acc, x) -> acc + x) >= 0 THEN 1 ELSE 0 END AS b$i"
    }.mkString(",\n")
    val bandSelects = (0 until HpBits / HpBandBits).map { b =>
      val bucket = (0 until HpBandBits).map(j => s"b${b * HpBandBits + j} * ${1L << j}").mkString(" + ")
      s"  SELECT vec_id, $b AS band, $bucket AS bucket FROM ${prefix}bits"
    }.mkString("\n  UNION ALL\n")
    s"""${prefix}bits AS (
  SELECT vec_id, e,
$bitCols
  FROM $srcCte
),
${prefix}sig AS (
$bandSelects
)"""
  }

  /** [[embNearAug]] for the e19 bench phase (the fixture is private;
    * the bench split needs exactly the query's corpus). */
  private[queries] def e19Fixture(s: SparkSession, dir: String): DataFrame =
    embNearAug(s, dir)

  /** e3/e6 shared fixture: embeddings ∪ perturbed copies of every 20th
    * vector (ids +10000, scaled + shifted → cosine just under 1).
    */
  private def embNearAug(s: SparkSession, dir: String): DataFrame = {
    val v = table(s, dir, "embeddings").select("vec_id", "embedding")
    v.unionByName(
      v.filter(col("vec_id") % 20 === 0).select(
        (col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding").cast("array<double>"), x => x * lit(1.1) + lit(0.01))
          .as("embedding")))
  }

  /** documents ∪ exact copies of every 10th doc (ids shifted +100000). */
  private def docsDupAug(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents")
    d.unionByName(
      d.filter(col("doc_id") % 10 === 0).withColumn("doc_id", col("doc_id") + 100000))
  }

  /** documents ∪ near-copies of every 25th doc: 3 sentinel tokens appended
    * (ids shifted +200000) → n-gram Jaccard ≈ 0.9 vs the original.
    */
  private def docsNearAug(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select("doc_id", "text")
    d.unionByName(
      d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 200000).as("doc_id"), concat(col("text"), lit(" zq zq zq")).as("text")))
  }

  /** documents ∪ planted non-Latin rows (ids +300000): Cyrillic, Han, a
    * Latin–Cyrillic homoglyph-style mix, and a digit-heavy row — the
    * script families the pure-ASCII base corpus cannot exercise. All
    * BMP, per [[graft.pipeline.TextStats.scriptMix]]'s length contract.
    */
  private def docsScriptAug(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      (300000L, "привет мир как дела сегодня"),
      (300001L, "你好世界 机器学习 数据"),
      (300002L, "click здесь for бесплатно prizes"),
      (300003L, "1234567890 555 0142")).toDF("doc_id", "text")
    table(s, dir, "documents").select("doc_id", "text").unionByName(planted)
  }

  private val scriptAugCte: String =
    """sd AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT CAST(v.id AS BIGINT), v.t FROM (VALUES
      |    (300000, 'привет мир как дела сегодня'),
      |    (300001, '你好世界 机器学习 数据'),
      |    (300002, 'click здесь for бесплатно prizes'),
      |    (300003, '1234567890 555 0142')) v(id, t))""".stripMargin

  /** documents ∪ planted SPACELESS Han rows (ids +310000) — the
    * degenerate case [[graft.pipeline.TextOps.tokens]]'s whitespace
    * premise silently collapses on: each row is one whitespace token.
    * t41 routes them through script-aware segmentation before the
    * tokenizer tier. All BMP.
    */
  private def docsCjkAug(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = Seq(
      (310000L, "机器学习模型训练数据质量很重要"),
      (310001L, "大规模语言模型需要海量高质量训练数据"),
      (310002L, "数据去重与质量过滤是数据管线的核心步骤"),
      (310003L, "中文文本没有空格分词")).toDF("doc_id", "text")
    table(s, dir, "documents").select("doc_id", "text").unionByName(planted)
  }

  private val cjkAugCte: String =
    """cj AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT CAST(v.id AS BIGINT), v.t FROM (VALUES
      |    (310000, '机器学习模型训练数据质量很重要'),
      |    (310001, '大规模语言模型需要海量高质量训练数据'),
      |    (310002, '数据去重与质量过滤是数据管线的核心步骤'),
      |    (310003, '中文文本没有空格分词')) v(id, t))""".stripMargin

  /** t23's query bag: one discriminating rare term + two common ones. */
  private[queries] val Bm25Terms = Seq("dup", "merge", "hash")

  /** t44's class order (sorted — ids are positional), hash-feature
    * arity, and hash seed.
    */
  private[graft] val LangidLangs = Seq("de", "en", "es", "fr", "zh")
  private[graft] val LangidBuckets = 16
  private val LangidSeed = 7

  /** t44's labeled seed set: 6 docs per language built from that
    * language's highest-frequency function words (rotations vary the
    * boundary trigrams). The corpus text itself is an English-ish token
    * soup with NO language signal — exactly the situation a TRAINED
    * langid is for: a small curated seed teaches the classifier, which
    * then scores the unlabeled bulk by its text, not its metadata.
    */
  private[graft] val LangidSeeds: Seq[(Long, String, String)] = {
    val words = Map(
      "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von"),
      "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "was", "for"),
      "es" -> Seq("el", "la", "los", "las", "una", "que", "con", "por", "para", "del"),
      "fr" -> Seq("le", "la", "les", "des", "une", "est", "dans", "pour", "sur", "aux"),
      "zh" -> Seq("的", "一", "是", "在", "不", "了", "有", "和", "人", "这"))
    for {
      (lang, k) <- LangidLangs.zipWithIndex
      j <- 0 until 6
    } yield {
      val ws = words(lang)
      (320000L + k * 10 + j, lang, (ws.drop(j) ++ ws.take(j)).mkString(" "))
    }
  }

  /** The langid feature columns [[langidFeatures]] emits. */
  private[graft] val LangidFeatureCols: Seq[String] = (0 until LangidBuckets).map(b => s"x$b")

  /** t44's trained langid: 8 rounds of full-batch softmax GD over the
    * [[langidFeatures]] of [[LangidSeeds]], which are pinned for the
    * training only. Every seed-langid chain (t44, st21, st25, the crawl
    * router) scores under these weights.
    */
  private[graft] def langidWeights(s: SparkSession): Seq[Seq[Double]] = {
    import s.implicits._
    graft.Lineage.pinned(langidFeatures(LangidSeeds.toDF("doc_id", "lang", "text"))) { f =>
      Classifier.trainSoftmax(f, LangidFeatureCols, "y",
        numClasses = LangidLangs.size, iters = 8, lr = 1.0)
    }
  }

  /** t44's feature projection: fractions of char TRIGRAMS falling in
    * each of 16 hash buckets (6dp), plus the class index. Two
    * projections so the hash-per-trigram bucket array is named once;
    * trigrams span spaces deliberately (word-boundary n-grams carry
    * most of the language signal). `hashMode` is the d6/d7 dial: the
    * oracle queries use Md5Portable (exact DuckDB twin — and the term
    * that dominates t44's 10× cell); a production deployment trains
    * AND scores under Xxhash64 — features only need to be consistent
    * within one model, and the learning story is hash-agnostic
    * (spec-pinned: the xxhash64-trained model is also seed-diagonal).
    */
  private[graft] def langidFeatures(
      d: DataFrame, hashMode: HashMode = HashMode.Md5Portable): DataFrame = {
    val B = LangidBuckets
    val tg0 = transform(sequence(lit(1), length(col("text")) - 2),
      i => col("text").substr(i, lit(3)))
    val tg = when(length(col("text")) >= 3, tg0)
      .otherwise(array().cast("array<string>"))
    val bs = transform(tg, t => pmod(hashMode.hash(t, LangidSeed), lit(B.toLong)))
    val y = LangidLangs.zipWithIndex.tail
      .foldLeft(when(col("lang") === LangidLangs.head, lit(0))) {
        case (acc, (l, k)) => acc.when(col("lang") === l, lit(k))
      }
    val denom = greatest(size(col("__bs")), lit(1)).cast("double")
    d.select(col("doc_id"), col("lang"), bs.as("__bs"))
      .select(Seq(col("doc_id"), col("lang"), y.as("y")) ++
        (0 until B).map(b =>
          round(size(filter(col("__bs"), x => x === b)) / denom, 6).as(s"x$b")): _*)
  }

  /** documents ∪ exact copies of every 10th (+100000) ∪ near copies of
    * every 25th (+200000, 3 sentinel tokens appended), lang/source carried
    * through — the p1 pipeline corpus, where the exact-dedup stage and the
    * near-dup-prune stage each have planted work to do.
    */
  private def docsPipeAug(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select("doc_id", "text", "lang", "source")
    d.unionByName(
        d.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 100000))
      .unionByName(
        d.filter(col("doc_id") % 25 === 0)
          .withColumn("doc_id", col("doc_id") + 200000)
          .withColumn("text", concat(col("text"), lit(" zq zq zq"))))
  }

  /** d23 untimed setup (BenchPhases contract): build the at-rest shingle
    * index over the documents corpus once, return (index path, the d12
    * delta frame). The timed section is the disk probe only — the build
    * is the one-time cost the persisted index exists to amortize.
    */
  private[graft] def d23Setup(s: SparkSession, dir: String): (String, DataFrame) = {
    val d = table(s, dir, "documents").select("doc_id", "text")
    val idxPath = Fixtures.scratchDir("graft-d23") + "/shidx"
    Dedup.writeShingleIndex(d, "doc_id", "text", idxPath, ShingleN, HashMode.Md5Portable)
    val newDocs = d.filter(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" zq zq zq")).as("text"))
    (idxPath, newDocs)
  }

  /** d18 fixture: a 16-token boilerplate header (exactly one block, so
    * the document's own blocks keep their partition alignment) prepended
    * to every 5th document — ~20% of the corpus shares one chrome block
    * while every content block stays unique. The oracle inlines the same
    * literal.
    */
  private val BoilHeader: String = Seq.fill(BlockTokens)("bp").mkString(" ")

  private def docsBoilAug(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents").select(col("doc_id"),
      when(col("doc_id") % 5 === 0, concat(lit(BoilHeader + " "), col("text")))
        .otherwise(col("text")).as("text"))

  /** d21 fixture: every 50th doc gets a 12-token EXCERPT twin (+500000) —
    * the quote/excerpt shape whose containment is 1.0 while its jaccard
    * (~10/52) sits far below any useful symmetric threshold. The oracle
    * inlines the same slice.
    */
  private def docsQuoteAug(s: SparkSession, dir: String): DataFrame = {
    val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
    d.unionByName(d.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 500000).as("doc_id"),
        array_join(slice(split(col("text"), " "), 1, 12), " ").as("text")))
  }

  // ---- queries ----

  /** d9/d22: [[Dedup.clusters]] over the d2 pairs. `clusters` returns a
    * cut, so the pair indexes are released before the frame is returned.
    */
  private val dupClusters: (SparkSession, String) => DataFrame = (s, dir) =>
    Dedup.withJaccardPairs(docsNearAug(s, dir), "doc_id", "text", ShingleN, DfCap, JaccardThreshold)(
      pairs => Dedup.clusters(pairs))
      .orderBy("doc_id")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d1_exact_dedup" -> ((s, dir) =>
      Dedup.exact(docsDupAug(s, dir), "doc_id", "text")
        .select("doc_id", "lang", "source", "n_chars", "n_copies")
        .orderBy("doc_id")),
    "d2_neardup_jaccard" -> ((s, dir) =>
      Dedup.withJaccardPairs(docsNearAug(s, dir), "doc_id", "text", ShingleN, DfCap, JaccardThreshold)(
        Lineage.cut)
        .orderBy("doc_a", "doc_b")),
    // Production-hash twin of d2 (the d3/d6 pattern): the identical
    // inverted-index jaccard pipeline with shingles keyed by xxhash64
    // instead of portable md5 — no per-shingle digest allocation in the
    // index build. xxhash64 has no DuckDB twin → rows-only check; d2
    // keeps the exact oracle. The bench line prices the md5→xxhash64
    // saving on the string-shuffle-free index at the same SF.
    "d7_neardup_jaccard_fast" -> ((s, dir) =>
      Dedup.withJaccardPairs(docsNearAug(s, dir), "doc_id", "text", ShingleN, DfCap, JaccardThreshold,
        HashMode.Xxhash64)(Lineage.cut)
        .orderBy("doc_a", "doc_b")),
    "d3_minhash_lsh" -> ((s, dir) =>
      Dedup.withMinhashLshPairs(docsNearAug(s, dir), "doc_id", "text", ShingleN, Bands, RowsPerBand,
        JaccardThreshold, BucketCap)(Lineage.cut)
        .orderBy("doc_a", "doc_b")),
    // Production-hash twin of d3: the identical LSH pipeline through
    // xxhash64 (codegen'd — no per-shingle md5 digests, the cost that makes
    // d3 a bench outlier). xxhash64 has no DuckDB twin, so the driver
    // records the weaker rows-only check here; d3 keeps the exact oracle.
    // The bench line quantifies the md5→xxhash64 saving at the same SF.
    "d6_minhash_lsh_fast" -> ((s, dir) =>
      Dedup.withMinhashLshPairs(docsNearAug(s, dir), "doc_id", "text", ShingleN, Bands, RowsPerBand,
        JaccardThreshold, BucketCap, HashMode.Xxhash64)(Lineage.cut)
        .orderBy("doc_a", "doc_b")),
    "d4_simhash" -> ((s, dir) =>
      Dedup.simhash(docsNearAug(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // Hamming-ball SimHash pairing (C4 completion / d13): the near-dup
    // pairs d4's exact-bucket grouping misses — fingerprints within
    // hamming distance 3, found via pigeonhole banding (4 disjoint 8-bit
    // segments; a pair within the ball must agree exactly on one) and
    // verified with bit_count(xor). Md5Portable fingerprints are
    // bit-identical across engines, so the d13 oracle below checks the
    // pair set exactly (band + cap + verify all mirrored in DuckDB).
    "d13_simhash_hamming" -> ((s, dir) =>
      Dedup.simhashPairs(docsNearAug(s, dir), "doc_id", "text",
        maxHamming = 3, bucketCap = BucketCap)
        .orderBy("doc_a", "doc_b")),
    // The 60-bit production-width twin of d13 (d14): same hamming-ball
    // pairing through 4 x 15-bit bands — the configuration a corpus at
    // scale runs (wider fingerprint -> 2^15 buckets per band, occupancy
    // divided by 128 vs d13's 8-bit segments). Md5Portable supplies all
    // 60 bits, so the wide path is oracle-checked exactly too.
    "d14_simhash_hamming_wide" -> ((s, dir) =>
      Dedup.simhashPairs(docsNearAug(s, dir), "doc_id", "text",
        maxHamming = 3, bucketCap = BucketCap, bits = 60)
        .orderBy("doc_a", "doc_b")),
    // Block-level substring dedup (C42): duplicated-passage report over
    // the exact-copy fixture — every block of every copied doc shows up
    // with n_docs >= 2. BlockTokens=16 gives 2-6 blocks per fixture doc.
    "d15_dup_blocks" -> ((s, dir) =>
      Dedup.duplicatedBlocks(docsDupAug(s, dir), "doc_id", "text", BlockTokens)
        .orderBy("block_hash")),
    // The strip itself, over the near-copy fixture: copies lose every
    // FULL block to the lower-id original and keep only the modified tail
    // block ('... zq zq zq' misaligns the final 16-token boundary).
    "d16_strip_dup_blocks" -> ((s, dir) =>
      Dedup.stripDuplicateBlocks(docsNearAug(s, dir), "doc_id", "text", BlockTokens)
        .orderBy("doc_id")),
    // Incremental block strip (C46 / d17): the modified-copy delta
    // (every 25th doc + ' zq zq zq', ids +200000) stripped against the
    // corpus block INVENTORY — copies lose every full block to the
    // corpus and keep only their misaligned tail block; no corpus
    // re-scan, just a hash-keyed anti-join.
    "d17_strip_blocks_incr" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val delta = d.filter(col("doc_id") % 25 === 0).select(
        (col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" zq zq zq")).as("text"))
      Dedup.stripBlocksAgainst(
        delta, Dedup.blockInventory(d, "doc_id", "text", BlockTokens),
        "doc_id", "text", BlockTokens)
        .orderBy("doc_id")
    }),
    // Boilerplate-block removal (C51 / d18): the df-threshold POLICY over
    // the block partitioning — the chrome header planted in every 5th doc
    // (df ≈ 100) is dropped from ALL carriers, first occurrence included,
    // while every unique content block survives. Contrast d16: dedup
    // keeps the first copy; boilerplate removal keeps none.
    "d18_strip_common_blocks" -> ((s, dir) =>
      Dedup.stripCommonBlocks(docsBoilAug(s, dir), "doc_id", "text",
        minDocs = 3, blockTokens = BlockTokens)
        .orderBy("doc_id")),
    // SemDeDup (C50 / e8): semantic keep-one-per-duplicate-group over the
    // planted near-dup embedding fixture — e3's bucketed pair generation
    // composed with d10's cluster-resolution + LEFT ANTI prune. Every
    // planted perturbed copy (+10000) loses to its lower-id original.
    "e8_semdedup" -> ((s, dir) => {
      val v = embNearAug(s, dir)
      Similarity.semDedup(v, v.filter(col("vec_id") < 8), "vec_id", "embedding",
        threshold = 0.8, bucketCap = EmbBucketCap)(kept => Lineage.cut(kept.select("vec_id")))
        .orderBy("vec_id")
    }),
    // Containment near-dup (C68 / d21): |A∩B| / min(|A|,|B|) over the
    // quote fixture — every planted 12-token excerpt scores 1.0 against
    // its source while its jaccard (~0.19) is invisible to d2's
    // symmetric threshold. Same inverted-index + dfCap shape as d2.
    "d21_containment" -> ((s, dir) =>
      Dedup.withContainmentPairs(docsQuoteAug(s, dir), "doc_id", "text",
        ShingleN, DfCap, threshold = 0.8)(Lineage.cut)
        .orderBy("doc_a", "doc_b")),
    // Incremental novelty (C66 / d20): today's delta (near-copies of
    // every 25th doc) scored against the corpus's published shingle
    // inventory — near-copies score ≈ 0, only their sentinel grams are
    // new. |delta| work + one inventory join, no corpus re-scan.
    "d20_novelty_incr" -> ((s, dir) => {
      val d = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val delta = d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zq zq zq")).as("text"))
      val inv = Dedup.shingleInventory(d, "doc_id", "text")
      Dedup.noveltyAgainst(delta, inv, "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),
    // Budget-bounded quality selection (C64 / s8): keep the
    // highest-type-token-ratio docs until 8k tokens are spent —
    // histogram cut (64 bins), only the boundary bin rank-cut.
    "s8_budget_select" -> ((s, dir) => {
      import graft.pipeline.TextOps
      val toks = TextOps.tokens(col("text"))
      val scored = table(s, dir, "documents").select(col("doc_id"),
        round(size(array_distinct(toks)) / size(toks), 6).as("score"),
        size(toks).cast("long").as("n_tokens"))
      Sampling.selectUnderBudget(scored, "doc_id", "score", "n_tokens",
        budget = 8000L, bins = 64, seed = 17)
        .orderBy("doc_id")
    }),
    // URL-level dedup (C60 / d19): canonicalize crawl URLs (session query
    // params and fragments dropped, host case-folded), then C1's exact
    // dedup keyed on the normalized URL — the recrawl collapse that runs
    // before any content fetch. Fixture: 5 docs share each (source, path)
    // modulo session noise.
    "d19_url_dedup" -> ((s, dir) => {
      import graft.pipeline.TextOps
      val withUrl = table(s, dir, "documents").select(col("doc_id"),
        concat(lit("HTTP://Site."), col("source"), lit(".COM/Doc/"),
          (col("doc_id") % 100).cast("string"),
          lit("?session="), col("doc_id").cast("string"), lit("#top")).as("url"))
      Dedup.exact(
        withUrl.withColumn("url_norm", TextOps.normalizeUrl(col("url"))),
        "doc_id", "url_norm")
        .select("doc_id", "url_norm", "n_copies")
        .orderBy("doc_id")
    }),
    // Quantized-corpus search (C61 / e10): e1's brute-force top-k over the
    // int8-reconstructed corpus against float probes — the end-to-end
    // check that the 4x-smaller storage tier still ranks usefully, and
    // the query path a quantized lake actually serves.
    "e10_quantized_topk" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      val deq = Similarity.quantizeInt8(v, "embedding")
        .select(col("vec_id"),
          Similarity.dequantize(col("qvec"), col("scale")).as("embedding"))
      Similarity.cosineTopK(deq, v.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy("probe_id", "rnk")
    }),
    // N-gram novelty scoring (C59 / t15): fraction of a doc's distinct
    // 3-gram shingles unseen anywhere else — the diversity dual of the
    // dedup family, over the near-dup fixture so planted copies score ≈ 0.
    "t15_novelty" -> ((s, dir) =>
      Dedup.noveltyScores(docsNearAug(s, dir), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),
    // Embedding QC report (C69 / e11): dimensions, zero/non-finite
    // counts, norm range/median — the health gate before any embedding
    // operator; every stat engine-deterministic (no row-order FP sums).
    "e11_embedding_qc" -> ((s, dir) =>
      Similarity.embeddingQc(table(s, dir, "embeddings"), "vec_id", "embedding")),
    // Cluster-purity report (C58 / e9): per-bucket majority-label
    // fraction under the fixed e2 centroid set — the clustering-quality
    // readout behind IVF/SemDeDup trust. Labels ride the assignment;
    // windows touch only the (bucket, label) aggregate.
    "e9_cluster_purity" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      Similarity.clusterPurity(v, v.filter(col("vec_id") < 8), "vec_id", "embedding", "label")
        .orderBy("bucket")
    }),
    // Unigram-LM perplexity scoring (C52 / t12): per-doc avg negative
    // log-likelihood under the corpus's own add-1-smoothed unigram model
    // — the CCNet-style quality score whose percentile cut makes the
    // head/middle/tail split. Position-ordered fold keeps the float sum
    // deterministic cross-engine.
    "t12_unigram_nll" -> ((s, dir) =>
      TextStats.unigramNll(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // Bigram LM perplexity (t26): t12 one Markov order up — token i
    // scores ln p(w_i | w_{i-1}) under the add-1 bigram conditional,
    // the first token under the unigram start distribution. Word-order
    // damage (invisible to t12 by construction) collapses this score;
    // same position-ordered fold discipline for the cross-engine hash.
    "t26_bigram_nll" -> ((s, dir) =>
      TextStats.bigramNll(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // Tokenizer pipeline (C180 / p7): the end-to-end composition of the
    // round's tier — script gate (drop non-Latin / mixed-script rows,
    // with planted work) → trained classifier gate → BPE train on the
    // survivors → per-doc BPE token counts → per-lang sequence packing.
    // Every stage's oracle machinery already exists; p7 chains them.
    "p7_tokenizer_pipeline" -> ((s, dir) => {
      import s.implicits._
      val planted = Seq(
        (300000L, "xx", "привет мир как дела сегодня"),
        (300001L, "xx", "你好世界 机器学习 数据"),
        (300002L, "xx", "click здесь for бесплатно prizes"),
        (300003L, "xx", "1234567890 555 0142")).toDF("doc_id", "lang", "text")
        .withColumn("n_chars", length(col("text")).cast("long"))
      val corpus = table(s, dir, "documents")
        .select("doc_id", "lang", "text", "n_chars").unionByName(planted)
      val keep1 = TextStats.scriptMix(corpus, "doc_id", "text")
        .filter(col("dominant") === "latin" && !col("mixed_script")).select("doc_id")
      val g1 = corpus.join(keep1, Seq("doc_id"))
      // The survivors feed both BPE training and the count pass: cut,
      // so the gate chain (script regexes + joins) is evaluated once,
      // not once per pass.
      val g2 = graft.Lineage.cut(g1.join(
        classifierScored(g1).filter(col("accepted")).select("doc_id"), Seq("doc_id")))
      val model = Bpe.train(g2, "text", numMerges = 8)
      val counts = g2
        .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("word"))
        .join(broadcast(model.words.select("word", "seg")), Seq("word"))
        .groupBy("doc_id", "lang")
        .agg(sum(size(split(col("seg"), " "))).cast("long").as("n_bpe_tokens"))
      graft.pipeline.Packing.packGreedyByCount(
          counts, "doc_id", "n_bpe_tokens", budget = 2048, groupCols = Seq("lang"))
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_bpe_tokens").as("sum_tokens"))
        .orderBy("lang", "pack_id")
    }),
    // BPE-id sequence packing (C187 / p8): p7's chain extended to the
    // training-ready surface — script gate → classifier gate → BPE
    // train (the DRIVER-LOCAL trainer, C185, composed end-to-end) →
    // piece-ID encode (C186) → per-lang greedy packing over ID counts.
    // Reconciliation is ID MASS, not token mass: sum_piece_ids pins the
    // exact id assignment of every packed sequence through the hash.
    "p8_bpe_id_pack" -> ((s, dir) => {
      import s.implicits._
      val planted = Seq(
        (300000L, "xx", "привет мир как дела сегодня"),
        (300001L, "xx", "你好世界 机器学习 数据"),
        (300002L, "xx", "click здесь for бесплатно prizes"),
        (300003L, "xx", "1234567890 555 0142")).toDF("doc_id", "lang", "text")
        .withColumn("n_chars", length(col("text")).cast("long"))
      val corpus = table(s, dir, "documents")
        .select("doc_id", "lang", "text", "n_chars").unionByName(planted)
      val keep1 = TextStats.scriptMix(corpus, "doc_id", "text")
        .filter(col("dominant") === "latin" && !col("mixed_script")).select("doc_id")
      val g1 = corpus.join(keep1, Seq("doc_id"))
      val g2 = graft.Lineage.cut(g1.join(
        classifierScored(g1).filter(col("accepted")).select("doc_id"), Seq("doc_id")))
      val model = Bpe.trainLocal(g2, "text", numMerges = 8)
      val counts = Bpe.encodeIds(g2, "doc_id", "text", model)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pieces"), sum("piece_id").as("id_sum"))
        .join(g2.select("doc_id", "lang"), Seq("doc_id"))
      graft.pipeline.Packing.packGreedyByCount(
          counts, "doc_id", "n_pieces", budget = 2048, groupCols = Seq("lang"))
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_pieces").as("sum_pieces"),
          sum("id_sum").as("sum_piece_ids"))
        .orderBy("lang", "pack_id")
    }),
    // Perplexity-gated corpus (C196 / p9): the CCNet shape (Wenzek et
    // al. 2019) — a "looks like reference text" filter bootstraps the
    // reference corpus (the t35 trained classifier's accepted docs), a
    // modified-KN trigram LM (C190) trains on that reference, the FULL
    // corpus scores against it, and each language splits into
    // head/middle/tail perplexity terciles (bucket 1 = cleanest).
    // Scale shape: model tables are aggregations of the reference's
    // trigram table; scoring is the C190 join chain (token-linear); the
    // tercile ntile is ONE window over the DOC-level frame (rows =
    // docs, the C191 argument) partitioned by lang — at extreme scale
    // swap exact ntile for KLL-sketch cutoffs (C139) + a map-only
    // bucket assign; ties break (avg_nll, doc_id), so the assignment
    // is total-order deterministic.
    "p9_perplexity_gate" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = table(s, dir, "documents")
      // The scored cut (here and in p10/p12/p14/t35/t40) is read by the
      // LAZY frame the lambda returns, so the harness's reset releases it
      // (`Lineage.releaseAll` after each Bench iteration and each Verify
      // query). Composed-pipeline callers needing in-session release
      // free it once their own cut no longer reads it (CrawlStages.gate).
      val ref = d.join(
        classifierScored(d).filter(col("accepted")).select("doc_id"), Seq("doc_id"))
      val model = TextStats.ngramCounts(ref, "text", 3)
      TextStats.mknNgramNllAgainst(d, model, "doc_id", "text", 3)
        .join(d.select("doc_id", "lang"), Seq("doc_id"))
        .withColumn("bucket", ntile(3).over(
          Window.partitionBy("lang").orderBy(col("avg_nll"), col("doc_id")))
          .cast("long"))
        .select("doc_id", "lang", "n_tokens", "avg_nll", "bucket")
        .orderBy("doc_id")
    }),
    // Perplexity gate, sketch-cutoff path (C196 / p10): the scale form
    // p9's doc names — per-lang tercile CUTOFFS read from a KLL sketch
    // of the 6dp NLLs (fixed-point ×10⁶, the C139 machinery), then a
    // MAP-ONLY bucket assign against the broadcast cutoffs: no per-lang
    // sort of the doc frame anywhere. k=8192 ≥ any lang's rows at
    // fixture SFs, so the sketch is exact and the oracle replays the
    // DataSketches inclusive rule literally (min(v) where cume_dist ≥
    // rank — the q37 precedent); beyond exactness the buckets stay
    // within KLL's ±ε rank error of terciles, which is the production
    // contract (CCNet itself uses sampled cutoffs). Boundary semantics
    // vs p9's ntile stated: the cutoff rule puts ties in the LOWER
    // bucket; ntile balances counts.
    "p10_perplexity_gate_sketch" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val ref = d.join(
        classifierScored(d).filter(col("accepted")).select("doc_id"), Seq("doc_id"))
      val model = TextStats.ngramCounts(ref, "text", 3)
      val fixed = TextStats.mknNgramNllAgainst(d, model, "doc_id", "text", 3)
        .join(d.select("doc_id", "lang"), Seq("doc_id"))
        .withColumn("__nf", round(col("avg_nll") * 1e6).cast("long"))
      val cuts = graft.operators.Sketches.mergedQuantiles(
          graft.operators.Sketches.quantileSketches(fixed, Seq("lang"), "__nf"),
          Seq("lang"), Seq(1.0 / 3, 2.0 / 3))
        .select(col("lang"), col("p33").as("__c1"), col("p67").as("__c2"))
      fixed.join(broadcast(cuts), Seq("lang"))
        .withColumn("bucket",
          when(col("__nf") <= col("__c1"), lit(1L))
            .when(col("__nf") <= col("__c2"), lit(2L)).otherwise(lit(3L)))
        .select("doc_id", "lang", "n_tokens", "avg_nll", "bucket")
        .orderBy("doc_id")
    }),
    // End-to-end crawl-to-corpus composition (C206 / p11): the single
    // pipeline a 100 TB crawl run actually executes, every tier
    // composed without a seam — WARC ingest (C198) → markup strip
    // (C71) → exact dedup over normalized fingerprints (C1; the
    // planted mirror records collapse onto their originals) → TRAINED
    // langid routing (C189 — no metadata survives a crawl, so the
    // predicted language is the partition key from here on) → the
    // CCNet perplexity gate (C196: classifier-bootstrapped reference,
    // MKN trigram, per-pred-lang terciles, tail bucket dropped) →
    // driver-local BPE (C185) → reserved-band piece ids (C203) →
    // doc-frame EOS (C191/C204-adjacent) → per-pred-lang packing,
    // rolled up to the per-pack census with a position-weighted
    // checksum that pins the exact splice order. Stage boundaries
    // materialize via localCheckpoint (the p1 discipline — production
    // writes parquet at exactly these seams; each checkpointed frame
    // feeds ≥ 2 downstream consumers).
    "p11_crawl_to_corpus" -> ((s, dir) => {
      // The six stages live in CrawlStages — ONE implementation shared
      // with p13, so the two chains can never drift apart.
      val (ingested, _) = CrawlStages.ingest(
        s, IngestQueries.warcCrawlFixture(s, dir))
      val corpus = CrawlStages.gate(
        CrawlStages.route(s, CrawlStages.dedup(CrawlStages.scrub(ingested))))
      val (_, seqs) = CrawlStages.packSequences(
        corpus, CrawlStages.trainTokenizer(corpus))
      seqs
        .groupBy("pred_lang", "pack_id")
        .agg(count(lit(1)).as("n_positions"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("piece_id")).as("sum_piece_ids"),
          sum(col("pos") * col("piece_id")).as("pos_weighted_sum"))
        .orderBy("pred_lang", "pack_id")
    }),
    // Crawl-to-corpus, SCALE PATH (C212 / p13): p11's composition with
    // the two stages a 100 TB run actually needs swapped in — (a) a
    // NEAR-dup prune after exact dedup (d2's df-capped bucketed pair
    // generation + d10's cluster resolution; the fixture plants
    // boilerplate-tailed near-mirrors that survive the fingerprint
    // stage), and (b) the GATE on the p10 sketch-cutoff path with
    // PER-LANGUAGE reference models (C218 — CCNet's actual design):
    // per-pred-lang tercile cutoffs from a KLL sketch + a map-only
    // bucket assign, replacing the per-lang ntile doc-frame sort (the
    // one scale blemish the r18 verdict named in p11). Packs open
    // with BOS and close with EOS (C211, doc-frame anchored). Same
    // census rollup; the oracle replays the near-dup prune generically
    // (recursive connected components over the verified pair frame),
    // the grouped per-lang MKN model CTEs, and the DataSketches
    // inclusive cutoff rule literally.
    "p13_crawl_to_corpus_scale" -> ((s, dir) => {
      val (ingested, _) = CrawlStages.ingest(
        s, IngestQueries.warcCrawlNearFixture(s, dir))
      val corpus = CrawlStages.gateSketch(
        CrawlStages.route(s, CrawlStages.nearDedup(
          CrawlStages.dedup(CrawlStages.scrub(ingested)))))
      val (_, seqs) = CrawlStages.packSequences(
        corpus, CrawlStages.trainTokenizer(corpus))
      seqs
        .groupBy("pred_lang", "pack_id")
        .agg(count(lit(1)).as("n_positions"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("piece_id")).as("sum_piece_ids"),
          sum(col("pos") * col("piece_id")).as("pos_weighted_sum"))
        .orderBy("pred_lang", "pack_id")
    }),
    // CCNet gate with PER-LANGUAGE reference models (C215 / p14):
    // p10's sketch-cutoff chain with the one piece CCNet actually
    // specifies that the global-LM variants approximate — each
    // language's reference slice trains ITS OWN modified-KN trigram
    // model and every doc scores against its own language's model
    // (ngramCounts + mknNgramNllAgainst by lang: the group key rides
    // every model aggregation, discount estimation, and scoring join —
    // no per-group loop, no driver dispatch). Cutoff machinery
    // unchanged from p10: per-lang tercile cutoffs from the KLL sketch
    // of the 6dp fixed-point NLLs, map-only bucket assign, inclusive
    // rule. A language whose reference slice trained no model scores
    // nothing — no reference, no pass (inner totals join; CCNet's
    // posture).
    "p14_perplexity_gate_perlang" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val ref = d.join(
        classifierScored(d).filter(col("accepted")).select("doc_id"), Seq("doc_id"))
      val model = TextStats.ngramCounts(ref, "text", 3, Seq("lang"))
      val fixed = TextStats.mknNgramNllAgainst(d, model, "doc_id", "text", 3,
          groupCols = Seq("lang"))
        .withColumn("__nf", round(col("avg_nll") * 1e6).cast("long"))
      val cuts = graft.operators.Sketches.mergedQuantiles(
          graft.operators.Sketches.quantileSketches(fixed, Seq("lang"), "__nf"),
          Seq("lang"), Seq(1.0 / 3, 2.0 / 3))
        .select(col("lang"), col("p33").as("__c1"), col("p67").as("__c2"))
      fixed.join(broadcast(cuts), Seq("lang"))
        .withColumn("bucket",
          when(col("__nf") <= col("__c1"), lit(1L))
            .when(col("__nf") <= col("__c2"), lit(2L)).otherwise(lit(3L)))
        .select("doc_id", "lang", "n_tokens", "avg_nll", "bucket")
        .orderBy("doc_id")
    }),
    // Greedy k-center coreset (C179 / e22): farthest-point traversal
    // over the embedding corpus — 5 maximally-diverse exemplars plus
    // the coverage-radius trajectory; distances round 6dp before the
    // running min, argmax ties break by id, so the whole greedy
    // trajectory replays as unrolled oracle CTE layers.
    "e22_kcenter_coreset" -> ((s, dir) =>
      Similarity.kCenters(table(s, dir, "embeddings"), "vec_id", "embedding", k = 5)
        .orderBy("step")),
    // BPE fertility report (C178 / t38): per-lang tokenizer QC under the
    // 8-merge model — pieces per word and chars per piece; the piece
    // count rides the segmentation length, never a piece explode.
    "t38_bpe_fertility" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val model = Bpe.train(d, "text", numMerges = 8)
      Bpe.fertility(d, "text", "lang", model).orderBy("lang")
    }),
    // Script-mix report (C177 / t37): per-doc Unicode-script character
    // fractions by regex subtraction (count = len − len(class removed)),
    // dominant script with a priority tie-break, and the mixed-script
    // flag — over the corpus plus planted Cyrillic/Han/mix/digit rows.
    "t37_script_mix" -> ((s, dir) =>
      TextStats.scriptMix(docsScriptAug(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // CJK script-aware segmentation (C184 / t41): spaceless Han rows —
    // one whitespace token per SENTENCE, the hole that silently
    // degenerates the whole word-table tier — are routed through
    // per-codepoint segmentation (identity on spaced scripts, so the
    // route is unconditional and map-only), then the tokenizer tier
    // runs normally: BPE trains over the segmented corpus and the
    // fertility report groups by the dominant script. Readout: the han
    // group segments at CHARACTER grain (fertility exactly 1.0, finite
    // — not ≈ chars-per-sentence), and n_words counts chars, not
    // sentences.
    "t41_cjk_segment" -> ((s, dir) => {
      val seg = docsCjkAug(s, dir).select(
        TextStats.dominantScript(col("text")).as("dominant"),
        TextOps.segmentNoSpaceScripts(col("text")).as("text"))
      val model = Bpe.train(seg, "text", numMerges = 8)
      Bpe.fertility(seg, "text", "dominant", model).orderBy("dominant")
    }),
    // Classifier PR curve (C182 / t40): threshold calibration for the
    // t35 gate — one row per distinct score (descending), cumulative
    // tp/fp/fn and precision/recall/f1 from integer counts only.
    "t40_classifier_pr_curve" -> ((s, dir) => {
      Classifier.prCurve(classifierScored(table(s, dir, "documents")), "score", "y")
        .orderBy(desc("thr"))
    }),
    // Trained language ID (C188–C189 / t44): the softmax multiclass
    // trainer's first production instance, superseding the C10 marker
    // HEURISTIC with a trained model — a 6-doc-per-language curated
    // seed (function words) trains 8 rounds of full-batch softmax GD
    // over char-trigram-hash fractions; the model then scores the FULL
    // corpus by its text. Readout: seed rows classify near-diagonal
    // (the text has signal), corpus rows classify as the English-ish
    // token soup they actually are — regardless of their metadata lang.
    "t44_trained_langid" -> ((s, dir) => {
      import s.implicits._
      val all = table(s, dir, "documents").select("doc_id", "lang", "text")
        .unionByName(LangidSeeds.toDF("doc_id", "lang", "text"))
      Classifier.scoreSoftmax(langidFeatures(all), langidWeights(s), LangidFeatureCols)
        .withColumn("pred_lang",
          element_at(array(LangidLangs.map(lit): _*), (col("pred_class") + 1).cast("int")))
        .withColumn("src",
          when(col("doc_id") >= 320000L, lit("seed")).otherwise(lit("corpus")))
        .groupBy("src", "lang", "pred_lang").agg(count(lit(1)).as("n"))
        .orderBy("src", "lang", "pred_lang")
    }),
    // Kneser–Ney bigram NLL (C181 / t39): the actual KenLM smoothing —
    // absolute discounting with the CONTINUATION lower-order
    // distribution (distinct contexts, not raw frequency). Exact counts
    // and one division — no tuned lambdas — so the oracle is literal.
    "t39_kn_bigram_nll" -> ((s, dir) =>
      TextStats.knBigramNll(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // Modified-KN trigram NLL (C190 / t45): the actual KenLM default —
    // count-binned discounts (D1/D2/D3+ from the trigram table's
    // count-of-counts) at the top order, single-discount continuation
    // KN at the bigram order, continuation-of-continuation unigrams.
    // Exact integer counts + three 6dp discounts; the oracle replays
    // the discount estimation and every mixture literally.
    "t45_mkn_trigram_nll" -> ((s, dir) =>
      TextStats.mknNgramNll(table(s, dir, "documents"), "doc_id", "text", order = 3)
        .orderBy("doc_id")),
    // Interpolated trigram NLL (C175 / t36): Jelinek–Mercer mix of
    // add-1-smoothed trigram/bigram/unigram conditionals — the KenLM-
    // grade step up from t26. Interpolation IS the backoff: every
    // component smoothed, no special-casing of unseen orders.
    "t36_trigram_nll" -> ((s, dir) =>
      TextStats.trigramNll(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // Deterministic epoch shuffle (C53 / s6): (shard, ord) assignment
    // whose shard-ordered read-back is a reproducible global random visit
    // order — seed = epoch. No global sort: hash sharding + per-shard
    // rank windows.
    "s6_epoch_shuffle" -> ((s, dir) =>
      Sampling.epochShuffle(table(s, dir, "documents").select("doc_id"),
        "doc_id", numShards = 8, epochSeed = 17)
        .orderBy("shard", "ord")),
    // Temperature mixture resampling (C54 / s7): reshape the skewed
    // language mix (en 218 … fr 64 at sf0.01) toward n^0.5 — acceptance
    // rate (n/n_min)^(α−1) per lang, hash-filtered. Rolled up to kept
    // counts so the readout is the mixture itself.
    "s7_temperature_mix" -> ((s, dir) =>
      Sampling.temperatureSample(table(s, dir, "documents"), "doc_id", "lang",
        alpha = 0.5, seed = 29)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")),
    // Weighted mixture schedule (C70 / s9): stride-scheduled training
    // order — en reads at weight 1.0, de at 0.5, the rest at 0.25, so
    // every prefix of the pos-ordered corpus mixes proportionally.
    "s9_mixture_schedule" -> ((s, dir) =>
      Sampling.mixtureSchedule(table(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", Map("en" -> 1.0, "de" -> 0.5), seed = 37, defaultWeight = 0.25)
        .orderBy("pos", "lang", "doc_id")),
    // Sliding token-window chunking (C55 / t13): 32-token windows every
    // 24 tokens (8-token overlap), final window partial — map-only
    // posexplode, no shuffle.
    "t13_chunking" -> ((s, dir) =>
      graft.pipeline.Packing.chunk(table(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 32, stride = 24)
        .orderBy("doc_id", "chunk_idx")),
    // Sentence-aligned chunking (C86 / t19): periods planted after every
    // "table" make real sentence boundaries; sentences pack greedily into
    // 40-token chunks and never split — the boundary-respecting twin of
    // t13's fixed windows.
    "t19_sentence_chunks" -> ((s, dir) =>
      graft.pipeline.Packing.chunkBySentences(
        table(s, dir, "documents")
          .select(col("doc_id"),
            regexp_replace(col("text"), "table ", "table. ").as("text")),
        "doc_id", "text", budget = 40)
        .orderBy("doc_id", "chunk_idx")),
    // URL normalization + per-domain cap (C56 / t14): synthetic crawl
    // URLs (mixed-case scheme/host, query, fragment) are canonicalized,
    // reduced to their registered domain, and the corpus is capped at 8
    // docs per domain — the crawl-side over-representation guard.
    "t14_domain_cap" -> ((s, dir) => {
      import graft.pipeline.TextOps
      val withUrl = table(s, dir, "documents").select(col("doc_id"), col("source"),
        concat(lit("HTTPS://WWW."), col("source"), lit("-"), (col("doc_id") % 2).cast("string"),
          lit(".CoM/p/"), col("doc_id").cast("string"), lit("/?utm=x#s"),
          (col("doc_id") % 3).cast("string")).as("url"))
      val domained = withUrl.select(col("doc_id"),
        TextOps.normalizeUrl(col("url")).as("norm_url"),
        TextOps.registeredDomain(TextOps.urlHost(col("url"))).as("domain"))
      Sampling.capPerStratum(domained, "doc_id", "domain", maxPerStratum = 8, seed = 31)
        .select("doc_id", "domain", "norm_url")
        .orderBy("doc_id")
    }),
    // Frame-sampling plumbing (C57 / mm2): uniform ≤4-frame sample per
    // decoded asset with raw-RGB byte offsets — the per-frame fan-out a
    // video featurizer consumes; map-only sequence+explode.
    "mm2_frame_sample" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.decodeStub(
          Multimodal.ingestBinary(
            table(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text")),
        "doc_id", maxSamples = 4)
        .orderBy("doc_id", "frame_idx")),
    // Audio segment planning (C85 / mm4): fixed 2 s windows every 1.5 s
    // per asset, final window truncated, sample offsets in truncating
    // integer arithmetic — the temporal twin of mm3's geometry.
    "mm4_segment_plan" -> ((s, dir) =>
      Multimodal.segmentPlan(
        Multimodal.decodeAudioStub(
          Multimodal.ingestBinary(
            table(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text")),
        windowMs = 2000, hopMs = 1500)
        .select("doc_id", "sample_rate", "duration_ms", "seg_idx",
          "start_ms", "end_ms", "start_sample", "end_sample")
        .orderBy("doc_id", "seg_idx")),
    // Resize planning (C63 / mm3): fit decoded assets inside 224×224
    // preserving aspect, never upscaling — integer-exact geometry so the
    // stubbed pixel resample can batch by output shape. Map-only.
    "mm3_resize_plan" -> ((s, dir) =>
      Multimodal.resizePlan(
        Multimodal.decodeStub(
          Multimodal.ingestBinary(
            table(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text")),
        maxSide = 224)
        .select("doc_id", "width", "height", "out_w", "out_h", "resized")
        .orderBy("doc_id")),
    // Bloom-prefiltered ingest (C89 / d25): accept the delta rows whose
    // content is new to the corpus — native BloomFilterAggregate +
    // might_contain prefilter, exact sha-256 verify of the maybe-set;
    // the corpus is map-scanned twice and never shuffled. Delta: every
    // 10th doc verbatim (must be dropped) + every (10th+5) doc with a
    // novel suffix (must be accepted).
    "d25_bloom_ingest" -> ((s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "text")
      val delta = d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 500000).as("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 10 === 5)
          .select((col("doc_id") + 600000).as("doc_id"),
            concat(col("text"), lit(" wholly novel suffix")).as("text")))
      Dedup.bloomFreshDocs(d, delta, "text", expectedItems = 100000, fpp = 0.01)
        .select(col("doc_id"), sha2(col("text"), 256).as("content_sha"))
        .orderBy("doc_id")
    }),
    // REAL PNG decode (C14 retired as a stub / mm5): synthetic PNGs with
    // oracle-predicted pixels, decoded by the JDK's javax.imageio codec
    // through the decoder-per-partition mapPartitions shape; pixel_sum
    // requires reading the full raster, and the resize geometry runs over
    // the REAL decoded dimensions.
    "mm5_decode_png" -> ((s, dir) =>
      Multimodal.resizePlan(
        Multimodal.decodePng(
          Multimodal.synthesizePngs(
            table(s, dir, "documents").filter(col("doc_id") < 50), "doc_id")),
        maxSide = 16)
        .select("doc_id", "width", "height", "pixel_sum", "out_w", "out_h", "resized")
        .orderBy("doc_id")),
    // Perceptual image hash (C94 / mm6): dHash over REAL decoded pixels —
    // 8x8 block-luminance grid, exact integer cross-multiplied
    // comparisons, so the oracle recomputes the hash from the synthesis
    // formulas. Output feeds Dedup.hammingPairs for image near-dup.
    "mm6_image_dhash" -> ((s, dir) =>
      Multimodal.decodePngDHash(
        Multimodal.synthesizePngs(
          table(s, dir, "documents").filter(col("doc_id") < 50), "doc_id"))
        .select("doc_id", "width", "height", "dhash")
        .orderBy("doc_id")),
    // Image near-dup (mm7): the composition mm6 exists for — dHash over
    // real decoded pixels fed to the C4 hamming-ball machinery unchanged.
    // Planted variants: uniform brightness shift (hamming 0) and a
    // one-block content tweak (hamming <= 1) against 20 base images.
    // bucketCap (100) exceeds the 60-image corpus, so banding within the
    // ball is EXACT (pigeonhole) and the oracle is the brute-force
    // hamming self-join over formula-replayed hashes.
    "mm7_image_neardup" -> ((s, dir) =>
      Dedup.hammingPairs(
        Multimodal.decodePngDHash(
          Multimodal.synthesizePngsNear(
            table(s, dir, "documents").filter(col("doc_id") < 60), "doc_id")),
        "doc_id", "dhash", maxHamming = 4, bits = 56, bucketCap = 100)
        .orderBy("doc_a", "doc_b")),
    // Image keep-one-per-cluster (mm8): mm7's pairs resolved by the SAME
    // `clusters` + `pruneDuplicates` the lexical d10 pipeline uses — transitive
    // perceptual-dup groups collapse to their min-id canonical, unpaired
    // images pass through. No image-specific dedup code anywhere.
    "mm8_image_dedup" -> ((s, dir) => {
      val fps = Multimodal.decodePngDHash(
        Multimodal.synthesizePngsNear(
          table(s, dir, "documents").filter(col("doc_id") < 60), "doc_id"))
        .select("doc_id", "dhash")
      val pairs = Dedup.hammingPairs(fps, "doc_id", "dhash",
        maxHamming = 4, bits = 56, bucketCap = 100)
      Dedup.pruneDuplicates(fps, pairs, "doc_id")(Lineage.cut).orderBy("doc_id")
    }),
    // JPEG image dedup (mm17): the mm8 keep-one composition on the
    // container 90% of a real crawl's images use — real ImageIO JPEG
    // decode → dHash → hammingPairs → BSP keep-one, all machinery
    // unchanged. JPEG is lossy so the HASHES have no SQL replay (the
    // decodeJpegDHash contract, spec-pinned); what IS closed-form is the
    // PAIRING VERDICT: the fixture's planted groups (id % 20) sit at
    // hamming <= 1 (+ measured DCT noise 0) while distinct bases sit at
    // >= 16 (spec-pinned margin), so keep-one provably returns exactly
    // the 20 v0 canonicals with their formula geometry.
    "mm17_jpeg_dedup" -> ((s, dir) => {
      val fps = Multimodal.decodeJpegDHash(
        Multimodal.synthesizeJpegsNear(
          table(s, dir, "documents").filter(col("doc_id") < 60), "doc_id"))
        .select("doc_id", "width", "height", "dhash")
      val pairs = Dedup.hammingPairs(fps, "doc_id", "dhash",
        maxHamming = 4, bits = 56, bucketCap = 100)
      Dedup.pruneDuplicates(fps, pairs, "doc_id")(
        kept => Lineage.cut(kept.select("doc_id", "width", "height"))).orderBy("doc_id")
    }),
    // REAL WAV decode (mm9): synthetic RIFF/WAVE PCM16 payloads with
    // oracle-predicted samples, decoded by the JDK's javax.sound.sampled
    // codec through the decoder-per-partition shape; energy = sum(s^2)
    // requires reading every frame, so the oracle proves real decoding,
    // not header sniffing. The audio twin of mm5.
    "mm9_decode_wav" -> ((s, dir) =>
      Multimodal.decodeWav(
        Multimodal.synthesizeWavs(
          table(s, dir, "documents").filter(col("doc_id") < 50), "doc_id"))
        .select("doc_id", "sample_rate", "n_samples", "duration_ms",
          "sample_sum", "energy")
        .orderBy("doc_id")),
    // Per-segment energy (mm10): mm4's segment plan made real — the
    // plan's sample offsets slice the REAL decoded PCM and fold sum(s^2)
    // per window, the quantity a VAD / loudness stage thresholds on.
    // 50 ms windows every 30 ms; exact integer arithmetic end-to-end.
    "mm10_wav_segments" -> ((s, dir) =>
      Multimodal.segmentEnergy(
        Multimodal.decodeWav(
          Multimodal.synthesizeWavs(
            table(s, dir, "documents").filter(col("doc_id") < 50), "doc_id")),
        windowMs = 50, hopMs = 30)
        .select("doc_id", "sample_rate", "duration_ms", "seg_idx",
          "start_ms", "end_ms", "start_sample", "end_sample", "seg_energy")
        .orderBy("doc_id", "seg_idx")),
    // REAL multi-frame decode (mm11): synthetic animated GIFs (lossless
    // grayscale palette) decoded frame-by-frame by the JDK's GIF codec —
    // n_frames from the actual container, frame_sum from each frame's
    // raster. The video twin of mm5/mm9.
    "mm11_decode_gif" -> ((s, dir) =>
      Multimodal.decodeGifFrames(
        Multimodal.synthesizeGifs(
          table(s, dir, "documents").filter(col("doc_id") < 40), "doc_id"))
        .select("doc_id", "width", "height", "n_frames", "frame_idx", "frame_sum")
        .orderBy("doc_id", "frame_idx")),
    // Strided frame sampling made REAL (mm12): mm2's plan arithmetic
    // driving the actual decoder — read the true frame count, decode
    // ONLY the ceil(n/maxSamples)-strided frames (random access into
    // independently LZW-coded frames), so decode cost scales with the
    // sample budget, not container length.
    "mm12_gif_frame_sample" -> ((s, dir) =>
      Multimodal.sampleGifFrames(
        Multimodal.synthesizeGifs(
          table(s, dir, "documents").filter(col("doc_id") < 40), "doc_id"),
        maxSamples = 2)
        .select("doc_id", "n_frames", "frame_idx", "frame_sum")
        .orderBy("doc_id", "frame_idx")),
    // BM25 ad-hoc retrieval (t23): top-25 docs for a 3-term query mixing
    // one rare term (dup, df=25) with two common ones — the "find me
    // training docs about X" query a curation team runs for targeted
    // eval construction or contamination triage. HOF tf (tokens never
    // explode), one broadcast stats row, TakeOrdered — and the t12 float
    // discipline (fixed fold order, round 6) for the cross-engine hash.
    "t23_bm25" -> ((s, dir) =>
      TextStats.bm25TopK(table(s, dir, "documents"), "doc_id", "text",
        Bm25Terms, k = 25)),
    // Hybrid retrieval via RRF (C150 / t30): t23's lexical BM25 top-25
    // fused with the semantic cosine top-25 around probe vec_id 0
    // (doc_id ≡ vec_id in the fixture pairing) — rank arithmetic only,
    // no score calibration across the incomparable scales. Both source
    // rankings already have exact oracles; the fusion replays literally.
    "t30_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bm = TextStats.bm25TopK(table(s, dir, "documents"), "doc_id", "text",
          Bm25Terms, k = 25)
        .withColumn("rnk",
          row_number().over(Window.orderBy(col("score").desc, col("doc_id"))))
        .select("doc_id", "rnk")
      val emb = table(s, dir, "embeddings")
      val vec = Similarity.cosineTopK(
          emb, emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 25)
        .select(col("neighbor_id").as("doc_id"), col("rnk"))
      graft.pipeline.Retrieval.rrfFuse(Seq(bm, vec), "doc_id", "rnk", topK = 15)
        .orderBy("rnk")
    }),
    // Vocabulary build (C170 / t31): the top-200 frequency-ranked token
    // vocabulary — one map-side-combined count (shuffle carries distinct
    // tokens, not the stream), TakeOrdered 200, rank window on the
    // 200-row frame. Ties break (count DESC, token ASC) — deterministic
    // on any engine.
    "t31_vocab_build" -> ((s, dir) =>
      Vocab.build(table(s, dir, "documents"), "text", vocabSize = 200)
        .orderBy("token_id")),
    // Token encoding (C171 / t32): docs < 50 encoded against the
    // corpus-wide top-100 vocab, OOV folded into 16 portable-hash
    // buckets above the vocab range — (doc_id, pos, token_id) rows, the
    // deterministic id stream packing consumes.
    "t32_encode_tokens" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val vocab = Vocab.build(d, "text", vocabSize = 100)
      Vocab.encode(d.filter(col("doc_id") < 50), "doc_id", "text", vocab,
          vocabSize = 100, oovBuckets = 16, seed = 5)
        .orderBy("doc_id", "pos")
    }),
    // BPE training (C172 / t33): 8 merges learned over the distinct-word
    // frequency table — per round one pair explode + one agg + a 1-row
    // argmax collect, tie-broken (n DESC, lhs, rhs); the oracle unrolls
    // the identical 8 rounds as CTE layers (the e21 fixed-iteration
    // discipline) with list_reduce replaying the greedy-left fold.
    "t33_bpe_train" -> ((s, dir) =>
      Bpe.train(table(s, dir, "documents"), "text", numMerges = 8)
        .mergeTable(s).orderBy("step")),
    // Driver-local BPE training (C185 / t42): the production-merge-count
    // trainer — ONE distributed word-table aggregation, ONE bounded
    // TakeOrdered collect, k merges in memory on an incremental
    // pair-count index (per-merge cost: a map update, not a cluster
    // round trip). Spec-pinned equal to t33's distributed loop at
    // k=8/32; the oracle is LITERALLY t33's — the two trainers must
    // hash-match each other.
    "t42_bpe_train_local" -> ((s, dir) =>
      Bpe.trainLocal(table(s, dir, "documents"), "text", numMerges = 8)
        .mergeTable(s).orderBy("step")),
    // BPE encoding (C173 / t34): docs < 50 segmented into the learned
    // subword pieces — the segmentation attaches to the token stream as
    // a broadcast join against the distinct-word table; concatenating
    // pieces per word restores the word (spec-pinned).
    "t34_bpe_encode" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val model = Bpe.train(d, "text", numMerges = 8)
      Bpe.encode(d.filter(col("doc_id") < 50), "doc_id", "text", model)
        .orderBy("doc_id", "word_pos", "piece_pos")
    }),
    // BPE piece-id encoding (C186+C203 / t43): t34's subword stream one
    // join further — dense ids from the piece→id vocabulary under the
    // shared RESERVED BAND (ids 0..3 = UNK/BOS/EOS/PAD, then the
    // alphabet binary-UTF-8-sorted, then merge outputs in learn order),
    // the shape the packing tier batches. The vocab attaches as a
    // broadcast join; the stream never shuffles; a piece spelling a
    // reserved label would fail loud at vocab build.
    "t43_bpe_piece_ids" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val model = Bpe.train(d, "text", numMerges = 8,
        reserved = SpecialTokens.Band)
      Bpe.encodeIds(d.filter(col("doc_id") < 50), "doc_id", "text", model)
        .orderBy("doc_id", "word_pos", "piece_pos")
    }),
    // Byte-level BPE (C192 / t47): the GPT-2 grain — initial symbols
    // are UTF-8 BYTES (spelled as hex pairs, identical in both
    // engines), so any script or byte sequence trains uniformly and
    // the learned merges reassemble multi-byte characters from their
    // lead/continuation bytes. Runs over the script-SEGMENTED cjk
    // corpus (C184 bounds the word table; C192 sets the symbol grain
    // below it).
    "t47_bpe_bytes" -> ((s, dir) => {
      val seg = docsCjkAug(s, dir).select(
        TextOps.segmentNoSpaceScripts(col("text")).as("text"))
      Bpe.train(seg, "text", numMerges = 12, byteLevel = true)
        .mergeTable(s).orderBy("step")
    }),
    // GPT-2 pre-tokenization (C197 / t50): the regex split GPT-2/
    // RoBERTa-family tokenizers apply before byte-level BPE — words
    // carry their leading space, contractions split, whitespace runs
    // yield their final space to the next token. Lookahead-free
    // sentinel rewrite of the canonical `\s+(?!\S)` branch (exact RE2
    // twin; spec-pinned equal to the true lookahead pattern). Map-only.
    "t50_gpt2_pretokenize" -> ((s, dir) =>
      table(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id"),
          posexplode(TextOps.gpt2PreTokenize(col("text"))).as(Seq("pos", "tok")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
        .orderBy("doc_id", "pos")),
    // GPT-2-grain byte-level BPE (C197 / t51): the REAL GPT-2 training
    // shape — byte-level merges (C192) over GPT-2 pretokens (t50's
    // tokenizer hook), so space-bearing pretokens teach the Ġ-style
    // "20 xx" merges word-grain BPE can never learn. Same word-table
    // machinery; the guard rejects this tokenizer at word grain.
    "t51_bpe_gpt2" -> ((s, dir) =>
      Bpe.train(table(s, dir, "documents"), "text", numMerges = 10,
          byteLevel = true, tokenizer = TextOps.Gpt2Tok)
        .mergeTable(s).orderBy("step")),
    // Unigram-LM tokenizer training (C194 / t48): the OTHER subword
    // family (SentencePiece's default, Kudo 2018) — frequent-substring
    // seed, 3 Viterbi-EM rounds over the distinct-word table (one
    // distributed DP+agg job per round, vocabulary-bounded collects),
    // prune to 48 pieces. The oracle replays the identical chain: the
    // same seed CTEs and, per round, the same Viterbi DP as a recursive
    // CTE carrying the dp array.
    "t48_unigram_train" -> ((s, dir) =>
      Unigram.train(table(s, dir, "documents"), "text", vocabSize = 48,
          iters = 3, maxPieceLen = 5, seedMulti = 80)
        .pieceTable(s).orderBy("piece")),
    // Driver-local unigram training (C194 / t54): the production-vocab
    // trainer — ONE distributed word aggregation, ONE bounded
    // TakeOrdered collect, seed+EM+prune in memory (the C185 shape: a
    // production seed would make the per-round vocab map literal a
    // multi-MB plan constant; SentencePiece itself runs this loop in
    // memory). Spec-pinned equal to t48's distributed loop; the oracle
    // is LITERALLY t48's — the two trainers must hash-match each other.
    "t54_unigram_train_local" -> ((s, dir) =>
      Unigram.trainLocal(table(s, dir, "documents"), "text", vocabSize = 48,
          iters = 3, maxPieceLen = 5, seedMulti = 80)
        .pieceTable(s).orderBy("piece")),
    // Unigram-LM encoding (C195 / t49): docs < 50 Viterbi-segmented
    // under the trained piece table — the DP runs once per DISTINCT
    // word and attaches to the token stream as a broadcast join (the
    // t34 shape); same exploded (doc_id, word_pos, piece_pos, piece)
    // surface as BPE so packing/fertility consumers are shared.
    "t49_unigram_encode" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val model = Unigram.train(d, "text", vocabSize = 48, iters = 3,
        maxPieceLen = 5, seedMulti = 80)
      Unigram.encode(d.filter(col("doc_id") < 50), "doc_id", "text", model)
        .orderBy("doc_id", "word_pos", "piece_pos")
    }),
    // Unigram piece-id encoding (C195+C203 / t52): t49's piece stream
    // one join further — dense SentencePiece-convention ids under the
    // shared RESERVED BAND (UNK/BOS/EOS/PAD at 0..3 — unk still id 0
    // because the band leads with it — then pieces in score order),
    // the shape the packing tier batches. Broadcast vocab attach; the
    // stream never shuffles.
    "t52_unigram_ids" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val model = Unigram.train(d, "text", vocabSize = 48, iters = 3,
        maxPieceLen = 5, seedMulti = 80, reserved = SpecialTokens.Band)
      Unigram.encodeIds(d.filter(col("doc_id") < 50), "doc_id", "text", model)
        .orderBy("doc_id", "word_pos", "piece_pos")
    }),
    // Unigram fertility report (C194 / t53): per-lang tokenizer QC
    // under the 48-piece unigram model — the same gauge as t38's BPE
    // fertility, so the two families compare directly (the tokenizer
    // bake-off a vocabulary decision actually runs on).
    "t53_unigram_fertility" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val model = Unigram.train(d, "text", vocabSize = 48, iters = 3,
        maxPieceLen = 5, seedMulti = 80)
      Unigram.fertility(d, "text", "lang", model).orderBy("lang")
    }),
    // Tokenizer budget sweep (C194 / t56): the vocab-size decision
    // artifact — corpus-wide fertility and chars-per-piece for BPE at
    // 4/8/16 merges and unigram at 24/48/96 pieces, one frame. BPE is
    // prefix-stable (merge r depends only on merges 1..r−1), so the
    // oracle reads the k-merge fertility off ONE 16-round chain's
    // intermediate bw{k} tables; the unigram EM chain is vocab-size-
    // independent until the prune, so one EM chain feeds all three
    // prunes. The Spark side retrains per point (fixture-cheap); a
    // production sweep would share the chains exactly as the oracle
    // does.
    "t56_tokenizer_sweep" -> ((s, dir) => {
      val d = table(s, dir, "documents").withColumn("__g", lit(1))
      // The six sweep points are fully independent training runs, each a
      // chain of small driver-coordinated jobs that leaves most of the
      // cluster idle between rounds — run them CONCURRENTLY from a small
      // pool so each run's jobs back-fill the others' scheduling gaps
      // (guide §2.6 "overlap independent jobs"). FIFO scheduling; the
      // assembled union is ordered by the literal (family, budget) keys,
      // so completion order cannot change the result.
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      // Width 3, not 6: the trainers are driver-round-trip chains whose
      // first run is dominated by codegen COMPILE, and six cold plans
      // compiling at once convoyed on the driver (measured: the 6-wide
      // pool's first isolated iteration was 2.6× the sequential one's).
      // Three in flight still back-fills the job tails without the
      // compile storm.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val bpe = Seq(4, 8, 16).map(k => Future {
          val m = Bpe.train(d, "text", numMerges = k)
          Bpe.fertility(d, "text", "__g", m)
            .select(lit("bpe").as("family"), lit(k.toLong).as("budget"),
              col("n_words"), col("n_pieces"), col("fertility"),
              col("chars_per_piece"))
        })
        val uni = Seq(24, 48, 96).map(v => Future {
          val m = Unigram.train(d, "text", vocabSize = v, iters = 3,
            maxPieceLen = 5, seedMulti = 80)
          Unigram.fertility(d, "text", "__g", m)
            .select(lit("unigram").as("family"), lit(v.toLong).as("budget"),
              col("n_words"), col("n_pieces"), col("fertility"),
              col("chars_per_piece"))
        })
        Await.result(Future.sequence(bpe ++ uni), Duration.Inf)
          .reduce(_ unionByName _).orderBy("family", "budget")
      } finally pool.shutdown()
    }),
    // Decode round trip (C186 / t55): encodeIds then decode, the
    // tokenizer tier's closing law — the id stream reconstructs the
    // EXACT source text for every doc (the inspection path a training
    // pipeline reads batches back through). The oracle is the identity:
    // the round trip must hash-match the raw documents slice.
    "t55_decode_roundtrip" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val model = Bpe.train(d, "text", numMerges = 8)
      val ids = Bpe.encodeIds(d.filter(col("doc_id") < 50), "doc_id", "text", model)
      Bpe.decode(ids, "doc_id", model).orderBy("doc_id")
    }),
    // Banded decode round trip (C203 / t64): t55's identity law under
    // the full reserved band — the model records UNK/BOS/EOS/PAD at
    // train time, encode shifts every piece id by 4, and decode (which
    // resolves the band FROM THE MODEL) must cancel the shift exactly:
    // the id stream reconstructs the EXACT source text, t55's identity
    // oracle verbatim. This is the review-demonstrated band-mismatch
    // hazard as a hash-pinned law: were encode and decode ever to
    // disagree on the layout, every document would come back shifted
    // four pieces and the hash would break.
    "t64_decode_roundtrip_band" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val model = Bpe.train(d, "text", numMerges = 8,
        reserved = SpecialTokens.Band)
      val ids = Bpe.encodeIds(d.filter(col("doc_id") < 50), "doc_id", "text", model)
      Bpe.decode(ids, "doc_id", model).orderBy("doc_id")
    }),
    // Byte-grain unigram training over GPT-2 pretokens (C209 / t65):
    // the byte-fallback SentencePiece convention (the T5/LLaMA model
    // family) — symbols are UTF-8 bytes spelled as hex pairs, so the
    // alphabet is content-bounded by 256 and NO input is ever out of
    // alphabet, and the tokenizer identity (GPT-2 pretokens CARRYING
    // their leading space — the Ġ convention) is a TRAIN parameter
    // recorded on the model per the C202 discipline. Driver-local
    // trainer (spec-pinned bit-equal to the distributed one at this
    // grain); the oracle replays the full seed + Viterbi-EM + prune
    // chain at SYMBOL WIDTH 2 — the same recursive-CTE DP with every
    // position and length check scaled by the width.
    "t65_unigram_byte_train" -> ((s, dir) =>
      Unigram.trainLocal(table(s, dir, "documents"), "text", vocabSize = 48,
          iters = 2, maxPieceLen = 4, seedMulti = 80,
          byteLevel = true, tokenizer = TextOps.Gpt2Tok,
          reserved = SpecialTokens.Band)
        .pieceTable(s).orderBy("piece")),
    // Byte-grain unigram decode round trip (C210 / t66): encodeIds →
    // decode with band, GRAIN, and TOKENIZER all resolved from the
    // model — the id stream reconstructs the EXACT source text (t55's
    // identity oracle verbatim). At the byte grain trained on its own
    // corpus no piece ever maps to UNK (every single-byte symbol is in
    // the always-kept alphabet), so decode is a TOTAL inverse; the
    // hex pieces unhex back to UTF-8 and the GPT-2 separator ("")
    // comes from the model, never the caller.
    "t66_unigram_byte_roundtrip" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val model = Unigram.trainLocal(d, "text", vocabSize = 48, iters = 2,
        maxPieceLen = 4, seedMulti = 80, byteLevel = true,
        tokenizer = TextOps.Gpt2Tok, reserved = SpecialTokens.Band)
      val ids = Unigram.encodeIds(
        d.filter(col("doc_id") < 50), "doc_id", "text", model)
      Unigram.decode(ids, "doc_id", model).orderBy("doc_id")
    }),
    // Packed ID sequences (C191 / t46): the tokenizer tier's LAST join
    // — docs < 50 BPE-id-encoded, packed per lang at a 512-id budget,
    // and the per-doc id streams spliced into one dense position space
    // per pack (each doc contiguous, in encode order; pos dense 0..n−1
    // within every pack). This is the literal concatenated sequence a
    // trainer reads.
    "t46_packed_sequences" -> ((s, dir) => {
      val full = table(s, dir, "documents")
      val d = full.filter(col("doc_id") < 50)
      val model = Bpe.train(full, "text", numMerges = 8)
      val ids = Bpe.encodeIds(d, "doc_id", "text", model)
      val counts = ids.groupBy("doc_id").agg(count(lit(1)).as("n_pieces"))
        .join(d.select("doc_id", "lang"), Seq("doc_id"))
      val packs = graft.pipeline.Packing.packGreedyByCount(
        counts, "doc_id", "n_pieces", budget = 512, groupCols = Seq("lang"))
      graft.pipeline.Packing.packedSequences(ids, packs, "doc_id", Seq("lang"))
        .orderBy("lang", "pack_id", "pos")
    }),
    // EOS-separated packed sequences (C191+C203 / t57): t46 with the
    // end-of-document marker real training streams carry — one EOS per
    // doc at the RESERVED control id (SpecialTokens.EosId = 2; pieces
    // sit at 4+, and withEos REJECTS an eosId inside the piece range),
    // counted against the pack budget exactly as a trainer counts it,
    // landing as each document's LAST position in the spliced
    // sequence. The pre-transform composes: budgeting and splicing run
    // unchanged on the augmented stream.
    "t57_packed_eos" -> ((s, dir) => {
      val full = table(s, dir, "documents")
      val d = full.filter(col("doc_id") < 50)
      val model = Bpe.train(full, "text", numMerges = 8,
        reserved = SpecialTokens.Band)
      val vocabSize = Bpe.pieceVocab(model).count()
      val ids = graft.pipeline.Packing.withEos(
        Bpe.encodeIds(d, "doc_id", "text", model),
        "doc_id", SpecialTokens.EosId, vocabSize, SpecialTokens.BandSize)
      val counts = ids.groupBy("doc_id").agg(count(lit(1)).as("n_pieces"))
        .join(d.select("doc_id", "lang"), Seq("doc_id"))
      val packs = graft.pipeline.Packing.packGreedyByCount(
        counts, "doc_id", "n_pieces", budget = 512, groupCols = Seq("lang"))
      graft.pipeline.Packing.packedSequences(ids, packs, "doc_id", Seq("lang"))
        .orderBy("lang", "pack_id", "pos")
    }),
    // BOS-opened packed sequences (C211 / t67): t57's chain with the
    // sequence-START convention real training streams also carry
    // (LLaMA-style <s>) — one BOS per doc at the RESERVED control id 1,
    // landing at word_pos = −1 so it splices as each document's FIRST
    // position (a constant position: map-only, no aggregation), plus
    // the EOS close; both markers counted against the pack budget
    // exactly as a trainer counts them. The oracle is t57's with the
    // BOS union row added — the budget window and splice run unchanged
    // on the augmented stream.
    "t67_packed_bos" -> ((s, dir) => {
      val full = table(s, dir, "documents")
      val d = full.filter(col("doc_id") < 50)
      val model = Bpe.train(full, "text", numMerges = 8,
        reserved = SpecialTokens.Band)
      val vocabSize = Bpe.pieceVocab(model).count()
      val ids = graft.pipeline.Packing.withBos(
        graft.pipeline.Packing.withEos(
          Bpe.encodeIds(d, "doc_id", "text", model),
          "doc_id", SpecialTokens.EosId, vocabSize, SpecialTokens.BandSize),
        "doc_id", SpecialTokens.BosId, vocabSize, SpecialTokens.BandSize)
      val counts = ids.groupBy("doc_id").agg(count(lit(1)).as("n_pieces"))
        .join(d.select("doc_id", "lang"), Seq("doc_id"))
      val packs = graft.pipeline.Packing.packGreedyByCount(
        counts, "doc_id", "n_pieces", budget = 512, groupCols = Seq("lang"))
      graft.pipeline.Packing.packedSequences(ids, packs, "doc_id", Seq("lang"))
        .orderBy("lang", "pack_id", "pos")
    }),
    // Persisted-BPE round trip (C204 / t58): train → ModelStore.saveBpe
    // → LOAD → encode. The oracle is literally t43's — the load must
    // reconstruct the artifact bit-identically (merge order, word
    // table, grain metadata), which is the tokenizer.json discipline: a
    // model trains once and deploys across sessions/clusters, never
    // riding a JVM.
    "t58_bpe_saved_encode" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val path = Fixtures.scratchDir("graft-t58") + "/model"
      ModelStore.saveBpe(Bpe.train(d, "text", numMerges = 8,
        reserved = SpecialTokens.Band), path)
      val model = ModelStore.loadBpe(s, path)
      Bpe.encodeIds(d.filter(col("doc_id") < 50), "doc_id", "text", model)
        .orderBy("doc_id", "word_pos", "piece_pos")
    }),
    // Persisted-unigram round trip (C204 / t59): the same discipline
    // for the other family — piece SEQUENCE, unkLogp, and maxPieceLen
    // reload exactly (t52's oracle verbatim), so Viterbi segmentation
    // through the loaded model is the trained model's.
    "t59_unigram_saved_encode" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val path = Fixtures.scratchDir("graft-t59") + "/model"
      ModelStore.saveUnigram(Unigram.train(d, "text", vocabSize = 48,
        iters = 3, maxPieceLen = 5, seedMulti = 80,
        reserved = SpecialTokens.Band), path)
      val model = ModelStore.loadUnigram(s, path)
      Unigram.encodeIds(d.filter(col("doc_id") < 50), "doc_id", "text", model)
        .orderBy("doc_id", "word_pos", "piece_pos")
    }),
    // Persisted-LM round trip (C204 / t60): the trigram count frame —
    // the MKN scorer's only model input — through ModelStore.saveNgram/
    // loadNgram (order checked at both ends), scored with t45's exact
    // machinery and oracle: the in-Spark analog of shipping a KenLM
    // binary to every worker.
    "t60_mkn_saved_nll" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val path = Fixtures.scratchDir("graft-t60") + "/model"
      ModelStore.saveNgram(TextStats.ngramCounts(d, "text", 3), path, order = 3)
      val (model, order) = ModelStore.loadNgram(s, path)
      require(order == 3, s"stored model order drifted: $order")
      TextStats.mknNgramNllAgainst(d, model, "doc_id", "text", order)
        .orderBy("doc_id")
    }),
    // 5-gram modified-Kneser–Ney (C205 / t61): the KenLM DEFAULT order
    // — t45's estimator generalized two orders up via the order-n
    // machinery (raw counts + binned discounts at the top, one
    // continuation level per middle order each derived from the level
    // above, continuation-of-continuation base with the add-1 guard).
    // The generic path is additionally spec-pinned bit-equal to the
    // dedicated trigram implementation at order 3 (MknNgramSpec), so
    // the two estimators cannot drift.
    "t61_mkn5_nll" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      TextStats.mknNgramNllAgainst(d, TextStats.ngramCounts(d, "text", 5),
          "doc_id", "text", order = 5)
        .orderBy("doc_id")
    }),
    // At-rest n-gram model serving (C214 / t68): the C109 posting
    // discipline applied to the LM tier — the order-5 model's derived
    // tables (top counts, context stats, one continuation level per
    // middle order) persisted ONCE, each bucket-partitioned by a hash
    // of its own join key, then the corpus scored through the index
    // with every scan pruned to the buckets the probe's contexts hash
    // to (PartitionFilters — spec-pinned, with the live==indexed
    // bit-equality law). t61's oracle verbatim: the at-rest path must
    // be indistinguishable from the live derivation.
    "t68_mkn5_indexed" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val path = Fixtures.scratchDir("graft-t68") + "/index"
      TextStats.writeNgramIndex(
        TextStats.ngramCounts(d, "text", 5), path, order = 5)
      TextStats.mknNgramNllIndexed(s, path, d, "doc_id", "text")
        .orderBy("doc_id")
    }),
    // Constant-probe at-rest serving (C214 / t69): the case the
    // bucketed index EXISTS for — a SMALL batch (docs < 50) scored
    // against the full-corpus at-rest model. The probe's touched
    // buckets prune every level's scan, so serving cost tracks the
    // BATCH, not the model: the isolated 10× cell holds the probe
    // fixed while the model grows 10×, and the wall stays near-flat
    // (t68's full-corpus probe, by contrast, touches every bucket).
    // Oracle: the order-5 CTE template with the probe source
    // restricted — the pruned path must score the sub-batch exactly
    // as the full-table derivation does.
    "t69_mkn5_probe_indexed" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val path = Fixtures.scratchDir("graft-t69") + "/index"
      TextStats.writeNgramIndex(
        TextStats.ngramCounts(d, "text", 5), path, order = 5)
      TextStats.mknNgramNllIndexed(
          s, path, d.filter(col("doc_id") < 50), "doc_id", "text")
        .orderBy("doc_id")
    }),
    // Incremental n-gram model maintenance (C207 / t62): the crawl-
    // snapshot shape a compiled KenLM binary cannot offer — two
    // disjoint document halves build SEPARATE 5-gram count frames,
    // each persists through ModelStore, and the reloaded snapshots
    // MERGE BY SUMMATION into the full-corpus model (counts are
    // exactly additive: n-gram windows never cross document
    // boundaries). Scoring through the merged model must equal
    // scoring through the one-pass model — t61's oracle verbatim, so
    // the entire merge discipline is pinned by the hash.
    "t62_ngram_model_merge" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val root = Fixtures.scratchDir("graft-t62")
      ModelStore.saveNgram(
        TextStats.ngramCounts(d.filter(col("doc_id") % 2 === 0), "text", 5),
        s"$root/snap0", order = 5)
      ModelStore.saveNgram(
        TextStats.ngramCounts(d.filter(col("doc_id") % 2 === 1), "text", 5),
        s"$root/snap1", order = 5)
      val merged = TextStats.mergeNgramCounts(Seq(
        ModelStore.loadNgram(s, s"$root/snap0")._1,
        ModelStore.loadNgram(s, s"$root/snap1")._1), order = 5)
      TextStats.mknNgramNllAgainst(d, merged, "doc_id", "text", order = 5)
        .orderBy("doc_id")
    }),
    // 5-gram CCNet gate (C205+C196 / p12): p9's chain with the LM tier
    // at the KenLM default order — the classifier-bootstrapped
    // reference trains a 5-GRAM modified-KN model, the full corpus
    // scores against it, per-lang terciles as before. The deeper
    // context sharpens the in-domain/out-domain separation the gate
    // keys on; the scale shape gains only vocabulary-keyed joins.
    "p12_perplexity_gate_5g" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = table(s, dir, "documents")
      val ref = d.join(
        classifierScored(d).filter(col("accepted")).select("doc_id"), Seq("doc_id"))
      val model = TextStats.ngramCounts(ref, "text", 5)
      TextStats.mknNgramNllAgainst(d, model, "doc_id", "text", order = 5)
        .join(d.select("doc_id", "lang"), Seq("doc_id"))
        .withColumn("bucket", ntile(3).over(
          Window.partitionBy("lang").orderBy(col("avg_nll"), col("doc_id")))
          .cast("long"))
        .select("doc_id", "lang", "n_tokens", "avg_nll", "bucket")
        .orderBy("doc_id")
    }),
    // Fixed-shape padded batches (C208 / t63): t57's EOS-packed
    // sequences padded to the 512-position budget with the RESERVED
    // pad id — the rectangular tensor layout a trainer reads, pad rows
    // carrying NULL doc ids (provenance stays honest) and positions
    // len..511 so every padded pack is dense 0..511. Overflowing packs
    // (the one-straddler contract) stay unpadded, never truncated.
    "t63_padded_batches" -> ((s, dir) => {
      val full = table(s, dir, "documents")
      val d = full.filter(col("doc_id") < 50)
      val model = Bpe.train(full, "text", numMerges = 8,
        reserved = SpecialTokens.Band)
      val vocabSize = Bpe.pieceVocab(model).count()
      val ids = graft.pipeline.Packing.withEos(
        Bpe.encodeIds(d, "doc_id", "text", model),
        "doc_id", SpecialTokens.EosId, vocabSize, SpecialTokens.BandSize)
      val counts = ids.groupBy("doc_id").agg(count(lit(1)).as("n_pieces"))
        .join(d.select("doc_id", "lang"), Seq("doc_id"))
      val packs = graft.pipeline.Packing.packGreedyByCount(
        counts, "doc_id", "n_pieces", budget = 512, groupCols = Seq("lang"))
      val seqs = graft.pipeline.Packing.packedSequences(ids, packs, "doc_id", Seq("lang"))
      graft.pipeline.Packing.padPacks(seqs, "doc_id", budget = 512,
          padId = SpecialTokens.PadId, vocabSize = vocabSize,
          reservedBand = SpecialTokens.BandSize, groupCols = Seq("lang"))
        .orderBy("lang", "pack_id", "pos")
    }),
    // Trained quality classifier (C174 / t35): 3 rounds of full-batch
    // logistic GD on weak labels over 6dp-rounded features, then the
    // map-only scoring gate — the fastText-style "looks like reference
    // text" filter. The oracle unrolls the identical 3 gradient steps
    // (the e20/e21 fixed-iteration discipline).
    "t35_quality_classifier" -> ((s, dir) => {
      classifierScored(table(s, dir, "documents"))
        .select("doc_id", "score", "accepted").orderBy("doc_id")
    }),
    // Multimodal curation pipeline (p2): the image twin of p1 — a mixed
    // ingest (near-dup PNG variants, correctly-declared WAVs, and text
    // payloads LYING about being PNGs) through the sniff gate, the
    // accepted-PNG slice decoded to dHashes, hamming-ball paired, and
    // pruned to canonicals. The gate is LOAD-BEARING: without it the
    // liar payloads reach the PNG decoder and the pipeline crashes
    // (pinned in the spec). Output == mm8's (gate provably excludes
    // everything that is not a genuine PNG), so p2 shares mm8's oracle.
    "p2_multimodal_pipeline" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val liars = Multimodal.ingestBinary(
          d.filter(col("doc_id") >= 200 && col("doc_id") < 220), "doc_id", "text")
        .withColumn("meta", struct(lit("image/png").as("media_type"),
          col("meta.n_bytes"), col("meta.digest")))
      val mixed = Multimodal.synthesizePngsNear(
          d.filter(col("doc_id") < 60), "doc_id")
        .unionByName(Multimodal.synthesizeWavs(
          d.filter(col("doc_id") >= 100 && col("doc_id") < 120), "doc_id"))
        .unionByName(liars)
      val pngs = graft.streaming.StreamingMultimodal.sniffGate(mixed)
        .filter(col("routed") === "accepted" && col("sniffed_type") === "image/png")
        .select("doc_id", "payload", "meta")
      val fps = Multimodal.decodePngDHash(pngs).select("doc_id", "dhash")
      val pairs = Dedup.hammingPairs(fps, "doc_id", "dhash",
        maxHamming = 4, bits = 56, bucketCap = 100)
      Dedup.pruneDuplicates(fps, pairs, "doc_id")(Lineage.cut).orderBy("doc_id")
    }),
    // Real pixel resample (mm14): mm3's fit-in-box plan driving an
    // actual nearest-neighbor raster pass over decoded PNGs — explicit
    // integer source mapping so the resampled pixel sum is closed-form
    // in doc_id. maxSide 16 shrinks most fixtures (dims 8..31) and
    // leaves the small ones as identity plans.
    "mm14_resize_real" -> ((s, dir) =>
      Multimodal.resizePixels(
        Multimodal.synthesizePngs(
          table(s, dir, "documents").filter(col("doc_id") < 60), "doc_id"),
        maxSide = 16)
        .select("doc_id", "width", "height", "out_w", "out_h", "resized_sum")
        .orderBy("doc_id")),
    // Media-type sniffing (mm13): a mixed corpus from all four real
    // synthesizers (PNG / GIF / WAV containers + text ingested as
    // binary), typed from the BYTES by the pure magic-number expression.
    // The oracle predicts each slice's container from the planting — a
    // sniffer that misread the bytes could not reproduce it. text rows
    // sniff as octet-stream against a text/plain declaration:
    // meta_agrees=false is the quarantine triage working.
    "mm13_sniff" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val mixed = Multimodal.synthesizePngs(d.filter(col("doc_id") < 25), "doc_id")
        .unionByName(Multimodal.synthesizeGifs(
          d.filter(col("doc_id") >= 25 && col("doc_id") < 50), "doc_id"))
        .unionByName(Multimodal.synthesizeWavs(
          d.filter(col("doc_id") >= 50 && col("doc_id") < 75), "doc_id"))
        .unionByName(Multimodal.ingestBinary(
          d.filter(col("doc_id") >= 75 && col("doc_id") < 100), "doc_id", "text"))
        .unionByName(Multimodal.synthesizeJpegs(
          d.filter(col("doc_id") >= 100 && col("doc_id") < 125), "doc_id"))
      Multimodal.sniffMediaType(mixed)
        .select(col("doc_id"), col("sniffed_type"),
          col("meta.media_type").as("declared"), col("meta_agrees"))
        .orderBy("doc_id")
    }),
    // Container-header metadata without a decoder (mm15): dimensions /
    // sample rate read by byte arithmetic over the mm13 mixed corpus —
    // codegen expressions, zero decoder calls. PNG/GIF/WAV fields sit at
    // fixed offsets (pure substring/conv); JPEG dims sit past a variable
    // prefix of metadata segments, walked by the native JpegSofDims
    // expression (r13 next #2). The oracle predicts every parsed value
    // from the synthesis geometry, so a parser that misread an offset,
    // an endianness, or a segment length cannot reproduce it; only true
    // octet-streams stay NULL.
    // Average hash (mm16): dHash's global-mean twin — 63 bits against
    // the whole-image mean where mm6's 56 compare neighbors; the second
    // perceptual family (the MinHash/SimHash pairing applied to images).
    // Oracle: mm6's block-sum replay with a totals join in place of the
    // neighbor join.
    "mm16_image_ahash" -> ((s, dir) =>
      Multimodal.decodePngAHash(
        Multimodal.synthesizePngs(
          table(s, dir, "documents").filter(col("doc_id") < 50), "doc_id"))
        .select("doc_id", "width", "height", "ahash")
        .orderBy("doc_id")),
    "mm15_header_meta" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val mixed = Multimodal.synthesizePngs(d.filter(col("doc_id") < 25), "doc_id")
        .unionByName(Multimodal.synthesizeGifs(
          d.filter(col("doc_id") >= 25 && col("doc_id") < 50), "doc_id"))
        .unionByName(Multimodal.synthesizeWavs(
          d.filter(col("doc_id") >= 50 && col("doc_id") < 75), "doc_id"))
        .unionByName(Multimodal.ingestBinary(
          d.filter(col("doc_id") >= 75 && col("doc_id") < 100), "doc_id", "text"))
        .unionByName(Multimodal.synthesizeJpegs(
          d.filter(col("doc_id") >= 100 && col("doc_id") < 125), "doc_id"))
      Multimodal.parseContainerMeta(mixed)
        .select("doc_id", "sniffed_type", "parsed_w", "parsed_h", "parsed_rate")
        .orderBy("doc_id")
    }),
    // Repeated-span detection (d26): the dup-augmented corpus (whole-doc
    // copies become full-width spans) plus a shared 10-token sentinel
    // tail on every 7th doc (a PARTIAL cross-doc span the fixed-block
    // family would straddle) — gram-granular, every position slides.
    "d26_repeated_spans" -> ((s, dir) => {
      val d = docsDupAug(s, dir).select("doc_id", "text")
      val planted = d.withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" q0 q1 q2 q3 q4 q5 q6 q7 q8 q9")))
          .otherwise(col("text")))
      Dedup.repeatedSpans(planted, "doc_id", "text", n = 8)
        .orderBy("doc_id", "span_idx")
    }),
    // Production-hash twin of d26 (the d7 pattern): identical sliding
    // sweep with grams keyed by codegen'd xxhash64 — no per-gram md5
    // digest in the hot path. Span output is hash-independent absent
    // collisions (the hash only keys the df index), so it shares d26's
    // oracle verbatim; the mode-agreement spec pins d27 == d26 exactly.
    "d27_repeated_spans_fast" -> ((s, dir) => {
      val d = docsDupAug(s, dir).select("doc_id", "text")
      val planted = d.withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" q0 q1 q2 q3 q4 q5 q6 q7 q8 q9")))
          .otherwise(col("text")))
      Dedup.repeatedSpans(planted, "doc_id", "text", n = 8, HashMode.Xxhash64)
        .orderBy("doc_id", "span_idx")
    }),
    // Rolling-hash twin of d26/d27 (VERDICT r12 next #5): same sliding
    // sweep, but the positioned gram hashes come from the native
    // GramRollingHash expression — tokens hashed once, gram hashes
    // chained in O(len) longs, no per-position n-token string build.
    // Spans are hash-independent absent collisions: d26's oracle
    // verbatim; the mode-agreement spec pins d28 == d26 == d27 exactly.
    "d28_repeated_spans_rolling" -> ((s, dir) => {
      val d = docsDupAug(s, dir).select("doc_id", "text")
      val planted = d.withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" q0 q1 q2 q3 q4 q5 q6 q7 q8 q9")))
          .otherwise(col("text")))
      Dedup.repeatedSpansRolling(planted, "doc_id", "text", n = 8)
        .orderBy("doc_id", "span_idx")
    }),
    // Span removal (d29): the detect→remove composition the span family
    // promises — d26's planted fixture swept by the production d28
    // detector, every flagged token stripped, text reassembled in
    // position order. Docs with no spans pass through; whole-doc copies
    // collapse to empty text (n_tokens_kept = 0 — the quarantine
    // signal).
    "d29_strip_spans" -> ((s, dir) => {
      val d = docsDupAug(s, dir).select("doc_id", "text")
      val planted = d.withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" q0 q1 q2 q3 q4 q5 q6 q7 q8 q9")))
          .otherwise(col("text")))
      Dedup.stripSpans(planted,
        Dedup.repeatedSpansRolling(planted, "doc_id", "text", n = 8),
        "doc_id", "text")
        .orderBy("doc_id")
    }),
    // Scrub pipeline (p3): the repeated-span detect→remove pair plus the
    // spam-fraction gate, composed as ONE verified query — scrub the
    // corpus (rolling sweep, every flagged token out), quarantine docs
    // that emptied or lost more than half their tokens (span-dominated
    // spam), and read the result as the per-language token budget a
    // mixing stage consumes. (Exact dedup after an occurrence-based
    // scrub is provably an identity — cross-doc duplication is GONE by
    // construction — so the gate, not a dedup, is the honest next
    // stage.)
    "p3_scrub_pipeline" -> ((s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "lang", "text")
      val planted = d.withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" q0 q1 q2 q3 q4 q5 q6 q7 q8 q9")))
          .otherwise(col("text")))
      val scrub = Dedup.stripSpans(planted,
        Dedup.repeatedSpansRolling(planted, "doc_id", "text", n = 8),
        "doc_id", "text")
      scrub
        .filter(col("n_tokens") - col("n_removed") > 0 &&
          col("n_removed") * 2 <= col("n_tokens"))
        .join(planted.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens") - col("n_removed")).as("kept_tokens"),
          sum(col("n_removed")).as("scrubbed_tokens"))
        .orderBy("lang")
    }),
    // Intra-doc repeated-sentence removal (t24): the corpus has no
    // native sentence repeats, so each doc gets its own FIRST sentence
    // re-appended (the t19 period-planting trick supplies sentence
    // boundaries) — the cleanup then drops exactly that plant while
    // single-sentence docs (no "table ", hence no boundary) pass
    // through with n_dropped = 0. Map-only: no shuffle, no explode.
    "t24_sentence_dedup" -> ((s, dir) => {
      import graft.pipeline.TextOps
      val d = table(s, dir, "documents").select(col("doc_id"),
        regexp_replace(col("text"), "table ", "table. ").as("t0"))
      val planted = d.select(col("doc_id"),
        concat(col("t0"), lit(". "),
          element_at(TextOps.sentences(col("t0")), 1)).as("text"))
      TextOps.dropRepeatedSentences(planted, "doc_id", "text")
        .orderBy("doc_id")
    }),
    // BM25 against the PERSISTED posting index (t25): t23's semantics,
    // materialized — build once (postings partitioned by term-hash
    // bucket + df/corpus sidecars), probe by partition-filtered posting
    // scan; no corpus scan or tokenize at query time. Shares t23's
    // oracle verbatim (the e14 materialization precedent); the
    // contribution tree is shared code, so the doubles are bit-equal.
    "t25_bm25_index" -> ((s, dir) => {
      val idx = Fixtures.scratchDir("graft-t25") + "/idx"
      TextStats.writeBm25Index(table(s, dir, "documents"), "doc_id", "text", idx)
      TextStats.bm25IndexTopK(s, idx, Bm25Terms, k = 25)
    }),
    // UniMax budget allocation (s11): a 15k-token budget water-filled
    // across languages with a one-epoch cap — the small languages keep
    // everything (their caps fit under the fair share), the head
    // language splits the remainder; report = per-lang allocation +
    // the hash-sampled kept count that realizes it.
    "s11_unimax" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val alloc = Sampling.unimaxAllocations(d, "lang", "text", budgetTokens = 15000)
      val kept = Sampling.unimaxSample(d, "doc_id", "lang", "text",
          budgetTokens = 15000, seed = 41)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      alloc.join(kept, Seq("lang"), "left")
        .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
        .orderBy("lang")
    }),
    // DSIR importance scores (s10): every document scored by how much
    // its hashed-unigram distribution looks like the German slice rather
    // than the corpus average — the "give me more like THIS" ranking
    // that feeds selectUnderBudget/capPerStratum for the actual cut.
    // Both histograms collapse to 256 broadcast rows; the scoring pass
    // is the t12 position-ordered fold.
    "s10_dsir" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      Sampling.dsirScores(d, d.filter(col("lang") === "de"), "doc_id", "text",
        buckets = 256, seed = 31)
        .orderBy("doc_id")
    }),
    // End-to-end curation pipeline (p1): the COMPOSITION a pretraining
    // corpus actually runs — quality gate → exact dedup → near-dup prune →
    // per-source cap → train/val/test split — every stage an
    // already-oracled operator, chained over a corpus augmented with BOTH
    // exact copies (+100000, every 10th) and near copies (+200000, every
    // 25th) so each stage visibly bites, and the whole chain verified by
    // ONE oracle that replays it from the same SQL fragments the stage
    // oracles use. Composition is where stage-boundary bugs live (a
    // column renamed, a filter applied to the wrong side), which no
    // per-stage oracle can see.
    "p1_curation_pipeline" -> ((s, dir) => {
      val corpus = docsPipeAug(s, dir)
      val keepIds = TextStats.qualityFilter(corpus, "doc_id", "text",
          minTokens = 15, maxTokens = 90, minTypeTokenRatio = 0.25)
        .filter(col("keep")).select("doc_id")
      val quality = corpus.join(keepIds, Seq("doc_id"), "left_semi")
      // Stage boundary materialized (the PipelineDemo discipline): the
      // deduped frame feeds the shingle-index build AND the prune
      // passthrough — without this the quality semi-join + dedup agg
      // recompute once per consumer (the demo-scale analog of the
      // intermediate parquet a production pipeline writes here).
      val deduped = graft.Lineage.cut(
        Dedup.exact(quality, "doc_id", "text").drop("n_copies"))
      // The cap and split read ids and labels only: the prune's cut
      // keeps those, and the deduped cut is freed once it is made.
      val pruned = try Dedup.withJaccardPairs(
          deduped, "doc_id", "text", ShingleN, DfCap, JaccardThreshold)(
        pairs => Dedup.pruneDuplicates(deduped, pairs, "doc_id")(
          kept => Lineage.cut(kept.select("doc_id", "lang", "source"))))
        finally Lineage.free(deduped)
      val capped = Sampling.capPerStratum(pruned, "doc_id", "source",
        maxPerStratum = 20, seed = 7)
      Sampling.split(capped, "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 11)
        .select("doc_id", "lang", "source", "split")
        .orderBy("doc_id")
    }),
    // Benchmark decontamination: the corpus checked against a synthetic
    // "eval set" (every 40th doc verbatim, ids +300000; every 40th+25 doc
    // with 3 sentinel tokens appended, ids +400000 — overlap just under
    // 1.0). Flags every (training doc, benchmark doc) pair sharing >= 50%
    // of the benchmark doc's 8-grams.
    "d8_decontamination" -> ((s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "text")
      val bench = d.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 40 === 25)
          .select((col("doc_id") + 400000).as("doc_id"),
            concat(col("text"), lit(" zq zq zq")).as("text")))
      Dedup.contaminationPairs(d, bench, "doc_id", "text", n = 8, threshold = 0.5)
        .orderBy("corpus_id", "bench_id")
    }),
    // Incremental near-dup (C34 / d12): today's "crawl increment" (the
    // near-copy slice) checked AGAINST the existing corpus — cross pairs
    // only, the corpus is never self-joined. Same pairs d2 finds across
    // the aug boundary, reached at increment cost.
    "d12_incremental_neardup" -> ((s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "text")
      val newDocs = d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zq zq zq")).as("text"))
      Dedup.withIncrementalJaccardPairs(newDocs, d, "doc_id", "text", ShingleN, DfCap, JaccardThreshold)(
        Lineage.cut)
        .orderBy("new_id", "corpus_id")
    }),
    // Persisted shingle index (C82 / d23): d12's check against the AT-REST
    // index — corpus text shingled once into path/{index,sizes,df}, the
    // delta probes disk. Same ground truth, so d12's oracle verbatim. The
    // bench times the PROBE via the BenchPhases split (index build =
    // setup, like e4's IVF index).
    "d23_index_neardup" -> ((s, dir) => {
      val (idxPath, newDocs) = d23Setup(s, dir)
      Dedup.withJaccardPairsAgainstIndex(s, idxPath, newDocs, "doc_id", "text", DfCap, JaccardThreshold)(
        Lineage.cut)
        .orderBy("new_id", "corpus_id")
    }),
    // Cross-source overlap matrix (C83 / d24): corpus-level republication
    // detection — a planted mirror source (srcM = src0's docs verbatim)
    // must surface at containment 1.0 while organic source pairs stay low.
    "d24_source_overlap" -> ((s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "source", "text")
      val mirrored = d.unionByName(
        d.filter(col("source") === "src0").select((col("doc_id") + 500000).as("doc_id"),
          lit("srcM").as("source"), col("text")))
      Dedup.withSourceOverlap(mirrored, "doc_id", "source", "text", ShingleN)(Lineage.cut)
        .orderBy("src_a", "src_b")
    }),
    // End-to-end decontamination (C33 / d11): the d8 fixture's corpus with
    // every contaminated training doc dropped — what actually feeds the
    // tokenizer after the d8 report is reviewed.
    "d11_decontaminate" -> ((s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "text")
      val bench = d.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 300000).as("doc_id"), col("text"))
        .unionByName(d.filter(col("doc_id") % 40 === 25)
          .select((col("doc_id") + 400000).as("doc_id"),
            concat(col("text"), lit(" zq zq zq")).as("text")))
      Dedup.decontaminate(d, bench, "doc_id", "text", n = 8, threshold = 0.5)
        .select("doc_id")
        .orderBy("doc_id")
    }),
    "t1_text_stats" -> ((s, dir) =>
      TextStats.corpusStats(table(s, dir, "documents"), Seq("lang"), "text")
        .orderBy("lang")),
    // TF-IDF source profiling (C45): top-10 distinctive terms per source
    // — tf keyed on (source, term), doc-level df, 1-row broadcast N,
    // rank window over aggregated rows only.
    "t10_tfidf" -> ((s, dir) =>
      TextStats.tfIdfTopTerms(table(s, dir, "documents"), "doc_id", "text", "source", k = 10)
        .orderBy("source", "rnk")),
    // Vocabulary coverage / OOV rate (C90 / t20): top-500 corpus vocab by
    // occurrence count (count desc, token asc tie-break — both engines
    // rank identically), per-doc fraction of occurrences outside it. The
    // vocab cut runs on aggregated rows and broadcasts into the doc pass.
    "t20_vocab_oov" -> ((s, dir) =>
      TextStats.vocabOovReport(table(s, dir, "documents"), "doc_id", "text", vocabSize = 500)
        .orderBy("doc_id")),
    // Cross-snapshot drift (C91 / t22): per-source cosine between the
    // even-id and odd-id halves of the corpus standing in for two crawl
    // snapshots — exact count vectors, double math identical cross-engine.
    "t22_source_drift" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      TextStats.sourceDrift(
        d.filter(col("doc_id") % 2 === 0), d.filter(col("doc_id") % 2 === 1),
        "source", "text")
        .orderBy("source")
    }),
    // Length-distribution report (C47): exact p25/p50/p75 per lang — the
    // threshold-tuning twin of t5's fixed bounds. Linear interpolation
    // matches DuckDB's quantile_cont.
    "t11_length_dist" -> ((s, dir) =>
      TextStats.lengthDistribution(table(s, dir, "documents"), "lang", "text")
        .orderBy("lang")),
    "t2_quality" -> ((s, dir) =>
      TextStats.qualitySignals(
        table(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text")
        .orderBy("doc_id")),
    "t3_langid" -> ((s, dir) =>
      TextStats.langId(
        table(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text")
        .orderBy("doc_id")),
    "t4_fingerprint" -> ((s, dir) =>
      table(s, dir, "documents").filter(col("doc_id") < 100)
        .select(col("doc_id"), graft.pipeline.TextOps.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),
    // Markup strip (C71 / t17): synthetic crawl chrome (tags + entities)
    // wrapped around each doc, then stripped — tags out, entities
    // decoded, whitespace collapsed — with the tag-density signal.
    "t17_markup_strip" -> ((s, dir) => {
      import graft.pipeline.TextOps
      val html = table(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          concat(lit("<html><body class=\"c\"><p>"), col("text"),
            lit("</p><br/>&amp; <a href=\"#\">more &gt; here</a></body></html>")).as("raw"))
      html.select(col("doc_id"),
          TextOps.tagCount(col("raw")).as("n_tags"),
          TextOps.stripMarkup(col("raw")).as("clean"))
        .orderBy("doc_id")
    }),
    // Invisible-character scrub (t27): zero-width/BOM/soft-hyphen/bidi
    // marks planted deterministically into the corpus (the t17/t18
    // planting discipline — fixture text is clean ASCII), then scrubbed:
    // removables vanish, NBSP-family normalizes to plain spaces, and the
    // density signal counts what was touched. Scrub(plant(text)) == text
    // is the spec's round-trip law; here the oracle replays plant+scrub.
    "t27_invisible_scrub" -> ((s, dir) => {
      import graft.pipeline.TextOps
      val planted = table(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          regexp_replace(
            regexp_replace(col("text"), lit("e"), lit("e\u200B\u00AD")),
            lit(" "), lit("\u00A0")).as("raw"))
      planted.select(col("doc_id"),
          TextOps.invisibleCount(col("raw")).as("n_invisible"),
          TextOps.stripInvisible(col("raw")).as("clean"))
        .orderBy("doc_id")
    }),
    // k-anonymity gate (C148 / t29): the structural privacy check PII
    // scrubbing (t7) cannot express — rows whose quasi-identifier
    // combination is shared by < k records re-identify by JOIN against
    // any public table with the same attributes. Report + suppression
    // over (segment × nation): one map-side-combined aggregation, one
    // semi-join on the same keys. Suppression never alters survivors,
    // so the oracle is the literal HAVING replay.
    "t29_k_anonymity" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      graft.pipeline.Privacy.suppressRare(
          c, Seq("c_mktsegment", "c_nationkey"), k = 10)
        .select("c_custkey", "c_mktsegment", "c_nationkey")
        .orderBy("c_custkey")
    }),
    // Frequent-phrase mining (C146 / t28): boilerplate trigrams planted
    // on every even doc (the t17/t27 planting discipline — fixture text
    // has no natural template footer), then mined EXACTLY via the MG
    // candidates + exact-recount pipeline over the exploded gram stream
    // — the highest-cardinality frame in the repo, and precisely the one
    // a plain GROUP BY cannot afford to shuffle at 100 TB. The superset
    // guarantee makes the answer the brute-force HAVING oracle verbatim.
    "t28_frequent_ngrams" -> ((s, dir) => {
      val planted = table(s, dir, "documents")
        .select(when(col("doc_id") % 2 === 0,
            concat(col("text"), lit(" please subscribe to our newsletter")))
          .otherwise(col("text")).as("text"))
      graft.pipeline.TextStats.frequentPhrases(planted, "text", n = 3, phi = 0.002)
        .orderBy("phrase")
    }),
    // Unicode NFC normalization (C75 / t18): the native-expression text
    // floor — decomposed sequences (e + U+0301, A + U+030A) compose, so
    // exact-dedup hashes and shingles see one spelling. The suffix is
    // planted (documents text is ASCII); raw_len/nfc_len pin the
    // composition (2 chars -> 1) cross-engine.
    "t18_nfc_normalize" -> ((s, dir) => {
      import graft.functions.GraftFunctions
      val raw = concat(substring(col("text"), 1, 24), lit(" e\u0301A\u030A"))
      table(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"), raw.as("raw"))
        .select(col("doc_id"),
          length(col("raw")).cast("long").as("raw_len"),
          call_function(GraftFunctions.NfcNormalizeName, col("raw")).as("nfc"),
          length(call_function(GraftFunctions.NfcNormalizeName, col("raw")))
            .cast("long").as("nfc_len"))
        .orderBy("doc_id")
    }),
    // Language-mismatch audit (C65 / t16): docs whose detected language
    // disagrees with their metadata label — the metadata-QC pass that
    // catches mislabeled crawl shards before per-language mixing trusts
    // the label. The label rides the scoring projection (no join-back).
    "t16_lang_mismatch" -> ((s, dir) =>
      TextStats.langId(table(s, dir, "documents"), "doc_id", "text", keep = Seq("lang"))
        .filter(col("pred_lang") =!= col("lang"))
        .select("doc_id", "lang", "pred_lang")
        .orderBy("doc_id")),
    "e1_topk_cosine" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      Similarity.cosineTopK(v, v.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .orderBy("probe_id", "rnk")
    }),
    // Curriculum-stratified budget (C155 / p4): the composition the
    // continuous stratifier exists for — quantile-bin documents by
    // length (C152), cross with language, cap each (lang, bin) stratum
    // deterministically (C40) — "equal representation across difficulty
    // bands per language", the curriculum-balanced corpus budget. The
    // whole chain is one verified query: bins from sketch edges, the
    // hash-ranked cap, stage boundaries included (the p-family point).
    "p4_curriculum_budget" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val binned = graft.operators.Sketches.quantileBins(d, "n_chars", nBins = 4)
        .withColumn("stratum", concat_ws("|", col("lang"), col("bin")))
      Sampling.capPerStratum(binned, "doc_id", "stratum",
          maxPerStratum = 15, seed = 17)
        .select("doc_id", "lang", "bin")
        .orderBy("doc_id")
    }),
    // Data card (C169 / p6): the one-row corpus datasheet — size, token
    // mass, length center+tail, language mix, exact-dup rate — computed
    // in one scalar agg + one tiny lang agg + one KLL sketch, each
    // joining back as a 1-row broadcast. Run over the dup-planted corpus
    // so the dup_frac line has real work to report.
    "p6_data_card" -> ((s, dir) => {
      val d = docsDupAug(s, dir)
      val base = d.agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).cast("long").as("n_tokens"),
        round(avg(col("n_chars")), 6).as("mean_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(md5(col("text"))).as("n_unique_texts"))
      val top = d.groupBy("lang").agg(count(lit(1)).as("top_n"))
        .orderBy(desc("top_n"), asc("lang")).limit(1)
        .withColumnRenamed("lang", "top_lang")
      val q = graft.operators.Sketches.mergedQuantiles(
          graft.operators.Sketches.quantileSketches(
            d.withColumn("__k", lit(1)), Seq("__k"), "n_chars"),
          Seq("__k"), Seq(0.5, 0.9))
        .select(col("p50").as("p50_chars"), col("p90").as("p90_chars"))
      base.crossJoin(broadcast(top)).crossJoin(broadcast(q))
        .select(col("n_docs"), col("n_tokens"), col("mean_chars"),
          col("p50_chars"), col("p90_chars"), col("n_langs"), col("top_lang"),
          round(col("top_n") / col("n_docs"), 6).as("top_lang_frac"),
          round(lit(1.0) - col("n_unique_texts") / col("n_docs"), 6).as("dup_frac"))
    }),
    // Soft dedup (C168 / d31): keep every doc, weight 1/|cluster| — the
    // loss-weighting alternative to d10's hard prune. Duplicated CONTENT
    // counts once in expectation; the oracle replays cluster labels +
    // one COUNT() OVER the label.
    "d31_soft_dedup_weights" -> ((s, dir) => {
      val corpus = docsNearAug(s, dir)
      Dedup.withJaccardPairs(corpus, "doc_id", "text", ShingleN, DfCap, JaccardThreshold)(
        pairs => Dedup.softDedupWeights(corpus.select("doc_id"), pairs, "doc_id")(
          w => Lineage.cut(w.select("doc_id", "cluster_id", "weight"))))
        .orderBy("doc_id")
    }),
    // Leakage-safe split (C166 / p5): d9's cluster resolution feeding the
    // hash-range split keyed on the CLUSTER representative — the fix s4's
    // detector exists to demand. Every near-dup cluster is atomic across
    // train/test by construction; the oracle replays cluster labels
    // (d9's recursive-CTE machinery verbatim) + the portable hash split
    // on the label, so a single straddling doc breaks the hash.
    "p5_leakage_safe_split" -> ((s, dir) => {
      val corpus = docsNearAug(s, dir)
      Dedup.withJaccardPairs(corpus, "doc_id", "text", ShingleN, DfCap, JaccardThreshold)(
        pairs => Sampling.splitByCluster(
          corpus.select("doc_id"), "doc_id", Dedup.clusters(pairs),
          Seq("train" -> 0.9, "test" -> 0.1), seed = 11))
        .select("doc_id", "cluster_id", "split")
        .orderBy("doc_id")
    }),
    // Dominant principal direction (C154 / e21): power iteration on the
    // second-moment matrix — the anisotropy probe (energy_frac → 1 is
    // the collapsed-encoder alarm). Fixed k=3 iterations unroll exactly
    // into the oracle; per-iteration round(6) keeps both engines
    // iterating on identical vectors (the e20 discipline).
    "e21_dominant_direction" -> ((s, dir) => {
      import s.implicits._
      val (v, energy) = Similarity.dominantDirection(
        table(s, dir, "embeddings"), "embedding", dim = HpDim, iters = 3)
      v.zipWithIndex
        .map { case (x, i) => ((i + 1).toLong, x, energy) }.toSeq
        .toDF("idx", "loading", "energy_frac")
        .orderBy("idx")
    }),
    // Random-projection search (C149 / e20): e1's exact top-k run in the
    // JL-projected 16-dim space — every dot product is dim/outDim (4×)
    // cheaper, the trade the spec prices (measured distortion + recall
    // against the 64-dim truth). The ±1 matrix is seed-derived constant
    // literals, so the oracle replays projection AND search literally;
    // components round to 6, making the projected frame bit-identical
    // cross-engine.
    "e20_random_project" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      val proj = Similarity.randomProject(
        v, "vec_id", "embedding", dim = HpDim, outDim = RpOutDim, seed = RpSeed)
      Similarity.cosineTopK(
          proj, proj.filter(col("vec_id") < 5), "vec_id", "proj", k = 10)
        .orderBy("probe_id", "rnk")
    }),
    // Hard-negative mining (e15): (anchor, positive, hard negatives)
    // triplets for contrastive training — rank-1 is the positive, later
    // ranks become negatives only when sim <= pos_sim - margin (the
    // near-tie guard against unlabeled positives). Composed over the
    // exact top-k generator here; the miner takes ANY ranked frame.
    "e15_hard_negatives" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      Similarity.hardNegatives(v, v.filter(col("vec_id") < 5), "vec_id", "embedding",
        searchK = 20, kNeg = 5, margin = 0.05)
        .orderBy("probe_id", "role", "role_rnk")
    }),
    "e2_ann_ivf" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      Similarity.ivfTopK(
        v,
        v.filter(col("vec_id") < 8),
        v.filter(col("vec_id").between(100, 104)),
        "vec_id", "embedding", k = 5)
        .orderBy("probe_id", "rnk")
    }),
    // ANN against a PERSISTED index (C36 / e4): same semantics as e2, but
    // the bucket assignment is written to disk once (partitioned by
    // bucket) and the probe reads only its touched bucket directories —
    // the at-rest index shape a corpus probed many times pays for.
    "e4_ann_index" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      val idx = Fixtures.scratchDir("graft-e4") + "/idx"
      Similarity.writeIndex(v, v.filter(col("vec_id") < 8), "vec_id", "embedding", idx)
      Similarity.indexTopK(s, idx, v.filter(col("vec_id").between(100, 104)),
          "vec_id", "embedding", k = 5)
        .orderBy("probe_id", "rnk")
    }),
    // Product quantization ADC search (C92 / e12): 64-dim embeddings
    // compressed to 8 one-byte codes against closed-form grid codebooks
    // (the arithmetic codebook that gives PQ an exact oracle; trained
    // codebooks are spec-covered, the C26 convention), scored by the
    // m-term lookup-table sum — the scan never touches a float vector.
    "e12_pq_topk" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      val cb = Similarity.pqGridCodebooks(dim = 64, m = 8, k = 16)
      val q = v.filter(col("vec_id") === 0).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.pqSearchTopK(
        Similarity.pqEncode(v, "embedding", cb).select("vec_id", "codes"),
        "vec_id", cb, q, k = 50)
        .orderBy(col("score").desc, col("vec_id"))
    }),
    // Trained-codebook PQ (e12t): pqTrainCodebooks END-TO-END under an
    // oracle — the C26 "trained path is spec-only" convention upgraded.
    // Possible because the fixture is dyadic-rational (multiples of 1/16,
    // so every training sum is EXACT: partition-order-proof in Spark and
    // bit-replayable in DuckDB) and the init hash is Md5Portable. iters=1
    // runs the real trainer: portable-hash init + one full Lloyd round
    // (round-6 cosine assignment + per-bucket means).
    "e12t_pq_trained" -> ((s, dir) => {
      val v = table(s, dir, "embeddings").select("vec_id").filter(col("vec_id") < 64)
        .withColumn("vec", transform(sequence(lit(0), lit(7)),
          j => ((col("vec_id") * 7 + j * 13) % 29 - 14) / lit(16.0)))
      val cb = Similarity.pqTrainCodebooks(v, "vec_id", "vec", m = 2, k = 4,
        iters = 1, seed = 42, hashMode = HashMode.Md5Portable)
      val q = (0 until 8).map(j => ((j * 13) % 29 - 14) / 16.0)
      Similarity.pqSearchTopK(
        Similarity.pqEncode(v, "vec", cb).select("vec_id", "codes"),
        "vec_id", cb, q, k = 20)
        .orderBy(col("score").desc, col("vec_id"))
    }),
    // IVF + PQ (C93 / e13): the FAISS-IVFADC composition — corpus bucketed
    // under the e2 coarse quantizer (vec_id < 8) and stored as 8 codes;
    // the query (vec 100's embedding) probes its top-2 buckets and
    // ADC-scans only their codes. Oracle replays bucket assignment (e2's
    // CTE), grid encode (e12's CTE), and the lookup sum exactly.
    "e13_ivfpq_topk" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      val cb = Similarity.pqGridCodebooks(dim = 64, m = 8, k = 16)
      val q = v.filter(col("vec_id") === 100).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.ivfPqTopK(v, v.filter(col("vec_id") < 8), "vec_id", "embedding",
        cb, q, k = 25, nProbe = 2)
        .orderBy(col("score").desc, col("vec_id"))
    }),
    // Persisted IVFADC (C96 / e14): e13 materialized — assignment + PQ
    // encode paid once at writePqIndex, codes partitioned by bucket with
    // centroid/codebook sidecars; the probe is a partition-filtered ADC
    // scan that never reads a float vector or runs an assignment pass.
    // Same semantics as e13, so it shares e13's oracle verbatim.
    // Refined ADC search (e16): the FAISS two-stage composition — the
    // codes-only ADC scan proposes top-10 candidates per probe, then
    // only those candidates' floats are fetched and re-ranked by exact
    // cosine. Quantization artifacts cannot survive into the top-5.
    "e16_refined_search" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      val cb = Similarity.pqGridCodebooks(dim = 64, m = 8, k = 16)
      val cents = v.filter(col("vec_id") < 8)
      val probes = v.filter(col("vec_id").between(100, 104))
      val enc = Similarity.pqEncode(
        Similarity.assignBuckets(v, cents, "vec_id", "embedding")
          .select(col("vid"), col("bucket"), col("__v")), "__v", cb)
        .select(col("vid"), col("bucket"), col("codes"))
      Similarity.pqRefinedTopKBatch(enc, cents, v, probes, "vec_id", "embedding",
        cb, k = 5, refineK = 10, nProbe = 2)
        .orderBy("probe_id", "rnk")
    }),
    "e14_ivfpq_index" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      val cb = Similarity.pqGridCodebooks(dim = 64, m = 8, k = 16)
      val q = v.filter(col("vec_id") === 100).select("embedding")
        .head().getSeq[Float](0).map(_.toDouble).toSeq
      val idx = Fixtures.scratchDir("graft-e14") + "/idx"
      Similarity.writePqIndex(v, v.filter(col("vec_id") < 8), "vec_id", "embedding", cb, idx)
      Similarity.pqIndexTopK(s, idx, "vec_id", q, k = 25, nProbe = 2)
        .orderBy(col("score").desc, col("vec_id"))
    }),
    // Batch probe against the persisted IVFADC index (e17): a probe FRAME
    // against the at-rest codes — the production retrieval workload. The
    // union of the probes' top-2 buckets becomes one isin partition
    // filter on the codes; scoring is the broadcast (probe, bucket, LUT)
    // join. Oracle = e16's batched ADC stage (bucket assignment +
    // grid encode + per-probe lookup sums) ranked per probe.
    "e17_ivfpq_index_batch" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      val cb = Similarity.pqGridCodebooks(dim = 64, m = 8, k = 16)
      val idx = Fixtures.scratchDir("graft-e17") + "/idx"
      Similarity.writePqIndex(v, v.filter(col("vec_id") < 8), "vec_id", "embedding", cb, idx)
      Similarity.pqIndexTopKBatch(s, idx, v.filter(col("vec_id").between(100, 104)),
        "vec_id", "embedding", k = 10, nProbe = 2)
        .orderBy("probe_id", "rnk")
    }),
    // Index-backed refined search (e18): e16's two-stage shape with the
    // candidate stage served by the AT-REST index — codes propose
    // refineK=10 per probe (partition-pruned scan), then a candidate-
    // sized isin-pushed float fetch re-ranks by exact cosine. Identical
    // semantics to the live e16 composition, so it shares e16's oracle
    // verbatim (the e14/e13 precedent).
    "e18_index_refined" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      val cb = Similarity.pqGridCodebooks(dim = 64, m = 8, k = 16)
      val idx = Fixtures.scratchDir("graft-e18") + "/idx"
      Similarity.writePqIndex(v, v.filter(col("vec_id") < 8), "vec_id", "embedding", cb, idx)
      Similarity.pqIndexRefinedTopKBatch(s, idx, v, v.filter(col("vec_id").between(100, 104)),
        "vec_id", "embedding", k = 5, refineK = 10, nProbe = 2)
        .orderBy("probe_id", "rnk")
    }),
    // Embedding near-dup: every 20th vector gets a perturbed copy planted
    // (scaled + shifted -> cosine just under 1); pairs are found within
    // IVF centroid buckets, never corpus².
    "e3_embedding_neardup" -> ((s, dir) =>
      Similarity.withCosineNearDupPairs(
        embNearAug(s, dir), embNearAug(s, dir).filter(col("vec_id") < 8),
        "vec_id", "embedding", threshold = 0.8, bucketCap = EmbBucketCap)(Lineage.cut)
        .orderBy("vec_a", "vec_b")),
    // Centroid-distance outlier report (C49 / e7): the 25 vectors least
    // similar to their own nearest centroid — the embedding-space OOD /
    // garbage surfacing step; e2's assignment, global bottom-k.
    "e7_centroid_outliers" -> ((s, dir) => {
      val v = table(s, dir, "embeddings")
      Similarity.centroidOutliers(v, v.filter(col("vec_id") < 8), "vec_id", "embedding", k = 25)
    }),
    // Random-hyperplane LSH near-dup (C43 / e6): e3's planted fixture
    // through the data-INdependent detector — sign signatures against
    // deterministic ±1 planes, banded buckets, exact-cosine verify. No
    // centroid model, so this is the no-training-pass / streaming-ingest
    // path; the oracle replays the identical plane matrix (inlined
    // constants) with the same left-to-right dot fold.
    "e6_hyperplane_lsh" -> ((s, dir) =>
      Similarity.withHyperplaneLshPairs(
        embNearAug(s, dir), "vec_id", "embedding", dim = HpDim, threshold = 0.8,
        nBits = HpBits, bandBits = HpBandBits, seed = HpSeed, bucketCap = EmbBucketCap)(Lineage.cut)
        .orderBy("vec_a", "vec_b")),
    // Persisted signature index (e19): e6's detector THROUGH DISK — the
    // corpus signatured once into the at-rest (band, bucket, vid) index,
    // then the same corpus probed against it (the d23 "shares its live
    // twin's oracle" precedent). Candidate sets are identical to the e6
    // self-join — a (probe, indexed) pair shares an under-cap bucket
    // exactly when the capped self-join sees it — so filtering to
    // new_id < corpus_id reproduces e6's pair frame verbatim; the occ
    // cap runs as a broadcast anti-join off the occ cache instead of a
    // count window.
    "e19_signature_index" -> ((s, dir) => {
      val v = embNearAug(s, dir)
      val idx = Fixtures.scratchDir("graft-e19") + "/idx"
      Similarity.writeSignatureIndex(v, "vec_id", "embedding", idx,
        dim = HpDim, nBits = HpBits, bandBits = HpBandBits, seed = HpSeed)
      Similarity.pairsAgainstSignatureIndex(s, idx, v, "vec_id", "embedding",
        threshold = 0.8, bucketCap = EmbBucketCap)
        .filter(col("new_id") < col("corpus_id"))
        .select(col("new_id").as("vec_a"), col("corpus_id").as("vec_b"), col("sim"))
        .orderBy("vec_a", "vec_b")
    }),
    // Reproducible sampling + train/val/test split by portable hash:
    // per-language counts of a 20% sample and an 80/10/10 split.
    "s1_hash_sampling" -> ((s, dir) => {
      val d = Sampling.split(
        table(s, dir, "documents"),
        "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 11)
      d.groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        count(when(Sampling.hashFilter(col("doc_id"), 0.2, seed = 7), 1)).as("n_sample"),
        count(when(col("split") === "train", 1)).as("n_train"),
        count(when(col("split") === "val", 1)).as("n_val"),
        count(when(col("split") === "test", 1)).as("n_test"))
        .orderBy("lang")
    }),
    // Exact-proportion stratified split (C48 / s5): per-lang hash rank
    // cut at floor(cum × n) boundaries — every lang within one row of
    // 80/10/10, the per-stratum balance the growth-stable s1 split can't
    // promise.
    "s5_stratified_split" -> ((s, dir) =>
      Sampling.stratifiedSplit(table(s, dir, "documents"), "doc_id", "lang",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 11)
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")),
    // Duplicate-cluster resolution (C31): connected components over the
    // d2 near-dup pairs — transitive duplicates (a~b, b~c) collapse into
    // one cluster keyed by its minimum doc id.
    "d9_dup_clusters" -> dupClusters,
    // C78 / d22: the query contract keeps the name; with one `clusters`
    // algorithm (the large-star/small-star contraction) it is d9 —
    // identical oracle.
    "d22_dup_clusters_star" -> dupClusters,
    // Keep-one-per-cluster pruning (C32 / d10): the end-to-end composition
    // a pipeline user actually runs — d2's pair generator, d9's cluster
    // resolution, then the corpus LEFT ANTI the non-canonical members. The
    // kept ids are cut inside the prune's scope, so the frame stays
    // evaluable after the pair indexes and the cluster cut are released.
    // One hoisted corpus frame feeds BOTH the pair generator and the
    // LEFT ANTI passthrough side (ADVICE r8 #2). Two SCANS remain by
    // design: the index build and the passthrough each read the corpus
    // once, and at 100 TB two pruned columnar scans beat pinning a
    // corpus-sized cache between them — the cut holds the id column only.
    "d10_prune_duplicates" -> ((s, dir) => {
      val corpus = docsNearAug(s, dir)
      Dedup.withJaccardPairs(corpus, "doc_id", "text", ShingleN, DfCap, JaccardThreshold)(
        pairs => Dedup.pruneDuplicates(corpus, pairs, "doc_id")(
          kept => Lineage.cut(kept.select("doc_id"))))
        .orderBy("doc_id")
    }),
    // Corpus rebalancing (C30): per-language keep-rates — down-weight the
    // dominant language, keep the rest at the default — rolled up to
    // kept-counts per language.
    "s2_rebalance" -> ((s, dir) =>
      Sampling.rebalance(
        table(s, dir, "documents"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.25), seed = 13, defaultRate = 0.9)
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
        .orderBy("lang")),
    // Per-source frequency cap (C40 / s3): at most 15 docs per source,
    // hash-ranked — the absolute data-mixing bound a rate cannot give.
    "s3_source_cap" -> ((s, dir) =>
      Sampling.capPerStratum(table(s, dir, "documents"), "doc_id", "source",
        maxPerStratum = 15, seed = 7)
        .select("doc_id", "source")
        .orderBy("doc_id")),
    // Weighted reservoir sample (C142 / s12): Efraimidis–Spirakis A-Res
    // per lang, weight = n_chars (longer docs proportionally likelier) —
    // deterministic through the frozen portable-hash uniform, so the
    // oracle replays the key formula literally (rounded to 6, id
    // tiebreak — the splitThresholds float discipline).
    "s12_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSample(table(s, dir, "documents"), "doc_id", "n_chars",
        "lang", k = 20, seed = 17)
        .select("doc_id", "lang", "rnk")
        .orderBy("doc_id")),
    // Cross-split leakage audit (C41 / s4): the eval-safety check a real
    // pipeline runs AFTER splitting — duplicated documents whose copies
    // straddle the train/test boundary leak evaluation data into
    // training. Composition: hash split over the dup-augmented corpus,
    // then C27's contamination pairing BETWEEN the slices (train docs as
    // corpus, test docs as benchmark). Non-empty by construction here:
    // exact copies split independently of their originals.
    "s4_split_leakage" -> ((s, dir) => {
      val split = Sampling.split(docsDupAug(s, dir).select("doc_id", "text"),
        "doc_id", Seq("train" -> 0.9, "test" -> 0.1), seed = 11)
      val train = split.filter(col("split") === "train").select("doc_id", "text")
      val test = split.filter(col("split") === "test").select("doc_id", "text")
      Dedup.contaminationPairs(train, test, "doc_id", "text", n = 8, threshold = 0.5)
        .orderBy("corpus_id", "bench_id")
    }),
    // Gopher-style repetition signals (C38 / t9): duplicate-token
    // fraction, most-frequent-{2,3}-gram char coverage, duplicated-5-gram
    // char ratio — the repetition family of quality filters.
    "t9_repetition" -> ((s, dir) =>
      TextStats.repetitionSignals(table(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),
    // Int8 quantization report (C39 / e5): per-embedding scale, code
    // bounds, and L2 reconstruction error — the go/no-go readout before
    // a corpus-wide 4x storage rewrite.
    "e5_quantize" -> ((s, dir) =>
      Similarity.quantizationReport(table(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id")),
    // Winnowing fingerprints (rolling k-gram hash, sliding-window minima)
    // over the near-dup corpus: near-copies share most fingerprints.
    "d5_winnowing" -> ((s, dir) =>
      Dedup.winnowingFingerprints(docsNearAug(s, dir), "doc_id", "text", k = 5, window = 4)
        .withColumnRenamed("id", "doc_id")
        .groupBy("doc_id").agg(count(lit(1)).as("n_fp"), min("fp").as("min_fp"), max("fp").as("max_fp"))
        .orderBy("doc_id")),
    // Quality-filter verdicts: per-rule rejection flags + keep decision.
    "t5_quality_filter" -> ((s, dir) =>
      TextStats.qualityFilter(
        table(s, dir, "documents"), "doc_id", "text",
        minTokens = 30, maxTokens = 60, minTypeTokenRatio = 0.25)
        .orderBy("doc_id")),
    // Session-level rollup via the generalized sessionize operator.
    "t6_event_sessions" -> ((s, dir) =>
      graft.operators.Sessionize.byGap(Fixtures.events(s, dir), Seq("user_id"), "ts", "30 minutes")
        .groupBy("user_id", "session_idx")
        .agg(
          count(lit(1)).as("n_events"),
          min(unix_micros(col("ts").cast("timestamp"))).as("start_us"),
          max(unix_micros(col("ts").cast("timestamp"))).as("end_us"))
        .orderBy("user_id", "session_idx")),
    // PII scrub (C28): deterministic synthetic PII appended to each doc
    // (the corpus itself is PII-free), then redaction + span count — the
    // pre-training scrub pass, map-only.
    "t7_pii_redaction" -> ((s, dir) => {
      val d = table(s, dir, "documents").filter(col("doc_id") < 200)
        .select(col("doc_id"),
          concat(col("text"),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com from 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".99")).as("text"))
      d.select(col("doc_id"),
          graft.pipeline.TextOps.piiCount(col("text")).as("n_pii"),
          graft.pipeline.TextOps.redactPii(col("text")).as("redacted"))
        .orderBy("doc_id")
    }),
    // Sequence packing (C29): per-language packs under a 2048-token
    // budget, rolled up to (lang, pack) shape.
    "t8_sequence_packing" -> ((s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "lang", "text")
      graft.pipeline.Packing.packGreedy(d, "doc_id", "text", budget = 2048, groupCols = Seq("lang"))
        .groupBy("lang", "pack_id")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
        .orderBy("lang", "pack_id")
    }),
    "mm1_binary_meta" -> ((s, dir) =>
      Multimodal.decodeStub(
        Multimodal.ingestBinary(
          table(s, dir, "documents").filter(col("doc_id") < 100), "doc_id", "text"))
        .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"), col("meta.digest").as("digest"),
          col("width"), col("height"), col("n_frames"))
        .orderBy("doc_id")))

  // ---- oracles ----

  /** DuckDB twin of TextOps.portableHash(v, seed, part). */
  /** t35's feature frame: 6dp-rounded length/token/type-token features
    * plus the weak label (token 'the' present ⇒ natural prose) — the
    * exact frame the oracle's `f` CTE rebuilds.
    */
  private[graft] def classifierFeatures(docs: DataFrame): DataFrame = {
    val toks = split(col("text"), " ")
    docs.select(col("doc_id"),
      round(col("n_chars") / 1000.0, 6).as("x1"),
      round(size(toks) / lit(100.0), 6).as("x2"),
      round(size(array_distinct(toks)).cast("double") / size(toks), 6).as("x3"),
      when(array_contains(toks, "the"), 1.0).otherwise(0.0).as("y"))
  }

  /** t35's trained gate, the classifier-bootstrapped reference of every
    * chain that uses one: 3 rounds of full-batch logistic GD over
    * [[classifierFeatures]] of `docs` (which needs `doc_id`, `text` and
    * `n_chars`), then the 0.5-threshold scoring. The features are pinned
    * for the training only — each GD round and the scoring read them
    * once. The scored rows (doc_id, x1, x2, x3, y, score, accepted) come
    * back as a [[graft.Lineage.cut]] that the caller owns, so the lazy
    * plan a caller returns reads no released pin.
    */
  private[graft] def classifierScored(docs: DataFrame): DataFrame =
    graft.Lineage.pinned(classifierFeatures(docs)) { f =>
      val w = Classifier.trainLogistic(f, Seq("x1", "x2", "x3"), "y", iters = 3, lr = 1.0)
      graft.Lineage.cut(Classifier.score(f, w, Seq("x1", "x2", "x3"), threshold = 0.5))
    }

  /** st22's oracle: the p9 chain (classifier-selected reference, MKN
    * scoring of the full corpus) with the frozen-cutoff CASE replacing
    * the live ntile — cutoffs read off the ntile buckets exactly the
    * way the setup's calibration run does, then the per-(lang, bucket)
    * census of the converged sink.
    */
  private[graft] def st22OracleSql: String =
    s"""WITH ${logisticCtes(3, 1.0)},
       |acc AS MATERIALIZED (
       |  SELECT doc_id FROM cf CROSS JOIN cw3 w
       |  WHERE round(1/(1+exp(-(w.b + w.w1*x1 + w.w2*x2 + w.w3*x3))), 6) >= 0.5),
       |refd AS MATERIALIZED (
       |  SELECT d.doc_id, d.text FROM documents d JOIN acc USING (doc_id)),
       |${mknNllCtes("refd", "documents")},
       |pl AS MATERIALIZED (
       |  SELECT p.doc_id, l.lang, p.avg_nll,
       |         ntile(3) OVER (PARTITION BY l.lang
       |           ORDER BY p.avg_nll, p.doc_id) AS nb
       |  FROM perdoc p JOIN (SELECT doc_id, lang FROM documents) l USING (doc_id)),
       |cuts AS (
       |  SELECT lang,
       |         max(CASE WHEN nb = 1 THEN avg_nll END) AS c1,
       |         max(CASE WHEN nb = 2 THEN avg_nll END) AS c2
       |  FROM pl GROUP BY lang)
       |SELECT pl.lang,
       |       CAST(CASE WHEN pl.avg_nll <= c.c1 THEN 1
       |                 WHEN pl.avg_nll <= c.c2 THEN 2 ELSE 3 END AS BIGINT) AS bucket,
       |       count(*) AS n, round(avg(pl.avg_nll), 6) AS mean_nll
       |FROM pl JOIN cuts c USING (lang)
       |GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin

  private[graft] def st20OracleSql: String = {
    val scoreExpr = "round(1/(1+exp(-(w.b + w.w1*x1 + w.w2*x2 + w.w3*x3))), 6)"
    s"""WITH ${logisticCtes(3, 1.0)}
       |SELECT doc_id, $scoreExpr AS score
       |FROM cf CROSS JOIN cw3 w
       |WHERE $scoreExpr >= 0.5
       |ORDER BY doc_id""".stripMargin
  }

  /** The unrolled greedy k-center CTE chain: `kv` is the (vector, norm)
    * frame; round r adds `km{r}` (the argmax of the running min-distance
    * among unselected points, ties by id), `ks{r}` (that center's
    * vector), and `kd{r}` (the min-distance column updated against it) —
    * the exact trajectory `Similarity.kCenters` walks, distances rounded
    * 6dp before the running min on both sides.
    */
  private def kCenterCtes(k: Int): String = {
    val base =
      """kv AS (SELECT vec_id, embedding::DOUBLE[] AS e,
        |        sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nn
        |        FROM embeddings),
        |ks1 AS (SELECT vec_id, e, nn FROM kv ORDER BY vec_id LIMIT 1),
        |kd1 AS MATERIALIZED (SELECT v.vec_id,
        |               round(1 - list_dot_product(v.e, c.e) / (v.nn * c.nn), 6) AS mind
        |        FROM kv v CROSS JOIN ks1 c)""".stripMargin
    val rounds = (2 to k).map { r =>
      val prior = (Seq("SELECT vec_id FROM ks1") ++
        (2 until r).map(i => s"SELECT vec_id FROM km$i")).mkString(" UNION ALL ")
      val dist =
        s"""kd$r AS MATERIALIZED (SELECT d.vec_id,
           |         least(d.mind, round(1 - list_dot_product(v.e, c.e) / (v.nn * c.nn), 6)) AS mind
           |         FROM kd${r - 1} d JOIN kv v USING (vec_id) CROSS JOIN ks$r c)""".stripMargin
      val head =
        s"""km$r AS (SELECT d.vec_id, d.mind FROM kd${r - 1} d
           |         WHERE d.vec_id NOT IN ($prior)
           |         ORDER BY d.mind DESC, d.vec_id LIMIT 1),
           |ks$r AS (SELECT v.vec_id, v.e, v.nn FROM kv v JOIN km$r USING (vec_id))""".stripMargin
      if (r < k) head + ",\n" + dist else head
    }
    (base +: rounds).mkString(",\n")
  }

  /** The unrolled logistic-GD CTE chain: `cf` is the feature frame;
    * round r adds `cp{r}` (per-row 6dp sigmoid under the previous
    * weights) and `cw{r}` (the stepped, 6dp-re-rounded weights) — the
    * exact arithmetic `Classifier.trainLogistic` runs, so both engines
    * iterate on identical weight vectors.
    */
  private def logisticCtes(iters: Int, lr: Double, source: String = "documents"): String = {
    val base =
      s"""cf AS (
         |  SELECT doc_id,
         |         round(n_chars / 1000.0, 6) AS x1,
         |         round(len(string_split(text, ' ')) / 100.0, 6) AS x2,
         |         round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
         |               / len(string_split(text, ' ')), 6) AS x3,
         |         CASE WHEN list_contains(string_split(text, ' '), 'the')
         |              THEN 1.0 ELSE 0.0 END AS y
         |  FROM $source)""".stripMargin
    val rounds = (1 to iters).map { r =>
      val z = if (r == 1) "0.0"
        else "w.b + w.w1*x1 + w.w2*x2 + w.w3*x3"
      val from = if (r == 1) "cf" else s"cf CROSS JOIN cw${r - 1} w"
      val prev = (g: String) => if (r == 1) "0.0" else s"max(w.$g)"
      s"""cp$r AS MATERIALIZED (SELECT cf.*, round(1/(1+exp(-($z))), 6) AS s FROM $from),
         |cw$r AS MATERIALIZED (
         |  SELECT round(${prev("b")} - $lr*round(avg(s - y), 6), 6) AS b,
         |         round(${prev("w1")} - $lr*round(avg((s - y)*x1), 6), 6) AS w1,
         |         round(${prev("w2")} - $lr*round(avg((s - y)*x2), 6), 6) AS w2,
         |         round(${prev("w3")} - $lr*round(avg((s - y)*x3), 6), 6) AS w3
         |  FROM cp$r${if (r == 1) "" else s" CROSS JOIN cw${r - 1} w"})""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  /** [[mknNllCtes]] PER GROUP — `TextStats.mknNgramNllAgainst`'s
    * exact twin at order 3 with `groupCols = Seq(grp)`: `modelSrc` and `probeSrc` each expose (doc_id, `grp`,
    * text); every model CTE, the discount estimation, and the totals
    * carry the group key, every scoring join adds a group-equality
    * conjunct, and the totals/discount joins are INNER (a probe doc
    * whose group trained no model is absent from `perdoc` — the CCNet
    * no-reference-no-pass posture). Ends in `perdoc`(doc_id, `grp`,
    * n_tokens, avg_nll).
    */
  private def mknNllByCtes(
      modelSrc: String, probeSrc: String, grp: String): String =
    s"""tokM AS (SELECT doc_id, $grp, string_split(text, ' ') AS ws FROM $modelSrc),
       |pvM AS (
       |  SELECT doc_id, $grp, pos, w,
       |         CASE WHEN pos = 1 THEN NULL ELSE ws[pos - 1] END AS prev,
       |         CASE WHEN pos <= 2 THEN NULL ELSE ws[pos - 2] END AS prev2
       |  FROM (SELECT doc_id, $grp, ws, unnest(ws) AS w,
       |               unnest(range(1, len(ws) + 1)) AS pos FROM tokM)
       |),
       |tri AS (SELECT $grp, prev2, prev, w, count(*) AS ct FROM pvM
       |        WHERE prev2 IS NOT NULL GROUP BY 1, 2, 3, 4),
       |tcc AS (SELECT $grp,
       |          sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS n1,
       |          sum(CASE WHEN ct = 2 THEN 1 ELSE 0 END) AS n2,
       |          sum(CASE WHEN ct = 3 THEN 1 ELSE 0 END) AS n3,
       |          sum(CASE WHEN ct = 4 THEN 1 ELSE 0 END) AS n4
       |        FROM tri GROUP BY 1),
       |tdc AS (SELECT $grp,
       |          CASE WHEN n1 > 0 AND n1 + 2*n2 > 0
       |                AND 1 - 2*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n2/n1 > 0
       |            THEN round(1 - 2*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n2/n1, 6)
       |            ELSE 0.5 END AS d1,
       |          CASE WHEN n2 > 0 AND n1 + 2*n2 > 0
       |                AND 2 - 3*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n3/n2 > 0
       |            THEN round(2 - 3*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n3/n2, 6)
       |            ELSE 1.0 END AS d2,
       |          CASE WHEN n3 > 0 AND n1 + 2*n2 > 0
       |                AND 3 - 4*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n4/n3 > 0
       |            THEN round(3 - 4*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n4/n3, 6)
       |            ELSE 1.5 END AS d3 FROM tcc),
       |tctx AS (SELECT $grp, prev2, prev, CAST(sum(ct) AS BIGINT) AS cuv,
       |           sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS n1uv,
       |           sum(CASE WHEN ct = 2 THEN 1 ELSE 0 END) AS n2uv,
       |           sum(CASE WHEN ct >= 3 THEN 1 ELSE 0 END) AS n3uv
       |         FROM tri GROUP BY 1, 2, 3),
       |bcn AS (SELECT $grp, prev, w, count(*) AS cbc FROM tri GROUP BY 1, 2, 3),
       |bcx AS (SELECT $grp, prev, CAST(sum(cbc) AS BIGINT) AS cbv, count(*) AS n1v
       |        FROM bcn GROUP BY 1, 2),
       |ucn AS (SELECT $grp, w, count(*) AS cuw FROM bcn GROUP BY 1, 2),
       |tot AS (SELECT u.$grp, u.uu, v.vv
       |        FROM (SELECT $grp, count(*) AS uu FROM bcn GROUP BY 1) u
       |        JOIN (SELECT $grp, count(DISTINCT t) AS vv FROM (
       |                SELECT $grp, prev2 AS t FROM tri
       |                UNION ALL SELECT $grp, prev FROM tri
       |                UNION ALL SELECT $grp, w FROM tri)
       |              GROUP BY 1) v USING ($grp)),
       |tokP AS (SELECT doc_id, $grp, string_split(text, ' ') AS ws FROM $probeSrc),
       |pvP AS (
       |  SELECT doc_id, $grp, pos, w,
       |         CASE WHEN pos = 1 THEN NULL ELSE ws[pos - 1] END AS prev,
       |         CASE WHEN pos <= 2 THEN NULL ELSE ws[pos - 2] END AS prev2
       |  FROM (SELECT doc_id, $grp, ws, unnest(ws) AS w,
       |               unnest(range(1, len(ws) + 1)) AS pos FROM tokP)
       |),
       |j AS (
       |  SELECT p.doc_id, p.$grp, p.pos, p.prev, p.prev2,
       |         n.cuw, b.cbc, bx.cbv, bx.n1v, t3.ct,
       |         x.cuv, x.n1uv, x.n2uv, x.n3uv, t.uu, t.vv
       |  FROM pvP p
       |  JOIN tot t ON t.$grp = p.$grp
       |  LEFT JOIN ucn n ON n.$grp = p.$grp AND n.w = p.w
       |  LEFT JOIN bcn b ON b.$grp = p.$grp AND b.prev = p.prev AND b.w = p.w
       |  LEFT JOIN bcx bx ON bx.$grp = p.$grp AND bx.prev = p.prev
       |  LEFT JOIN tri t3 ON t3.$grp = p.$grp AND t3.prev2 = p.prev2
       |                  AND t3.prev = p.prev AND t3.w = p.w
       |  LEFT JOIN tctx x ON x.$grp = p.$grp AND x.prev2 = p.prev2
       |                  AND x.prev = p.prev),
       |k AS (
       |  SELECT doc_id, $grp, pos, prev, prev2, ct, cuv, n1uv, n2uv, n3uv,
       |         (coalesce(cuw, 0) + 1.0) / (uu + vv) AS pug,
       |         CASE WHEN cbv IS NULL OR (cbc IS NULL AND cuw IS NULL)
       |              THEN (coalesce(cuw, 0) + 1.0) / (uu + vv)
       |              ELSE (greatest(coalesce(cbc, 0) - 0.75, 0.0)
       |                    + 0.75 * n1v * (coalesce(cuw, 0) / CAST(uu AS DOUBLE))) / cbv
       |         END AS pb
       |  FROM j),
       |scored AS (
       |  SELECT doc_id, k.$grp, pos,
       |    CASE WHEN prev IS NULL THEN ln(pug)
       |         WHEN prev2 IS NULL OR cuv IS NULL THEN ln(pb)
       |         ELSE ln((CASE WHEN ct IS NULL THEN 0.0
       |                       ELSE greatest(ct - (CASE WHEN ct = 1 THEN d.d1
       |                                                WHEN ct = 2 THEN d.d2
       |                                                ELSE d.d3 END), 0.0) END) / cuv
       |                 + ((d.d1*n1uv + d.d2*n2uv + d.d3*n3uv) / cuv) * pb)
       |    END AS lnp
       |  FROM k JOIN tdc d ON d.$grp = k.$grp),
       |perdoc AS (
       |  SELECT doc_id, $grp, count(*) AS n_tokens,
       |         round(-list_reduce(list(lnp ORDER BY pos), (acc, x) -> acc + x)
       |               / count(*), 6) AS avg_nll
       |  FROM scored GROUP BY 1, 2
       |)""".stripMargin

  /** The modified-Kneser–Ney trigram chain (`TextStats.
    * mknNgramNllAgainst`'s exact twin at order 3, the t45 machinery
    * parameterized): trains the model on `modelSrc` and scores
    * `probeSrc` (each any relation exposing doc_id, text), ending in
    * `perdoc`(doc_id, n_tokens, avg_nll). Count-binned discounts from
    * exact count-of-counts with the per-bin KenLM fallback, the binned
    * top-order discount CASE, the continuation bigram level at d=0.75,
    * the add-1 guard routing, the position-ordered fold.
    */
  private def mknNllCtes(modelSrc: String, probeSrc: String): String =
    s"""tokM AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $modelSrc),
       |pvM AS (
       |  SELECT doc_id, pos, w,
       |         CASE WHEN pos = 1 THEN NULL ELSE ws[pos - 1] END AS prev,
       |         CASE WHEN pos <= 2 THEN NULL ELSE ws[pos - 2] END AS prev2
       |  FROM (SELECT doc_id, ws, unnest(ws) AS w,
       |               unnest(range(1, len(ws) + 1)) AS pos FROM tokM)
       |),
       |tri AS (SELECT prev2, prev, w, count(*) AS ct FROM pvM WHERE prev2 IS NOT NULL
       |        GROUP BY 1, 2, 3),
       |tcc AS (SELECT
       |          sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS n1,
       |          sum(CASE WHEN ct = 2 THEN 1 ELSE 0 END) AS n2,
       |          sum(CASE WHEN ct = 3 THEN 1 ELSE 0 END) AS n3,
       |          sum(CASE WHEN ct = 4 THEN 1 ELSE 0 END) AS n4 FROM tri),
       |tdc AS (SELECT
       |          CASE WHEN n1 > 0 AND n1 + 2*n2 > 0
       |                AND 1 - 2*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n2/n1 > 0
       |            THEN round(1 - 2*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n2/n1, 6)
       |            ELSE 0.5 END AS d1,
       |          CASE WHEN n2 > 0 AND n1 + 2*n2 > 0
       |                AND 2 - 3*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n3/n2 > 0
       |            THEN round(2 - 3*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n3/n2, 6)
       |            ELSE 1.0 END AS d2,
       |          CASE WHEN n3 > 0 AND n1 + 2*n2 > 0
       |                AND 3 - 4*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n4/n3 > 0
       |            THEN round(3 - 4*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n4/n3, 6)
       |            ELSE 1.5 END AS d3 FROM tcc),
       |tctx AS (SELECT prev2, prev, CAST(sum(ct) AS BIGINT) AS cuv,
       |           sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS n1uv,
       |           sum(CASE WHEN ct = 2 THEN 1 ELSE 0 END) AS n2uv,
       |           sum(CASE WHEN ct >= 3 THEN 1 ELSE 0 END) AS n3uv
       |         FROM tri GROUP BY 1, 2),
       |bcn AS (SELECT prev, w, count(*) AS cbc FROM tri GROUP BY 1, 2),
       |bcx AS (SELECT prev, CAST(sum(cbc) AS BIGINT) AS cbv, count(*) AS n1v
       |        FROM bcn GROUP BY 1),
       |ucn AS (SELECT w, count(*) AS cuw FROM bcn GROUP BY 1),
       |tot AS (SELECT (SELECT count(*) FROM bcn) AS uu,
       |          (SELECT count(DISTINCT t) FROM (
       |             SELECT prev2 AS t FROM tri UNION ALL SELECT prev FROM tri
       |             UNION ALL SELECT w FROM tri)) AS vv),
       |tokP AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $probeSrc),
       |pvP AS (
       |  SELECT doc_id, pos, w,
       |         CASE WHEN pos = 1 THEN NULL ELSE ws[pos - 1] END AS prev,
       |         CASE WHEN pos <= 2 THEN NULL ELSE ws[pos - 2] END AS prev2
       |  FROM (SELECT doc_id, ws, unnest(ws) AS w,
       |               unnest(range(1, len(ws) + 1)) AS pos FROM tokP)
       |),
       |j AS (
       |  SELECT p.doc_id, p.pos, p.prev, p.prev2,
       |         n.cuw, b.cbc, bx.cbv, bx.n1v, t3.ct,
       |         x.cuv, x.n1uv, x.n2uv, x.n3uv, t.uu, t.vv
       |  FROM pvP p
       |  LEFT JOIN ucn n ON n.w = p.w
       |  LEFT JOIN bcn b ON b.prev = p.prev AND b.w = p.w
       |  LEFT JOIN bcx bx ON bx.prev = p.prev
       |  LEFT JOIN tri t3 ON t3.prev2 = p.prev2 AND t3.prev = p.prev AND t3.w = p.w
       |  LEFT JOIN tctx x ON x.prev2 = p.prev2 AND x.prev = p.prev
       |  CROSS JOIN tot t),
       |k AS (
       |  SELECT doc_id, pos, prev, prev2, ct, cuv, n1uv, n2uv, n3uv,
       |         (coalesce(cuw, 0) + 1.0) / (uu + vv) AS pug,
       |         CASE WHEN cbv IS NULL OR (cbc IS NULL AND cuw IS NULL)
       |              THEN (coalesce(cuw, 0) + 1.0) / (uu + vv)
       |              ELSE (greatest(coalesce(cbc, 0) - 0.75, 0.0)
       |                    + 0.75 * n1v * (coalesce(cuw, 0) / CAST(uu AS DOUBLE))) / cbv
       |         END AS pb
       |  FROM j),
       |scored AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN prev IS NULL THEN ln(pug)
       |         WHEN prev2 IS NULL OR cuv IS NULL THEN ln(pb)
       |         ELSE ln((CASE WHEN ct IS NULL THEN 0.0
       |                       ELSE greatest(ct - (CASE WHEN ct = 1 THEN d.d1
       |                                                WHEN ct = 2 THEN d.d2
       |                                                ELSE d.d3 END), 0.0) END) / cuv
       |                 + ((d.d1*n1uv + d.d2*n2uv + d.d3*n3uv) / cuv) * pb)
       |    END AS lnp
       |  FROM k CROSS JOIN tdc d),
       |perdoc AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |         list_reduce(list(lnp ORDER BY pos), (acc, x) -> acc + x) AS s,
       |         round(-list_reduce(list(lnp ORDER BY pos), (acc, x) -> acc + x)
       |               / count(*), 6) AS avg_nll
       |  FROM scored GROUP BY doc_id
       |)""".stripMargin

  /** [[mknNllCtes]] generalized to ORDER n — `mknNgramNllAgainst`'s
    * exact twin: prev columns p1..p{n−1} (pj = the token j back, NULL
    * when pos ≤ j), the raw n-gram table with binned top-order
    * discounts, one continuation table per middle level (each derived
    * from the level above — never from the corpus), context/totals
    * aggregations, and the level chain pug → pl2 → … → plTop as
    * CHAINED CTEs (each level referenced by name, the same
    * materialize-per-level discipline as the Spark side). Ends in
    * `perdoc`(doc_id, n_tokens, avg_nll).
    */
  private def mknNgramNllCtes(modelSrc: String, probeSrc: String, n: Int): String = {
    require(n >= 3, s"order must be >= 3, got $n")
    val ctx = (j: Int) => (j to 1 by -1).map(i => s"p$i")
    def prevCases(src: String) =
      s"""SELECT doc_id, pos, w,
         |         ${(1 until n).map(j =>
              s"CASE WHEN pos <= $j THEN NULL ELSE ws[pos - $j] END AS p$j")
              .mkString(",\n|         ")}
         |  FROM (SELECT doc_id, ws, unnest(ws) AS w,
         |               unnest(range(1, len(ws) + 1)) AS pos FROM $src)""".stripMargin
    val topKeys = ctx(n - 1).mkString(", ")
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    parts += s"tokM AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $modelSrc)"
    parts += s"pvM AS (\n  ${prevCases("tokM")}\n)"
    parts += s"""gN AS (SELECT $topKeys, w, count(*) AS ct FROM pvM
       |       WHERE p${n - 1} IS NOT NULL GROUP BY ALL)""".stripMargin
    parts += """tcc AS (SELECT
       |          sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS n1,
       |          sum(CASE WHEN ct = 2 THEN 1 ELSE 0 END) AS n2,
       |          sum(CASE WHEN ct = 3 THEN 1 ELSE 0 END) AS n3,
       |          sum(CASE WHEN ct = 4 THEN 1 ELSE 0 END) AS n4 FROM gN)""".stripMargin
    parts += """tdc AS (SELECT
       |          CASE WHEN n1 > 0 AND n1 + 2*n2 > 0
       |                AND 1 - 2*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n2/n1 > 0
       |            THEN round(1 - 2*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n2/n1, 6)
       |            ELSE 0.5 END AS d1,
       |          CASE WHEN n2 > 0 AND n1 + 2*n2 > 0
       |                AND 2 - 3*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n3/n2 > 0
       |            THEN round(2 - 3*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n3/n2, 6)
       |            ELSE 1.0 END AS d2,
       |          CASE WHEN n3 > 0 AND n1 + 2*n2 > 0
       |                AND 3 - 4*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n4/n3 > 0
       |            THEN round(3 - 4*(CAST(n1 AS DOUBLE)/(n1+2*n2))*n4/n3, 6)
       |            ELSE 1.5 END AS d3 FROM tcc)""".stripMargin
    parts += s"""tctx AS (SELECT $topKeys, CAST(sum(ct) AS BIGINT) AS cuv,
       |           sum(CASE WHEN ct = 1 THEN 1 ELSE 0 END) AS n1uv,
       |           sum(CASE WHEN ct = 2 THEN 1 ELSE 0 END) AS n2uv,
       |           sum(CASE WHEN ct >= 3 THEN 1 ELSE 0 END) AS n3uv
       |         FROM gN GROUP BY ALL)""".stripMargin
    for (k <- (n - 1) to 1 by -1) {
      val src = if (k == n - 1) "gN" else s"gc${k + 1}"
      val keys = (ctx(k - 1) :+ "w").mkString(", ")
      parts += s"gc$k AS (SELECT $keys, count(*) AS c$k FROM $src GROUP BY ALL)"
    }
    for (k <- 2 until n) {
      val keys = ctx(k - 1).mkString(", ")
      parts += s"""cx$k AS (SELECT $keys, CAST(sum(c$k) AS BIGINT) AS cv$k,
         |        count(*) AS n1v$k FROM gc$k GROUP BY ALL)""".stripMargin
    }
    val vvUnion = ((1 until n).map(j => s"SELECT p$j AS t FROM gN") :+
      "SELECT w FROM gN").mkString(" UNION ALL ")
    parts += s"""tot AS (SELECT (SELECT count(*) FROM gc2) AS uu,
       |          (SELECT count(DISTINCT t) FROM ($vvUnion)) AS vv)""".stripMargin
    parts += s"tokP AS (SELECT doc_id, string_split(text, ' ') AS ws FROM $probeSrc)"
    parts += s"pvP AS (\n  ${prevCases("tokP")}\n)"
    val midJoins = (2 until n).map { k =>
      val on1 = (ctx(k - 1).map(c => s"g$k.$c = p.$c") :+ s"g$k.w = p.w").mkString(" AND ")
      val on2 = ctx(k - 1).map(c => s"x$k.$c = p.$c").mkString(" AND ")
      s"""  LEFT JOIN gc$k g$k ON $on1
         |  LEFT JOIN cx$k x$k ON $on2""".stripMargin
    }.mkString("\n")
    val onTop = (ctx(n - 1).map(c => s"tN.$c = p.$c") :+ "tN.w = p.w").mkString(" AND ")
    val onTctx = ctx(n - 1).map(c => s"xN.$c = p.$c").mkString(" AND ")
    val selMid = (2 until n).map(k => s"g$k.c$k, x$k.cv$k, x$k.n1v$k").mkString(", ")
    parts += s"""j AS (
       |  SELECT p.doc_id, p.pos, ${(1 until n).map(j => s"p.p$j").mkString(", ")},
       |         g1.c1, $selMid, tN.ct, xN.cuv, xN.n1uv, xN.n2uv, xN.n3uv,
       |         t.uu, t.vv
       |  FROM pvP p
       |  LEFT JOIN gc1 g1 ON g1.w = p.w
       |$midJoins
       |  LEFT JOIN gN tN ON $onTop
       |  LEFT JOIN tctx xN ON $onTctx
       |  CROSS JOIN tot t)""".stripMargin
    parts += s"""k2 AS (
       |  SELECT *,
       |         (coalesce(c1, 0) + 1.0) / (uu + vv) AS pug,
       |         CASE WHEN cv2 IS NULL OR (c2 IS NULL AND c1 IS NULL)
       |              THEN (coalesce(c1, 0) + 1.0) / (uu + vv)
       |              ELSE (greatest(coalesce(c2, 0) - 0.75, 0.0)
       |                    + 0.75 * n1v2 * (coalesce(c1, 0) / CAST(uu AS DOUBLE))) / cv2
       |         END AS pl2
       |  FROM j)""".stripMargin
    for (k <- 3 until n) {
      parts += s"""k$k AS (
         |  SELECT *,
         |         CASE WHEN cv$k IS NULL THEN pl${k - 1}
         |              ELSE greatest(coalesce(c$k, 0) - 0.75, 0.0) / cv$k
         |                   + (0.75 * n1v$k / cv$k) * pl${k - 1}
         |         END AS pl$k
         |  FROM k${k - 1})""".stripMargin
    }
    val posCases = (2 until n)
      .map(k => s"WHEN p$k IS NULL THEN ln(pl$k)").mkString("\n|         ")
    parts += s"""kt AS (
       |  SELECT *,
       |         CASE WHEN cuv IS NULL THEN pl${n - 1}
       |              ELSE (CASE WHEN ct IS NULL THEN 0.0
       |                         ELSE greatest(ct - (CASE WHEN ct = 1 THEN d.d1
       |                                                  WHEN ct = 2 THEN d.d2
       |                                                  ELSE d.d3 END), 0.0) END) / cuv
       |                   + ((d.d1*n1uv + d.d2*n2uv + d.d3*n3uv) / cuv) * pl${n - 1}
       |         END AS plTop
       |  FROM k${n - 1} CROSS JOIN tdc d)""".stripMargin
    parts += s"""scored AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN p1 IS NULL THEN ln(pug)
       |         $posCases
       |         ELSE ln(plTop) END AS lnp
       |  FROM kt)""".stripMargin
    parts += """perdoc AS (
       |  SELECT doc_id, count(*) AS n_tokens,
       |         round(-list_reduce(list(lnp ORDER BY pos), (acc, x) -> acc + x)
       |               / count(*), 6) AS avg_nll
       |  FROM scored GROUP BY doc_id)""".stripMargin
    parts.mkString(",\n")
  }

  /** The unrolled-BPE CTE chain (the e21 fixed-iteration discipline):
    * `bw0` is the distinct-word table with char-split segmentations;
    * round r adds `bpR` (freq-weighted adjacent-pair counts), `bmR` (the
    * argmax merge, tie-broken (n DESC, lhs, rhs)), and `bwR` (the
    * segmentation after applying the merge via a greedy-left
    * `list_reduce` fold — the exact fold `Bpe.applyMerge` runs, so both
    * engines resolve overlaps like "a a a" under (a,a) identically).
    * LEFT JOIN ON TRUE keeps `bwR` total when a round runs out of pairs.
    */
  /** `TextOps.gpt2PreTokenize`'s RE2 twin: substitute U+FFFD for any
    * pre-existing sentinel (the loud in-band marker — never a silent
    * delete), insert U+001F immediately BEFORE each whitespace char
    * that a non-space follows (cutting a whitespace run before its
    * last char — the lookahead-free rewrite of the canonical pattern's
    * `\s+(?!\S)` branch), extract with the shared sentinel-excluding
    * pattern. Exact except the documented `\s` edge: RE2 excludes
    * vertical tab where Java includes it.
    */
  private val Gpt2TokSql = {
    val p = """''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+""" +
      """| ?[^\s\p{L}\p{N}\x1F]+|\s+"""
    s"""regexp_extract_all(regexp_replace(regexp_replace(text, '${"\\"}x1F', chr(65533), 'g'),
       |      '(${"\\"}s)(${"\\"}S)', chr(31) || '${"\\"}1${"\\"}2', 'g'), '$p')""".stripMargin
  }

  private def bpeCtes(k: Int, source: String = "documents",
      byteLevel: Boolean = false,
      tokExpr: String = "string_split(text, ' ')"): String = {
    // Byte grain: hex(encode(word)) is uppercase UTF-8 hex in BOTH
    // engines, split into hex pairs — the exact Bpe.initSeg twin.
    val segInit =
      if (byteLevel)
        s"trim(regexp_replace(hex(encode(word)), '(..)', '${"\\"}1 ', 'g'))"
      else s"trim(regexp_replace(word, '(.)', '${"\\"}1 ', 'g'))"
    val base =
      s"""bw0 AS MATERIALIZED (
         |  SELECT word, count(*) AS freq,
         |         $segInit AS seg
         |  FROM (SELECT unnest($tokExpr) AS word FROM $source)
         |  GROUP BY word)""".stripMargin
    val rounds = (1 to k).map { r =>
      s"""bp$r AS MATERIALIZED (
         |  SELECT syms[i] AS lhs, syms[i+1] AS rhs, CAST(sum(freq) AS BIGINT) AS n
         |  FROM (SELECT freq, string_split(seg, ' ') AS syms FROM bw${r - 1}),
         |       UNNEST(range(1, len(syms))) AS t(i)
         |  GROUP BY 1, 2),
         |bm$r AS (SELECT lhs, rhs, lhs||rhs AS merged, n FROM bp$r
         |         ORDER BY n DESC, lhs, rhs LIMIT 1),
         |bw$r AS MATERIALIZED (
         |  SELECT word, freq, CASE WHEN bm$r.lhs IS NULL THEN seg ELSE
         |    list_reduce(string_split(seg, ' '), (acc, x) -> CASE
         |      WHEN string_split(acc, ' ')[-1] = bm$r.lhs AND x = bm$r.rhs
         |      THEN left(acc, length(acc) - length(bm$r.lhs)) || bm$r.merged
         |      ELSE acc || ' ' || x END) END AS seg
         |  FROM bw${r - 1} LEFT JOIN bm$r ON TRUE)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  /** The piece→id vocabulary CTEs over a `bpeCtes(k)` chain — the exact
    * [[graft.pipeline.Bpe.pieceVocab]] rule: alphabet (distinct code
    * points of the word table, binary-sorted — DuckDB's default string
    * order IS binary UTF-8, same as Spark's) takes ids first, merge
    * outputs follow in learn order, surface collisions keep the first
    * id and ids stay dense. Ends in `pv(piece, piece_id)`.
    */
  private def pieceVocabCtes(k: Int): String = {
    val steps = (1 to k).map(r => s"SELECT $r AS step, merged FROM bm$r")
      .mkString(" UNION ALL ")
    s"""pvA AS (
       |  SELECT DISTINCT unnest(string_split(
       |    trim(regexp_replace(word, '(.)', '${"\\"}1 ', 'g')), ' ')) AS piece
       |  FROM bw0),
       |pvO AS (
       |  SELECT piece, row_number() OVER (ORDER BY piece) AS ord FROM pvA
       |  UNION ALL
       |  SELECT merged, (SELECT count(*) FROM pvA) + step FROM ($steps)),
       |pv AS (
       |  SELECT piece, row_number() OVER (ORDER BY minord) - 1 AS piece_id
       |  FROM (SELECT piece, min(ord) AS minord FROM pvO GROUP BY piece))""".stripMargin
  }

  /** The unigram Viterbi DP as a RECURSIVE CTE — `Unigram.viterbiSeg`'s
    * exact twin: the dp array of (lp, seg) structs grows one position
    * per recursion step; candidates extend dp[j−1] with the piece at
    * symbols j..i, single symbols falling back to `unk`;
    * `list_sort(...)[-1]` is the same max-struct tie-break as Spark's
    * `array_max` (lp first, then seg in binary UTF-8 order). Positions
    * step in SYMBOLS of width `w` over the `rep` column the source
    * carries (rep = word at the code-point grain, `hex(encode(word))`
    * at the byte grain — uppercase UTF-8 hex in both engines, the
    * Bpe.initSeg portability trick). Ends in `out`(word, freq, seg).
    * Requires the statement to open with WITH RECURSIVE.
    */
  private def unigramDpCte(
      tag: String, vm: String, src: String, out: String, L: Int,
      w: Int = 1): String = {
    val piece = s"substr(rep, (j - 1) * $w + 1, (i + 2 - j) * $w)"
    s"""dp$tag AS (
       |  SELECT word, freq, rep, 0 AS i,
       |         [struct_pack(lp := CAST(0.0 AS DOUBLE), seg := '')] AS acc
       |  FROM $src
       |  UNION ALL
       |  SELECT word, freq, rep, i + 1,
       |    list_append(acc, list_sort(list_filter(
       |        list_transform(range(greatest(1, i + 2 - $L), i + 2),
       |          j -> struct_pack(
       |            lp := acc[j].lp + (CASE WHEN i + 2 - j = 1
       |                   THEN coalesce(m[$piece][1], unk)
       |                   ELSE m[$piece][1] END),
       |            seg := acc[j].seg || ' ' || $piece)),
       |        x -> x.lp IS NOT NULL))[-1])
       |  FROM dp$tag CROSS JOIN $vm WHERE i < length(rep) // $w
       |),
       |$out AS MATERIALIZED (
       |  SELECT word, freq, ltrim(acc[length(rep) // $w + 1].seg) AS seg
       |  FROM dp$tag WHERE i = length(rep) // $w)""".stripMargin
  }

  /** The unigram-LM training chain — `Unigram.train`'s exact replay:
    * occurrence-weighted substring seed (alphabet + top-`seedMulti`
    * multi-symbol), `iters` Viterbi-EM rounds (each: the current vocab
    * as a one-row map, the DP CTE, piece-mass re-estimation with +1
    * alphabet smoothing, zero-mass multi-symbol pieces dropped), then
    * the prune to `vocabSize` with one final renormalize. Ends in
    * `ufin`(piece, mass, lp) — logps `round(ln(mass/total), 6)` over
    * exact integer masses at every stage, the repo's cross-engine
    * transcendental discipline. `w`/`tokExpr` select the symbol grain
    * and tokenizer (the Unigram byteLevel/tokenizer train parameters):
    * at w=2 the word representation is `hex(encode(word))` and every
    * position/length check scales by the symbol width — the exact
    * in-engine generalization. Must run under WITH RECURSIVE.
    */
  private def unigramCtes(
      iters: Int, L: Int, seedMulti: Int, vocabSize: Int,
      source: String = "documents", w: Int = 1,
      tokExpr: String = "string_split(text, ' ')"): String = {
    val repExpr = if (w == 1) "word" else "hex(encode(word))"
    val parts = scala.collection.mutable.ArrayBuffer(
      s"""uw AS MATERIALIZED (
         |  SELECT word, count(*) AS freq, $repExpr AS rep
         |  FROM (SELECT unnest($tokExpr) AS word FROM $source)
         |  GROUP BY word)""".stripMargin,
      s"""useed AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS mass
         |  FROM (SELECT freq, substr(rep, (i - 1) * $w + 1, l * $w) AS piece
         |        FROM uw, UNNEST(range(1, length(rep) // $w + 1)) AS t(i),
         |             UNNEST(range(1, least($L, length(rep) // $w - i + 1) + 1)) AS u(l))
         |  GROUP BY piece)""".stripMargin,
      s"""uv0 AS MATERIALIZED (
         |  SELECT piece, mass,
         |         round(ln(CAST(mass AS DOUBLE) /
         |           (SELECT CAST(sum(mass) AS DOUBLE) FROM usel0)), 6) AS lp
         |  FROM usel0)""".stripMargin)
    parts.insert(2,
      s"""usel0 AS MATERIALIZED (
         |  SELECT piece, mass FROM useed WHERE length(piece) = $w
         |  UNION ALL
         |  SELECT piece, mass FROM (
         |    SELECT piece, mass, row_number() OVER (ORDER BY mass DESC, piece) AS rk
         |    FROM useed WHERE length(piece) > $w) WHERE rk <= $seedMulti)""".stripMargin)
    for (r <- 1 to iters) {
      parts += s"""uvm$r AS (
         |  SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS m,
         |         round(ln(0.5 / CAST(sum(mass) AS DOUBLE)), 6) AS unk
         |  FROM uv${r - 1})""".stripMargin
      parts += unigramDpCte(s"u$r", s"uvm$r", "uw", s"useg$r", L, w)
      parts += s"""umass$r AS MATERIALIZED (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS em
         |  FROM (SELECT freq, unnest(string_split(seg, ' ')) AS piece FROM useg$r)
         |  GROUP BY piece)""".stripMargin
      parts += s"""uv$r AS MATERIALIZED (
         |  SELECT piece, mass,
         |         round(ln(CAST(mass AS DOUBLE) / (SELECT CAST(sum(mass) AS DOUBLE) FROM (
         |           SELECT coalesce(em, 0) + (CASE WHEN length(v.piece) = $w THEN 1 ELSE 0 END) AS mass
         |           FROM uv${r - 1} v LEFT JOIN umass$r USING (piece)) WHERE mass > 0)), 6) AS lp
         |  FROM (SELECT v.piece, coalesce(em, 0) + (CASE WHEN length(v.piece) = $w THEN 1 ELSE 0 END) AS mass
         |        FROM uv${r - 1} v LEFT JOIN umass$r USING (piece))
         |  WHERE mass > 0)""".stripMargin
    }
    parts += s"""upr AS MATERIALIZED (
         |  SELECT piece, mass FROM uv$iters WHERE length(piece) = $w
         |  UNION ALL
         |  SELECT piece, mass FROM (
         |    SELECT piece, mass, row_number() OVER (ORDER BY mass DESC, piece) AS rk
         |    FROM uv$iters WHERE length(piece) > $w)
         |  WHERE rk <= $vocabSize - (SELECT count(*) FROM uv$iters WHERE length(piece) = $w))""".stripMargin
    parts += s"""ufin AS MATERIALIZED (
         |  SELECT piece, mass,
         |         round(ln(CAST(mass AS DOUBLE) /
         |           (SELECT CAST(sum(mass) AS DOUBLE) FROM upr)), 6) AS lp
         |  FROM upr)""".stripMargin
    parts.mkString(",\n")
  }

  /** p7/p8's shared gate prefix: the augmented corpus, the script-gate
    * formulas, the classifier CTEs, ending in `p7g2` — the gated
    * corpus both tokenizer-pipeline oracles train on.
    */
  private def tokenizerGateCtes: String = {
    val scoreExpr = "round(1/(1+exp(-(w.b + w.w1*x1 + w.w2*x2 + w.w3*x3))), 6)"
    s"""p7c AS (
       |  SELECT doc_id, lang, text, n_chars FROM documents
       |  UNION ALL
       |  SELECT CAST(v.id AS BIGINT), 'xx', v.t, CAST(length(v.t) AS BIGINT) FROM (VALUES
       |    (300000, 'привет мир как дела сегодня'),
       |    (300001, '你好世界 机器学习 数据'),
       |    (300002, 'click здесь for бесплатно prizes'),
       |    (300003, '1234567890 555 0142')) v(id, t)),
       |p7s AS (
       |  SELECT doc_id,
       |    round((length(text) - length(regexp_replace(text, '${"\\"}p{Latin}', '', 'g')))
       |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS f_latin,
       |    round((length(text) - length(regexp_replace(text, '${"\\"}p{Cyrillic}', '', 'g')))
       |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS f_cyrillic,
       |    round((length(text) - length(regexp_replace(text, '${"\\"}p{Han}', '', 'g')))
       |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS f_han,
       |    round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
       |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS f_digit
       |  FROM p7c),
       |p7g1 AS MATERIALIZED (
       |  SELECT c.* FROM p7c c JOIN p7s s USING (doc_id)
       |  WHERE greatest(s.f_latin, s.f_cyrillic, s.f_han, s.f_digit) > 0
       |    AND s.f_latin = greatest(s.f_latin, s.f_cyrillic, s.f_han, s.f_digit)
       |    AND ((s.f_latin >= 0.2)::INT + (s.f_cyrillic >= 0.2)::INT
       |         + (s.f_han >= 0.2)::INT + (s.f_digit >= 0.2)::INT) < 2),
       |${logisticCtes(3, 1.0, "p7g1")},
       |p7g2 AS MATERIALIZED (
       |  SELECT g.* FROM p7g1 g JOIN cf USING (doc_id) CROSS JOIN cw3 w
       |  WHERE $scoreExpr >= 0.5)""".stripMargin
  }

  /** t44's feature SELECT over `source` — the exact [[langidFeatures]]
    * arithmetic: char trigrams (spanning spaces), portable-hash mod-8
    * buckets, 6dp fractions, the positional class index.
    */
  private def langidFeatureSql(source: String): String = {
    val B = LangidBuckets
    val hash = sqlHash(LangidSeed, "t")
    val xcols = (0 until B).map(b =>
      s"round(len(list_filter(bs, v -> v = $b)) / CAST(greatest(len(bs), 1) AS DOUBLE), 6) AS x$b")
      .mkString(",\n|         ")
    val ycase = LangidLangs.zipWithIndex
      .map { case (l, k) => s"WHEN '$l' THEN $k" }.mkString(" ")
    s"""SELECT doc_id, lang, CASE lang $ycase END AS y,
       |         $xcols
       |  FROM (
       |    SELECT doc_id, lang,
       |           list_transform(
       |             list_transform(range(1, length(text) - 1), i -> substr(text, i, 3)),
       |             t -> $hash % $B) AS bs
       |    FROM $source)""".stripMargin
  }

  /** t44/st21's seed VALUES as a CTE named `lseed`. */
  private def langidSeedCte: String = {
    val seedValues = LangidSeeds
      .map { case (id, l, t) => s"($id, '$l', '$t')" }.mkString(",\n|    ")
    s"""lseed AS (
       |  SELECT CAST(v.id AS BIGINT) AS doc_id, v.lang, v.text FROM (VALUES
       |    $seedValues) v(id, lang, text))""".stripMargin
  }

  /** t44/st21's shared scoring tail: (prob column exprs under the
    * `sw{iters}` weights as `w`, the argmax CASE to a language label —
    * ties to the lowest class, the scoreSoftmax law).
    */
  private def softmaxScoreExprs: (String, String) = {
    val K = LangidLangs.size
    val B = LangidBuckets
    def zf(k: Int): String =
      s"(w.w${k}_0 ${(0 until B).map(i => s"+ x$i*w.w${k}_${i + 1}").mkString(" ")})"
    val denomF = (0 until K).map(j => s"exp(${zf(j)})").mkString(" + ")
    val pF = (0 until K)
      .map(k => s"round(exp(${zf(k)}) / ($denomF), 6) AS p$k").mkString(",\n|    ")
    val g = s"greatest(${(0 until K).map(k => s"p$k").mkString(", ")})"
    val predCase = (0 until K)
      .map(k => s"WHEN p$k = $g THEN '${LangidLangs(k)}'").mkString("\n|         ")
    (pF, predCase)
  }

  /** st21's oracle: t44's machinery scoring the CORPUS only (the
    * stream), confusion keyed (lang, routed) — exposed here because
    * the softmax CTE builders live with their siblings.
    */
  private[graft] def st21OracleSql: String = {
    val (pF, predCase) = softmaxScoreExprs
    s"""WITH $langidSeedCte,
       |sfs AS MATERIALIZED (
       |  ${langidFeatureSql("lseed")}),
       |${softmaxCtes(8, 1.0)},
       |sfa AS (
       |  ${langidFeatureSql("documents")}),
       |fsc AS (
       |  SELECT sfa.*,
       |    $pF
       |  FROM sfa CROSS JOIN sw8 w),
       |fp AS (
       |  SELECT lang, CASE $predCase END AS routed
       |  FROM fsc)
       |SELECT lang, routed, count(*) AS n
       |FROM fp GROUP BY 1, 2 ORDER BY lang, routed""".stripMargin
  }

  /** The unrolled softmax-GD CTE chain (the logisticCtes discipline at
    * K classes): round r adds `sp{r}` (per-row 6dp softmax probs under
    * the previous weights — unstabilized exp, denominator folded in
    * class order, exactly [[graft.pipeline.Classifier]]'s arithmetic)
    * and `sw{r}` (the K·(d+1) stepped, 6dp-re-rounded weights). Trains
    * on `sfs`.
    */
  private def softmaxCtes(iters: Int, lr: Double): String = {
    val K = LangidLangs.size
    val B = LangidBuckets
    def z(k: Int, withW: Boolean): String =
      if (!withW) "0.0"
      else s"(w.w${k}_0 ${(0 until B).map(i => s"+ x$i*w.w${k}_${i + 1}").mkString(" ")})"
    def pExprs(withW: Boolean): String = {
      val denom = (0 until K).map(j => s"exp(${z(j, withW)})").mkString(" + ")
      (0 until K).map(k => s"round(exp(${z(k, withW)}) / ($denom), 6) AS p$k")
        .mkString(",\n|    ")
    }
    val rounds = (1 to iters).map { r =>
      val withW = r > 1
      val joinW = if (withW) s" CROSS JOIN sw${r - 1} w" else ""
      val wExprs = (for (k <- 0 until K; i <- 0 to B) yield {
        val prev = if (withW) s"max(w.w${k}_$i)" else "0.0"
        val xf = if (i == 0) "" else s" * x${i - 1}"
        s"round($prev - $lr*round(avg((p$k - CASE WHEN y = $k THEN 1.0 ELSE 0.0 END)$xf), 6), 6) AS w${k}_$i"
      }).mkString(",\n|    ")
      s"""sp$r AS MATERIALIZED (
         |  SELECT sfs.*,
         |    ${pExprs(withW)}
         |  FROM sfs$joinW),
         |sw$r AS MATERIALIZED (
         |  SELECT
         |    $wExprs
         |  FROM sp$r$joinW)""".stripMargin
    }
    rounds.mkString(",\n")
  }

  private def sqlHash(seed: Int, v: String, part: Int = 0): String =
    s"('0x' || substr(md5('$seed:' || $v), ${1 + part * 16}, 15))::BIGINT"

  /** Shared replay of the mm7/mm8 image fixture's dHashes: per-variant
    * pixel formulas (`synthesizePngsNear`) → 8×8 block (sum, count) →
    * cross-multiplied comparison bits → 56-bit fold, ending in a CTE
    * `fp(doc_id, dhash)`.
    */
  private val dhashNearFpCtes: String =
    """d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
      |v AS (SELECT doc_id, doc_id % 20 AS base, doc_id // 20 AS var FROM d),
      |dims AS (SELECT doc_id, base, var,
      |         16 + base % 16 AS width, 16 + (base*3) % 16 AS height FROM v),
      |px AS (
      |  SELECT doc_id, base, var, width, height, tx.x AS x, ty.y AS y
      |  FROM dims, LATERAL (SELECT unnest(range(0, width)) AS x) tx,
      |             LATERAL (SELECT unnest(range(0, height)) AS y) ty
      |),
      |lum AS (
      |  SELECT doc_id, (x*8)//width AS bx, (y*8)//height AS by,
      |    (3*x + 7*base) % 180 + (5*x + 7*y + base) % 180
      |      + (x + 11*y + 13*base) % 180
      |      + CASE WHEN var = 1 THEN 120
      |             WHEN var = 2 AND x*8 < width AND y*8 < height THEN 270
      |             ELSE 0 END AS l
      |  FROM px
      |),
      |blocks AS (
      |  SELECT doc_id, by, bx,
      |    CAST(sum(l) AS BIGINT) AS bsum, CAST(count(*) AS BIGINT) AS bcnt
      |  FROM lum GROUP BY 1, 2, 3
      |),
      |bits AS (
      |  SELECT a.doc_id,
      |    CASE WHEN a.bsum * b.bcnt > b.bsum * a.bcnt
      |         THEN CAST(1 AS BIGINT) << (a.by*7 + a.bx) ELSE 0 END AS bit
      |  FROM blocks a JOIN blocks b
      |    ON a.doc_id = b.doc_id AND a.by = b.by AND b.bx = a.bx + 1
      |),
      |fp AS (SELECT doc_id, CAST(sum(bit) AS BIGINT) AS dhash FROM bits GROUP BY doc_id)""".stripMargin

  /** DuckDB replay of the FULL trained-PQ path (e12t): fixture synthesis
    * → per-block portable-hash init → one Lloyd round (round-6 cosine
    * assignment, per-bucket means with empty-bucket fallback) → argmin
    * encode → ADC lookup-sum scores. Exactness argument: the fixture is
    * dyadic (multiples of 1/16), so dot products and bucket sums are
    * EXACT (order-independent) and every remaining op (sqrt, divide,
    * subtract, multiply) is correctly rounded over identical operands —
    * the two engines compute bit-identical doubles at every stage.
    */
  private def pqTrainedOracleSql: String = {
    val blocks = (0 to 1).map { b =>
      val off = b * 4
      val h = sqlHash(42 + b, "CAST(vec_id AS VARCHAR)")
      s"""sl$b AS (SELECT vec_id, e[${off + 1}:${off + 4}] AS sb FROM fv),
         |init$b AS (
         |  SELECT cid, cv FROM (
         |    SELECT row_number() OVER (ORDER BY $h, CAST(vec_id AS VARCHAR)) - 1 AS cid,
         |           sb AS cv
         |    FROM sl$b
         |  ) WHERE cid < 4
         |),
         |asg$b AS (
         |  SELECT vec_id, cid, sb FROM (
         |    SELECT s.vec_id, i.cid, s.sb,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        round(list_dot_product(s.sb, i.cv)
         |              / (sqrt(list_dot_product(s.sb, s.sb)) * sqrt(list_dot_product(i.cv, i.cv))), 6) DESC,
         |        CAST(i.cid AS VARCHAR)) AS crnk
         |    FROM sl$b s CROSS JOIN init$b i
         |  ) WHERE crnk = 1
         |),
         |mexp$b AS (
         |  SELECT cid, p.p AS pos, sum(sb[p.p]) / count(*) AS mcomp
         |  FROM asg$b, generate_series(1, 4) p(p)
         |  GROUP BY 1, 2
         |),
         |cb$b AS (
         |  SELECT i.cid, coalesce(mv.mv, i.cv) AS cv
         |  FROM init$b i LEFT JOIN (
         |    SELECT cid, list(mcomp ORDER BY pos) AS mv FROM mexp$b GROUP BY cid
         |  ) mv ON mv.cid = i.cid
         |),
         |code$b AS (
         |  SELECT s.vec_id,
         |    (SELECT c.cid FROM cb$b c
         |     ORDER BY ${(1 to 4).map(p => s"(s.sb[$p] - c.cv[$p]) * (s.sb[$p] - c.cv[$p])")
                  .mkString(" + ")}, c.cid
         |     LIMIT 1) AS code
         |  FROM sl$b s
         |),
         |lut$b AS (
         |  SELECT c.cid, list_sum(list_transform(range(1, 5), p -> c.cv[p] * q.e[$off + p])) AS ip
         |  FROM cb$b c, q
         |)""".stripMargin
    }
    s"""WITH fv AS (
       |  SELECT vec_id, list_transform(range(0, 8),
       |           j -> (CAST((vec_id*7 + j*13) % 29 AS DOUBLE) - 14) / 16.0) AS e
       |  FROM embeddings WHERE vec_id < 64
       |),
       |q AS (SELECT e FROM fv WHERE vec_id = 0),
       |${blocks.mkString(",\n")},
       |sc AS (
       |  SELECT c0.vec_id, l0.ip + l1.ip AS score
       |  FROM code0 c0 JOIN code1 c1 USING (vec_id)
       |  JOIN lut0 l0 ON l0.cid = c0.code
       |  JOIN lut1 l1 ON l1.cid = c1.code
       |)
       |SELECT vec_id, round(score, 6) AS score FROM sc
       |ORDER BY round(score, 6) DESC, vec_id LIMIT 20""".stripMargin
  }

  /** DuckDB twin of TextOps.shingles(tokens(text), 3) exploded to rows:
    * expects a CTE `d(doc_id, text)` to exist.
    */
  /** The d2 shingle build over any `src(doc_id, text)` CTE, names
    * prefixed with `p` so one statement can instantiate it beside other
    * CTE families (p13 runs it over the crawl's deduped frame as `nd*`).
    */
  private def shingleCtesFor(src: String, p: String): String =
    s"""${p}words AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |${p}sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |           range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
       |  FROM ${p}words WHERE len(w) >= 3
       |)""".stripMargin

  private val shingleCtes: String = shingleCtesFor("d", "")

  private val dupAugCte: String =
    """d AS (
      |  SELECT doc_id, text, lang, source, n_chars FROM documents
      |  UNION ALL
      |  SELECT doc_id + 100000, text, lang, source, n_chars FROM documents WHERE doc_id % 10 = 0
      |)""".stripMargin

  private val nearAugCte: String =
    """d AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zq zq zq' FROM documents WHERE doc_id % 25 = 0
      |)""".stripMargin

  /** DuckDB twin of Dedup.tokenBlocks(src, BlockTokens, Md5Portable,
    * BlockSeed): expects a CTE `src(doc_id, text)` to exist. Yields
    * `${p}bh(doc_id, block_idx, block, h)` — the prefix lets one query
    * instantiate it for both a corpus and a delta side (d17).
    */
  private def blockCtesFor(src: String, p: String): String =
    s"""${p}words AS (SELECT doc_id, string_split(text, ' ') AS w FROM $src),
       |${p}bl AS (
       |  SELECT doc_id, unnest(range(0, (len(w) + ${BlockTokens - 1}) // $BlockTokens)) AS block_idx, w
       |  FROM ${p}words
       |),
       |${p}blk AS (
       |  SELECT doc_id, block_idx,
       |         array_to_string(list_slice(w, block_idx * $BlockTokens + 1, block_idx * $BlockTokens + $BlockTokens), ' ') AS block
       |  FROM ${p}bl
       |),
       |${p}bh AS (SELECT doc_id, block_idx, block, ${sqlHash(BlockSeed, "block")} AS h FROM ${p}blk)""".stripMargin

  private val blockCtes: String = blockCtesFor("d", "")

  /** Shared tail: sizes + jaccard verdict over an `interx(doc_a, doc_b,
    * inter)` relation and the `sh` shingle rows.
    */
  private val jaccardTail: String =
    s"""sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
       |SELECT doc_a, doc_b, jaccard FROM (
       |  SELECT i.doc_a, i.doc_b,
       |         round(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
       |  FROM interx i
       |  JOIN sizes sa ON sa.doc_id = i.doc_a
       |  JOIN sizes sb ON sb.doc_id = i.doc_b
       |) WHERE jaccard >= $JaccardThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  private val minhashSelects: String =
    (0 until Bands * RowsPerBand)
      .map(i => s"min(${sqlHash(i / 2, "sh", i % 2)}) AS h$i")
      .mkString(",\n         ")

  private val bandUnions: String =
    (0 until Bands).map { b =>
      val sig = (0 until RowsPerBand).map(r => s"h${b * RowsPerBand + r}").mkString(", ")
      s"SELECT doc_id, $b AS band, concat_ws('_', $sig) AS sig FROM mh"
    }.mkString("\n  UNION ALL ")

  /** The d2 candidate+verify chain as reusable CTEs ending in
    * `${p}vp(doc_a, doc_b, jaccard)` over `${p}sh` — shared by the d2
    * pair oracle, d9's recursive connected-components oracle, and p13's
    * in-crawl near-dup prune.
    */
  private def jaccardPairsCtesFor(p: String): String =
    s"""${p}rare AS (SELECT sh FROM ${p}sh GROUP BY sh HAVING count(*) <= $DfCap),
       |${p}f AS (SELECT s.doc_id, s.sh FROM ${p}sh s JOIN ${p}rare USING (sh)),
       |${p}stats AS (
       |  SELECT z.doc_id, z.sz, coalesce(fc.csz, 0) AS csz FROM
       |    (SELECT doc_id, count(*) AS sz FROM ${p}sh GROUP BY doc_id) z
       |    LEFT JOIN (SELECT doc_id, count(*) AS csz FROM ${p}f GROUP BY doc_id) fc USING (doc_id)
       |),
       |${p}cinterx AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS cinter
       |  FROM ${p}f a JOIN ${p}f b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |${p}cand AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT ci.doc_a, ci.doc_b,
       |           ci.cinter + least(sa.sz - sa.csz, sb.sz - sb.csz) AS ub_inter,
       |           sa.sz AS sz_a, sb.sz AS sz_b
       |    FROM ${p}cinterx ci
       |    JOIN ${p}stats sa ON sa.doc_id = ci.doc_a
       |    JOIN ${p}stats sb ON sb.doc_id = ci.doc_b
       |  ) WHERE ub_inter / (sz_a + sz_b - ub_inter) >= $JaccardThreshold
       |),
       |${p}interx AS (
       |  SELECT c.doc_a, c.doc_b, count(*) AS inter
       |  FROM ${p}cand c
       |  JOIN ${p}sh sa ON sa.doc_id = c.doc_a
       |  JOIN ${p}sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
       |  GROUP BY 1, 2
       |),
       |${p}sizes AS (SELECT doc_id, count(*) AS sz FROM ${p}sh GROUP BY doc_id),
       |${p}vp AS (
       |  SELECT doc_a, doc_b, jaccard FROM (
       |    SELECT i.doc_a, i.doc_b,
       |           round(i.inter / (sa.sz + sb.sz - i.inter), 6) AS jaccard
       |    FROM ${p}interx i
       |    JOIN ${p}sizes sa ON sa.doc_id = i.doc_a
       |    JOIN ${p}sizes sb ON sb.doc_id = i.doc_b
       |  ) WHERE jaccard >= $JaccardThreshold
       |)""".stripMargin

  private val jaccardPairsCtes: String = jaccardPairsCtesFor("")

  private val oracleSqlBase: Map[String, String] = Map(
    "d1_exact_dedup" ->
      s"""WITH $dupAugCte
         |SELECT doc_id, lang, source, n_chars, n_copies FROM (
         |  SELECT doc_id, lang, source, n_chars,
         |         row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn,
         |         count(*) OVER (PARTITION BY sha256(text)) AS n_copies
         |  FROM d
         |) WHERE rn = 1
         |ORDER BY doc_id""".stripMargin,
    "d2_neardup_jaccard" ->
      s"""WITH $nearAugCte,
         |$shingleCtes,
         |$jaccardPairsCtes
         |SELECT doc_a, doc_b, jaccard FROM vp
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d9_dup_clusters" ->
      s"""WITH RECURSIVE $nearAugCte,
         |$shingleCtes,
         |$jaccardPairsCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM vp
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM vp
         |),
         |reach(src, dst) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
         |)
         |SELECT src AS doc_id, min(dst) AS cluster_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    // d22 computes the identical labeling by a different distributed
    // algorithm — one ground truth, so one oracle, shared verbatim.
    "d22_dup_clusters_star" ->
      s"""WITH RECURSIVE $nearAugCte,
         |$shingleCtes,
         |$jaccardPairsCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM vp
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM vp
         |),
         |reach(src, dst) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
         |)
         |SELECT src AS doc_id, min(dst) AS cluster_id
         |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "d10_prune_duplicates" ->
      s"""WITH RECURSIVE $nearAugCte,
         |$shingleCtes,
         |$jaccardPairsCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM vp
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM vp
         |),
         |reach(src, dst) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
         |),
         |clus AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT doc_id FROM d
         |WHERE doc_id NOT IN (SELECT doc_id FROM clus WHERE doc_id <> cluster_id)
         |ORDER BY doc_id""".stripMargin,
    "d3_minhash_lsh" ->
      s"""WITH $nearAugCte,
         |$shingleCtes,
         |mh AS (
         |  SELECT doc_id,
         |         $minhashSelects
         |  FROM sh GROUP BY doc_id
         |),
         |bands AS (
         |  $bandUnions
         |),
         |bands_c AS (
         |  SELECT doc_id, band, sig FROM (
         |    SELECT *, count(*) OVER (PARTITION BY band, sig) AS occ FROM bands
         |  ) WHERE occ <= $BucketCap
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands_c a JOIN bands_c b
         |    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
         |),
         |interx AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
         |  GROUP BY 1, 2
         |),
         |$jaccardTail""".stripMargin,
    "d4_simhash" ->
      s"""WITH $nearAugCte,
         |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM d),
         |th AS (SELECT doc_id, ${sqlHash(0, "tok")} AS h FROM toks),
         |bits AS (
         |  SELECT doc_id, g.b, CAST(sum(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
         |  FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS b) g
         |  GROUP BY 1, 2
         |)
         |SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // d13: d4's fingerprint CTE, banded into 4 disjoint 8-bit segments
    // (Dedup.hammingPairs widths for bits=32, maxHamming=3), the same
    // occ <= BucketCap guard as d3's bands_c, then exact verification
    // with bit_count(xor). hamming cast to INTEGER to match Spark's
    // bit_count return type.
    "d13_simhash_hamming" ->
      s"""WITH $nearAugCte,
         |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM d),
         |th AS (SELECT doc_id, ${sqlHash(0, "tok")} AS h FROM toks),
         |bits AS (
         |  SELECT doc_id, g.b, CAST(sum(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
         |  FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS b) g
         |  GROUP BY 1, 2
         |),
         |fp AS (
         |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS fp
         |  FROM bits GROUP BY doc_id
         |),
         |banded AS (
         |  SELECT doc_id, fp, g.band, (fp >> (g.band * 8)) & 255 AS seg
         |  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) g
         |),
         |banded_c AS (
         |  SELECT doc_id, fp, band, seg FROM (
         |    SELECT *, count(*) OVER (PARTITION BY band, seg) AS occ FROM banded
         |  ) WHERE occ <= $BucketCap
         |)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
         |FROM banded_c a JOIN banded_c b
         |  ON a.band = b.band AND a.seg = b.seg AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d8_decontamination" -> {
      val gram8 = (1 to 7).foldLeft("w[i]")((acc, o) => s"$acc || ' ' || w[i+$o]")
      s"""WITH bench AS (
         |  SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id % 40 = 0
         |  UNION ALL
         |  SELECT doc_id + 400000, text || ' zq zq zq' FROM documents WHERE doc_id % 40 = 25
         |),
         |cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |bw AS (SELECT doc_id, string_split(text, ' ') AS w FROM bench),
         |csh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 6), i -> $gram8))) AS sh
         |  FROM cw WHERE len(w) >= 8
         |),
         |bsh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 6), i -> $gram8))) AS sh
         |  FROM bw WHERE len(w) >= 8
         |),
         |bsz AS (SELECT doc_id, count(*) AS bsz FROM bsh GROUP BY doc_id),
         |shared AS (
         |  SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, count(*) AS shared
         |  FROM csh c JOIN bsh b ON c.sh = b.sh
         |  GROUP BY 1, 2
         |)
         |SELECT s.corpus_id, s.bench_id, s.shared, round(s.shared / z.bsz, 6) AS overlap
         |FROM shared s JOIN bsz z ON z.doc_id = s.bench_id
         |WHERE round(s.shared / z.bsz, 6) >= 0.5
         |ORDER BY corpus_id, bench_id""".stripMargin
    },
    "d12_incremental_neardup" ->
      s"""WITH nd AS (
         |  SELECT doc_id + 200000 AS doc_id, text || ' zq zq zq' AS text
         |  FROM documents WHERE doc_id % 25 = 0
         |),
         |nw AS (SELECT doc_id, string_split(text, ' ') AS w FROM nd),
         |cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |nsh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |           range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
         |  FROM nw WHERE len(w) >= 3
         |),
         |csh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |           range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
         |  FROM cw WHERE len(w) >= 3
         |),
         |csh_c AS (
         |  SELECT doc_id, sh FROM (
         |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM csh
         |  ) WHERE df <= $DfCap
         |),
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
         |  FROM nsh n JOIN csh_c c ON n.sh = c.sh
         |),
         |interx AS (
         |  SELECT cd.new_id, cd.corpus_id, count(*) AS inter
         |  FROM cand cd
         |  JOIN nsh a ON a.doc_id = cd.new_id
         |  JOIN csh b ON b.doc_id = cd.corpus_id AND b.sh = a.sh
         |  GROUP BY 1, 2
         |),
         |nsz AS (SELECT doc_id, count(*) AS nsz FROM nsh GROUP BY doc_id),
         |csz AS (SELECT doc_id, count(*) AS csz FROM csh GROUP BY doc_id)
         |SELECT new_id, corpus_id, jaccard FROM (
         |  SELECT i.new_id, i.corpus_id,
         |         round(i.inter / (a.nsz + b.csz - i.inter), 6) AS jaccard
         |  FROM interx i
         |  JOIN nsz a ON a.doc_id = i.new_id
         |  JOIN csz b ON b.doc_id = i.corpus_id
         |) WHERE jaccard >= $JaccardThreshold
         |ORDER BY new_id, corpus_id""".stripMargin,
    // d23: identical ground truth through the at-rest index — d12's SQL verbatim.
    "d23_index_neardup" ->
      s"""WITH nd AS (
         |  SELECT doc_id + 200000 AS doc_id, text || ' zq zq zq' AS text
         |  FROM documents WHERE doc_id % 25 = 0
         |),
         |nw AS (SELECT doc_id, string_split(text, ' ') AS w FROM nd),
         |cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |nsh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |           range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
         |  FROM nw WHERE len(w) >= 3
         |),
         |csh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(
         |           range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
         |  FROM cw WHERE len(w) >= 3
         |),
         |csh_c AS (
         |  SELECT doc_id, sh FROM (
         |    SELECT doc_id, sh, count(*) OVER (PARTITION BY sh) AS df FROM csh
         |  ) WHERE df <= $DfCap
         |),
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id
         |  FROM nsh n JOIN csh_c c ON n.sh = c.sh
         |),
         |interx AS (
         |  SELECT cd.new_id, cd.corpus_id, count(*) AS inter
         |  FROM cand cd
         |  JOIN nsh a ON a.doc_id = cd.new_id
         |  JOIN csh b ON b.doc_id = cd.corpus_id AND b.sh = a.sh
         |  GROUP BY 1, 2
         |),
         |nsz AS (SELECT doc_id, count(*) AS nsz FROM nsh GROUP BY doc_id),
         |csz AS (SELECT doc_id, count(*) AS csz FROM csh GROUP BY doc_id)
         |SELECT new_id, corpus_id, jaccard FROM (
         |  SELECT i.new_id, i.corpus_id,
         |         round(i.inter / (a.nsz + b.csz - i.inter), 6) AS jaccard
         |  FROM interx i
         |  JOIN nsz a ON a.doc_id = i.new_id
         |  JOIN csz b ON b.doc_id = i.corpus_id
         |) WHERE jaccard >= $JaccardThreshold
         |ORDER BY new_id, corpus_id""".stripMargin,
    "d24_source_overlap" ->
      """WITH d AS (
        |  SELECT source, text FROM documents
        |  UNION ALL
        |  SELECT 'srcM', text FROM documents WHERE source = 'src0'
        |),
        |wt AS (SELECT source, string_split(text, ' ') AS w FROM d),
        |sh AS (
        |  SELECT DISTINCT source, sh FROM (
        |    SELECT source, unnest(list_transform(
        |             range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |    FROM wt WHERE len(w) >= 3
        |  )
        |),
        |sz AS (SELECT source, count(*) AS sz FROM sh GROUP BY 1),
        |ix AS (
        |  SELECT a.source AS src_a, b.source AS src_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.source < b.source
        |  GROUP BY 1, 2
        |)
        |SELECT src_a, src_b, inter, x.sz AS sz_a, y.sz AS sz_b,
        |       round(inter / (x.sz + y.sz - inter), 6) AS jaccard,
        |       round(inter / least(x.sz, y.sz), 6) AS containment
        |FROM ix JOIN sz x ON x.source = ix.src_a JOIN sz y ON y.source = ix.src_b
        |ORDER BY src_a, src_b""".stripMargin,
    "d11_decontaminate" -> {
      val gram8 = (1 to 7).foldLeft("w[i]")((acc, o) => s"$acc || ' ' || w[i+$o]")
      s"""WITH bench AS (
         |  SELECT doc_id + 300000 AS doc_id, text FROM documents WHERE doc_id % 40 = 0
         |  UNION ALL
         |  SELECT doc_id + 400000, text || ' zq zq zq' FROM documents WHERE doc_id % 40 = 25
         |),
         |cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |bw AS (SELECT doc_id, string_split(text, ' ') AS w FROM bench),
         |csh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 6), i -> $gram8))) AS sh
         |  FROM cw WHERE len(w) >= 8
         |),
         |bsh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 6), i -> $gram8))) AS sh
         |  FROM bw WHERE len(w) >= 8
         |),
         |bsz AS (SELECT doc_id, count(*) AS bsz FROM bsh GROUP BY doc_id),
         |shared AS (
         |  SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, count(*) AS shared
         |  FROM csh c JOIN bsh b ON c.sh = b.sh
         |  GROUP BY 1, 2
         |),
         |bad AS (
         |  SELECT DISTINCT s.corpus_id
         |  FROM shared s JOIN bsz z ON z.doc_id = s.bench_id
         |  WHERE round(s.shared / z.bsz, 6) >= 0.5
         |)
         |SELECT doc_id FROM documents
         |WHERE doc_id NOT IN (SELECT corpus_id FROM bad)
         |ORDER BY doc_id""".stripMargin
    },
    "t1_text_stats" ->
      """SELECT lang,
        |       count(*) AS n_docs,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       round(avg(length(text)), 4) AS avg_chars,
        |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
        |       round(avg(len(string_split(text, ' '))), 4) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // t11: DuckDB quantile_cont uses the same linear interpolation as
    // Spark's exact percentile aggregate; round(…, 6) absorbs fp noise.
    "t11_length_dist" ->
      """SELECT lang,
        |       count(*) AS n_docs,
        |       CAST(min(n) AS BIGINT) AS min_tokens,
        |       CAST(max(n) AS BIGINT) AS max_tokens,
        |       round(avg(n), 6) AS avg_tokens,
        |       round(quantile_cont(n, 0.25), 6) AS p25,
        |       round(quantile_cont(n, 0.5), 6) AS p50,
        |       round(quantile_cont(n, 0.75), 6) AS p75
        |FROM (SELECT lang, len(string_split(text, ' ')) AS n FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    // t10: identical tf/df/ln(N/df) arithmetic — the division is cast to
    // DOUBLE explicitly (DuckDB's BIGINT/BIGINT is integer division,
    // Spark's is double), and the rank orders by the ROUNDED score in
    // both engines so tie-breaking (term asc) resolves identically.
    "t10_tfidf" ->
      """WITH tok AS (
        |  SELECT source, doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |),
        |tf AS (SELECT source, term, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (
        |  SELECT term, count(*) AS df
        |  FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1
        |),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (
        |  SELECT source, term, tf, df,
        |         round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, term) AS rnk
        |  FROM sc
        |)
        |SELECT source, term, tf, df, score, rnk FROM r WHERE rnk <= 10
        |ORDER BY source, rnk""".stripMargin,
    "t2_quality" ->
      s"""SELECT doc_id,
         |       CAST(length(text) AS BIGINT) AS n_chars,
         |       CAST(len(w) AS BIGINT) AS n_tokens,
         |       CAST(len(list_distinct(w)) AS BIGINT) AS n_types,
         |       round(len(list_distinct(w)) / (len(w) * 1.0), 6) AS type_token_ratio,
         |       round(list_sum(list_transform(w, t -> length(t))) / (len(w) * 1.0), 6) AS avg_word_len,
         |       round(len(list_filter(w, t -> t IN (${TextStats.EnStopwords.map("'" + _ + "'").mkString(", ")}))) / (len(w) * 1.0), 6) AS stopword_ratio,
         |       CAST(len(regexp_extract_all(text, '${TextStats.TokenPattern}')) AS BIGINT) AS n_regex_tokens
         |FROM (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents WHERE doc_id < 100)
         |ORDER BY doc_id""".stripMargin,
    "t3_langid" -> {
      val scoreCols = TextStats.LangMarkers.map { case (lang, markers) =>
        s"CAST(len(list_filter(w, t -> t IN (${markers.map("'" + _ + "'").mkString(", ")}))) AS BIGINT) AS score_$lang"
      }.mkString(",\n       ")
      val langs = TextStats.LangMarkers.map(_._1)
      val maxExpr = s"greatest(${langs.map("score_" + _).mkString(", ")})"
      val caseArms = langs.map(l => s"WHEN score_$l = $maxExpr THEN '$l'").mkString("\n            ")
      s"""SELECT doc_id, ${langs.map("score_" + _).mkString(", ")},
         |       CASE WHEN $maxExpr = 0 THEN 'und'
         |            $caseArms
         |       END AS pred_lang
         |FROM (
         |  SELECT doc_id,
         |       $scoreCols
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 100)
         |)
         |ORDER BY doc_id""".stripMargin
    },
    // t16: t3's scoring/argmax over the full corpus, label carried
    // through, mismatches only.
    "t16_lang_mismatch" -> {
      val scoreCols = TextStats.LangMarkers.map { case (lang, markers) =>
        s"len(list_filter(w, t -> t IN (${markers.map("'" + _ + "'").mkString(", ")}))) AS score_$lang"
      }.mkString(",\n       ")
      val langs = TextStats.LangMarkers.map(_._1)
      val maxExpr = s"greatest(${langs.map("score_" + _).mkString(", ")})"
      val caseArms = langs.map(l => s"WHEN score_$l = $maxExpr THEN '$l'").mkString("\n            ")
      s"""SELECT doc_id, lang, pred_lang FROM (
         |  SELECT doc_id, lang,
         |         CASE WHEN $maxExpr = 0 THEN 'und'
         |              $caseArms
         |         END AS pred_lang
         |  FROM (
         |    SELECT doc_id, lang,
         |         $scoreCols
         |    FROM (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents)
         |  )
         |) WHERE pred_lang <> lang
         |ORDER BY doc_id""".stripMargin
    },
    "t4_fingerprint" ->
      """SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fp
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    // p4: q43's edge CTEs + the s3 hash-rank window over the composite
    // stratum, replayed as one statement.
    "p4_curriculum_budget" ->
      s"""WITH v AS (SELECT doc_id, lang, n_chars FROM documents),
         |c AS (SELECT n_chars AS e, cume_dist() OVER (ORDER BY n_chars) AS cd FROM v),
         |edges AS (
         |  SELECT (SELECT min(e) FROM c WHERE cd >= 0.25) AS e1,
         |         (SELECT min(e) FROM c WHERE cd >= 0.50) AS e2,
         |         (SELECT min(e) FROM c WHERE cd >= 0.75) AS e3),
         |b AS (
         |  SELECT doc_id, lang,
         |         (CASE WHEN n_chars > e1 THEN 1 ELSE 0 END +
         |          CASE WHEN n_chars > e2 THEN 1 ELSE 0 END +
         |          CASE WHEN n_chars > e3 THEN 1 ELSE 0 END) AS bin
         |  FROM v CROSS JOIN edges),
         |r AS (
         |  SELECT doc_id, lang, bin,
         |         row_number() OVER (
         |           PARTITION BY lang || '|' || bin::VARCHAR
         |           ORDER BY ${sqlHash(17, "doc_id::VARCHAR")}, doc_id) AS rn
         |  FROM b)
         |SELECT doc_id, lang, bin FROM r WHERE rn <= 15
         |ORDER BY doc_id""".stripMargin,
    // p6: every card line replayed literally — the KLL p50/p90 via the
    // inclusive rule (min(v) where cume_dist ≥ rank, the q37 pin), the
    // dup rate via distinct md5, the top lang by (count DESC, lang).
    "p6_data_card" ->
      s"""WITH $dupAugCte,
         |b AS (
         |  SELECT count(*) AS n_docs,
         |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |         round(avg(n_chars), 6) AS mean_chars,
         |         count(DISTINCT lang) AS n_langs,
         |         count(DISTINCT md5(text)) AS n_uniq
         |  FROM d),
         |t AS (SELECT lang, count(*) AS n FROM d GROUP BY lang
         |      ORDER BY n DESC, lang LIMIT 1),
         |c AS (SELECT n_chars AS v, cume_dist() OVER (ORDER BY n_chars) AS cd FROM d),
         |q AS (SELECT (SELECT min(v) FROM c WHERE cd >= 0.5) AS p50,
         |             (SELECT min(v) FROM c WHERE cd >= 0.9) AS p90)
         |SELECT b.n_docs, b.n_tokens, b.mean_chars,
         |       q.p50 AS p50_chars, q.p90 AS p90_chars,
         |       b.n_langs, t.lang AS top_lang,
         |       round(t.n / CAST(b.n_docs AS DOUBLE), 6) AS top_lang_frac,
         |       round(1 - b.n_uniq / CAST(b.n_docs AS DOUBLE), 6) AS dup_frac
         |FROM b, t, q""".stripMargin,
    // d31: d9's cluster machinery + COUNT() OVER the coalesced label.
    "d31_soft_dedup_weights" ->
      s"""WITH RECURSIVE $nearAugCte,
         |$shingleCtes,
         |$jaccardPairsCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM vp
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM vp
         |),
         |reach(src, dst) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
         |),
         |cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
         |asg AS (
         |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |  FROM d LEFT JOIN cl ON cl.doc_id = d.doc_id
         |)
         |SELECT doc_id, cluster_id,
         |       round(CAST(1 AS DOUBLE) / (count(*) OVER (PARTITION BY cluster_id)), 6) AS weight
         |FROM asg ORDER BY doc_id""".stripMargin,
    // p5: d9's recursive connected-components machinery verbatim, a
    // LEFT JOIN coalescing singletons to their own id, and the s4-style
    // portable hash split keyed on the CLUSTER label.
    "p5_leakage_safe_split" -> {
      val Seq(t90) = Sampling.splitThresholds(Seq("train" -> 0.9, "test" -> 0.1))
      s"""WITH RECURSIVE $nearAugCte,
         |$shingleCtes,
         |$jaccardPairsCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM vp
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM vp
         |),
         |reach(src, dst) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
         |),
         |cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
         |asg AS (
         |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
         |  FROM d LEFT JOIN cl ON cl.doc_id = d.doc_id
         |)
         |SELECT doc_id, cluster_id,
         |       CASE WHEN ${sqlHash(11, "cluster_id::VARCHAR")} < $t90
         |            THEN 'train' ELSE 'test' END AS split
         |FROM asg ORDER BY doc_id""".stripMargin
    },
    // e21: the three unrolled power iterations — per-step sums, one
    // normalize + round(6) per step, Rayleigh energy from the final
    // rounded direction.
    "e21_dominant_direction" -> {
      val dim = HpDim
      def wCte(prev: String, tag: String) = {
        val sums = (1 to dim).map(j => s"sum(e[$j] * s)").mkString("[", ", ", "]")
        s"""s$tag AS (SELECT e, list_dot_product(e, (SELECT nv FROM $prev)) AS s FROM v),
           |w$tag AS (SELECT $sums AS w FROM s$tag),
           |n$tag AS (SELECT list_transform(w, x -> round(x / sqrt(list_dot_product(w, w)), 6)) AS nv FROM w$tag)""".stripMargin
      }
      // v0 = 1/sqrt(64) = 0.125 exactly — the literal list matches
      // Spark's per-term multiply bit-for-bit.
      val v0 = Seq.fill(dim)("0.125").mkString("[", ", ", "]")
      val w1sums = (1 to dim).map(j => s"sum(e[$j] * s)").mkString("[", ", ", "]")
      s"""WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings),
         |s1 AS (SELECT e, list_dot_product(e, $v0) AS s FROM v),
         |w1 AS (SELECT $w1sums AS w FROM s1),
         |n1 AS (SELECT list_transform(w, x -> round(x / sqrt(list_dot_product(w, w)), 6)) AS nv FROM w1),
         |${wCte("n1", "2")},
         |${wCte("n2", "3")},
         |en AS (
         |  SELECT round(sum(s * s) / (SELECT sum(list_dot_product(e, e)) FROM v), 6) AS energy
         |  FROM (SELECT list_dot_product(e, (SELECT nv FROM n3)) AS s FROM v))
         |SELECT t.idx AS idx, (SELECT nv FROM n3)[t.idx] AS loading,
         |       (SELECT energy FROM en) AS energy_frac
         |FROM generate_series(1, $dim) t(idx) ORDER BY idx""".stripMargin
    },
    // e20: the projection matrix embeds as ±1 literals (the hpSignatureSql
    // discipline); both engines project, round to 6, then run e1's exact
    // top-k in the projected space.
    "e20_random_project" -> {
      val comps = Similarity.projectionMatrix(RpOutDim, HpDim, RpSeed)
        .map { row =>
          val arr = row.map(x => if (x > 0) "1.0" else "-1.0")
            .mkString("[", ", ", "]")
          s"round(list_dot_product(e, $arr) * 0.25, 6)"
        }.mkString(", ")
      s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |proj AS (
         |  SELECT vec_id,
         |         [$comps] AS e
         |  FROM v),
         |p AS (SELECT vec_id AS probe_id, e AS pe FROM proj WHERE vec_id < 5),
         |s AS (
         |  SELECT p.probe_id, proj.vec_id AS neighbor_id,
         |         round(list_dot_product(pe, e)
         |               / (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(e, e))), 6) AS sim
         |  FROM proj CROSS JOIN p WHERE proj.vec_id <> p.probe_id
         |),
         |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
         |SELECT probe_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 10
         |ORDER BY probe_id, rnk""".stripMargin
    },
    "e1_topk_cosine" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < 5),
        |s AS (
        |  SELECT p.probe_id, v.vec_id AS neighbor_id,
        |         round(list_dot_product(pe, e)
        |               / (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(e, e))), 6) AS sim
        |  FROM v CROSS JOIN p WHERE v.vec_id <> p.probe_id
        |),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
        |SELECT probe_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 10
        |ORDER BY probe_id, rnk""".stripMargin,
    // e15: e1's exact top-k CTEs capped at searchK, then the same
    // positive/margin/renumber windows — pos_sim via the rnk=1 row, the
    // margin literal parsed identically by both engines, negatives
    // renumbered in rank order and capped.
    "e15_hard_negatives" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < 5),
        |s AS (
        |  SELECT p.probe_id, v.vec_id AS neighbor_id,
        |         round(list_dot_product(pe, e)
        |               / (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(e, e))), 6) AS sim
        |  FROM v CROSS JOIN p WHERE v.vec_id <> p.probe_id
        |),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk FROM s),
        |t AS (SELECT * FROM r WHERE rnk <= 20),
        |ps AS (SELECT probe_id, sim AS pos_sim FROM t WHERE rnk = 1),
        |rl AS (
        |  SELECT t.probe_id, t.neighbor_id, t.sim, t.rnk,
        |         CASE WHEN t.rnk = 1 THEN 'positive'
        |              WHEN t.sim <= ps.pos_sim - 0.05 THEN 'hard_negative' END AS role
        |  FROM t JOIN ps USING (probe_id)
        |),
        |rr AS (
        |  SELECT probe_id, role, neighbor_id, sim,
        |         row_number() OVER (PARTITION BY probe_id, role ORDER BY rnk) AS role_rnk
        |  FROM rl WHERE role IS NOT NULL
        |)
        |SELECT probe_id, role, role_rnk, neighbor_id, sim
        |FROM rr WHERE role = 'positive' OR role_rnk <= 5
        |ORDER BY probe_id, role, role_rnk""".stripMargin,
    "e2_ann_ivf" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
        |a AS (
        |  SELECT v.vec_id AS vid, c.centroid_id, v.e,
        |         round(list_dot_product(e, ce)
        |               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))), 6) AS csim
        |  FROM v CROSS JOIN c
        |),
        |b AS (
        |  SELECT vid, centroid_id AS bucket, e FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id) AS crnk FROM a
        |  ) WHERE crnk = 1
        |),
        |pb AS (SELECT vid AS probe_id, bucket, e AS pe FROM b WHERE vid BETWEEN 100 AND 104),
        |s AS (
        |  SELECT pb.probe_id, b.vid AS neighbor_id,
        |         round(list_dot_product(pe, b.e)
        |               / (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(b.e, b.e))), 6) AS sim
        |  FROM b JOIN pb ON b.bucket = pb.bucket AND b.vid <> pb.probe_id
        |),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
        |SELECT probe_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin,
    // Identical semantics to e2 — the index is a materialization, not a
    // different algorithm, so the oracle is e2's SQL verbatim.
    "e4_ann_index" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
        |a AS (
        |  SELECT v.vec_id AS vid, c.centroid_id, v.e,
        |         round(list_dot_product(e, ce)
        |               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))), 6) AS csim
        |  FROM v CROSS JOIN c
        |),
        |b AS (
        |  SELECT vid, centroid_id AS bucket, e FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id) AS crnk FROM a
        |  ) WHERE crnk = 1
        |),
        |pb AS (SELECT vid AS probe_id, bucket, e AS pe FROM b WHERE vid BETWEEN 100 AND 104),
        |s AS (
        |  SELECT pb.probe_id, b.vid AS neighbor_id,
        |         round(list_dot_product(pe, b.e)
        |               / (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(b.e, b.e))), 6) AS sim
        |  FROM b JOIN pb ON b.bucket = pb.bucket AND b.vid <> pb.probe_id
        |),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
        |SELECT probe_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin,
    "e3_embedding_neardup" ->
      s"""WITH v AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 10000, list_transform(embedding::DOUBLE[], x -> x * 1.1 + 0.01)
        |  FROM embeddings WHERE vec_id % 20 = 0
        |),
        |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
        |a AS (
        |  SELECT v.vec_id AS vid, c.centroid_id, v.e,
        |         round(list_dot_product(e, ce)
        |               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))), 6) AS csim
        |  FROM v CROSS JOIN c
        |),
        |b AS (
        |  SELECT vid, centroid_id AS bucket, e FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id) AS crnk FROM a
        |  ) WHERE crnk = 1
        |),
        |bc AS (
        |  SELECT vid, bucket, e FROM (
        |    SELECT *, count(*) OVER (PARTITION BY bucket) AS occ FROM b
        |  ) WHERE occ <= $EmbBucketCap
        |),
        |p AS (
        |  SELECT x.vid AS vec_a, y.vid AS vec_b,
        |         round(list_dot_product(x.e, y.e)
        |               / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS sim
        |  FROM bc x JOIN bc y ON x.bucket = y.bucket AND x.vid < y.vid
        |)
        |SELECT vec_a, vec_b, sim FROM p WHERE sim >= 0.8
        |ORDER BY vec_a, vec_b""".stripMargin,
    // e7: e2's assignment CTEs, then ascending csim with vec_id tiebreak,
    // LIMIT 25 — same rounded doubles, same total order.
    "e7_centroid_outliers" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
        |a AS (
        |  SELECT v.vec_id AS vid, c.centroid_id, v.e,
        |         round(list_dot_product(e, ce)
        |               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))), 6) AS csim
        |  FROM v CROSS JOIN c
        |),
        |b AS (
        |  SELECT vid, centroid_id AS bucket, csim FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id) AS crnk FROM a
        |  ) WHERE crnk = 1
        |)
        |SELECT vid AS vec_id, bucket, csim FROM b
        |ORDER BY csim, vec_id LIMIT 25""".stripMargin,
    // e6: the IDENTICAL ±1 plane matrix (Similarity.hyperplanes is
    // deterministic, so the generator inlines it as list literals), sign
    // bits via the same left-to-right double fold Spark's native dot
    // performs (list_reduce — the e5 pattern; exact, no rounding, and the
    // ±1 entries keep every product exactly representable), band buckets
    // as bit-weighted sums, then e3's occupancy window / distinct
    // candidates / verified-cosine tail.
    "e6_hyperplane_lsh" ->
      s"""WITH v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000, list_transform(embedding::DOUBLE[], x -> x * 1.1 + 0.01)
         |  FROM embeddings WHERE vec_id % 20 = 0
         |),
         |${hpSignatureSql("v", "")},
         |occ AS (
         |  SELECT vec_id, band, bucket FROM (
         |    SELECT *, count(*) OVER (PARTITION BY band, bucket) AS occ FROM sig
         |  ) WHERE occ <= $EmbBucketCap
         |),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM occ a JOIN occ b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
         |),
         |p AS (
         |  SELECT vec_a, vec_b,
         |         round(list_dot_product(x.e, y.e)
         |               / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS sim
         |  FROM cand JOIN v x ON vec_a = x.vec_id JOIN v y ON vec_b = y.vec_id
         |)
         |SELECT vec_a, vec_b, sim FROM p WHERE sim >= 0.8
         |ORDER BY vec_a, vec_b""".stripMargin,
    "d5_winnowing" ->
      s"""WITH $nearAugCte,
         |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM d),
         |grams AS (
         |  SELECT doc_id, i AS pos,
         |         ${sqlHash(0, "w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]")} AS h
         |  FROM words, unnest(range(1, len(w) - 3)) AS g(i)
         |  WHERE len(w) >= 5
         |),
         |mins AS (
         |  SELECT doc_id,
         |         min(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS fp,
         |         row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
         |  FROM grams
         |),
         |fps AS (SELECT DISTINCT doc_id, fp FROM mins WHERE rn >= 4)
         |SELECT doc_id, count(*) AS n_fp, min(fp) AS min_fp, max(fp) AS max_fp
         |FROM fps GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "t5_quality_filter" ->
      """SELECT doc_id,
        |       len(w) < 30 AS too_short,
        |       len(w) > 60 AS too_long,
        |       len(list_distinct(w)) / (len(w) * 1.0) < 0.25 AS low_diversity,
        |       NOT (len(w) < 30 OR len(w) > 60 OR len(list_distinct(w)) / (len(w) * 1.0) < 0.25) AS keep
        |FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "t6_event_sessions" ->
      """WITH x AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
        |              THEN 1 ELSE 0 END AS ns
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |),
        |y AS (
        |  SELECT user_id, ts_us,
        |         CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
        |  FROM x
        |)
        |SELECT user_id, session_idx, count(*) AS n_events,
        |       min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM y GROUP BY user_id, session_idx
        |ORDER BY user_id, session_idx""".stripMargin,
    "s1_hash_sampling" -> {
      val t20 = Sampling.thresholdFor(0.2)
      // The SAME per-boundary constants split() evaluates — never re-derived
      // with independent float arithmetic (ADVICE r2 #2).
      val Seq(t80, t90) = Sampling.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"""SELECT lang, count(*) AS n_docs,
         |       CAST(sum(CASE WHEN h7 < $t20 THEN 1 ELSE 0 END) AS BIGINT) AS n_sample,
         |       CAST(sum(CASE WHEN h11 < $t80 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |       CAST(sum(CASE WHEN h11 >= $t80 AND h11 < $t90 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
         |       CAST(sum(CASE WHEN h11 >= $t90 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
         |FROM (
         |  SELECT lang,
         |         ${sqlHash(7, "doc_id::VARCHAR")} AS h7,
         |         ${sqlHash(11, "doc_id::VARCHAR")} AS h11
         |  FROM documents
         |)
         |GROUP BY lang ORDER BY lang""".stripMargin
    },
    "s2_rebalance" -> {
      // The SAME threshold constants rebalance() evaluates (ADVICE r2 #2:
      // never re-derive with independent float arithmetic).
      val (t25, t50, t90) =
        (Sampling.thresholdFor(0.25), Sampling.thresholdFor(0.5), Sampling.thresholdFor(0.9))
      s"""SELECT lang, count(*) AS n_kept
         |FROM (SELECT lang, ${sqlHash(13, "doc_id::VARCHAR")} AS h FROM documents)
         |WHERE h < CASE WHEN lang = 'de' THEN $t25
         |               WHEN lang = 'en' THEN $t50
         |               ELSE $t90 END
         |GROUP BY lang ORDER BY lang""".stripMargin
    },
    // s12: the E–S key replayed literally — ln of the same frozen
    // uniform over the same weight, rounded to 6, id tiebreak.
    "s12_weighted_sample" ->
      s"""SELECT doc_id, lang, rnk FROM (
         |  SELECT doc_id, lang, row_number() OVER (
         |    PARTITION BY lang
         |    ORDER BY round(ln((h + 0.5) / 1152921504606846976.0) / n_chars::DOUBLE, 6) DESC,
         |             doc_id) AS rnk
         |  FROM (SELECT doc_id, lang, n_chars,
         |               ${sqlHash(17, "doc_id::VARCHAR")} AS h
         |        FROM documents WHERE n_chars > 0)
         |) WHERE rnk <= 20
         |ORDER BY doc_id""".stripMargin,
    // s3: the same hash-then-id ranking capPerStratum windows on.
    "s3_source_cap" ->
      s"""SELECT doc_id, source FROM (
         |  SELECT doc_id, source,
         |         row_number() OVER (
         |           PARTITION BY source
         |           ORDER BY ${sqlHash(7, "doc_id::VARCHAR")}, doc_id) AS rn
         |  FROM documents
         |) WHERE rn <= 15
         |ORDER BY doc_id""".stripMargin,
    // s5: identical hash-then-id rank window and floor(cum × n) cuts —
    // the cumulative boundaries (0.8, 0.9) inline as the same double
    // literals the Scala side computes.
    "s5_stratified_split" ->
      s"""WITH r AS (
         |  SELECT lang, doc_id,
         |         row_number() OVER (
         |           PARTITION BY lang
         |           ORDER BY ${sqlHash(11, "doc_id::VARCHAR")}, doc_id) AS rn,
         |         count(*) OVER (PARTITION BY lang) AS n
         |  FROM documents
         |),
         |a AS (
         |  SELECT lang,
         |         CASE WHEN rn <= floor(0.8 * n) THEN 'train'
         |              WHEN rn <= floor(0.9 * n) THEN 'val'
         |              ELSE 'test' END AS split
         |  FROM r
         |)
         |SELECT lang, split, count(*) AS n FROM a
         |GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    // t9: repetitionSignals' two-stage rollup as CTEs — the n-gram
    // families, per-(doc, n, gram) counts, the deterministic top gram
    // (count desc, gram desc — DuckDB's row_number twin of Spark's
    // max(struct)), and the duplicated-5-gram char mass.
    "t9_repetition" ->
      """WITH w AS (SELECT doc_id, length(text) AS n_chars, string_split(text, ' ') AS w FROM documents),
        |base AS (
        |  SELECT doc_id, n_chars,
        |         round(1 - len(list_distinct(w)) / CAST(len(w) AS DOUBLE), 6) AS dup_token_frac
        |  FROM w
        |),
        |g AS (
        |  SELECT doc_id, 2 AS n,
        |         unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
        |  FROM w WHERE len(w) >= 2
        |  UNION ALL
        |  SELECT doc_id, 3,
        |         unnest(list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |  FROM w WHERE len(w) >= 3
        |  UNION ALL
        |  SELECT doc_id, 5,
        |         unnest(list_transform(range(1, len(w) - 3),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4]))
        |  FROM w WHERE len(w) >= 5
        |),
        |c AS (SELECT doc_id, n, g, count(*) AS cnt FROM g GROUP BY 1, 2, 3),
        |top AS (
        |  SELECT doc_id, n, cnt * length(g) AS chars FROM (
        |    SELECT *, row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, g DESC) AS rn
        |    FROM c WHERE n IN (2, 3)
        |  ) WHERE rn = 1
        |),
        |dup AS (SELECT doc_id, sum(cnt * length(g)) AS chars FROM c WHERE n = 5 AND cnt >= 2 GROUP BY doc_id)
        |SELECT b.doc_id, b.dup_token_frac,
        |       round(coalesce(t2.chars, 0) / CAST(b.n_chars AS DOUBLE), 6) AS top2_char_frac,
        |       round(coalesce(t3.chars, 0) / CAST(b.n_chars AS DOUBLE), 6) AS top3_char_frac,
        |       round(coalesce(d5.chars, 0) / CAST(b.n_chars AS DOUBLE), 6) AS dup5_char_frac
        |FROM base b
        |LEFT JOIN top t2 ON t2.doc_id = b.doc_id AND t2.n = 2
        |LEFT JOIN top t3 ON t3.doc_id = b.doc_id AND t3.n = 3
        |LEFT JOIN dup d5 ON d5.doc_id = b.doc_id
        |ORDER BY b.doc_id""".stripMargin,
    // s4: the split boundary constant is Sampling.splitThresholds' own
    // (never re-derived float arithmetic), the 8-gram CTEs are d8's.
    "s4_split_leakage" -> {
      val Seq(t90) = Sampling.splitThresholds(Seq("train" -> 0.9, "test" -> 0.1))
      val gram8 = (1 to 7).foldLeft("w[i]")((acc, o) => s"$acc || ' ' || w[i+$o]")
      s"""WITH $dupAugCte,
         |sp AS (SELECT doc_id, text, ${sqlHash(11, "doc_id::VARCHAR")} AS h FROM d),
         |cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM sp WHERE h < $t90),
         |bw AS (SELECT doc_id, string_split(text, ' ') AS w FROM sp WHERE h >= $t90),
         |csh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 6), i -> $gram8))) AS sh
         |  FROM cw WHERE len(w) >= 8
         |),
         |bsh AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 6), i -> $gram8))) AS sh
         |  FROM bw WHERE len(w) >= 8
         |),
         |bsz AS (SELECT doc_id, count(*) AS bsz FROM bsh GROUP BY doc_id),
         |shared AS (
         |  SELECT c.doc_id AS corpus_id, b.doc_id AS bench_id, count(*) AS shared
         |  FROM csh c JOIN bsh b ON c.sh = b.sh
         |  GROUP BY 1, 2
         |)
         |SELECT s.corpus_id, s.bench_id, s.shared, round(s.shared / z.bsz, 6) AS overlap
         |FROM shared s JOIN bsz z ON z.doc_id = s.bench_id
         |WHERE round(s.shared / z.bsz, 6) >= 0.5
         |ORDER BY corpus_id, bench_id""".stripMargin
    },
    // d14: d13's oracle at the 60-bit production width — range(0, 60)
    // fingerprint bits, 4 disjoint 15-bit segments.
    "d14_simhash_hamming_wide" ->
      s"""WITH $nearAugCte,
         |toks AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok FROM d),
         |th AS (SELECT doc_id, ${sqlHash(0, "tok")} AS h FROM toks),
         |bits AS (
         |  SELECT doc_id, g.b, CAST(sum(CASE WHEN (h >> g.b) & 1 = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s
         |  FROM th CROSS JOIN (SELECT unnest(range(0, 60)) AS b) g
         |  GROUP BY 1, 2
         |),
         |fp AS (
         |  SELECT doc_id, CAST(sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT) AS fp
         |  FROM bits GROUP BY doc_id
         |),
         |banded AS (
         |  SELECT doc_id, fp, g.band, (fp >> (g.band * 15)) & 32767 AS seg
         |  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS band) g
         |),
         |banded_c AS (
         |  SELECT doc_id, fp, band, seg FROM (
         |    SELECT *, count(*) OVER (PARTITION BY band, seg) AS occ FROM banded
         |  ) WHERE occ <= $BucketCap
         |)
         |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
         |FROM banded_c a JOIN banded_c b
         |  ON a.band = b.band AND a.seg = b.seg AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    // d15/d16: the block partitioning is pure arithmetic on the token
    // list — 1-based list_slice windows of BlockTokens, hash via the
    // shared md5-prefix twin. d16's canonical pick (min (doc_id,
    // block_idx) per hash) is a row_number window here; Spark uses the
    // skew-safe groupBy-min form — same rows.
    "d15_dup_blocks" ->
      s"""WITH $dupAugCte,
         |$blockCtes
         |SELECT h AS block_hash, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
         |FROM bh GROUP BY 1 HAVING count(*) >= 2
         |ORDER BY block_hash""".stripMargin,
    // d17: delta blocks anti-joined against the corpus block inventory,
    // then d16's within-delta canonical pick + reassembly.
    "d17_strip_blocks_incr" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         |nd AS (
         |  SELECT doc_id + 200000 AS doc_id, text || ' zq zq zq' AS text
         |  FROM documents WHERE doc_id % 25 = 0
         |),
         |${blockCtesFor("d", "")},
         |${blockCtesFor("nd", "n")},
         |fresh AS (
         |  SELECT nbh.* FROM nbh ANTI JOIN (SELECT DISTINCT h FROM bh) inv USING (h)
         |),
         |kept AS (
         |  SELECT doc_id, block_idx, block FROM (
         |    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, block_idx) AS rn
         |    FROM fresh
         |  ) WHERE rn = 1
         |),
         |agg AS (
         |  SELECT doc_id, string_agg(block, ' ' ORDER BY block_idx) AS text_clean,
         |         count(*) AS n_kept
         |  FROM kept GROUP BY doc_id
         |),
         |base AS (
         |  SELECT doc_id,
         |         (len(string_split(text, ' ')) + ${BlockTokens - 1}) // $BlockTokens AS n_blocks
         |  FROM nd
         |)
         |SELECT b.doc_id, b.n_blocks,
         |       b.n_blocks - coalesce(a.n_kept, 0) AS n_removed,
         |       coalesce(a.text_clean, '') AS text_clean
         |FROM base b LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // d18: same block CTEs over the boilerplate fixture; the policy is a
    // df-threshold HAVING + ANTI JOIN (drop every occurrence) instead of
    // d16's row_number canonical pick (keep the first).
    "d18_strip_common_blocks" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |         CASE WHEN doc_id % 5 = 0 THEN '$BoilHeader ' || text ELSE text END AS text
         |  FROM documents
         |),
         |$blockCtes,
         |common AS (SELECT h FROM bh GROUP BY h HAVING count(DISTINCT doc_id) >= 3),
         |kept AS (SELECT bh.* FROM bh ANTI JOIN common USING (h)),
         |agg AS (
         |  SELECT doc_id, string_agg(block, ' ' ORDER BY block_idx) AS text_clean,
         |         count(*) AS n_kept
         |  FROM kept GROUP BY doc_id
         |),
         |base AS (
         |  SELECT doc_id,
         |         (len(string_split(text, ' ')) + ${BlockTokens - 1}) // $BlockTokens AS n_blocks
         |  FROM d
         |)
         |SELECT b.doc_id, b.n_blocks,
         |       b.n_blocks - coalesce(a.n_kept, 0) AS n_removed,
         |       coalesce(a.text_clean, '') AS text_clean
         |FROM base b LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // e8: e3's pair CTEs (same fixture, same rounded sims), then d10's
    // recursive min-label reachability + NOT IN keep — the semantic
    // instance of the keep-one-per-cluster tail.
    // s8: identical TTR score (rounded to 6 before binning — both
    // engines bin the same double), identical 64-bin histogram cumsum
    // best-bin-first, whole kept bins + hash-rank prefix of the single
    // boundary bin against the remainder.
    "s8_budget_select" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |sc AS (SELECT doc_id,
         |              round(len(list_distinct(w))::DOUBLE / len(w), 6) AS score,
         |              len(w) AS n_tokens
         |       FROM t),
         |b AS (SELECT doc_id, score, n_tokens,
         |             least(63, CAST(floor(score * 64) AS INTEGER)) AS bin
         |      FROM sc),
         |bt AS (SELECT bin, sum(n_tokens) AS btok FROM b GROUP BY bin),
         |bp AS (SELECT bin, btok,
         |              sum(btok) OVER (ORDER BY bin DESC ROWS UNBOUNDED PRECEDING) AS cum
         |       FROM bt),
         |bp2 AS (SELECT bin, cum, 8000 - (cum - btok) AS rem FROM bp),
         |j AS (SELECT b.doc_id, b.score, b.n_tokens, b.bin, bp2.cum, bp2.rem
         |      FROM b JOIN bp2 USING (bin)),
         |part AS (
         |  SELECT doc_id, score, n_tokens, rem,
         |         sum(n_tokens) OVER (
         |           PARTITION BY bin
         |           ORDER BY ${sqlHash(17, "doc_id::VARCHAR")}, doc_id
         |           ROWS UNBOUNDED PRECEDING) AS dcum
         |  FROM j WHERE cum > 8000 AND rem > 0)
         |SELECT doc_id, score, n_tokens FROM j WHERE cum <= 8000
         |UNION ALL
         |SELECT doc_id, score, n_tokens FROM part WHERE dcum <= rem
         |ORDER BY doc_id""".stripMargin,
    // d19: same URL literal + t14's normalization chain, min/count per
    // normalized URL (Dedup.exact's min_by winner == group min on unique
    // ids).
    "d19_url_dedup" ->
      s"""WITH u AS (
         |  SELECT doc_id,
         |         'HTTP://Site.' || source || '.COM/Doc/' || (doc_id % 100)::VARCHAR
         |           || '?session=' || doc_id::VARCHAR || '#top' AS url
         |  FROM documents),
         |st AS (SELECT doc_id,
         |              regexp_replace(regexp_replace(url, '#.*$$', ''), '\\?.*$$', '') AS x
         |       FROM u),
         |n AS (SELECT doc_id,
         |             regexp_replace(
         |               lower(regexp_extract(x, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1))
         |                 || regexp_replace(x, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', ''),
         |               '/$$', '') AS url_norm
         |      FROM st)
         |SELECT min(doc_id) AS doc_id, url_norm, count(*) AS n_copies
         |FROM n GROUP BY url_norm ORDER BY doc_id""".stripMargin,
    // e10: e5's exact quantization arithmetic reconstructed in-line, then
    // e1's top-k tail over the dequantized corpus.
    "e10_quantized_topk" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |sc AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127 AS scale FROM v),
        |dq AS (
        |  SELECT vec_id,
        |         CASE WHEN scale = 0 THEN list_transform(e, x -> 0.0)
        |              ELSE list_transform(e, x ->
        |                least(127, greatest(-127, floor(x / scale + 0.5))) * scale) END AS e
        |  FROM sc),
        |p AS (SELECT vec_id AS probe_id, e AS pe FROM v WHERE vec_id < 5),
        |s AS (
        |  SELECT p.probe_id, d.vec_id AS neighbor_id,
        |         round(list_dot_product(pe, d.e)
        |               / (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(d.e, d.e))), 6) AS sim
        |  FROM dq d CROSS JOIN p WHERE d.vec_id <> p.probe_id
        |),
        |r AS (SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk FROM s)
        |SELECT probe_id, neighbor_id, sim, rnk FROM r WHERE rnk <= 10
        |ORDER BY probe_id, rnk""".stripMargin,
    // d21: d2's capped candidate CTEs with the containment bound/tail
    // (i/min monotone in i — same upper-bound pruning), quote fixture
    // inlined.
    "d21_containment" ->
      s"""WITH d AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 500000,
         |         array_to_string(list_slice(string_split(text, ' '), 1, 12), ' ')
         |  FROM documents WHERE doc_id % 50 = 0
         |),
         |$shingleCtes,
         |rare AS (SELECT sh FROM sh GROUP BY sh HAVING count(*) <= $DfCap),
         |f AS (SELECT s.doc_id, s.sh FROM sh s JOIN rare USING (sh)),
         |stats AS (
         |  SELECT z.doc_id, z.sz, coalesce(fc.csz, 0) AS csz FROM
         |    (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id) z
         |    LEFT JOIN (SELECT doc_id, count(*) AS csz FROM f GROUP BY doc_id) fc USING (doc_id)
         |),
         |cinterx AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS cinter
         |  FROM f a JOIN f b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |cand AS (
         |  SELECT doc_a, doc_b FROM (
         |    SELECT ci.doc_a, ci.doc_b,
         |           ci.cinter + least(sa.sz - sa.csz, sb.sz - sb.csz) AS ub_inter,
         |           sa.sz AS sz_a, sb.sz AS sz_b
         |    FROM cinterx ci
         |    JOIN stats sa ON sa.doc_id = ci.doc_a
         |    JOIN stats sb ON sb.doc_id = ci.doc_b
         |  ) WHERE ub_inter / least(sz_a, sz_b) >= 0.8
         |),
         |interx AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.doc_a
         |  JOIN sh sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh
         |  GROUP BY 1, 2
         |),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
         |SELECT doc_a, doc_b, containment FROM (
         |  SELECT i.doc_a, i.doc_b,
         |         round(i.inter / least(sa.sz, sb.sz), 6) AS containment
         |  FROM interx i
         |  JOIN sizes sa ON sa.doc_id = i.doc_a
         |  JOIN sizes sb ON sb.doc_id = i.doc_b
         |) WHERE containment >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    // d20: corpus and delta shingle chains instantiated separately,
    // delta-internal df + left join onto the corpus inventory, novel =
    // total df 1 (raw-string shingles — hashing 1:1, the d2 equivalence).
    "d20_novelty_incr" ->
      """WITH cd AS (SELECT doc_id, text FROM documents),
        |dl AS (
        |  SELECT doc_id + 200000 AS doc_id, text || ' zq zq zq' AS text
        |  FROM documents WHERE doc_id % 25 = 0),
        |cw AS (SELECT doc_id, string_split(text, ' ') AS w FROM cd),
        |csh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
        |  FROM cw WHERE len(w) >= 3),
        |dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM dl),
        |dsh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |           range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh
        |  FROM dw WHERE len(w) >= 3),
        |inv AS (SELECT sh, count(*) AS cdf FROM csh GROUP BY sh),
        |ddfr AS (SELECT sh, count(*) AS ddf FROM dsh GROUP BY sh),
        |j AS (
        |  SELECT s.doc_id, coalesce(i.cdf, 0) + f.ddf AS tdf
        |  FROM dsh s JOIN ddfr f USING (sh) LEFT JOIN inv i USING (sh))
        |SELECT doc_id,
        |       count(*) AS n_shingles,
        |       CAST(sum(CASE WHEN tdf = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
        |       round(CAST(sum(CASE WHEN tdf = 1 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
        |             / count(*), 6) AS novelty
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // t17: same literal wrap, same tag regex + ordered entity decodes
    // (amp last) + whitespace collapse — 'g' flags (DuckDB replaces
    // first-match by default; Spark is global).
    "t17_markup_strip" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         '<html><body class="c"><p>' || text ||
        |         '</p><br/>&amp; <a href="#">more &gt; here</a></body></html>' AS raw
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(raw, '<[^>]*>')) AS BIGINT) AS n_tags,
        |       trim(regexp_replace(
        |         replace(replace(replace(replace(replace(
        |           regexp_replace(raw, '<[^>]*>', ' ', 'g'),
        |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
        |         '\s+', ' ', 'g')) AS clean
        |FROM h ORDER BY doc_id""".stripMargin,
    // t27: same plant (chr() codepoints), same two-class scrub — RE2 and
    // Java regex agree on \x{...} character classes, the PiiPatterns
    // portability argument.
    // t29: suppression is a literal semi-join against the >= k classes.
    "t29_k_anonymity" ->
      """WITH safe AS (
        |  SELECT c_mktsegment, c_nationkey FROM customer
        |  GROUP BY 1, 2 HAVING count(*) >= 10)
        |SELECT c_custkey, c.c_mktsegment, c.c_nationkey
        |FROM customer c
        |JOIN safe s ON s.c_mktsegment = c.c_mktsegment
        |           AND s.c_nationkey = c.c_nationkey
        |ORDER BY c_custkey""".stripMargin,
    // t28: MG superset + exact recount == brute-force HAVING; the plant
    // and the gram construction replay literally (d2's shingle form,
    // minus its per-doc distinct — occurrences count here).
    "t28_frequent_ngrams" ->
      """WITH d AS (
        |  SELECT CASE WHEN doc_id % 2 = 0
        |              THEN text || ' please subscribe to our newsletter'
        |              ELSE text END AS text
        |  FROM documents),
        |words AS (SELECT string_split(text, ' ') AS w FROM d),
        |g AS (
        |  SELECT unnest(list_transform(range(1, len(w) - 1),
        |           i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS phrase
        |  FROM words WHERE len(w) >= 3)
        |SELECT phrase, count(*) AS cnt FROM g GROUP BY 1
        |HAVING count(*) > 0.002 * (SELECT count(*) FROM g)
        |ORDER BY phrase""".stripMargin,
    "t27_invisible_scrub" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         replace(regexp_replace(text, 'e', 'e' || chr(8203) || chr(173), 'g'),
        |                 ' ', chr(160)) AS raw
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id,
        |       CAST(len(regexp_extract_all(raw,
        |              '[\x{200B}\x{200C}\x{200D}\x{2060}\x{FEFF}\x{00AD}\x{200E}\x{200F}]')) +
        |            len(regexp_extract_all(raw, '[\x{00A0}\x{2007}\x{202F}]'))
        |            AS BIGINT) AS n_invisible,
        |       regexp_replace(
        |         regexp_replace(raw,
        |           '[\x{200B}\x{200C}\x{200D}\x{2060}\x{FEFF}\x{00AD}\x{200E}\x{200F}]', '', 'g'),
        |         '[\x{00A0}\x{2007}\x{202F}]', ' ', 'g') AS clean
        |FROM h ORDER BY doc_id""".stripMargin,
    // t18: same planted decomposed suffix via chr() codepoints; DuckDB's
    // nfc_normalize implements the same UAX #15 NFC as java.text.Normalizer.
    "t18_nfc_normalize" ->
      """WITH h AS (
        |  SELECT doc_id,
        |         substr(text, 1, 24) || ' e' || chr(769) || 'A' || chr(778) AS raw
        |  FROM documents WHERE doc_id < 200)
        |SELECT doc_id, length(raw) AS raw_len, nfc_normalize(raw) AS nfc,
        |       length(nfc_normalize(raw)) AS nfc_len
        |FROM h ORDER BY doc_id""".stripMargin,
    // t15: same shingle rows (raw strings — hashing is 1:1, the d2
    // equivalence), df by shingle, novel = df = 1.
    "t15_novelty" ->
      s"""WITH $nearAugCte,
         |$shingleCtes,
         |dfreq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh)
         |SELECT s.doc_id,
         |       count(*) AS n_shingles,
         |       CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |       round(CAST(sum(CASE WHEN f.df = 1 THEN 1 ELSE 0 END) AS BIGINT)::DOUBLE
         |             / count(*), 6) AS novelty
         |FROM sh s JOIN dfreq f USING (sh)
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    // e11: identical left-to-right norm fold (0.0 seed == first-element
    // fold exactly in IEEE), pre-rounded norms, quantile_cont == Spark's
    // exact percentile interpolation (the t11 equivalence).
    "e11_embedding_qc" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |n AS (
        |  SELECT len(e) AS dim,
        |         round(sqrt(list_reduce(list_transform(e, x -> x * x), (a, b) -> a + b)), 6) AS nrm
        |  FROM v)
        |SELECT count(*) AS n_vecs,
        |       CAST(min(dim) AS INTEGER) AS dim_min,
        |       CAST(max(dim) AS INTEGER) AS dim_max,
        |       CAST(sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |       CAST(sum(CASE WHEN isnan(nrm) OR isinf(nrm) THEN 1 ELSE 0 END) AS BIGINT) AS n_nonfinite,
        |       min(nrm) AS norm_min, max(nrm) AS norm_max,
        |       quantile_cont(nrm, 0.5) AS norm_p50
        |FROM n""".stripMargin,
    // e9: e2's assignment CTEs (same rounded csim, same centroid-id
    // tiebreak) + majority pick over the (bucket, label) counts —
    // count-desc, label-asc, matching the Spark window exactly.
    "e9_cluster_purity" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, label FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
        |a AS (
        |  SELECT v.vec_id AS vid, v.label, c.centroid_id,
        |         round(list_dot_product(v.e, c.ce)
        |               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))), 6) AS csim
        |  FROM v CROSS JOIN c
        |),
        |b AS (
        |  SELECT vid, label, centroid_id AS bucket FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id) AS rn
        |    FROM a
        |  ) WHERE rn = 1
        |),
        |cnt AS (SELECT bucket, label, count(*) AS n_lbl FROM b GROUP BY bucket, label)
        |SELECT bucket, n, top_label, n_top, purity FROM (
        |  SELECT bucket,
        |         CAST(sum(n_lbl) OVER (PARTITION BY bucket) AS BIGINT) AS n,
        |         label AS top_label, n_lbl AS n_top,
        |         round(n_lbl::DOUBLE / CAST(sum(n_lbl) OVER (PARTITION BY bucket) AS BIGINT), 6) AS purity,
        |         row_number() OVER (PARTITION BY bucket ORDER BY n_lbl DESC, label) AS rn
        |  FROM cnt
        |) WHERE rn = 1
        |ORDER BY bucket""".stripMargin,
    "e8_semdedup" ->
      s"""WITH RECURSIVE v AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
         |  UNION ALL
         |  SELECT vec_id + 10000, list_transform(embedding::DOUBLE[], x -> x * 1.1 + 0.01)
         |  FROM embeddings WHERE vec_id % 20 = 0
         |),
         |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
         |a AS (
         |  SELECT v.vec_id AS vid, c.centroid_id, v.e,
         |         round(list_dot_product(e, ce)
         |               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))), 6) AS csim
         |  FROM v CROSS JOIN c
         |),
         |b AS (
         |  SELECT vid, centroid_id AS bucket, e FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id) AS crnk FROM a
         |  ) WHERE crnk = 1
         |),
         |bc AS (
         |  SELECT vid, bucket, e FROM (
         |    SELECT *, count(*) OVER (PARTITION BY bucket) AS occ FROM b
         |  ) WHERE occ <= $EmbBucketCap
         |),
         |vp AS (
         |  SELECT vec_a, vec_b FROM (
         |    SELECT x.vid AS vec_a, y.vid AS vec_b,
         |           round(list_dot_product(x.e, y.e)
         |                 / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))), 6) AS sim
         |    FROM bc x JOIN bc y ON x.bucket = y.bucket AND x.vid < y.vid
         |  ) WHERE sim >= 0.8
         |),
         |edges AS (
         |  SELECT vec_a AS a, vec_b AS b FROM vp
         |  UNION ALL
         |  SELECT vec_b, vec_a FROM vp
         |),
         |reach(src, dst) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
         |),
         |clus AS (SELECT src AS vid, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT vec_id FROM v
         |WHERE vec_id NOT IN (SELECT vid FROM clus WHERE vid <> cluster_id)
         |ORDER BY vec_id""".stripMargin,
    // t12: identical add-1 unigram arithmetic (DOUBLE division, ln), and
    // the SAME position-ordered left fold for the per-doc sum — list()
    // with ORDER BY + list_reduce mirrors Spark's sorted-collect +
    // aggregate(0.0, +). 0.0 + x0 == x0 exactly, so the no-init
    // list_reduce fold is bit-identical.
    "t12_unigram_nll" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ex AS (
        |  SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS pos FROM tok
        |),
        |counts AS (SELECT w, count(*) AS cw FROM ex GROUP BY w),
        |totals AS (SELECT sum(cw) AS n, count(*) AS v FROM counts),
        |scored AS (
        |  SELECT ex.doc_id, ex.pos,
        |         ln((counts.cw + 1.0) / (totals.n + 1.0 * totals.v)) AS lnp
        |  FROM ex JOIN counts USING (w) CROSS JOIN totals
        |),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         list_reduce(list(lnp ORDER BY pos), (acc, x) -> acc + x) AS s
        |  FROM scored GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens, round(-s / n_tokens, 6) AS avg_nll
        |FROM perdoc ORDER BY doc_id""".stripMargin,
    // t26: t12's replay one order up — the bigram conditional over
    // (prev, w) with the unigram table supplying contexts, V, and the
    // start distribution; identical DOUBLE arithmetic and the same
    // position-ordered list_reduce fold. Self-model, so every (prev, w)
    // and context join hits (the OOV path is spec-covered, as in t12).
    "t26_bigram_nll" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ex AS (
        |  SELECT doc_id, ws, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS pos FROM tok
        |),
        |pv AS (
        |  SELECT doc_id, pos, w,
        |         CASE WHEN pos = 1 THEN NULL ELSE ws[pos - 1] END AS prev
        |  FROM ex
        |),
        |uni AS (SELECT w, count(*) AS cw FROM ex GROUP BY w),
        |big AS (SELECT prev, w, count(*) AS cb FROM pv WHERE prev IS NOT NULL GROUP BY prev, w),
        |tot AS (SELECT sum(cw) AS n, count(*) AS v FROM uni),
        |scored AS (
        |  SELECT p.doc_id, p.pos,
        |         CASE WHEN p.prev IS NULL
        |           THEN ln((u.cw + 1.0) / (t.n + 1.0 * t.v))
        |           ELSE ln((b.cb + 1.0) / (uc.cw + 1.0 * t.v)) END AS lnp
        |  FROM pv p
        |  JOIN uni u ON u.w = p.w
        |  LEFT JOIN uni uc ON uc.w = p.prev
        |  LEFT JOIN big b ON b.prev = p.prev AND b.w = p.w
        |  CROSS JOIN tot t
        |),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         list_reduce(list(lnp ORDER BY pos), (acc, x) -> acc + x) AS s
        |  FROM scored GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens, round(-s / n_tokens, 6) AS avg_nll
        |FROM perdoc ORDER BY doc_id""".stripMargin,
    // p7: the full chain — planted-row corpus, t37's script formulas as
    // a filter, the 3 GD rounds over the gated table, the 8 BPE rounds
    // over the twice-gated table, per-doc piece sums, t8's packing
    // window — every stage the same machinery its own oracle validates.
    "p7_tokenizer_pipeline" -> {
      s"""WITH $tokenizerGateCtes,
         |${bpeCtes(8, "p7g2")},
         |p7t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM p7g2),
         |p7n AS (
         |  SELECT t.doc_id, t.lang,
         |         CAST(sum(len(string_split(b.seg, ' '))) AS BIGINT) AS n_bpe_tokens
         |  FROM p7t t JOIN bw8 b USING (word) GROUP BY 1, 2),
         |p7p AS (
         |  SELECT lang, n_bpe_tokens,
         |         coalesce(sum(n_bpe_tokens) OVER (
         |           PARTITION BY lang ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |  FROM p7n)
         |SELECT lang, CAST(floor(cum / 2048) AS BIGINT) AS pack_id,
         |       count(*) AS n_docs, CAST(sum(n_bpe_tokens) AS BIGINT) AS sum_tokens
         |FROM p7p GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin
    },
    // p8: the same gated corpus, then piece→id encode and per-lang
    // packing over ID counts — sum_piece_ids pins the exact id
    // assignment of every packed sequence through the hash.
    "p8_bpe_id_pack" ->
      s"""WITH $tokenizerGateCtes,
         |${bpeCtes(8, "p7g2")},
         |${pieceVocabCtes(8)},
         |p8t AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word FROM p7g2),
         |p8e AS (SELECT t.doc_id, t.lang, unnest(string_split(b.seg, ' ')) AS piece
         |        FROM p8t t JOIN bw8 b ON t.word = b.word),
         |p8i AS (SELECT e.doc_id, e.lang, count(*) AS n_pieces,
         |               CAST(sum(pv.piece_id) AS BIGINT) AS id_sum
         |        FROM p8e e JOIN pv ON e.piece = pv.piece GROUP BY 1, 2),
         |p8p AS (SELECT lang, n_pieces, id_sum,
         |               coalesce(sum(n_pieces) OVER (PARTITION BY lang ORDER BY doc_id
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
         |        FROM p8i)
         |SELECT lang, CAST(floor(cum / 2048) AS BIGINT) AS pack_id,
         |       count(*) AS n_docs, CAST(sum(n_pieces) AS BIGINT) AS sum_pieces,
         |       CAST(sum(id_sum) AS BIGINT) AS sum_piece_ids
         |FROM p8p GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin,
    // e22: the 5 greedy rounds unrolled — seed = min id, per-round
    // argmax of the 6dp running min-distance, ties by id.
    "e22_kcenter_coreset" -> {
      val steps = (2 to 5).map(r => s"SELECT $r, vec_id, mind FROM km$r")
        .mkString("\n|UNION ALL ")
      s"""WITH ${kCenterCtes(5)}
         |SELECT CAST(1 AS BIGINT) AS step, vec_id AS center_id, 0.0 AS dist FROM ks1
         |UNION ALL $steps
         |ORDER BY step""".stripMargin
    },
    // t38: the trained bw8 segmentation joined onto the per-lang token
    // stream, pieces counted from the seg split length.
    "t38_bpe_fertility" ->
      s"""WITH ${bpeCtes(8)},
         |tok AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
         |j AS (SELECT tok.lang, length(tok.word) AS chars,
         |             len(string_split(bw8.seg, ' ')) AS pieces
         |      FROM tok JOIN bw8 ON tok.word = bw8.word)
         |SELECT lang, count(*) AS n_words,
         |       CAST(sum(pieces) AS BIGINT) AS n_pieces,
         |       round(sum(pieces) / CAST(count(*) AS DOUBLE), 6) AS fertility,
         |       round(sum(chars) / CAST(sum(pieces) AS DOUBLE), 6) AS chars_per_piece
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin,
    // t37: the same subtraction counts under RE2's script classes
    // (\p{Latin} vs Java's \p{IsLatin} — same BMP coverage), the same
    // priority-ordered dominant CASE over the ROUNDED fractions, and the
    // same >= threshold count for the mixed flag.
    "t37_script_mix" ->
      s"""WITH $scriptAugCte,
         |c AS (
         |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_total,
         |    round((length(text) - length(regexp_replace(text, '\\p{Latin}', '', 'g')))
         |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS f_latin,
         |    round((length(text) - length(regexp_replace(text, '\\p{Cyrillic}', '', 'g')))
         |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS f_cyrillic,
         |    round((length(text) - length(regexp_replace(text, '\\p{Han}', '', 'g')))
         |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS f_han,
         |    round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
         |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS f_digit
         |  FROM sd)
         |SELECT doc_id, n_chars_total, f_latin, f_cyrillic, f_han, f_digit,
         |  CASE WHEN greatest(f_latin, f_cyrillic, f_han, f_digit) = 0 THEN 'other'
         |       WHEN f_latin = greatest(f_latin, f_cyrillic, f_han, f_digit) THEN 'latin'
         |       WHEN f_cyrillic = greatest(f_latin, f_cyrillic, f_han, f_digit) THEN 'cyrillic'
         |       WHEN f_han = greatest(f_latin, f_cyrillic, f_han, f_digit) THEN 'han'
         |       ELSE 'digit' END AS dominant,
         |  ((f_latin >= 0.2)::INT + (f_cyrillic >= 0.2)::INT
         |   + (f_han >= 0.2)::INT + (f_digit >= 0.2)::INT) >= 2 AS mixed_script
         |FROM c ORDER BY doc_id""".stripMargin,
    // t41: the segmentation replayed under RE2 — isolate no-space-script
    // runs with surrounding spaces, chunk per codepoint, collapse — the
    // t37 dominant CASE for the grouping, then the t38 fertility rollup
    // over bpeCtes trained on the SEGMENTED corpus.
    "t41_cjk_segment" -> {
      val cls = """\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}"""
      val bs = "\\"
      val segExpr =
        s"trim(regexp_replace(regexp_replace(regexp_replace(text, " +
          s"'([$cls]+)', ' ${bs}1 ', 'g'), '([$cls]{1})', '${bs}1 ', 'g'), " +
          "' +', ' ', 'g'))"
      s"""WITH $cjkAugCte,
         |cjf AS (
         |  SELECT doc_id, text,
         |    round((length(text) - length(regexp_replace(text, '${bs}p{Latin}', '', 'g')))
         |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS f_latin,
         |    round((length(text) - length(regexp_replace(text, '${bs}p{Cyrillic}', '', 'g')))
         |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS f_cyrillic,
         |    round((length(text) - length(regexp_replace(text, '${bs}p{Han}', '', 'g')))
         |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS f_han,
         |    round((length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))
         |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS f_digit
         |  FROM cj),
         |segd AS (
         |  SELECT doc_id,
         |    CASE WHEN greatest(f_latin, f_cyrillic, f_han, f_digit) = 0 THEN 'other'
         |         WHEN f_latin = greatest(f_latin, f_cyrillic, f_han, f_digit) THEN 'latin'
         |         WHEN f_cyrillic = greatest(f_latin, f_cyrillic, f_han, f_digit) THEN 'cyrillic'
         |         WHEN f_han = greatest(f_latin, f_cyrillic, f_han, f_digit) THEN 'han'
         |         ELSE 'digit' END AS dominant,
         |    $segExpr AS text
         |  FROM cjf),
         |${bpeCtes(8, "segd")},
         |cjtok AS (SELECT dominant, unnest(string_split(text, ' ')) AS word FROM segd),
         |cjj AS (SELECT cjtok.dominant, length(cjtok.word) AS chars,
         |               len(string_split(bw8.seg, ' ')) AS pieces
         |        FROM cjtok JOIN bw8 ON cjtok.word = bw8.word)
         |SELECT dominant, count(*) AS n_words,
         |       CAST(sum(pieces) AS BIGINT) AS n_pieces,
         |       round(sum(pieces) / CAST(count(*) AS DOUBLE), 6) AS fertility,
         |       round(sum(chars) / CAST(sum(pieces) AS DOUBLE), 6) AS chars_per_piece
         |FROM cjj GROUP BY dominant ORDER BY dominant""".stripMargin
    },
    // t40: the same 3 GD rounds, then the per-score rollup + descending
    // cumulative window; every ratio derives from integer counts (f1 =
    // 2tp/(2tp+fp+fn)) so the only rounding is the final 6dp.
    "t40_classifier_pr_curve" -> {
      val scoreExpr = "round(1/(1+exp(-(w.b + w.w1*x1 + w.w2*x2 + w.w3*x3))), 6)"
      s"""WITH ${logisticCtes(3, 1.0)},
         |sc AS (SELECT cf.doc_id, cf.y, $scoreExpr AS score FROM cf CROSS JOIN cw3 w),
         |ps AS (SELECT score AS thr, count(*) AS n, CAST(sum(y) AS BIGINT) AS pos
         |       FROM sc GROUP BY score),
         |tt AS (SELECT CAST(sum(y) AS BIGINT) AS totpos FROM sc),
         |cum AS (
         |  SELECT thr,
         |         CAST(sum(pos) OVER (ORDER BY thr DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         |         CAST(sum(n) OVER (ORDER BY thr DESC
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS pred
         |  FROM ps)
         |SELECT thr, tp, (pred - tp) AS fp, (t.totpos - tp) AS fn,
         |       round(tp / CAST(pred AS DOUBLE), 6) AS precision,
         |       CASE WHEN t.totpos = 0 THEN 0.0
         |            ELSE round(tp / CAST(t.totpos AS DOUBLE), 6) END AS recall,
         |       round(2.0 * tp / CAST(2 * tp + (pred - tp) + (t.totpos - tp) AS DOUBLE), 6) AS f1
         |FROM cum CROSS JOIN tt t
         |ORDER BY thr DESC""".stripMargin
    },
    // t44: the seed VALUES, the 8 unrolled softmax-GD rounds (per-row
    // 6dp probs, K·(d+1) 6dp-re-rounded weight steps), then the full
    // corpus scored under sw8 with the argmax tie to the lowest class.
    "t44_trained_langid" -> {
      val (pF, predCase) = softmaxScoreExprs
      s"""WITH $langidSeedCte,
         |sfs AS MATERIALIZED (
         |  ${langidFeatureSql("lseed")}),
         |${softmaxCtes(8, 1.0)},
         |lall AS (
         |  SELECT doc_id, lang, text FROM documents
         |  UNION ALL SELECT doc_id, lang, text FROM lseed),
         |sfa AS (
         |  ${langidFeatureSql("lall")}),
         |fsc AS (
         |  SELECT sfa.*,
         |    $pF
         |  FROM sfa CROSS JOIN sw8 w),
         |fp AS (
         |  SELECT CASE WHEN doc_id >= 320000 THEN 'seed' ELSE 'corpus' END AS src,
         |    lang,
         |    CASE $predCase END AS pred_lang
         |  FROM fsc)
         |SELECT src, lang, pred_lang, count(*) AS n
         |FROM fp GROUP BY 1, 2, 3 ORDER BY src, lang, pred_lang""".stripMargin
    },
    // t39: KN replayed literally — context stats (cv, N1+ forward),
    // continuation stats (N1+ backward), bigram-type and vocab totals,
    // max(c−d,0) discounting, the guarded continuation for doc-initial
    // tokens, the same position-ordered fold. d = 0.75 (binary-exact).
    "t39_kn_bigram_nll" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |ex AS (
        |  SELECT doc_id, ws, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS pos FROM tok
        |),
        |pv AS (
        |  SELECT doc_id, pos, w,
        |         CASE WHEN pos = 1 THEN NULL ELSE ws[pos - 1] END AS prev
        |  FROM ex
        |),
        |big AS (SELECT prev, w, count(*) AS cb FROM pv WHERE prev IS NOT NULL GROUP BY prev, w),
        |ctx AS (SELECT prev, CAST(sum(cb) AS BIGINT) AS cv, count(*) AS n1fwd FROM big GROUP BY prev),
        |cont AS (SELECT w, count(*) AS n1bwd FROM big GROUP BY w),
        |tot AS (
        |  SELECT (SELECT count(*) FROM big) AS b,
        |         (SELECT count(DISTINCT t) FROM
        |            (SELECT prev AS t FROM big UNION ALL SELECT w FROM big)) AS v
        |),
        |scored AS (
        |  SELECT p.doc_id, p.pos,
        |         CASE WHEN p.prev IS NULL OR x.cv IS NULL
        |                OR (n.n1bwd IS NULL AND b.cb IS NULL)
        |           THEN ln((coalesce(n.n1bwd, 0) + 1.0) / (t.b + t.v))
        |           ELSE ln((greatest(coalesce(b.cb, 0) - 0.75, 0.0)
        |                    + 0.75 * x.n1fwd * (coalesce(n.n1bwd, 0) / CAST(t.b AS DOUBLE)))
        |                   / x.cv) END AS lnp
        |  FROM pv p
        |  LEFT JOIN cont n ON n.w = p.w
        |  LEFT JOIN ctx x ON x.prev = p.prev
        |  LEFT JOIN big b ON b.prev = p.prev AND b.w = p.w
        |  CROSS JOIN tot t
        |),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         list_reduce(list(lnp ORDER BY pos), (acc, x) -> acc + x) AS s
        |  FROM scored GROUP BY doc_id
        |)
        |SELECT doc_id, n_tokens, round(-s / n_tokens, 6) AS avg_nll
        |FROM perdoc ORDER BY doc_id""".stripMargin,
    // t45: modified KN replayed literally — the discount estimation
    // (Y, D1, D2, D3+ from exact count-of-counts, 6dp), the binned
    // top-order discount CASE, the continuation bigram level at
    // d=0.75, the add-1 guard routing, the position-ordered fold.
    "t45_mkn_trigram_nll" ->
      s"""WITH ${mknNllCtes("documents", "documents")}
         |SELECT doc_id, n_tokens, avg_nll
         |FROM perdoc ORDER BY doc_id""".stripMargin,
    // t61: the order-5 generalization of the t45 chain — generated by
    // the same CTE template at n = 5 (per-level continuation tables,
    // chained pl2..pl4 CTEs, binned top discounts).
    "t61_mkn5_nll" ->
      s"""WITH ${mknNgramNllCtes("documents", "documents", 5)}
         |SELECT doc_id, n_tokens, avg_nll
         |FROM perdoc ORDER BY doc_id""".stripMargin,
    // t69: the same template with the PROBE restricted to docs < 50 —
    // the at-rest pruned path must score the sub-batch exactly as the
    // full-table derivation scores it.
    "t69_mkn5_probe_indexed" ->
      s"""WITH ${mknNgramNllCtes("documents",
             "(SELECT doc_id, text FROM documents WHERE doc_id < 50)", 5)}
         |SELECT doc_id, n_tokens, avg_nll
         |FROM perdoc ORDER BY doc_id""".stripMargin,
    // p12: p9's gate chain with the order-5 CTE generator in the LM
    // position — logistic bootstrap, 5-gram MKN on the reference,
    // per-lang ntile terciles.
    "p12_perplexity_gate_5g" ->
      s"""WITH ${logisticCtes(3, 1.0)},
         |acc AS MATERIALIZED (
         |  SELECT doc_id FROM cf CROSS JOIN cw3 w
         |  WHERE round(1/(1+exp(-(w.b + w.w1*x1 + w.w2*x2 + w.w3*x3))), 6) >= 0.5),
         |refd AS MATERIALIZED (
         |  SELECT d.doc_id, d.text FROM documents d JOIN acc USING (doc_id)),
         |${mknNgramNllCtes("refd", "documents", 5)}
         |SELECT p.doc_id, l.lang, p.n_tokens, p.avg_nll,
         |       CAST(ntile(3) OVER (PARTITION BY l.lang
         |         ORDER BY p.avg_nll, p.doc_id) AS BIGINT) AS bucket
         |FROM perdoc p JOIN (SELECT doc_id, lang FROM documents) l USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,
    // t63: the t57 chain with its splice as a `seqs` CTE plus the pad
    // union — per (lang, pack) deficits exploded via range(mx+1, 512)
    // (empty when full/overflowing), NULL doc ids, pad id 3.
    "t63_padded_batches" ->
      s"""WITH ${bpeCtes(8)},
         |${pieceVocabCtes(8)},
         |d50 AS (SELECT doc_id, lang, string_split(text, ' ') AS w
         |        FROM documents WHERE doc_id < 50),
         |wp AS (SELECT doc_id, lang, CAST(i - 1 AS BIGINT) AS word_pos, w[i] AS word
         |       FROM d50, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |sp AS (SELECT doc_id, lang, word_pos, string_split(seg, ' ') AS pieces
         |       FROM wp JOIN bw8 ON wp.word = bw8.word),
         |pe AS (SELECT doc_id, lang, word_pos, CAST(j - 1 AS BIGINT) AS piece_pos,
         |              pieces[j] AS piece
         |       FROM sp, UNNEST(range(1, len(pieces) + 1)) AS t(j)),
         |pid AS (SELECT pe.doc_id, pe.lang, pe.word_pos, pe.piece_pos,
         |               CAST(pv.piece_id + 4 AS BIGINT) AS piece_id
         |        FROM pe JOIN pv ON pe.piece = pv.piece),
         |pide AS MATERIALIZED (
         |  SELECT doc_id, lang, word_pos, piece_pos, piece_id FROM pid
         |  UNION ALL
         |  SELECT doc_id, lang, max(word_pos) + 1 AS word_pos,
         |         CAST(0 AS BIGINT) AS piece_pos,
         |         CAST(2 AS BIGINT) AS piece_id
         |  FROM pid GROUP BY doc_id, lang),
         |cnt AS (SELECT doc_id, lang, count(*) AS n FROM pide GROUP BY 1, 2),
         |pk AS (SELECT doc_id, lang, n,
         |         CAST(floor(coalesce(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT)
         |           AS pack_id
         |       FROM cnt),
         |off AS (SELECT doc_id, lang, pack_id,
         |          coalesce(sum(n) OVER (PARTITION BY lang, pack_id ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
         |        FROM pk),
         |seqs AS (
         |  SELECT p.lang, o.pack_id,
         |         CAST(o.o + row_number() OVER (PARTITION BY p.doc_id
         |           ORDER BY p.word_pos, p.piece_pos) - 1 AS BIGINT) AS pos,
         |         p.doc_id, p.piece_id
         |  FROM pide p JOIN off o ON p.doc_id = o.doc_id),
         |pdl AS (SELECT lang, pack_id, max(pos) AS mx FROM seqs GROUP BY 1, 2),
         |pads AS (SELECT lang, pack_id,
         |                unnest(range(mx + 1, 512)) AS pos,
         |                CAST(NULL AS BIGINT) AS doc_id,
         |                CAST(3 AS BIGINT) AS piece_id
         |         FROM pdl)
         |SELECT lang, pack_id, pos, doc_id, piece_id FROM seqs
         |UNION ALL
         |SELECT lang, pack_id, pos, doc_id, piece_id FROM pads
         |ORDER BY lang, pack_id, pos""".stripMargin,
    // p9: the CCNet gate replayed — the t35 classifier CTEs select the
    // reference slice, the t45 modified-KN chain trains on it and
    // scores the full corpus, ntile(3) buckets per lang.
    "p9_perplexity_gate" ->
      s"""WITH ${logisticCtes(3, 1.0)},
         |acc AS MATERIALIZED (
         |  SELECT doc_id FROM cf CROSS JOIN cw3 w
         |  WHERE round(1/(1+exp(-(w.b + w.w1*x1 + w.w2*x2 + w.w3*x3))), 6) >= 0.5),
         |refd AS MATERIALIZED (
         |  SELECT d.doc_id, d.text FROM documents d JOIN acc USING (doc_id)),
         |${mknNllCtes("refd", "documents")}
         |SELECT p.doc_id, l.lang, p.n_tokens, p.avg_nll,
         |       CAST(ntile(3) OVER (PARTITION BY l.lang
         |         ORDER BY p.avg_nll, p.doc_id) AS BIGINT) AS bucket
         |FROM perdoc p JOIN (SELECT doc_id, lang FROM documents) l USING (doc_id)
         |ORDER BY p.doc_id""".stripMargin,
    // p10: the same chain, cutoffs read by the DataSketches INCLUSIVE
    // rule (min(v) where cume_dist ≥ rank — the q37 replay) over the
    // 6dp fixed-point NLLs, ties to the lower bucket.
    "p10_perplexity_gate_sketch" ->
      s"""WITH ${logisticCtes(3, 1.0)},
         |acc AS MATERIALIZED (
         |  SELECT doc_id FROM cf CROSS JOIN cw3 w
         |  WHERE round(1/(1+exp(-(w.b + w.w1*x1 + w.w2*x2 + w.w3*x3))), 6) >= 0.5),
         |refd AS MATERIALIZED (
         |  SELECT d.doc_id, d.text FROM documents d JOIN acc USING (doc_id)),
         |${mknNllCtes("refd", "documents")},
         |pfx AS MATERIALIZED (
         |  SELECT p.doc_id, l.lang, p.n_tokens, p.avg_nll,
         |         CAST(round(p.avg_nll * 1000000) AS BIGINT) AS nf
         |  FROM perdoc p JOIN (SELECT doc_id, lang FROM documents) l USING (doc_id)),
         |pcd AS (SELECT lang, nf,
         |               cume_dist() OVER (PARTITION BY lang ORDER BY nf) AS cd
         |        FROM pfx),
         |pct AS (SELECT lang,
         |               min(CASE WHEN cd >= 1.0/3 THEN nf END) AS c1,
         |               min(CASE WHEN cd >= 2.0/3 THEN nf END) AS c2
         |        FROM pcd GROUP BY lang)
         |SELECT f.doc_id, f.lang, f.n_tokens, f.avg_nll,
         |       CAST(CASE WHEN f.nf <= c.c1 THEN 1
         |                 WHEN f.nf <= c.c2 THEN 2 ELSE 3 END AS BIGINT) AS bucket
         |FROM pfx f JOIN pct c USING (lang)
         |ORDER BY f.doc_id""".stripMargin,
    // p14: p10's chain with the reference model trained PER LANGUAGE —
    // the grouped MKN CTEs (group key on every model table, per-lang
    // discount estimation, group-equality scoring joins, inner totals
    // join); cutoff machinery verbatim from p10.
    "p14_perplexity_gate_perlang" ->
      s"""WITH ${logisticCtes(3, 1.0)},
         |acc AS MATERIALIZED (
         |  SELECT doc_id FROM cf CROSS JOIN cw3 w
         |  WHERE round(1/(1+exp(-(w.b + w.w1*x1 + w.w2*x2 + w.w3*x3))), 6) >= 0.5),
         |refd AS MATERIALIZED (
         |  SELECT d.doc_id, d.lang, d.text FROM documents d JOIN acc USING (doc_id)),
         |${mknNllByCtes("refd", "(SELECT doc_id, lang, text FROM documents)", "lang")},
         |pfx AS MATERIALIZED (
         |  SELECT p.doc_id, p.lang, p.n_tokens, p.avg_nll,
         |         CAST(round(p.avg_nll * 1000000) AS BIGINT) AS nf
         |  FROM perdoc p),
         |pcd AS (SELECT lang, nf,
         |               cume_dist() OVER (PARTITION BY lang ORDER BY nf) AS cd
         |        FROM pfx),
         |pct AS (SELECT lang,
         |               min(CASE WHEN cd >= 1.0/3 THEN nf END) AS c1,
         |               min(CASE WHEN cd >= 2.0/3 THEN nf END) AS c2
         |        FROM pcd GROUP BY lang)
         |SELECT f.doc_id, f.lang, f.n_tokens, f.avg_nll,
         |       CAST(CASE WHEN f.nf <= c.c1 THEN 1
         |                 WHEN f.nf <= c.c2 THEN 2 ELSE 3 END AS BIGINT) AS bucket
         |FROM pfx f JOIN pct c USING (lang)
         |ORDER BY f.doc_id""".stripMargin,
    // p11: the full crawl-to-corpus replay — the WARC+markup stages are
    // closed-form (strip restores the source text; mirrors are
    // doc_id+700000 copies of every 10th), the dedup is replayed
    // GENERICALLY (keep-min over the normalized-text fingerprint, so
    // natural exact dups at any SF replay too), then the t44 softmax
    // chain routes by predicted language, the p9 logistic+MKN chain
    // gates per pred_lang (tail tercile dropped), the t33 BPE chain
    // trains on the survivors, and the t57 id/EOS/packing windows
    // splice — rolled up to the per-pack census with the
    // position-weighted checksum.
    "p11_crawl_to_corpus" -> {
      val (pF, predCase) = softmaxScoreExprs
      s"""WITH src AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 700000, text FROM documents WHERE doc_id % 10 = 0),
         |dd AS MATERIALIZED (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text, row_number() OVER (
         |      PARTITION BY lower(regexp_replace(text, '${"\\"}s+', ' ', 'g'))
         |      ORDER BY doc_id) AS rn
         |    FROM src) WHERE rn = 1),
         |$langidSeedCte,
         |sfs AS MATERIALIZED (
         |  ${langidFeatureSql("lseed")}),
         |${softmaxCtes(8, 1.0)},
         |sfa AS (
         |  ${langidFeatureSql("(SELECT doc_id, NULL AS lang, text FROM dd)")}),
         |rt AS MATERIALIZED (
         |  SELECT doc_id, CASE $predCase END AS pred_lang
         |  FROM (SELECT sfa.*, $pF FROM sfa CROSS JOIN sw8 w)),
         |dd2 AS (SELECT doc_id, text, length(text) AS n_chars FROM dd),
         |${logisticCtes(3, 1.0, "dd2")},
         |acc AS MATERIALIZED (
         |  SELECT doc_id FROM cf CROSS JOIN cw3 w
         |  WHERE round(1/(1+exp(-(w.b + w.w1*x1 + w.w2*x2 + w.w3*x3))), 6) >= 0.5),
         |refd AS MATERIALIZED (
         |  SELECT d.doc_id, d.text FROM dd d JOIN acc USING (doc_id)),
         |${mknNllCtes("refd", "dd")},
         |gt AS MATERIALIZED (
         |  SELECT doc_id FROM (
         |    SELECT p.doc_id, ntile(3) OVER (PARTITION BY r.pred_lang
         |      ORDER BY p.avg_nll, p.doc_id) AS b
         |    FROM perdoc p JOIN rt r USING (doc_id))
         |  WHERE b <= 2),
         |cc AS MATERIALIZED (
         |  SELECT d.doc_id, d.text, r.pred_lang
         |  FROM dd d JOIN gt USING (doc_id) JOIN rt r USING (doc_id)),
         |${bpeCtes(8, "cc")},
         |${pieceVocabCtes(8)},
         |ccw AS (SELECT doc_id, pred_lang, string_split(text, ' ') AS w FROM cc),
         |wp AS (SELECT doc_id, pred_lang, CAST(i - 1 AS BIGINT) AS word_pos, w[i] AS word
         |       FROM ccw, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |spc AS (SELECT doc_id, pred_lang, word_pos, string_split(seg, ' ') AS pieces
         |        FROM wp JOIN bw8 ON wp.word = bw8.word),
         |pe AS (SELECT doc_id, pred_lang, word_pos, CAST(j - 1 AS BIGINT) AS piece_pos,
         |              pieces[j] AS piece
         |       FROM spc, UNNEST(range(1, len(pieces) + 1)) AS t(j)),
         |pid AS (SELECT pe.doc_id, pe.pred_lang, pe.word_pos, pe.piece_pos,
         |               CAST(pv.piece_id + 4 AS BIGINT) AS piece_id
         |        FROM pe JOIN pv ON pe.piece = pv.piece),
         |pide AS MATERIALIZED (
         |  SELECT doc_id, pred_lang, word_pos, piece_pos, piece_id FROM pid
         |  UNION ALL
         |  SELECT c.doc_id, c.pred_lang, coalesce(m.word_pos, 0) AS word_pos,
         |         CAST(0 AS BIGINT) AS piece_pos, CAST(2 AS BIGINT) AS piece_id
         |  FROM cc c LEFT JOIN (SELECT doc_id, max(word_pos) + 1 AS word_pos
         |                       FROM pid GROUP BY doc_id) m USING (doc_id)
         |  UNION ALL
         |  SELECT doc_id, pred_lang, CAST(-1 AS BIGINT) AS word_pos,
         |         CAST(0 AS BIGINT) AS piece_pos, CAST(1 AS BIGINT) AS piece_id
         |  FROM cc),
         |cnt AS (SELECT doc_id, pred_lang, count(*) AS n FROM pide GROUP BY 1, 2),
         |pk AS (SELECT doc_id, pred_lang, n,
         |         CAST(floor(coalesce(sum(n) OVER (PARTITION BY pred_lang ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT)
         |           AS pack_id
         |       FROM cnt),
         |off AS (SELECT doc_id, pred_lang, pack_id,
         |          coalesce(sum(n) OVER (PARTITION BY pred_lang, pack_id ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
         |        FROM pk),
         |seqs AS (
         |  SELECT p.pred_lang, o.pack_id,
         |         CAST(o.o + row_number() OVER (PARTITION BY p.doc_id
         |           ORDER BY p.word_pos, p.piece_pos) - 1 AS BIGINT) AS pos,
         |         p.doc_id, p.piece_id
         |  FROM pide p JOIN off o ON p.doc_id = o.doc_id)
         |SELECT pred_lang, pack_id, count(*) AS n_positions,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(sum(piece_id) AS BIGINT) AS sum_piece_ids,
         |       CAST(sum(pos * piece_id) AS BIGINT) AS pos_weighted_sum
         |FROM seqs GROUP BY 1, 2 ORDER BY pred_lang, pack_id""".stripMargin
    },
    // p13: the scale-path replay — p11's chain with (a) the near-dup
    // prune after dd (the d2 candidate+verify CTEs over dd as nd*, then
    // GENERIC recursive connected components + keep-min, so natural
    // near-dups at any SF replay too, not just the planted ` zq zq zq`
    // tails), and (b) the gate as the p10 inclusive sketch-cutoff rule
    // per pred_lang (min(nf) where cume_dist ≥ 2/3; keep nf ≤ cutoff)
    // instead of the ntile window.
    "p13_crawl_to_corpus_scale" -> {
      val (pF, predCase) = softmaxScoreExprs
      s"""WITH RECURSIVE src AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 700000, text FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 800000, text || ' zq zq zq' FROM documents WHERE doc_id % 25 = 0),
         |dd AS MATERIALIZED (
         |  SELECT doc_id, text FROM (
         |    SELECT doc_id, text, row_number() OVER (
         |      PARTITION BY lower(regexp_replace(text, '${"\\"}s+', ' ', 'g'))
         |      ORDER BY doc_id) AS rn
         |    FROM src) WHERE rn = 1),
         |${shingleCtesFor("dd", "nd")},
         |${jaccardPairsCtesFor("nd")},
         |ndedges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM ndvp
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM ndvp
         |),
         |ndreach(r0, dst) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM ndedges)
         |  UNION
         |  SELECT r.r0, e.b FROM ndreach r JOIN ndedges e ON e.a = r.dst
         |),
         |ndclus AS (SELECT r0 AS doc_id, min(dst) AS cluster_id
         |           FROM ndreach GROUP BY r0),
         |ndd AS MATERIALIZED (
         |  SELECT doc_id, text FROM dd
         |  WHERE doc_id NOT IN (SELECT doc_id FROM ndclus WHERE doc_id <> cluster_id)),
         |$langidSeedCte,
         |sfs AS MATERIALIZED (
         |  ${langidFeatureSql("lseed")}),
         |${softmaxCtes(8, 1.0)},
         |sfa AS (
         |  ${langidFeatureSql("(SELECT doc_id, NULL AS lang, text FROM ndd)")}),
         |rt AS MATERIALIZED (
         |  SELECT doc_id, CASE $predCase END AS pred_lang
         |  FROM (SELECT sfa.*, $pF FROM sfa CROSS JOIN sw8 w)),
         |dd2 AS (SELECT doc_id, text, length(text) AS n_chars FROM ndd),
         |${logisticCtes(3, 1.0, "dd2")},
         |acc AS MATERIALIZED (
         |  SELECT doc_id FROM cf CROSS JOIN cw3 w
         |  WHERE round(1/(1+exp(-(w.b + w.w1*x1 + w.w2*x2 + w.w3*x3))), 6) >= 0.5),
         |refd AS MATERIALIZED (
         |  SELECT d.doc_id, r.pred_lang, d.text
         |  FROM ndd d JOIN acc USING (doc_id) JOIN rt r USING (doc_id)),
         |${mknNllByCtes("refd",
            "(SELECT d.doc_id, r.pred_lang, d.text FROM ndd d JOIN rt r USING (doc_id))",
            "pred_lang")},
         |pfx AS MATERIALIZED (
         |  SELECT p.doc_id, p.pred_lang,
         |         CAST(round(p.avg_nll * 1000000) AS BIGINT) AS nf
         |  FROM perdoc p),
         |pcd AS (SELECT pred_lang, nf,
         |               cume_dist() OVER (PARTITION BY pred_lang ORDER BY nf) AS cd
         |        FROM pfx),
         |pct AS (SELECT pred_lang,
         |               min(CASE WHEN cd >= 2.0/3 THEN nf END) AS c2
         |        FROM pcd GROUP BY pred_lang),
         |gt AS MATERIALIZED (
         |  SELECT f.doc_id FROM pfx f JOIN pct c USING (pred_lang)
         |  WHERE f.nf <= c.c2),
         |cc AS MATERIALIZED (
         |  SELECT d.doc_id, d.text, r.pred_lang
         |  FROM ndd d JOIN gt USING (doc_id) JOIN rt r USING (doc_id)),
         |${bpeCtes(8, "cc")},
         |${pieceVocabCtes(8)},
         |ccw AS (SELECT doc_id, pred_lang, string_split(text, ' ') AS w FROM cc),
         |wp AS (SELECT doc_id, pred_lang, CAST(i - 1 AS BIGINT) AS word_pos, w[i] AS word
         |       FROM ccw, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |spc AS (SELECT doc_id, pred_lang, word_pos, string_split(seg, ' ') AS pieces
         |        FROM wp JOIN bw8 ON wp.word = bw8.word),
         |pe AS (SELECT doc_id, pred_lang, word_pos, CAST(j - 1 AS BIGINT) AS piece_pos,
         |              pieces[j] AS piece
         |       FROM spc, UNNEST(range(1, len(pieces) + 1)) AS t(j)),
         |pid AS (SELECT pe.doc_id, pe.pred_lang, pe.word_pos, pe.piece_pos,
         |               CAST(pv.piece_id + 4 AS BIGINT) AS piece_id
         |        FROM pe JOIN pv ON pe.piece = pv.piece),
         |pide AS MATERIALIZED (
         |  SELECT doc_id, pred_lang, word_pos, piece_pos, piece_id FROM pid
         |  UNION ALL
         |  SELECT c.doc_id, c.pred_lang, coalesce(m.word_pos, 0) AS word_pos,
         |         CAST(0 AS BIGINT) AS piece_pos, CAST(2 AS BIGINT) AS piece_id
         |  FROM cc c LEFT JOIN (SELECT doc_id, max(word_pos) + 1 AS word_pos
         |                       FROM pid GROUP BY doc_id) m USING (doc_id)
         |  UNION ALL
         |  SELECT doc_id, pred_lang, CAST(-1 AS BIGINT) AS word_pos,
         |         CAST(0 AS BIGINT) AS piece_pos, CAST(1 AS BIGINT) AS piece_id
         |  FROM cc),
         |cnt AS (SELECT doc_id, pred_lang, count(*) AS n FROM pide GROUP BY 1, 2),
         |pk AS (SELECT doc_id, pred_lang, n,
         |         CAST(floor(coalesce(sum(n) OVER (PARTITION BY pred_lang ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT)
         |           AS pack_id
         |       FROM cnt),
         |off AS (SELECT doc_id, pred_lang, pack_id,
         |          coalesce(sum(n) OVER (PARTITION BY pred_lang, pack_id ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
         |        FROM pk),
         |seqs AS (
         |  SELECT p.pred_lang, o.pack_id,
         |         CAST(o.o + row_number() OVER (PARTITION BY p.doc_id
         |           ORDER BY p.word_pos, p.piece_pos) - 1 AS BIGINT) AS pos,
         |         p.doc_id, p.piece_id
         |  FROM pide p JOIN off o ON p.doc_id = o.doc_id)
         |SELECT pred_lang, pack_id, count(*) AS n_positions,
         |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |       CAST(sum(piece_id) AS BIGINT) AS sum_piece_ids,
         |       CAST(sum(pos * piece_id) AS BIGINT) AS pos_weighted_sum
         |FROM seqs GROUP BY 1, 2 ORDER BY pred_lang, pack_id""".stripMargin
    },
    // t36: t26's replay one order up — trigram/bigram-context tables
    // built from the same positional explode, the Jelinek–Mercer CASE
    // with the EXACT Scala-computed lambda doubles interpolated in
    // (1−0.5−0.3 is 0.19999999999999998 in binary; writing 0.2 would
    // diverge), and the same position-ordered fold.
    "t36_trigram_nll" -> {
      val l3 = 0.5; val l2 = 0.3
      val lb = l3 + l2; val l1 = 1.0 - l3 - l2
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |ex AS (
         |  SELECT doc_id, ws, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS pos FROM tok
         |),
         |pv AS (
         |  SELECT doc_id, pos, w,
         |         CASE WHEN pos = 1 THEN NULL ELSE ws[pos - 1] END AS prev,
         |         CASE WHEN pos <= 2 THEN NULL ELSE ws[pos - 2] END AS prev2
         |  FROM ex
         |),
         |uni AS (SELECT w, count(*) AS cw FROM ex GROUP BY w),
         |big AS (SELECT prev, w, count(*) AS cb FROM pv WHERE prev IS NOT NULL GROUP BY prev, w),
         |tri AS (SELECT prev2, prev, w, count(*) AS ct FROM pv WHERE prev2 IS NOT NULL
         |        GROUP BY prev2, prev, w),
         |tot AS (SELECT sum(cw) AS n, count(*) AS v FROM uni),
         |scored AS (
         |  SELECT p.doc_id, p.pos,
         |         CASE WHEN p.prev IS NULL
         |           THEN ln((u.cw + 1.0) / (t.n + 1.0 * t.v))
         |         WHEN p.prev2 IS NULL
         |           THEN ln($lb * ((coalesce(b.cb, 0) + 1.0) / (coalesce(uc.cw, 0) + 1.0 * t.v))
         |                 + $l1 * ((u.cw + 1.0) / (t.n + 1.0 * t.v)))
         |         ELSE ln($l3 * ((coalesce(tr.ct, 0) + 1.0) / (coalesce(bc.cb, 0) + 1.0 * t.v))
         |               + $l2 * ((coalesce(b.cb, 0) + 1.0) / (coalesce(uc.cw, 0) + 1.0 * t.v))
         |               + $l1 * ((u.cw + 1.0) / (t.n + 1.0 * t.v))) END AS lnp
         |  FROM pv p
         |  JOIN uni u ON u.w = p.w
         |  LEFT JOIN uni uc ON uc.w = p.prev
         |  LEFT JOIN big b ON b.prev = p.prev AND b.w = p.w
         |  LEFT JOIN big bc ON bc.prev = p.prev2 AND bc.w = p.prev
         |  LEFT JOIN tri tr ON tr.prev2 = p.prev2 AND tr.prev = p.prev AND tr.w = p.w
         |  CROSS JOIN tot t
         |),
         |perdoc AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |         list_reduce(list(lnp ORDER BY pos), (acc, x) -> acc + x) AS s
         |  FROM scored GROUP BY doc_id
         |)
         |SELECT doc_id, n_tokens, round(-s / n_tokens, 6) AS avg_nll
         |FROM perdoc ORDER BY doc_id""".stripMargin
    },
    // s6: identical portable hash, mod-shard, and per-shard rank window.
    "s6_epoch_shuffle" ->
      s"""WITH h AS (SELECT doc_id, ${sqlHash(17, "doc_id::VARCHAR")} AS hv FROM documents)
         |SELECT doc_id, CAST(hv % 8 AS INTEGER) AS shard,
         |       row_number() OVER (PARTITION BY hv % 8 ORDER BY hv, doc_id) AS ord
         |FROM h ORDER BY shard, ord""".stripMargin,
    // s7: same count/min aggregation, the same round-to-6-decimals pow
    // rate, and the same truncating double→int64 threshold conversion
    // (floor, since rates are positive — DuckDB CAST rounds, Spark's
    // truncates), then the shared portable-hash filter.
    "s7_temperature_mix" ->
      s"""WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |m AS (SELECT min(n) AS nmin FROM c),
         |r AS (SELECT lang,
         |             CAST(floor(round(pow(n::DOUBLE / nmin, -0.5), 6)
         |                        * 1152921504606846976.0) AS BIGINT) AS bound
         |      FROM c, m)
         |SELECT d.lang, count(*) AS n_kept
         |FROM documents d JOIN r USING (lang)
         |WHERE ${sqlHash(29, "d.doc_id::VARCHAR")} < bound
         |GROUP BY d.lang ORDER BY d.lang""".stripMargin,
    // s9: identical hash-rank window + exact-binary weight CASE (1.0 /
    // 0.5 / 0.25 — the divisions are IEEE-exact in both engines).
    "s9_mixture_schedule" ->
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |         row_number() OVER (
         |           PARTITION BY lang
         |           ORDER BY ${sqlHash(37, "doc_id::VARCHAR")}, doc_id) AS rnk
         |  FROM documents)
         |SELECT doc_id, lang, rnk,
         |       round(rnk / CASE lang WHEN 'en' THEN 1.0 WHEN 'de' THEN 0.5 ELSE 0.25 END, 6) AS pos
         |FROM r ORDER BY pos, lang, doc_id""".stripMargin,
    // t13: identical window starts (generate_series == Spark sequence,
    // both inclusive-end with step), clamped list_slice, and the partial
    // final window.
    "t13_chunking" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |e AS (SELECT doc_id, toks, len(toks) AS n,
        |             unnest(generate_series(0, len(toks) - 1, 24)) AS chunk_start
        |      FROM d)
        |SELECT doc_id,
        |       CAST(chunk_start // 24 AS INTEGER) AS chunk_idx,
        |       CAST(chunk_start AS INTEGER) AS chunk_start,
        |       CAST(least(32, n - chunk_start) AS INTEGER) AS n_tokens,
        |       array_to_string(list_slice(toks, chunk_start + 1, least(chunk_start + 32, n)), ' ') AS chunk_text
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,
    // t19: identical sentinel-split sentence rule (RE2-safe, no
    // lookbehind), identical prefix-sum/floor chunk assignment.
    "t19_sentence_chunks" ->
      """WITH d AS (
        |  SELECT doc_id, regexp_replace(text, 'table ', 'table. ', 'g') AS text
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(text, '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)) AS sents
        |  FROM d),
        |e AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(sents) + 1),
        |                               i -> {'pos': i, 's': sents[i]})) AS r
        |  FROM sp),
        |f AS (SELECT doc_id, r.pos AS pos, r.s AS s,
        |             CAST(len(string_split(r.s, ' ')) AS BIGINT) AS nt FROM e),
        |g AS (SELECT doc_id, pos, s, nt,
        |             coalesce(sum(nt) OVER (
        |               PARTITION BY doc_id ORDER BY pos
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |      FROM f)
        |SELECT doc_id, CAST(cum // 40 AS BIGINT) AS chunk_idx,
        |       string_agg(s, ' ' ORDER BY pos) AS chunk_text,
        |       CAST(sum(nt) AS BIGINT) AS n_tokens, count(*) AS n_sentences
        |FROM g GROUP BY 1, 2 ORDER BY doc_id, chunk_idx""".stripMargin,
    // t14: the same synthetic URL literal, the same anchor-only regex
    // chain (Java regex and RE2 agree on plain character classes), and
    // s3's hash-rank cap window keyed by domain.
    "t14_domain_cap" ->
      s"""WITH u AS (
         |  SELECT doc_id,
         |         'HTTPS://WWW.' || source || '-' || (doc_id % 2)::VARCHAR || '.CoM/p/'
         |           || doc_id::VARCHAR || '/?utm=x#s' || (doc_id % 3)::VARCHAR AS url
         |  FROM documents),
         |st AS (SELECT doc_id, url,
         |              regexp_replace(regexp_replace(url, '#.*$$', ''), '\\?.*$$', '') AS x
         |       FROM u),
         |n AS (SELECT doc_id,
         |             regexp_replace(
         |               lower(regexp_extract(x, '^([a-zA-Z][a-zA-Z0-9+.-]*://[^/]*)', 1))
         |                 || regexp_replace(x, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*', ''),
         |               '/$$', '') AS norm_url,
         |             regexp_extract(
         |               lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)', 1)),
         |               '([^.]+\\.[^.]+)$$', 1) AS domain
         |      FROM st)
         |SELECT doc_id, domain, norm_url FROM (
         |  SELECT doc_id, domain, norm_url,
         |         row_number() OVER (
         |           PARTITION BY domain
         |           ORDER BY ${sqlHash(31, "doc_id::VARCHAR")}, doc_id) AS rn
         |  FROM n
         |) WHERE rn <= 8
         |ORDER BY doc_id""".stripMargin,
    // mm3: mm1's decode arithmetic + the same double-exact scale
    // (products < 2^53, so width*224.0/longest is the identical IEEE
    // quotient in both engines).
    "mm3_resize_plan" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS nb
        |  FROM documents WHERE doc_id < 100),
        |d AS (
        |  SELECT doc_id,
        |         CAST(32 + nb % 608 AS INTEGER) AS width,
        |         CAST(32 + (nb * 7) % 608 AS INTEGER) AS height
        |  FROM b),
        |g AS (SELECT doc_id, width, height, greatest(width, height) AS longest FROM d)
        |SELECT doc_id, width, height,
        |       CASE WHEN longest > 224
        |            THEN greatest(1, CAST(floor(width * 224.0 / longest) AS INTEGER))
        |            ELSE width END AS out_w,
        |       CASE WHEN longest > 224
        |            THEN greatest(1, CAST(floor(height * 224.0 / longest) AS INTEGER))
        |            ELSE height END AS out_h,
        |       longest > 224 AS resized
        |FROM g ORDER BY doc_id""".stripMargin,
    // mm2: mm1's decode-stub arithmetic, then the same integer-ceil
    // stride and inclusive generate_series fan-out.
    "mm4_segment_plan" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS nb
        |  FROM documents WHERE doc_id < 100),
        |d AS (
        |  SELECT doc_id,
        |         CASE nb % 3 WHEN 0 THEN 16000 WHEN 1 THEN 22050 ELSE 44100 END AS sample_rate,
        |         CAST(200 + (nb * 31) % 59801 AS BIGINT) AS duration_ms
        |  FROM b),
        |e AS (SELECT doc_id, sample_rate, duration_ms,
        |             unnest(generate_series(0, (duration_ms - 1) // 1500)) AS seg_idx
        |      FROM d)
        |SELECT doc_id, sample_rate, duration_ms, seg_idx,
        |       seg_idx * 1500 AS start_ms,
        |       least(seg_idx * 1500 + 2000, duration_ms) AS end_ms,
        |       (seg_idx * 1500 * sample_rate) // 1000 AS start_sample,
        |       (least(seg_idx * 1500 + 2000, duration_ms) * sample_rate) // 1000 AS end_sample
        |FROM e ORDER BY doc_id, seg_idx""".stripMargin,
    "mm2_frame_sample" ->
      """WITH b AS (
        |  SELECT doc_id, octet_length(encode(text)) AS nb
        |  FROM documents WHERE doc_id < 100),
        |d AS (
        |  SELECT doc_id,
        |         CAST(32 + nb % 608 AS INTEGER) AS width,
        |         CAST(32 + (nb * 7) % 608 AS INTEGER) AS height,
        |         CAST(1 + nb % 16 AS INTEGER) AS n_frames
        |  FROM b),
        |e AS (SELECT doc_id, width, height, n_frames,
        |             unnest(generate_series(0, n_frames - 1, (n_frames + 3) // 4)) AS frame_idx
        |      FROM d)
        |SELECT doc_id, n_frames, CAST(frame_idx AS INTEGER) AS frame_idx,
        |       CAST(frame_idx * width * height * 3 AS BIGINT) AS byte_offset
        |FROM e ORDER BY doc_id, frame_idx""".stripMargin,
    "d16_strip_dup_blocks" ->
      s"""WITH $nearAugCte,
         |$blockCtes,
         |kept AS (
         |  SELECT doc_id, block_idx, block FROM (
         |    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, block_idx) AS rn
         |    FROM bh
         |  ) WHERE rn = 1
         |),
         |agg AS (
         |  SELECT doc_id, string_agg(block, ' ' ORDER BY block_idx) AS text_clean,
         |         count(*) AS n_kept
         |  FROM kept GROUP BY doc_id
         |),
         |base AS (
         |  SELECT doc_id,
         |         (len(string_split(text, ' ')) + ${BlockTokens - 1}) // $BlockTokens AS n_blocks
         |  FROM d
         |)
         |SELECT b.doc_id, b.n_blocks,
         |       b.n_blocks - coalesce(a.n_kept, 0) AS n_removed,
         |       coalesce(a.text_clean, '') AS text_clean
         |FROM base b LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // e5: identical IEEE double steps — abs/max/127 scale, floor(x/s+0.5)
    // clamped codes, list_reduce for the SAME left-to-right error fold
    // Spark's aggregate() performs.
    "e5_quantize" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |s AS (SELECT vec_id, e, list_max(list_transform(e, x -> abs(x))) / 127 AS scale FROM v),
        |q AS (
        |  SELECT vec_id, e, scale,
        |         list_transform(e, x -> CASE WHEN scale = 0 THEN 0
        |           ELSE CAST(least(127, greatest(-127, floor(x / scale + 0.5))) AS BIGINT) END) AS qv
        |  FROM s
        |)
        |SELECT vec_id, round(scale, 6) AS scale,
        |       list_min(qv) AS q_min, list_max(qv) AS q_max,
        |       CAST(list_sum(qv) AS BIGINT) AS q_sum,
        |       round(sqrt(list_reduce(
        |         list_transform(range(1, len(e) + 1), i -> (e[i] - qv[i] * scale) * (e[i] - qv[i] * scale)),
        |         (acc, x) -> acc + x)), 6) AS recon_err
        |FROM q ORDER BY vec_id""".stripMargin,
    "t7_pii_redaction" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val ip = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"
      s"""WITH d AS (
         |  SELECT doc_id,
         |         text || ' contact user' || doc_id || '@example.com from 10.0.' || (doc_id % 256) || '.99' AS text
         |  FROM documents WHERE doc_id < 200
         |)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(text, '$email')) + len(regexp_extract_all(text, '$ip')) AS BIGINT) AS n_pii,
         |       regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g') AS redacted
         |FROM d ORDER BY doc_id""".stripMargin
    },
    "t8_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents
        |),
        |c AS (
        |  SELECT lang, n_tokens,
        |         coalesce(sum(n_tokens) OVER (
        |           PARTITION BY lang ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM t
        |)
        |SELECT lang, CAST(floor(cum / 2048) AS BIGINT) AS pack_id,
        |       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY 1, 2 ORDER BY lang, pack_id""".stripMargin,
    "mm1_binary_meta" ->
      """SELECT doc_id,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       sha256(text) AS digest,
        |       CAST(32 + octet_length(encode(text)) % 608 AS INTEGER) AS width,
        |       CAST(32 + (octet_length(encode(text)) * 7) % 608 AS INTEGER) AS height,
        |       CAST(1 + octet_length(encode(text)) % 16 AS INTEGER) AS n_frames
        |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin,
    // e13: e2's bucket-assignment CTE + e12's grid-encode CTE + the ADC
    // lookup sum, composed — every stage replayed exactly.
    // e16: the ADC candidate stage per probe (e13's bucket + grid-encode
    // + lookup machinery, batched over the probe frame) capped at
    // refineK, then the exact-cosine re-rank (e1's sim formula) over
    // just those candidates.
    "e16_refined_search" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
        |a AS (
        |  SELECT v.vec_id AS vid, c.centroid_id, v.e,
        |         round(list_dot_product(e, ce)
        |               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))), 6) AS csim
        |  FROM v CROSS JOIN c
        |),
        |b AS (
        |  SELECT vid, centroid_id AS bucket, e FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id) AS crnk FROM a
        |  ) WHERE crnk = 1
        |),
        |pq AS (
        |  SELECT vid AS probe_id, centroid_id AS bucket FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id) AS crnk
        |    FROM a WHERE vid BETWEEN 100 AND 104
        |  ) WHERE crnk <= 2
        |),
        |scan AS (
        |  SELECT pq.probe_id, b.vid, b.e FROM b JOIN pq USING (bucket)
        |  WHERE b.vid <> pq.probe_id
        |),
        |codes AS (
        |  SELECT s.vid, g2.b,
        |         (SELECT g.j FROM generate_series(0, 15) g(j)
        |          ORDER BY list_sum(list_transform(s.e[g2.b*8+1 : g2.b*8+8],
        |                    x -> (x - (-0.75 + g.j*0.1))^2)), g.j
        |          LIMIT 1) AS code
        |  FROM (SELECT DISTINCT vid, e FROM scan) s, generate_series(0, 7) g2(b)
        |),
        |qsums AS (
        |  SELECT p.vec_id AS probe_id, g2.b, list_sum(p.e[g2.b*8+1 : g2.b*8+8]) AS qs
        |  FROM (SELECT vec_id, e FROM v WHERE vec_id BETWEEN 100 AND 104) p,
        |       generate_series(0, 7) g2(b)
        |),
        |adc AS (
        |  SELECT sc.probe_id, sc.vid, round(sum((-0.75 + cd.code*0.1) * q.qs), 6) AS score
        |  FROM scan sc JOIN codes cd ON cd.vid = sc.vid
        |  JOIN qsums q ON q.probe_id = sc.probe_id AND q.b = cd.b
        |  GROUP BY 1, 2
        |),
        |cand AS (
        |  SELECT probe_id, vid FROM (
        |    SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vid) AS rnk
        |    FROM adc
        |  ) WHERE rnk <= 10
        |),
        |ref AS (
        |  SELECT cd.probe_id, cd.vid AS neighbor_id,
        |         round(list_dot_product(pv.e, cv.e)
        |               / (sqrt(list_dot_product(pv.e, pv.e)) * sqrt(list_dot_product(cv.e, cv.e))), 6) AS sim
        |  FROM cand cd
        |  JOIN v cv ON cv.vec_id = cd.vid
        |  JOIN v pv ON pv.vec_id = cd.probe_id
        |)
        |SELECT probe_id, neighbor_id, sim, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, neighbor_id) AS rnk
        |  FROM ref
        |) WHERE rnk <= 5
        |ORDER BY probe_id, rnk""".stripMargin,
    // e17: e16's batched ADC stage (bucket assignment + grid encode +
    // per-probe lookup sums over the probed buckets' codes), ranked per
    // probe — the candidate stage IS the result here, no refine.
    "e17_ivfpq_index_batch" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
        |a AS (
        |  SELECT v.vec_id AS vid, c.centroid_id, v.e,
        |         round(list_dot_product(e, ce)
        |               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))), 6) AS csim
        |  FROM v CROSS JOIN c
        |),
        |b AS (
        |  SELECT vid, centroid_id AS bucket, e FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id) AS crnk FROM a
        |  ) WHERE crnk = 1
        |),
        |pq AS (
        |  SELECT vid AS probe_id, centroid_id AS bucket FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id) AS crnk
        |    FROM a WHERE vid BETWEEN 100 AND 104
        |  ) WHERE crnk <= 2
        |),
        |scan AS (
        |  SELECT pq.probe_id, b.vid, b.e FROM b JOIN pq USING (bucket)
        |  WHERE b.vid <> pq.probe_id
        |),
        |codes AS (
        |  SELECT s.vid, g2.b,
        |         (SELECT g.j FROM generate_series(0, 15) g(j)
        |          ORDER BY list_sum(list_transform(s.e[g2.b*8+1 : g2.b*8+8],
        |                    x -> (x - (-0.75 + g.j*0.1))^2)), g.j
        |          LIMIT 1) AS code
        |  FROM (SELECT DISTINCT vid, e FROM scan) s, generate_series(0, 7) g2(b)
        |),
        |qsums AS (
        |  SELECT p.vec_id AS probe_id, g2.b, list_sum(p.e[g2.b*8+1 : g2.b*8+8]) AS qs
        |  FROM (SELECT vec_id, e FROM v WHERE vec_id BETWEEN 100 AND 104) p,
        |       generate_series(0, 7) g2(b)
        |),
        |adc AS (
        |  SELECT sc.probe_id, sc.vid, round(sum((-0.75 + cd.code*0.1) * q.qs), 6) AS score
        |  FROM scan sc JOIN codes cd ON cd.vid = sc.vid
        |  JOIN qsums q ON q.probe_id = sc.probe_id AND q.b = cd.b
        |  GROUP BY 1, 2
        |)
        |SELECT probe_id, vid AS neighbor_id, score, rnk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vid) AS rnk
        |  FROM adc
        |) WHERE rnk <= 10
        |ORDER BY probe_id, rnk""".stripMargin,
    "e13_ivfpq_topk" ->
      """WITH v AS (SELECT vec_id, embedding, embedding::DOUBLE[] AS e FROM embeddings),
        |c AS (SELECT vec_id AS centroid_id, e AS ce FROM v WHERE vec_id < 8),
        |a AS (
        |  SELECT v.vec_id AS vid, c.centroid_id, v.e,
        |         round(list_dot_product(e, ce)
        |               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(ce, ce))), 6) AS csim
        |  FROM v CROSS JOIN c
        |),
        |b AS (
        |  SELECT vid, centroid_id AS bucket, e FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vid ORDER BY csim DESC, centroid_id) AS crnk FROM a
        |  ) WHERE crnk = 1
        |),
        |qb AS (
        |  SELECT centroid_id AS bucket FROM (
        |    SELECT *, row_number() OVER (ORDER BY csim DESC, centroid_id) AS crnk
        |    FROM a WHERE vid = 100
        |  ) WHERE crnk <= 2
        |),
        |scan AS (SELECT b.* FROM b JOIN qb ON b.bucket = qb.bucket),
        |qv AS (SELECT e AS qe FROM v WHERE vec_id = 100),
        |codes AS (
        |  SELECT s.vid, g2.b,
        |         (SELECT g.j FROM generate_series(0, 15) g(j)
        |          ORDER BY list_sum(list_transform(s.e[g2.b*8+1 : g2.b*8+8],
        |                    x -> (x - (-0.75 + g.j*0.1))^2)), g.j
        |          LIMIT 1) AS code
        |  FROM scan s, generate_series(0, 7) g2(b)
        |),
        |qsums AS (
        |  SELECT g2.b, list_sum(qv.qe[g2.b*8+1 : g2.b*8+8]) AS qs
        |  FROM qv, generate_series(0, 7) g2(b)
        |),
        |scores AS (
        |  SELECT c.vid AS vec_id, sum((-0.75 + c.code*0.1) * qs.qs) AS score
        |  FROM codes c JOIN qsums qs ON qs.b = c.b GROUP BY 1
        |)
        |SELECT vec_id, round(score, 6) AS score FROM scores
        |ORDER BY score DESC, vec_id LIMIT 25""".stripMargin,
    // e12: the grid codebooks are pure arithmetic, so encode (argmin of
    // the identical per-component squared-L2 sums, lowest-j ties) and the
    // ADC lookup sum replay exactly in SQL.
    "e12_pq_topk" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |q AS (SELECT embedding AS qv FROM e WHERE vec_id = 0),
        |codes AS (
        |  SELECT e.vec_id, b.b,
        |         (SELECT g.j FROM generate_series(0, 15) g(j)
        |          ORDER BY list_sum(list_transform(e.embedding[b.b*8+1 : b.b*8+8],
        |                    v -> (CAST(v AS DOUBLE) - (-0.75 + g.j*0.1))^2)), g.j
        |          LIMIT 1) AS code
        |  FROM e, generate_series(0, 7) b(b)
        |),
        |qsums AS (
        |  SELECT b.b, list_sum(list_transform(q.qv[b.b*8+1 : b.b*8+8], v -> CAST(v AS DOUBLE))) AS qs
        |  FROM q, generate_series(0, 7) b(b)
        |),
        |scores AS (
        |  SELECT c.vec_id, sum((-0.75 + c.code*0.1) * qs.qs) AS score
        |  FROM codes c JOIN qsums qs ON qs.b = c.b
        |  GROUP BY 1
        |)
        |SELECT vec_id, round(score, 6) AS score FROM scores
        |ORDER BY score DESC, vec_id LIMIT 50""".stripMargin,
    "t22_source_drift" ->
      """WITH a AS (
        |  SELECT source AS src, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id % 2 = 0
        |),
        |b AS (
        |  SELECT source AS src, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE doc_id % 2 = 1
        |),
        |ca AS (SELECT src, term, count(*) AS ca FROM a GROUP BY 1, 2),
        |cb AS (SELECT src, term, count(*) AS cb FROM b GROUP BY 1, 2),
        |dt AS (
        |  SELECT ca.src, sum(ca.ca * cb.cb) AS dot
        |  FROM ca JOIN cb ON ca.src = cb.src AND ca.term = cb.term
        |  GROUP BY 1
        |),
        |na AS (SELECT src, sum(ca*ca) AS na2, count(*) AS n_terms_a FROM ca GROUP BY 1),
        |nb AS (SELECT src, sum(cb*cb) AS nb2, count(*) AS n_terms_b FROM cb GROUP BY 1)
        |SELECT coalesce(na.src, nb.src) AS source,
        |       CAST(coalesce(n_terms_a, 0) AS BIGINT) AS n_terms_a,
        |       CAST(coalesce(n_terms_b, 0) AS BIGINT) AS n_terms_b,
        |       CASE WHEN na2 IS NULL OR nb2 IS NULL THEN 0.0
        |            ELSE round(CAST(coalesce(dot, 0) AS DOUBLE)
        |                       / (sqrt(CAST(na2 AS DOUBLE)) * sqrt(CAST(nb2 AS DOUBLE))), 6)
        |       END AS cosine
        |FROM na FULL OUTER JOIN nb ON na.src = nb.src
        |LEFT JOIN dt ON dt.src = coalesce(na.src, nb.src)
        |ORDER BY source""".stripMargin,
    "t20_vocab_oov" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |),
        |vocab AS (
        |  SELECT term FROM (SELECT term, count(*) AS cnt FROM tok GROUP BY term)
        |  ORDER BY cnt DESC, term ASC LIMIT 500
        |)
        |SELECT doc_id,
        |       count(*) AS n_tokens,
        |       CAST(sum(CASE WHEN term NOT IN (SELECT term FROM vocab) THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |       round(CAST(sum(CASE WHEN term NOT IN (SELECT term FROM vocab) THEN 1 ELSE 0 END) AS DOUBLE)
        |             / count(*), 6) AS oov_frac
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // d25: the bloom is an optimization, not a semantic — the oracle is
    // the plain NOT-IN answer the operator must equal at any fpp.
    "d25_bloom_ingest" ->
      """WITH d AS (SELECT doc_id, text FROM documents),
        |delta AS (
        |  SELECT doc_id + 500000 AS doc_id, text FROM d WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 600000 AS doc_id, text || ' wholly novel suffix' AS text
        |  FROM d WHERE doc_id % 10 = 5
        |)
        |SELECT doc_id, sha256(text) AS content_sha FROM delta
        |WHERE sha256(text) NOT IN (SELECT sha256(text) FROM d)
        |ORDER BY doc_id""".stripMargin,
    // mm5: the decoder's output is fully predicted by the synthesis
    // formulas (geometry + per-pixel channels closed-form in doc_id), so
    // the oracle recomputes what a CORRECT lossless decode must read back
    // — pixel_sum covers the whole raster, out_w/out_h the resize
    // geometry over the real decoded dimensions.
    "mm5_decode_png" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |dims AS (SELECT doc_id, 8 + doc_id % 24 AS width, 8 + (doc_id*3) % 24 AS height FROM d),
        |px AS (
        |  SELECT doc_id, width, height, tx.x AS x, ty.y AS y
        |  FROM dims, LATERAL (SELECT unnest(range(0, width)) AS x) tx,
        |             LATERAL (SELECT unnest(range(0, height)) AS y) ty
        |),
        |agg AS (
        |  SELECT doc_id, width, height,
        |    CAST(sum((3*x + doc_id % 200) % 256
        |           + (5*x + 7*y + doc_id) % 256
        |           + (x + 11*y + 13*doc_id) % 256) AS BIGINT) AS pixel_sum
        |  FROM px GROUP BY 1, 2, 3
        |)
        |SELECT doc_id,
        |  CAST(width AS INTEGER) AS width, CAST(height AS INTEGER) AS height, pixel_sum,
        |  CAST(CASE WHEN greatest(width, height) > 16
        |            THEN greatest(1, (width*16) // greatest(width, height))
        |            ELSE width END AS INTEGER) AS out_w,
        |  CAST(CASE WHEN greatest(width, height) > 16
        |            THEN greatest(1, (height*16) // greatest(width, height))
        |            ELSE height END AS INTEGER) AS out_h,
        |  greatest(width, height) > 16 AS resized
        |FROM agg ORDER BY doc_id""".stripMargin,
    // mm6: the dHash is exact integer arithmetic end-to-end (raw r+g+b
    // luminance, `(x*8) div w` block assignment, cross-multiplied mean
    // comparison), so the oracle replays the full pipeline from the
    // synthesis formulas: per-pixel luminance -> 8x8 block (sum, count)
    // -> neighbor comparison bits -> 56-bit fold. Disjoint bit positions
    // make SUM equal to the bitwise OR the decoder computes.
    "mm6_image_dhash" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |dims AS (SELECT doc_id, 8 + doc_id % 24 AS width, 8 + (doc_id*3) % 24 AS height FROM d),
        |px AS (
        |  SELECT doc_id, width, height, tx.x AS x, ty.y AS y
        |  FROM dims, LATERAL (SELECT unnest(range(0, width)) AS x) tx,
        |             LATERAL (SELECT unnest(range(0, height)) AS y) ty
        |),
        |lum AS (
        |  SELECT doc_id, width, height, (x*8)//width AS bx, (y*8)//height AS by,
        |    (3*x + doc_id % 200) % 256 + (5*x + 7*y + doc_id) % 256
        |      + (x + 11*y + 13*doc_id) % 256 AS l
        |  FROM px
        |),
        |blocks AS (
        |  SELECT doc_id, width, height, by, bx,
        |    CAST(sum(l) AS BIGINT) AS bsum, CAST(count(*) AS BIGINT) AS bcnt
        |  FROM lum GROUP BY 1, 2, 3, 4, 5
        |),
        |bits AS (
        |  SELECT a.doc_id, a.width, a.height,
        |    CASE WHEN a.bsum * b.bcnt > b.bsum * a.bcnt
        |         THEN CAST(1 AS BIGINT) << (a.by*7 + a.bx) ELSE 0 END AS bit
        |  FROM blocks a JOIN blocks b
        |    ON a.doc_id = b.doc_id AND a.by = b.by AND b.bx = a.bx + 1
        |)
        |SELECT doc_id, CAST(width AS INTEGER) AS width,
        |  CAST(height AS INTEGER) AS height, CAST(sum(bit) AS BIGINT) AS dhash
        |FROM bits GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
    // mm16: mm6's block sums against the GLOBAL sum — bit set when
    // block_sum·n_pixels > total_sum·block_count, 63 bits (bit 63 would
    // sign the long — dropped by the operator's contract, so the sum of
    // distinct powers stays exact and positive in both engines).
    "mm16_image_ahash" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |dims AS (SELECT doc_id, 8 + doc_id % 24 AS width, 8 + (doc_id*3) % 24 AS height FROM d),
        |px AS (
        |  SELECT doc_id, width, height, tx.x AS x, ty.y AS y
        |  FROM dims, LATERAL (SELECT unnest(range(0, width)) AS x) tx,
        |             LATERAL (SELECT unnest(range(0, height)) AS y) ty
        |),
        |lum AS (
        |  SELECT doc_id, width, height, (x*8)//width AS bx, (y*8)//height AS by,
        |    (3*x + doc_id % 200) % 256 + (5*x + 7*y + doc_id) % 256
        |      + (x + 11*y + 13*doc_id) % 256 AS l
        |  FROM px
        |),
        |blocks AS (
        |  SELECT doc_id, width, height, by, bx,
        |    CAST(sum(l) AS BIGINT) AS bsum, CAST(count(*) AS BIGINT) AS bcnt
        |  FROM lum GROUP BY 1, 2, 3, 4, 5
        |),
        |totals AS (
        |  SELECT doc_id, CAST(sum(l) AS BIGINT) AS tsum, CAST(count(*) AS BIGINT) AS tcnt
        |  FROM lum GROUP BY 1
        |),
        |bits AS (
        |  SELECT b.doc_id, b.width, b.height,
        |    CASE WHEN b.by*8 + b.bx < 63 AND b.bsum * t.tcnt > t.tsum * b.bcnt
        |         THEN CAST(1 AS BIGINT) << (b.by*8 + b.bx) ELSE 0 END AS bit
        |  FROM blocks b JOIN totals t USING (doc_id)
        |)
        |SELECT doc_id, CAST(width AS INTEGER) AS width,
        |  CAST(height AS INTEGER) AS height, CAST(sum(bit) AS BIGINT) AS ahash
        |FROM bits GROUP BY 1, 2, 3 ORDER BY doc_id""".stripMargin,
    // mm7: replay the near-dup fixture's per-variant pixel formulas into
    // dHashes (mm6's arithmetic with the variant bump), then pair by
    // brute-force hamming <= 4 — exactly what the banded join computes
    // when every bucket is under cap (cap 100 > 60 docs).
    "mm7_image_neardup" ->
      s"""WITH $dhashNearFpCtes
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 4
         |ORDER BY doc_a, doc_b""".stripMargin,
    // mm8: mm7's pairs resolved into transitive clusters (recursive
    // reachability, min-label canonical — the d10 replay) and the corpus
    // pruned to canonicals: the image instance of keep-one-per-cluster.
    "mm8_image_dedup" ->
      s"""WITH RECURSIVE $dhashNearFpCtes,
         |prs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 4
         |),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM prs
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM prs
         |),
         |reach(src, dst) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
         |),
         |clus AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
         |SELECT f.doc_id, f.dhash FROM fp f
         |WHERE f.doc_id NOT IN (SELECT doc_id FROM clus WHERE doc_id <> cluster_id)
         |ORDER BY f.doc_id""".stripMargin,
    // mm17: the planted 20-group × 3-variant structure resolves to its
    // v0 canonicals (min id per group) with the formula geometry —
    // the pairing verdict is exact because planted hammings (<= 1, DCT
    // noise measured 0) and cross-base hammings (>= 16) are separated
    // by the spec-pinned margin around the maxHamming = 4 ball.
    "mm17_jpeg_dedup" ->
      """SELECT doc_id,
        |  CAST(48 + 8 * (doc_id % 3) AS INTEGER) AS width,
        |  CAST(48 + 8 * ((doc_id * 2) % 3) AS INTEGER) AS height
        |FROM documents WHERE doc_id < 20 ORDER BY doc_id""".stripMargin,
    // mm9: the WAV decoder's output is fully predicted by the synthesis
    // formulas (rate/length/per-sample value closed-form in doc_id) —
    // WAV PCM is lossless, so sample_sum and energy are bit-exact
    // against what a correct decode must read back.
    "mm9_decode_wav" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |dims AS (SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 22050 END AS rate,
        |  400 + (doc_id*37) % 1200 AS n FROM d),
        |smp AS (
        |  SELECT doc_id, rate, n, (t.i*t.i + 7*t.i*doc_id + 13*doc_id) % 4096 - 2048 AS s
        |  FROM dims, LATERAL (SELECT unnest(range(0, n)) AS i) t
        |)
        |SELECT doc_id, CAST(rate AS INTEGER) AS sample_rate,
        |  CAST(n AS BIGINT) AS n_samples,
        |  CAST((n*1000)//rate AS BIGINT) AS duration_ms,
        |  CAST(sum(s) AS BIGINT) AS sample_sum,
        |  CAST(sum(s*s) AS BIGINT) AS energy
        |FROM smp GROUP BY 1, 2, 3, 4 ORDER BY doc_id""".stripMargin,
    // mm10: the segment plan (50 ms windows / 30 ms hop, truncating
    // integer sample offsets) replayed over the per-sample synthesis
    // formula — each window's sum(s^2) folded independently. A window
    // always holds >= 8 samples (>= 1 ms at >= 8 kHz), so the LATERAL
    // range is never empty.
    "mm10_wav_segments" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 50),
        |dims AS (SELECT doc_id,
        |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 22050 END AS rate,
        |  400 + (doc_id*37) % 1200 AS n FROM d),
        |base AS (SELECT doc_id, rate, n, (n*1000)//rate AS dur FROM dims),
        |segs AS (
        |  SELECT doc_id, rate, dur, t.seg_idx, t.seg_idx*30 AS start_ms,
        |    least(t.seg_idx*30 + 50, dur) AS end_ms
        |  FROM base, LATERAL (SELECT unnest(range(0, ((dur-1)//30)+1)) AS seg_idx) t
        |),
        |sam AS (
        |  SELECT doc_id, rate, dur, seg_idx, start_ms, end_ms,
        |    (start_ms*rate)//1000 AS start_sample, (end_ms*rate)//1000 AS end_sample
        |  FROM segs
        |)
        |SELECT s.doc_id, CAST(s.rate AS INTEGER) AS sample_rate,
        |  CAST(s.dur AS BIGINT) AS duration_ms, CAST(s.seg_idx AS BIGINT) AS seg_idx,
        |  CAST(s.start_ms AS BIGINT) AS start_ms, CAST(s.end_ms AS BIGINT) AS end_ms,
        |  CAST(s.start_sample AS BIGINT) AS start_sample,
        |  CAST(s.end_sample AS BIGINT) AS end_sample,
        |  CAST(sum(((t.i*t.i + 7*t.i*s.doc_id + 13*s.doc_id) % 4096 - 2048)
        |         * ((t.i*t.i + 7*t.i*s.doc_id + 13*s.doc_id) % 4096 - 2048)) AS BIGINT)
        |    AS seg_energy
        |FROM sam s, LATERAL (SELECT unnest(range(s.start_sample, s.end_sample)) AS i) t
        |GROUP BY 1, 2, 3, 4, 5, 6, 7, 8
        |ORDER BY doc_id, seg_idx""".stripMargin,
    // mm11: the multi-frame decoder's output is fully predicted by the
    // synthesis formulas (geometry, frame count, per-frame gray value
    // closed-form in doc_id) — the grayscale palette keeps the GIF
    // encode lossless, so frame_sum = sum(3v) is bit-exact.
    "mm11_decode_gif" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40),
        |dims AS (SELECT doc_id, 16 + doc_id % 8 AS width,
        |  16 + (doc_id*3) % 8 AS height, 2 + doc_id % 5 AS nf FROM d),
        |fr AS (SELECT doc_id, width, height, nf, t.f
        |  FROM dims, LATERAL (SELECT unnest(range(0, nf)) AS f) t),
        |px AS (
        |  SELECT doc_id, width, height, nf, f, tx.x AS x, ty.y AS y
        |  FROM fr, LATERAL (SELECT unnest(range(0, width)) AS x) tx,
        |           LATERAL (SELECT unnest(range(0, height)) AS y) ty
        |)
        |SELECT doc_id, CAST(width AS INTEGER) AS width,
        |  CAST(height AS INTEGER) AS height, CAST(nf AS INTEGER) AS n_frames,
        |  CAST(f AS INTEGER) AS frame_idx,
        |  CAST(sum(3 * ((3*x + 5*y + 11*f + doc_id) % 256)) AS BIGINT) AS frame_sum
        |FROM px GROUP BY 1, 2, 3, 4, 5 ORDER BY doc_id, frame_idx""".stripMargin,
    // mm12: mm11's per-frame replay restricted to the planner's stride —
    // indices 0, step, 2·step, … with step = ceil(nf / 2), exactly the
    // frames the sampling decoder touches.
    "mm12_gif_frame_sample" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 40),
        |dims AS (SELECT doc_id, 16 + doc_id % 8 AS width,
        |  16 + (doc_id*3) % 8 AS height, 2 + doc_id % 5 AS nf FROM d),
        |fr AS (SELECT doc_id, width, height, nf, t.f
        |  FROM dims, LATERAL (SELECT unnest(range(0, nf, (nf + 1)//2)) AS f) t),
        |px AS (
        |  SELECT doc_id, width, height, nf, f, tx.x AS x, ty.y AS y
        |  FROM fr, LATERAL (SELECT unnest(range(0, width)) AS x) tx,
        |           LATERAL (SELECT unnest(range(0, height)) AS y) ty
        |)
        |SELECT doc_id, CAST(nf AS INTEGER) AS n_frames,
        |  CAST(f AS INTEGER) AS frame_idx,
        |  CAST(sum(3 * ((3*x + 5*y + 11*f + doc_id) % 256)) AS BIGINT) AS frame_sum
        |FROM px GROUP BY 1, 2, 3 ORDER BY doc_id, frame_idx""".stripMargin,
    // t23: the BM25 formula replayed term-by-term with the SAME left-to-
    // right contribution order and the SAME double constants (k1+1, k1,
    // 1−b, b interpolated from the Scala values, so both engines parse
    // the identical literals); tf/dl via list HOFs, df/N/Σdl in one
    // stats CTE, score rounded to 6 — the t12 float discipline.
    // t30: t23's BM25 CTEs ranked, e1's cosine CTEs for probe 0, then
    // the literal RRF arithmetic — one IEEE divide per (item, source),
    // two-term sums order-insensitive, ties by doc_id.
    "t30_hybrid_rrf" -> {
      val k1 = 1.2
      val b = 0.75
      val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(w, x -> x = '$t')) AS tf$i"
      }.mkString(", ")
      val dfCols = Bm25Terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
      val contribs = Bm25Terms.indices.map { i =>
        s"ln((CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5) + 1.0)" +
          s" * (CAST(tf$i AS DOUBLE) * ${k1 + 1.0})" +
          s" / (CAST(tf$i AS DOUBLE) + $k1 * (${1.0 - b} + $b * CAST(dl AS DOUBLE)" +
          s" / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))"
      }.mkString(" + ")
      s"""WITH base AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, $tfCols
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |),
         |stats AS (SELECT count(*) AS n, sum(dl) AS sumdl, $dfCols FROM base),
         |bm AS (
         |  SELECT doc_id, round($contribs, 6) AS score
         |  FROM base CROSS JOIN stats
         |  ORDER BY score DESC, doc_id LIMIT 25),
         |bmr AS (SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS r FROM bm),
         |v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
         |p AS (SELECT e AS pe FROM v WHERE vec_id = 0),
         |sims AS (
         |  SELECT v.vec_id AS doc_id,
         |         round(list_dot_product(pe, e)
         |               / (sqrt(list_dot_product(pe, pe)) * sqrt(list_dot_product(e, e))), 6) AS sim
         |  FROM v CROSS JOIN p WHERE v.vec_id <> 0),
         |vr AS (
         |  SELECT doc_id, r FROM (
         |    SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS r FROM sims
         |  ) WHERE r <= 25),
         |u AS (SELECT doc_id, r FROM bmr UNION ALL SELECT doc_id, r FROM vr),
         |f AS (
         |  SELECT doc_id,
         |         round(sum(CAST(1 AS DOUBLE) / (60 + r)), 6) AS rrf_score,
         |         count(*) AS n_sources
         |  FROM u GROUP BY 1)
         |SELECT doc_id, rrf_score, n_sources,
         |       row_number() OVER (ORDER BY rrf_score DESC, doc_id) AS rnk
         |FROM f QUALIFY rnk <= 15 ORDER BY rnk""".stripMargin
    },
    // t31: the rank window + limit replayed with the identical
    // (count DESC, token ASC) tie-break.
    "t31_vocab_build" ->
      """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
        |c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
        |r AS (SELECT token, n,
        |             row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id
        |      FROM c)
        |SELECT token_id, token, n FROM r WHERE token_id < 200
        |ORDER BY token_id""".stripMargin,
    // t32: the same vocab rule at V=100, positions via 1-based list
    // indexing shifted to 0-based, OOV via the portable hash mod 16.
    "t32_encode_tokens" -> {
      val oov = sqlHash(5, "e.token")
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS token FROM documents),
         |c AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
         |v AS (SELECT token, row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id
         |      FROM c QUALIFY token_id < 100),
         |d50 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE doc_id < 50),
         |p AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM d50),
         |e AS (SELECT doc_id, i, w[i] AS token FROM p)
         |SELECT e.doc_id, e.i - 1 AS pos,
         |       coalesce(v.token_id, 100 + ($oov % 16)) AS token_id
         |FROM e LEFT JOIN v ON e.token = v.token
         |ORDER BY doc_id, pos""".stripMargin
    },
    // t35: the 3 GD rounds unrolled as CTE layers — per-row 6dp sigmoid
    // under the previous weights, 6dp-re-rounded weight step — then the
    // final scoring pass under cw3.
    "t35_quality_classifier" ->
      s"""WITH ${logisticCtes(3, 1.0)}
         |SELECT doc_id,
         |       round(1/(1+exp(-(w.b + w.w1*x1 + w.w2*x2 + w.w3*x3))), 6) AS score,
         |       round(1/(1+exp(-(w.b + w.w1*x1 + w.w2*x2 + w.w3*x3))), 6) >= 0.5 AS accepted
         |FROM cf CROSS JOIN cw3 w
         |ORDER BY doc_id""".stripMargin,
    // t33: the 8 training rounds unrolled as CTE layers, the merge table
    // as the union of the per-round argmaxes.
    "t33_bpe_train" -> {
      val steps = (1 to 8).map { r =>
        val cast = if (r == 1) "CAST(1 AS BIGINT)" else r.toString
        s"SELECT $cast AS step, lhs, rhs, merged, n FROM bm$r"
      }.mkString("\n|UNION ALL ")
      s"""WITH ${bpeCtes(8)}
         |$steps
         |ORDER BY step""".stripMargin
    },
    // t42: the SAME 8 unrolled rounds as t33 — the local trainer's
    // contract is bit-equality with the distributed one.
    "t42_bpe_train_local" -> {
      val steps = (1 to 8).map { r =>
        val cast = if (r == 1) "CAST(1 AS BIGINT)" else r.toString
        s"SELECT $cast AS step, lhs, rhs, merged, n FROM bm$r"
      }.mkString("\n|UNION ALL ")
      s"""WITH ${bpeCtes(8)}
         |$steps
         |ORDER BY step""".stripMargin
    },
    // t43: t34's encode joined to the pieceVocab CTEs — the dense-id
    // stream.
    "t43_bpe_piece_ids" ->
      s"""WITH ${bpeCtes(8)},
         |${pieceVocabCtes(8)},
         |d50 AS (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents WHERE doc_id < 50),
         |wp AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS word_pos, w[i] AS word
         |       FROM d50, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |sp AS (SELECT doc_id, word_pos, string_split(seg, ' ') AS pieces
         |       FROM wp JOIN bw8 ON wp.word = bw8.word),
         |pe AS (SELECT doc_id, word_pos, CAST(j - 1 AS BIGINT) AS piece_pos, pieces[j] AS piece
         |       FROM sp, UNNEST(range(1, len(pieces) + 1)) AS t(j))
         |SELECT pe.doc_id, pe.word_pos, pe.piece_pos,
         |       CAST(pv.piece_id + 4 AS BIGINT) AS piece_id
         |FROM pe JOIN pv ON pe.piece = pv.piece
         |ORDER BY doc_id, word_pos, piece_pos""".stripMargin,
    // t47: the 12 byte-grain rounds unrolled — bw0 seeds from
    // hex(encode(word)) pairs, everything else is the t33 machinery
    // verbatim (hex symbols are plain ASCII strings to the fold).
    "t47_bpe_bytes" -> {
      val cls = """\p{Han}\p{Hiragana}\p{Katakana}\p{Thai}"""
      val bs = "\\"
      val segExpr =
        s"trim(regexp_replace(regexp_replace(regexp_replace(text, " +
          s"'([$cls]+)', ' ${bs}1 ', 'g'), '([$cls]{1})', '${bs}1 ', 'g'), " +
          "' +', ' ', 'g'))"
      val steps = (1 to 12).map { r =>
        val cast = if (r == 1) "CAST(1 AS BIGINT)" else r.toString
        s"SELECT $cast AS step, lhs, rhs, merged, n FROM bm$r"
      }.mkString("\n|UNION ALL ")
      s"""WITH $cjkAugCte,
         |segd AS (SELECT doc_id, $segExpr AS text FROM cj),
         |${bpeCtes(12, "segd", byteLevel = true)}
         |$steps
         |ORDER BY step""".stripMargin
    },
    // t46: the t43 id stream, pack assignment replayed (cum/budget
    // window), per-pack doc offsets as a second prefix window, and the
    // in-doc index via a doc-partitioned row_number — positions dense.
    "t46_packed_sequences" ->
      s"""WITH ${bpeCtes(8)},
         |${pieceVocabCtes(8)},
         |d50 AS (SELECT doc_id, lang, string_split(text, ' ') AS w
         |        FROM documents WHERE doc_id < 50),
         |wp AS (SELECT doc_id, lang, CAST(i - 1 AS BIGINT) AS word_pos, w[i] AS word
         |       FROM d50, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |sp AS (SELECT doc_id, lang, word_pos, string_split(seg, ' ') AS pieces
         |       FROM wp JOIN bw8 ON wp.word = bw8.word),
         |pe AS (SELECT doc_id, lang, word_pos, CAST(j - 1 AS BIGINT) AS piece_pos,
         |              pieces[j] AS piece
         |       FROM sp, UNNEST(range(1, len(pieces) + 1)) AS t(j)),
         |pid AS (SELECT pe.doc_id, pe.lang, pe.word_pos, pe.piece_pos, pv.piece_id
         |        FROM pe JOIN pv ON pe.piece = pv.piece),
         |cnt AS (SELECT doc_id, lang, count(*) AS n FROM pid GROUP BY 1, 2),
         |pk AS (SELECT doc_id, lang, n,
         |         CAST(floor(coalesce(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT)
         |           AS pack_id
         |       FROM cnt),
         |off AS (SELECT doc_id, lang, pack_id,
         |          coalesce(sum(n) OVER (PARTITION BY lang, pack_id ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
         |        FROM pk)
         |SELECT p.lang, o.pack_id,
         |       CAST(o.o + row_number() OVER (PARTITION BY p.doc_id
         |         ORDER BY p.word_pos, p.piece_pos) - 1 AS BIGINT) AS pos,
         |       p.doc_id, p.piece_id
         |FROM pid p JOIN off o ON p.doc_id = o.doc_id
         |ORDER BY p.lang, o.pack_id, pos""".stripMargin,
    // t57: t46's replay with the EOS union under the reserved band —
    // pieces at pv.piece_id + 4, one marker row per doc at
    // max(word_pos)+1 with the RESERVED control id 2 (SpecialTokens
    // EOS), flowing through the same budget window and splice.
    "t57_packed_eos" ->
      s"""WITH ${bpeCtes(8)},
         |${pieceVocabCtes(8)},
         |d50 AS (SELECT doc_id, lang, string_split(text, ' ') AS w
         |        FROM documents WHERE doc_id < 50),
         |wp AS (SELECT doc_id, lang, CAST(i - 1 AS BIGINT) AS word_pos, w[i] AS word
         |       FROM d50, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |sp AS (SELECT doc_id, lang, word_pos, string_split(seg, ' ') AS pieces
         |       FROM wp JOIN bw8 ON wp.word = bw8.word),
         |pe AS (SELECT doc_id, lang, word_pos, CAST(j - 1 AS BIGINT) AS piece_pos,
         |              pieces[j] AS piece
         |       FROM sp, UNNEST(range(1, len(pieces) + 1)) AS t(j)),
         |pid AS (SELECT pe.doc_id, pe.lang, pe.word_pos, pe.piece_pos,
         |               CAST(pv.piece_id + 4 AS BIGINT) AS piece_id
         |        FROM pe JOIN pv ON pe.piece = pv.piece),
         |pide AS MATERIALIZED (
         |  SELECT doc_id, lang, word_pos, piece_pos, piece_id FROM pid
         |  UNION ALL
         |  SELECT doc_id, lang, max(word_pos) + 1 AS word_pos,
         |         CAST(0 AS BIGINT) AS piece_pos,
         |         CAST(2 AS BIGINT) AS piece_id
         |  FROM pid GROUP BY doc_id, lang),
         |cnt AS (SELECT doc_id, lang, count(*) AS n FROM pide GROUP BY 1, 2),
         |pk AS (SELECT doc_id, lang, n,
         |         CAST(floor(coalesce(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT)
         |           AS pack_id
         |       FROM cnt),
         |off AS (SELECT doc_id, lang, pack_id,
         |          coalesce(sum(n) OVER (PARTITION BY lang, pack_id ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
         |        FROM pk)
         |SELECT p.lang, o.pack_id,
         |       CAST(o.o + row_number() OVER (PARTITION BY p.doc_id
         |         ORDER BY p.word_pos, p.piece_pos) - 1 AS BIGINT) AS pos,
         |       p.doc_id, p.piece_id
         |FROM pide p JOIN off o ON p.doc_id = o.doc_id
         |ORDER BY p.lang, o.pack_id, pos""".stripMargin,
    // t67: t57's replay with the BOS union row added — one marker per
    // doc at word_pos −1, the reserved control id 1; budget window and
    // splice unchanged on the augmented stream.
    "t67_packed_bos" ->
      s"""WITH ${bpeCtes(8)},
         |${pieceVocabCtes(8)},
         |d50 AS (SELECT doc_id, lang, string_split(text, ' ') AS w
         |        FROM documents WHERE doc_id < 50),
         |wp AS (SELECT doc_id, lang, CAST(i - 1 AS BIGINT) AS word_pos, w[i] AS word
         |       FROM d50, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |sp AS (SELECT doc_id, lang, word_pos, string_split(seg, ' ') AS pieces
         |       FROM wp JOIN bw8 ON wp.word = bw8.word),
         |pe AS (SELECT doc_id, lang, word_pos, CAST(j - 1 AS BIGINT) AS piece_pos,
         |              pieces[j] AS piece
         |       FROM sp, UNNEST(range(1, len(pieces) + 1)) AS t(j)),
         |pid AS (SELECT pe.doc_id, pe.lang, pe.word_pos, pe.piece_pos,
         |               CAST(pv.piece_id + 4 AS BIGINT) AS piece_id
         |        FROM pe JOIN pv ON pe.piece = pv.piece),
         |pide AS MATERIALIZED (
         |  SELECT doc_id, lang, word_pos, piece_pos, piece_id FROM pid
         |  UNION ALL
         |  SELECT doc_id, lang, max(word_pos) + 1 AS word_pos,
         |         CAST(0 AS BIGINT) AS piece_pos,
         |         CAST(2 AS BIGINT) AS piece_id
         |  FROM pid GROUP BY doc_id, lang
         |  UNION ALL
         |  SELECT doc_id, lang, CAST(-1 AS BIGINT) AS word_pos,
         |         CAST(0 AS BIGINT) AS piece_pos,
         |         CAST(1 AS BIGINT) AS piece_id
         |  FROM pid GROUP BY doc_id, lang),
         |cnt AS (SELECT doc_id, lang, count(*) AS n FROM pide GROUP BY 1, 2),
         |pk AS (SELECT doc_id, lang, n,
         |         CAST(floor(coalesce(sum(n) OVER (PARTITION BY lang ORDER BY doc_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512) AS BIGINT)
         |           AS pack_id
         |       FROM cnt),
         |off AS (SELECT doc_id, lang, pack_id,
         |          coalesce(sum(n) OVER (PARTITION BY lang, pack_id ORDER BY doc_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o
         |        FROM pk)
         |SELECT p.lang, o.pack_id,
         |       CAST(o.o + row_number() OVER (PARTITION BY p.doc_id
         |         ORDER BY p.word_pos, p.piece_pos) - 1 AS BIGINT) AS pos,
         |       p.doc_id, p.piece_id
         |FROM pide p JOIN off o ON p.doc_id = o.doc_id
         |ORDER BY p.lang, o.pack_id, pos""".stripMargin,
    // t34: the trained bw8 segmentation joined onto the token stream,
    // pieces re-exploded with 0-based positions.
    "t34_bpe_encode" ->
      s"""WITH ${bpeCtes(8)},
         |d50 AS (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents WHERE doc_id < 50),
         |wp AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS word_pos, w[i] AS word
         |       FROM d50, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |sp AS (SELECT doc_id, word_pos, string_split(seg, ' ') AS pieces
         |       FROM wp JOIN bw8 ON wp.word = bw8.word)
         |SELECT doc_id, word_pos, CAST(j - 1 AS BIGINT) AS piece_pos, pieces[j] AS piece
         |FROM sp, UNNEST(range(1, len(pieces) + 1)) AS t(j)
         |ORDER BY doc_id, word_pos, piece_pos""".stripMargin,
    // t48: the full unigram-LM training chain replayed — seed, 3
    // Viterbi-EM rounds (each DP a recursive CTE carrying the dp
    // array), prune, renormalize.
    "t48_unigram_train" ->
      s"""WITH RECURSIVE ${unigramCtes(3, 5, 80, 48)}
         |SELECT piece, mass, lp AS logp FROM ufin ORDER BY piece""".stripMargin,
    // t49: the t48 chain's final table as a one-row map, the encode DP
    // over the distinct words of docs < 50, pieces re-exploded onto the
    // token stream with 0-based positions (the t34 shape).
    "t49_unigram_encode" ->
      s"""WITH RECURSIVE ${unigramCtes(3, 5, 80, 48)},
         |ufm AS (
         |  SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS m,
         |         round(ln(0.5 / CAST(sum(mass) AS DOUBLE)), 6) AS unk
         |  FROM ufin),
         |d50 AS (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents WHERE doc_id < 50),
         |wp AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS word_pos, w[i] AS word
         |       FROM d50, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |ew AS (SELECT DISTINCT word, 1 AS freq, word AS rep FROM wp),
         |${unigramDpCte("e", "ufm", "ew", "esg", 5)},
         |usp AS (SELECT doc_id, word_pos, string_split(seg, ' ') AS pieces
         |        FROM wp JOIN esg ON wp.word = esg.word)
         |SELECT doc_id, word_pos, CAST(j - 1 AS BIGINT) AS piece_pos, pieces[j] AS piece
         |FROM usp, UNNEST(range(1, len(pieces) + 1)) AS t(j)
         |ORDER BY doc_id, word_pos, piece_pos""".stripMargin,
    // t54: the SAME chain as t48 — the local trainer's contract is
    // bit-equality with the distributed one.
    "t54_unigram_train_local" ->
      s"""WITH RECURSIVE ${unigramCtes(3, 5, 80, 48)}
         |SELECT piece, mass, lp AS logp FROM ufin ORDER BY piece""".stripMargin,
    // t52: t49's encode joined to the score-ordered id table under the
    // reserved band — UNK/BOS/EOS/PAD at 0..3 (unk id 0 by convention;
    // absent here — the corpus alphabet is covered), pieces at 4+
    // (row_number starts at 1, so + 3).
    "t52_unigram_ids" ->
      s"""WITH RECURSIVE ${unigramCtes(3, 5, 80, 48)},
         |ufm AS (
         |  SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS m,
         |         round(ln(0.5 / CAST(sum(mass) AS DOUBLE)), 6) AS unk
         |  FROM ufin),
         |upv AS (
         |  SELECT piece, row_number() OVER (ORDER BY mass DESC, piece) AS piece_id
         |  FROM ufin),
         |d50 AS (SELECT doc_id, string_split(text, ' ') AS w
         |        FROM documents WHERE doc_id < 50),
         |wp AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS word_pos, w[i] AS word
         |       FROM d50, UNNEST(range(1, len(w) + 1)) AS t(i)),
         |ew AS (SELECT DISTINCT word, 1 AS freq, word AS rep FROM wp),
         |${unigramDpCte("e", "ufm", "ew", "esg", 5)},
         |usp AS (SELECT doc_id, word_pos, string_split(seg, ' ') AS pieces
         |        FROM wp JOIN esg ON wp.word = esg.word),
         |upe AS (SELECT doc_id, word_pos, CAST(j - 1 AS BIGINT) AS piece_pos,
         |               pieces[j] AS piece
         |        FROM usp, UNNEST(range(1, len(pieces) + 1)) AS t(j))
         |SELECT e.doc_id, e.word_pos, e.piece_pos,
         |       CAST(coalesce(v.piece_id + 3, 0) AS BIGINT) AS piece_id
         |FROM upe e LEFT JOIN upv v ON e.piece = v.piece
         |ORDER BY doc_id, word_pos, piece_pos""".stripMargin,
    // t53: the final-model DP over the corpus word table (uw is already
    // in the chain), joined onto the lang-keyed token stream, the t38
    // aggregation on top.
    "t53_unigram_fertility" ->
      s"""WITH RECURSIVE ${unigramCtes(3, 5, 80, 48)},
         |ufm AS (
         |  SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS m,
         |         round(ln(0.5 / CAST(sum(mass) AS DOUBLE)), 6) AS unk
         |  FROM ufin),
         |${unigramDpCte("f", "ufm", "uw", "fsg", 5)},
         |ts AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
         |tj AS (SELECT ts.lang, length(ts.word) AS chars,
         |              len(string_split(f.seg, ' ')) AS pieces
         |       FROM ts JOIN fsg f ON ts.word = f.word)
         |SELECT lang, count(*) AS n_words,
         |       CAST(sum(pieces) AS BIGINT) AS n_pieces,
         |       round(sum(pieces) / CAST(count(*) AS DOUBLE), 6) AS fertility,
         |       round(sum(chars) / CAST(sum(pieces) AS DOUBLE), 6) AS chars_per_piece
         |FROM tj GROUP BY lang ORDER BY lang""".stripMargin,
    // t56: one 16-round BPE chain serves the 4/8/16 points (bw{k} is
    // the k-merge segmentation — prefix stability); one unigram EM
    // chain serves all three prunes (vocabSize binds only at the
    // prune). Fertility is the t53/t38 aggregation per point.
    "t56_tokenizer_sweep" -> {
      def uniPoint(v: Int, fin: String, tag: String): String =
        s"""ufm$tag AS (
           |  SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS m,
           |         round(ln(0.5 / CAST(sum(mass) AS DOUBLE)), 6) AS unk
           |  FROM $fin),
           |${unigramDpCte(s"f$tag", s"ufm$tag", "uw", s"fsg$tag", 5)}""".stripMargin
      def uniPrune(v: Int): String =
        s"""upr$v AS MATERIALIZED (
           |  SELECT piece, mass FROM uv3 WHERE length(piece) = 1
           |  UNION ALL
           |  SELECT piece, mass FROM (
           |    SELECT piece, mass, row_number() OVER (ORDER BY mass DESC, piece) AS rk
           |    FROM uv3 WHERE length(piece) > 1)
           |  WHERE rk <= $v - (SELECT count(*) FROM uv3 WHERE length(piece) = 1)),
           |ufin$v AS MATERIALIZED (
           |  SELECT piece, mass, round(ln(CAST(mass AS DOUBLE) /
           |    (SELECT CAST(sum(mass) AS DOUBLE) FROM upr$v)), 6) AS lp
           |  FROM upr$v)""".stripMargin
      def fert(family: String, budget: Int, segSrc: String): String =
        s"""SELECT '$family' AS family, CAST($budget AS BIGINT) AS budget,
           |       count(*) AS n_words, CAST(sum(pieces) AS BIGINT) AS n_pieces,
           |       round(sum(pieces) / CAST(count(*) AS DOUBLE), 6) AS fertility,
           |       round(sum(chars) / CAST(sum(pieces) AS DOUBLE), 6) AS chars_per_piece
           |FROM (SELECT length(ts.word) AS chars, len(string_split(f.seg, ' ')) AS pieces
           |      FROM ts JOIN $segSrc f ON ts.word = f.word)""".stripMargin
      s"""WITH RECURSIVE ${unigramCtes(3, 5, 80, 96)},
         |${bpeCtes(16)},
         |${uniPrune(24)},
         |${uniPrune(48)},
         |${uniPoint(24, "ufin24", "24")},
         |${uniPoint(48, "ufin48", "48")},
         |${uniPoint(96, "ufin", "96")},
         |ts AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         |${fert("bpe", 4, "bw4")}
         |UNION ALL ${fert("bpe", 8, "bw8")}
         |UNION ALL ${fert("bpe", 16, "bw16")}
         |UNION ALL ${fert("unigram", 24, "fsg24")}
         |UNION ALL ${fert("unigram", 48, "fsg48")}
         |UNION ALL ${fert("unigram", 96, "fsg96")}
         |ORDER BY family, budget""".stripMargin
    },
    // t55: the round trip's oracle is the IDENTITY — decode(encodeIds)
    // must reproduce the raw documents slice byte-for-byte.
    "t55_decode_roundtrip" ->
      """SELECT doc_id, text FROM documents WHERE doc_id < 50
        |ORDER BY doc_id""".stripMargin,
    // t65: the full byte-grain train chain — the t48/t54 machinery at
    // symbol width 2 over GPT-2 pretokens (rep = hex(encode(word)),
    // every DP/seed position scaled by the width; hex is uppercase
    // UTF-8 in both engines).
    "t65_unigram_byte_train" ->
      s"""WITH RECURSIVE ${unigramCtes(2, 4, 80, 48, w = 2, tokExpr = Gpt2TokSql)}
         |SELECT piece, mass, lp AS logp FROM ufin ORDER BY piece""".stripMargin,
    // t50: the sentinel-rewrite pre-tokenizer replayed in RE2 —
    // identical passes, identical pattern.
    "t50_gpt2_pretokenize" ->
      s"""WITH g AS (SELECT doc_id, $Gpt2TokSql AS toks
         |           FROM documents WHERE doc_id < 50)
         |SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, toks[i] AS tok
         |FROM g, UNNEST(range(1, len(toks) + 1)) AS t(i)
         |ORDER BY doc_id, pos""".stripMargin,
    // t51: the 10 byte-grain rounds unrolled over GPT-2 pretokens —
    // bw0 seeds from the t50 token expression, everything else is the
    // t33/t47 machinery verbatim.
    "t51_bpe_gpt2" -> {
      val steps = (1 to 10).map { r =>
        val cast = if (r == 1) "CAST(1 AS BIGINT)" else r.toString
        s"SELECT $cast AS step, lhs, rhs, merged, n FROM bm$r"
      }.mkString("\n|UNION ALL ")
      s"""WITH ${bpeCtes(10, "documents", byteLevel = true, tokExpr = Gpt2TokSql)}
         |$steps
         |ORDER BY step""".stripMargin
    },
    "t23_bm25" -> {
      val k1 = 1.2
      val b = 0.75
      val tfCols = Bm25Terms.zipWithIndex.map { case (t, i) =>
        s"len(list_filter(w, x -> x = '$t')) AS tf$i"
      }.mkString(", ")
      val dfCols = Bm25Terms.indices.map(i =>
        s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i").mkString(", ")
      val contribs = Bm25Terms.indices.map { i =>
        s"ln((CAST(n AS DOUBLE) - CAST(df$i AS DOUBLE) + 0.5) / (CAST(df$i AS DOUBLE) + 0.5) + 1.0)" +
          s" * (CAST(tf$i AS DOUBLE) * ${k1 + 1.0})" +
          s" / (CAST(tf$i AS DOUBLE) + $k1 * (${1.0 - b} + $b * CAST(dl AS DOUBLE)" +
          s" / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))"
      }.mkString(" + ")
      s"""WITH base AS (
         |  SELECT doc_id, CAST(len(w) AS BIGINT) AS dl, $tfCols
         |  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         |),
         |stats AS (SELECT count(*) AS n, sum(dl) AS sumdl, $dfCols FROM base)
         |SELECT doc_id, dl,
         |       ${Bm25Terms.indices.map(i => s"CAST(tf$i AS BIGINT) AS tf$i").mkString(", ")},
         |       round($contribs, 6) AS score
         |FROM base CROSS JOIN stats
         |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin
    },
    // mm14: the synthesis formulas sampled at the SAME truncating
    // nearest-neighbor source coordinates ((out·in) // out_dim) over the
    // SAME truncating fit-in-box plan — every term nonneg, PNG lossless,
    // so the resampled sum is bit-exact.
    "mm14_resize_real" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 60),
        |dims AS (SELECT doc_id, 8 + doc_id % 24 AS w, 8 + (doc_id*3) % 24 AS h FROM d),
        |plan AS (
        |  SELECT doc_id, w, h,
        |    CASE WHEN greatest(w, h) > 16
        |         THEN greatest(1, (w * 16) // greatest(w, h)) ELSE w END AS ow,
        |    CASE WHEN greatest(w, h) > 16
        |         THEN greatest(1, (h * 16) // greatest(w, h)) ELSE h END AS oh
        |  FROM dims),
        |px AS (
        |  SELECT doc_id, w, h, ow, oh, tx.xo AS xo, ty.yo AS yo
        |  FROM plan, LATERAL (SELECT unnest(range(0, ow)) AS xo) tx,
        |             LATERAL (SELECT unnest(range(0, oh)) AS yo) ty),
        |src AS (
        |  SELECT doc_id, w, h, ow, oh, (xo * w) // ow AS xs, (yo * h) // oh AS ys
        |  FROM px)
        |SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(ow AS INTEGER) AS out_w, CAST(oh AS INTEGER) AS out_h,
        |  CAST(sum((3*xs + doc_id % 200) % 256
        |         + (5*xs + 7*ys + doc_id) % 256
        |         + (xs + 11*ys + 13*doc_id) % 256) AS BIGINT) AS resized_sum
        |FROM src GROUP BY 1, 2, 3, 4, 5 ORDER BY doc_id""".stripMargin,
    // mm13: the planting replayed — each id slice's true container type
    // (and the text slice's declared/sniffed mismatch) is closed-form in
    // doc_id; only a sniffer that actually read the magic bytes of every
    // real container reproduces it.
    "mm13_sniff" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 125)
        |SELECT doc_id,
        |  CASE WHEN doc_id < 25 THEN 'image/png'
        |       WHEN doc_id < 50 THEN 'image/gif'
        |       WHEN doc_id < 75 THEN 'audio/wav'
        |       WHEN doc_id < 100 THEN 'application/octet-stream'
        |       ELSE 'image/jpeg' END AS sniffed_type,
        |  CASE WHEN doc_id < 25 THEN 'image/png'
        |       WHEN doc_id < 50 THEN 'image/gif'
        |       WHEN doc_id < 75 THEN 'audio/wav'
        |       WHEN doc_id < 100 THEN 'text/plain'
        |       ELSE 'image/jpeg' END AS declared,
        |  doc_id < 75 OR doc_id >= 100 AS meta_agrees
        |FROM d ORDER BY doc_id""".stripMargin,
    // mm15: the synthesis geometry replayed — PNG dims 8+id%24 /
    // 8+(3id)%24, GIF dims 16+id%8 / 16+(3id)%8, WAV rate by id%3, and
    // (new in r14) JPEG dims through the SOF walk — same 8+id%24 /
    // 8+(3id)%24 geometry as PNG, reached at a variable offset the
    // native expression scans to. NULLs only for true octet-streams.
    "mm15_header_meta" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id < 125)
        |SELECT doc_id,
        |  CASE WHEN doc_id < 25 THEN 'image/png'
        |       WHEN doc_id < 50 THEN 'image/gif'
        |       WHEN doc_id < 75 THEN 'audio/wav'
        |       WHEN doc_id < 100 THEN 'application/octet-stream'
        |       ELSE 'image/jpeg' END AS sniffed_type,
        |  CASE WHEN doc_id < 25 OR doc_id >= 100 THEN 8 + doc_id % 24
        |       WHEN doc_id < 50 THEN 16 + doc_id % 8 END AS parsed_w,
        |  CASE WHEN doc_id < 25 OR doc_id >= 100 THEN 8 + (doc_id * 3) % 24
        |       WHEN doc_id < 50 THEN 16 + (doc_id * 3) % 8 END AS parsed_h,
        |  CAST(CASE WHEN doc_id >= 50 AND doc_id < 75 THEN
        |    CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 22050 END
        |  END AS BIGINT) AS parsed_rate
        |FROM d ORDER BY doc_id""".stripMargin,
    // d26: identical planting, positioned gram hashes via the same
    // portable hash over the space-joined token slice, occurrence df as
    // a count window on the hash, and the same lag/flag/running-sum
    // interval merge — exact integers end to end.
    "d26_repeated_spans" -> {
      val n = 8
      s"""WITH $dupAugCte,
         |pl AS (
         |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
         |    THEN text || ' q0 q1 q2 q3 q4 q5 q6 q7 q8 q9' ELSE text END AS text
         |  FROM d),
         |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM pl),
         |g AS (
         |  SELECT doc_id, t.p AS pos,
         |         ${sqlHash(43, s"array_to_string(list_slice(w, t.p + 1, t.p + $n), ' ')")} AS h
         |  FROM words, LATERAL (SELECT unnest(range(0, len(w) - $n + 1)) AS p) t
         |  WHERE len(w) >= $n
         |),
         |rep AS (SELECT doc_id, pos FROM (
         |  SELECT g.*, count(*) OVER (PARTITION BY h) AS df FROM g) WHERE df >= 2),
         |m AS (
         |  SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM rep),
         |mk AS (SELECT doc_id, pos,
         |  CASE WHEN prev IS NULL OR pos - prev > $n THEN 1 ELSE 0 END AS nw FROM m),
         |sp AS (SELECT doc_id, pos,
         |  sum(nw) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM mk)
         |SELECT doc_id, CAST(grp AS BIGINT) AS span_idx,
         |       CAST(min(pos) AS BIGINT) AS start_tok,
         |       CAST(max(pos) + $n AS BIGINT) AS end_tok,
         |       count(*) AS n_grams
         |FROM sp GROUP BY doc_id, grp
         |ORDER BY doc_id, span_idx""".stripMargin
    },
    // d29: d26's span chain to the interval frame, then every covered
    // position anti-joined away and the survivors string_agg'd in
    // position order — docs shorter than n (no grams) pass through, a
    // whole-doc copy strips to empty text.
    "d29_strip_spans" -> {
      val n = 8
      s"""WITH $dupAugCte,
         |pl AS (
         |  SELECT doc_id, CASE WHEN doc_id % 7 = 0
         |    THEN text || ' q0 q1 q2 q3 q4 q5 q6 q7 q8 q9' ELSE text END AS text
         |  FROM d),
         |words AS (SELECT doc_id, string_split(text, ' ') AS w FROM pl),
         |g AS (
         |  SELECT doc_id, t.p AS pos,
         |         ${sqlHash(43, s"array_to_string(list_slice(w, t.p + 1, t.p + $n), ' ')")} AS h
         |  FROM words, LATERAL (SELECT unnest(range(0, len(w) - $n + 1)) AS p) t
         |  WHERE len(w) >= $n
         |),
         |rep AS (SELECT doc_id, pos FROM (
         |  SELECT g.*, count(*) OVER (PARTITION BY h) AS df FROM g) WHERE df >= 2),
         |m AS (
         |  SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM rep),
         |mk AS (SELECT doc_id, pos,
         |  CASE WHEN prev IS NULL OR pos - prev > $n THEN 1 ELSE 0 END AS nw FROM m),
         |sp AS (SELECT doc_id, pos,
         |  sum(nw) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM mk),
         |spans AS (
         |  SELECT doc_id, min(pos) AS start_tok, max(pos) + $n AS end_tok
         |  FROM sp GROUP BY doc_id, grp),
         |allpos AS (
         |  SELECT doc_id, t.p AS pos, w[t.p + 1] AS tok
         |  FROM words, LATERAL (SELECT unnest(range(0, len(w))) AS p) t
         |),
         |kept AS (
         |  SELECT a.* FROM allpos a WHERE NOT EXISTS (
         |    SELECT 1 FROM spans s WHERE s.doc_id = a.doc_id
         |      AND a.pos >= s.start_tok AND a.pos < s.end_tok)
         |),
         |agg AS (
         |  SELECT doc_id, count(*) AS nk,
         |         string_agg(tok, ' ' ORDER BY pos) AS text_clean
         |  FROM kept GROUP BY doc_id
         |)
         |SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
         |       CAST(len(w.w) - coalesce(agg.nk, 0) AS BIGINT) AS n_removed,
         |       coalesce(agg.text_clean, '') AS text_clean
         |FROM words w LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },
    // p3: the d29 span chain over the RAW corpus (sentinel planting
    // only), per-doc removal = Σ(end−start) over the merged spans
    // (disjoint by construction — a new span starts strictly past the
    // previous end), then the spam-fraction gate and the per-lang
    // budget rollup.
    "p3_scrub_pipeline" -> {
      val n = 8
      s"""WITH pl AS (
         |  SELECT doc_id, lang, CASE WHEN doc_id % 7 = 0
         |    THEN text || ' q0 q1 q2 q3 q4 q5 q6 q7 q8 q9' ELSE text END AS text
         |  FROM documents),
         |words AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM pl),
         |g AS (
         |  SELECT doc_id, t.p AS pos,
         |         ${sqlHash(43, s"array_to_string(list_slice(w, t.p + 1, t.p + $n), ' ')")} AS h
         |  FROM words, LATERAL (SELECT unnest(range(0, len(w) - $n + 1)) AS p) t
         |  WHERE len(w) >= $n
         |),
         |rep AS (SELECT doc_id, pos FROM (
         |  SELECT g.*, count(*) OVER (PARTITION BY h) AS df FROM g) WHERE df >= 2),
         |m AS (
         |  SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
         |  FROM rep),
         |mk AS (SELECT doc_id, pos,
         |  CASE WHEN prev IS NULL OR pos - prev > $n THEN 1 ELSE 0 END AS nw FROM m),
         |sp AS (SELECT doc_id, pos,
         |  sum(nw) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM mk),
         |spans AS (
         |  SELECT doc_id, min(pos) AS start_tok, max(pos) + $n AS end_tok
         |  FROM sp GROUP BY doc_id, grp),
         |rm AS (SELECT doc_id, sum(end_tok - start_tok) AS n_removed FROM spans GROUP BY doc_id),
         |per AS (
         |  SELECT w.doc_id, w.lang, len(w.w) AS n_tokens, coalesce(rm.n_removed, 0) AS n_removed
         |  FROM words w LEFT JOIN rm USING (doc_id)
         |)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(n_tokens - n_removed) AS BIGINT) AS kept_tokens,
         |       CAST(sum(n_removed) AS BIGINT) AS scrubbed_tokens
         |FROM per
         |WHERE n_tokens - n_removed > 0 AND n_removed * 2 <= n_tokens
         |GROUP BY lang ORDER BY lang""".stripMargin
    },
    // t24: the identical planting (periods, then first sentence
    // re-appended) and the first-occurrence semantics as min(pos) per
    // distinct sentence, re-joined in first-seen order — exact string
    // output, no floats.
    "t24_sentence_dedup" ->
      """WITH d0 AS (
        |  SELECT doc_id, regexp_replace(text, 'table ', 'table. ', 'g') AS t0
        |  FROM documents),
        |sp0 AS (
        |  SELECT doc_id, t0,
        |         string_split(regexp_replace(t0, '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)) AS s0
        |  FROM d0),
        |d AS (SELECT doc_id, t0 || '. ' || s0[1] AS text FROM sp0),
        |sp AS (
        |  SELECT doc_id,
        |         string_split(regexp_replace(text, '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)) AS sents
        |  FROM d),
        |e AS (
        |  SELECT doc_id,
        |         unnest(list_transform(range(1, len(sents) + 1),
        |                               i -> {'pos': i, 's': sents[i]})) AS r
        |  FROM sp),
        |f AS (SELECT doc_id, r.pos AS pos, r.s AS s FROM e),
        |k AS (SELECT doc_id, s, min(pos) AS fpos FROM f GROUP BY doc_id, s),
        |agg AS (
        |  SELECT doc_id, string_agg(s, ' ' ORDER BY fpos) AS text_clean,
        |         count(*) AS n_kept
        |  FROM k GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n FROM f GROUP BY doc_id)
        |SELECT a.doc_id, a.text_clean, CAST(t.n - a.n_kept AS BIGINT) AS n_dropped
        |FROM agg a JOIN tot t USING (doc_id) ORDER BY doc_id""".stripMargin,
    // s11: the whole water-filling derivation replayed — ascending-cap
    // rank, the integer breakpoint test, equal-share integer division,
    // the rounded rate, and the same floor()'d double→int64 threshold
    // (the s7 conversion-parity convention).
    "s11_unimax" -> {
      val b = 15000L
      s"""WITH tok AS (SELECT lang, doc_id, len(string_split(text, ' ')) AS nt FROM documents),
         |lt AS (SELECT lang, CAST(sum(nt) AS BIGINT) AS n_tokens FROM tok GROUP BY lang),
         |caps AS (SELECT lang, n_tokens,
         |         CAST(floor(n_tokens::DOUBLE * 1.0) AS BIGINT) AS cap_tokens FROM lt),
         |ord AS (
         |  SELECT *, row_number() OVER (ORDER BY cap_tokens, lang) AS i,
         |         count(*) OVER () AS l,
         |         sum(cap_tokens) OVER (ORDER BY cap_tokens, lang
         |                               ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM caps),
         |fl AS (SELECT *, CASE WHEN cap_tokens * (l - i + 1) + (cum - cap_tokens) <= $b
         |                      THEN 1 ELSE 0 END AS is_full FROM ord),
         |agg AS (
         |  SELECT *, sum(is_full) OVER () AS k,
         |         coalesce(sum(CASE WHEN is_full = 1 THEN cap_tokens END) OVER (), 0) AS fullcap
         |  FROM fl),
         |al AS (
         |  SELECT *, CASE WHEN is_full = 1 THEN cap_tokens
         |                 WHEN l > k THEN least(cap_tokens, ($b - fullcap) // (l - k))
         |                 ELSE 0 END AS alloc_tokens
         |  FROM agg),
         |rt AS (
         |  SELECT lang, n_tokens, cap_tokens, alloc_tokens,
         |         round(least(1.0, alloc_tokens::DOUBLE / n_tokens::DOUBLE), 6) AS rate
         |  FROM al),
         |bd AS (SELECT *, CAST(floor(rate * 1152921504606846976.0) AS BIGINT) AS bound FROM rt)
         |SELECT b.lang, b.n_tokens, b.cap_tokens, CAST(b.alloc_tokens AS BIGINT) AS alloc_tokens,
         |       b.rate,
         |       CAST(sum(CASE WHEN ${sqlHash(41, "d.doc_id::VARCHAR")} < b.bound
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents d JOIN bd b USING (lang)
         |GROUP BY b.lang, b.n_tokens, b.cap_tokens, b.alloc_tokens, b.rate
         |ORDER BY b.lang""".stripMargin
    },
    // s10: both hashed histograms, the smoothed ratio (denominators
    // interpolated as single constants), and t12's position-ordered
    // list_reduce fold — per-token ln terms summed left-to-right exactly
    // as Spark's aggregate HOF does.
    "s10_dsir" -> {
      val b = 256
      val denom = 1.0 * b // addK * buckets, as ONE interpolated constant
      s"""WITH ttok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents WHERE lang = 'de'),
         |tb AS (SELECT ${sqlHash(31, "w")} % $b AS b, count(*) AS ct FROM ttok GROUP BY 1),
         |tn AS (SELECT sum(ct) AS nt FROM tb),
         |rws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
         |rtok AS (SELECT doc_id, unnest(ws) AS w, unnest(range(1, len(ws) + 1)) AS pos FROM rws),
         |rbk AS (SELECT doc_id, pos, ${sqlHash(31, "w")} % $b AS b FROM rtok),
         |rb AS (SELECT b, count(*) AS cr FROM rbk GROUP BY b),
         |rn AS (SELECT sum(cr) AS nr FROM rb),
         |scored AS (
         |  SELECT rbk.doc_id, rbk.pos,
         |         ln(((coalesce(tb.ct, 0) + 1.0) / (tn.nt + $denom)) /
         |            ((rb.cr + 1.0) / (rn.nr + $denom))) AS lnw
         |  FROM rbk LEFT JOIN tb USING (b) JOIN rb USING (b)
         |  CROSS JOIN tn CROSS JOIN rn
         |),
         |perdoc AS (
         |  SELECT doc_id, count(*) AS n_tokens,
         |         list_reduce(list(lnw ORDER BY pos), (acc, x) -> acc + x) AS s
         |  FROM scored GROUP BY doc_id
         |)
         |SELECT doc_id, n_tokens, round(s / n_tokens, 6) AS avg_lir
         |FROM perdoc ORDER BY doc_id""".stripMargin
    },
    // p1: the whole curation chain replayed from the SAME fragments the
    // stage oracles use — t5's quality predicate, d1's sha256 dedup
    // window, d2/d10's shingle→candidate→verify→recursive-reachability
    // pipeline (over the POST-dedup corpus, exactly as the Spark side
    // chains them), s3's cap window, s1's split thresholds. Stage
    // boundaries are where composition bugs live; this oracle sees them.
    "p1_curation_pipeline" -> {
      val Seq(t80, t90) = Sampling.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"""WITH RECURSIVE raw AS (
         |  SELECT doc_id, text, lang, source FROM documents
         |  UNION ALL
         |  SELECT doc_id + 100000, text, lang, source FROM documents WHERE doc_id % 10 = 0
         |  UNION ALL
         |  SELECT doc_id + 200000, text || ' zq zq zq', lang, source FROM documents WHERE doc_id % 25 = 0
         |),
         |q AS (
         |  SELECT doc_id, text, lang, source FROM (
         |    SELECT raw.*, string_split(text, ' ') AS w FROM raw
         |  ) WHERE NOT (len(w) < 15 OR len(w) > 90
         |               OR len(list_distinct(w)) / (len(w) * 1.0) < 0.25)
         |),
         |x AS (
         |  SELECT doc_id, text, lang, source FROM (
         |    SELECT q.*, row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn FROM q
         |  ) WHERE rn = 1
         |),
         |d AS (SELECT doc_id, text FROM x),
         |$shingleCtes,
         |$jaccardPairsCtes,
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM vp
         |  UNION ALL
         |  SELECT doc_b, doc_a FROM vp
         |),
         |reach(src, dst) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.dst
         |),
         |clus AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
         |kept AS (
         |  SELECT doc_id FROM d
         |  WHERE doc_id NOT IN (SELECT doc_id FROM clus WHERE doc_id <> cluster_id)
         |),
         |capped AS (
         |  SELECT doc_id, lang, source FROM (
         |    SELECT x.doc_id, x.lang, x.source,
         |           row_number() OVER (
         |             PARTITION BY x.source
         |             ORDER BY ${sqlHash(7, "x.doc_id::VARCHAR")}, x.doc_id) AS rn
         |    FROM x JOIN kept USING (doc_id)
         |  ) WHERE rn <= 20
         |)
         |SELECT doc_id, lang, source,
         |       CASE WHEN h11 < $t80 THEN 'train'
         |            WHEN h11 < $t90 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT capped.*, ${sqlHash(11, "doc_id::VARCHAR")} AS h11 FROM capped)
         |ORDER BY doc_id""".stripMargin
    })

  /** The xxhash64 fast twins (d6/d7) share d2's exact-jaccard oracle
    * verbatim — one ground truth, one oracle, like d9/d22.
    *
    * d7: the hash only keys the inverted index; the OUTPUT (verified pairs
    * + exact shingle jaccard) is hash-independent absent collisions, and
    * the mode-agreement spec in `PipelineSpec` pins d7==d2 pairs AND
    * values exactly. d6: the banded candidate set differs from d3's (a
    * different hash buckets differently), so d6 cannot mirror d3's
    * md5-banding oracle; its verified output is bounded above by the exact
    * pair set, and the C88 recall probe measures recall = 1.0 for the
    * xxhash64 banding on the verification corpus — so the exact pair set
    * (d2's oracle) IS its ground truth there. d3 keeps the md5-banding
    * mirror oracle (45 rows at sf0.01, one pair below exact recall).
    */
  val oracleSql: Map[String, String] = oracleSqlBase ++ Map(
    "d7_neardup_jaccard_fast" -> oracleSqlBase("d2_neardup_jaccard"),
    "d6_minhash_lsh_fast" -> oracleSqlBase("d2_neardup_jaccard"),
    // e14 is e13 materialized (identical semantics, index-resident codes),
    // so it shares e13's composed replay oracle verbatim.
    "e14_ivfpq_index" -> oracleSqlBase("e13_ivfpq_topk"),
    // e18 is e16 with the candidate stage served from the at-rest index —
    // identical two-stage semantics, so e16's oracle verbatim (the e14
    // precedent; index==live parity is additionally spec-pinned).
    "e18_index_refined" -> oracleSqlBase("e16_refined_search"),
    // e19 is e6 through the persisted signature index — identical
    // candidate/verify semantics (see the query comment), so e6's
    // oracle verbatim; at-rest==live parity is additionally spec-pinned.
    "e19_signature_index" -> oracleSqlBase("e6_hyperplane_lsh"),
    // t25 is t23 materialized (posting index, shared contribution tree,
    // bit-equal doubles) — same oracle verbatim.
    "t25_bm25_index" -> oracleSqlBase("t23_bm25"),
    // d27's spans are hash-independent absent collisions (the hash only
    // keys the gram-df index) — d26's oracle verbatim, the d7 precedent;
    // the mode-agreement spec pins d27 == d26 row-for-row.
    "d27_repeated_spans_fast" -> oracleSqlBase("d26_repeated_spans"),
    // d28's rolling-hash grams key the same df index — span output is
    // hash-independent absent collisions, d26's oracle verbatim.
    "d28_repeated_spans_rolling" -> oracleSqlBase("d26_repeated_spans"),
    // p2's gate provably excludes the planted WAVs and declared-PNG
    // liars, leaving exactly mm8's PNG slice — identical output, mm8's
    // oracle verbatim; the spec pins that WITHOUT the gate the liar
    // payloads crash the decoder.
    "p2_multimodal_pipeline" -> oracleSqlBase("mm8_image_dedup"),
    // e12t's oracle is generated (two unrolled blocks of the same CTE
    // template) — see pqTrainedOracleSql for the exactness argument.
    "e12t_pq_trained" -> pqTrainedOracleSql,
    // t58/t59/t60 are the persisted-model round trips (C204): the
    // loaded artifact must encode/score BIT-IDENTICALLY to the trained
    // one, so each shares its live twin's oracle verbatim — any drift
    // in the store (merge order, piece sequence, count frame, doubles)
    // breaks the hash.
    "t58_bpe_saved_encode" -> oracleSqlBase("t43_bpe_piece_ids"),
    "t59_unigram_saved_encode" -> oracleSqlBase("t52_unigram_ids"),
    "t60_mkn_saved_nll" -> oracleSqlBase("t45_mkn_trigram_nll"),
    // t62 is t61 through snapshot persistence + count-summation merge:
    // raw n-gram counts are exactly additive over a disjoint document
    // partition (windows never cross docs), so the merged model IS the
    // one-pass model and the scorer must hash-match t61 verbatim.
    "t62_ngram_model_merge" -> oracleSqlBase("t61_mkn5_nll"),
    // t68: the at-rest model scores exactly like the live derivation —
    // t61's oracle pins the whole index layout + pruned-probe path.
    "t68_mkn5_indexed" -> oracleSqlBase("t61_mkn5_nll"),
    // t64 is t55's identity law under the full reserved band: decode
    // resolves the band from the model, so the +4 id shift cancels
    // exactly and the round trip is still the identity.
    "t64_decode_roundtrip_band" -> oracleSqlBase("t55_decode_roundtrip"),
    // t66: the identity law at the byte grain — encode∘decode under the
    // model-recorded band/grain/tokenizer reconstructs the slice.
    "t66_unigram_byte_roundtrip" -> oracleSqlBase("t55_decode_roundtrip"))
}
