package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer — the OTHER major subword family (Kudo 2018),
  * the algorithm behind SentencePiece's default model and the T5/ALBERT/
  * XLNet vocabularies, expressed Spark-first. Where BPE ([[Bpe]]) learns
  * a merge SEQUENCE bottom-up, the unigram model learns a piece
  * PROBABILITY TABLE top-down: seed a large candidate vocabulary from
  * frequent substrings, alternate Viterbi segmentation (E) with
  * frequency re-estimation (M), then prune to the target size.
  *
  * The same load-bearing scale decision as BPE: everything trains on the
  * DISTINCT-WORD frequency table, never the token stream — a 100 TB
  * corpus collapses to its vocabulary before any per-round work starts
  * (pre-segment no-space scripts with [[TextOps.segmentNoSpaceScripts]]
  * first; the same `maxWordChars` guard rejects the degenerate corpus).
  * Each EM round is ONE distributed job: the Viterbi DP runs as a
  * codegen'd `aggregate` higher-order function over the word table with
  * the current vocabulary as a single map literal (`typedlit` — one
  * Literal node, not 2·V children), and the piece-mass aggregation that
  * follows is vocabulary-bounded, so the per-round collect is bounded by
  * the seed size, never the corpus (the C172/C188 bounded-driver-state
  * discipline). Round count is FIXED and small (SentencePiece's own
  * default is 2 sub-iterations per prune step), so the per-round job
  * shape IS the production shape — no driver-local twin needed here.
  *
  * SYMBOL GRAIN (C209): like [[Bpe]], the family trains at either the
  * code-point grain or the BYTE grain — the byte-fallback convention
  * real SentencePiece serves for T5/LLaMA-class models, where the
  * "alphabet" is the 256 bytes and no input can ever be out of
  * alphabet. Bytes are spelled as uppercase hex pairs (the [[Bpe]]
  * portability trick — symbols stay plain ASCII, `hex(encode(word))`
  * is identical in Spark and DuckDB, and `unhex(concat(pieces))`
  * restores the exact bytes), and the Viterbi DP simply steps at
  * symbol width 2 instead of 1 — same expressions, positions scaled.
  * The TOKENIZER ([[TextOps.Tok]]) is likewise a train parameter
  * recorded on the model — the C202 discipline: encode/decode resolve
  * the split function and the decode word separator FROM THE MODEL,
  * and [[ModelStore]] persists both, so a serving session can never
  * split or re-join text under a different convention than training.
  *
  * Viterbi-EM (hard EM) rather than lattice (soft) EM is a deliberate
  * determinism choice: the E-step is an argmax with a stated total
  * tie-break instead of a forward–backward sum whose floating-point
  * reassociation differs across engines and partitionings. The DP is
  * exactly replayable in the DuckDB oracle (a recursive CTE carrying the
  * same dp array), and every probability is `round(ln(mass/total), 6)`
  * over exact integer masses — the repo's cross-engine transcendental
  * discipline.
  *
  * Determinism contract:
  *   - Viterbi tie-break: among equal-logprob segmentations the
  *     lexicographically GREATEST seg string wins (`array_max` over
  *     `struct(lp, seg)` — binary UTF-8 string order, identical in
  *     Spark and DuckDB).
  *   - Seed / prune selection: (mass DESC, piece ASC) in binary UTF-8
  *     order; the alphabet (every distinct symbol — code point or byte)
  *     is ALWAYS kept, `vocabSize` binds only the multi-symbol budget.
  *   - M-step smoothing: alphabet pieces carry +1 mass (so they never
  *     vanish and encode stays total); multi-symbol pieces the Viterbi
  *     pass stopped using drop out — SentencePiece's prune, one round
  *     early.
  *   - Unknown symbols at encode time score `unkLogp`
  *     (= round(ln(0.5/total), 6), the half-count unknown) and come
  *     back as single-symbol pieces — encode is total on ANY input.
  */
object Unigram {

  /** A trained unigram tokenizer: `pieces` = (piece, mass, logp) with
    * logp 6dp-rounded and masses the final (smoothed) EM counts;
    * `unkLogp` the out-of-alphabet single-symbol score; `maxPieceLen`
    * the candidate length cap IN SYMBOLS the DP was trained with
    * (encode must match); `reserved` the special-token band the id
    * space is laid out with (MODEL metadata, fixed at train time —
    * must lead with [[SpecialTokens.Unk]], whose id OOV pieces take;
    * this family always needs at least the unk slot, so `Nil` is not a
    * legal band here); `byteLevel` the symbol grain (pieces are
    * hex-pair byte strings when true); `tokenizer` the NAMED tokenizer
    * the model was trained with — [[encode]]/[[encodeIds]]/
    * [[fertility]]/[[decode]] all resolve the split function and the
    * decode word separator FROM THE MODEL ([[ModelStore]] persists it
    * by name), the same silently-corrupted-stream guard as
    * [[Bpe.BpeModel]].
    */
  final case class UnigramModel(
      pieces: Seq[(String, Long, Double)], unkLogp: Double, maxPieceLen: Int,
      cappedOut: Long = 0L,
      reserved: Seq[String] = Seq(SpecialTokens.Unk),
      byteLevel: Boolean = false,
      tokenizer: TextOps.Tok = TextOps.WhitespaceTok) {
    def logpMap: Map[String, Double] = pieces.map(t => (t._1, t._3)).toMap

    /** The model as a DataFrame: (piece, mass, logp). */
    def pieceTable(spark: SparkSession): DataFrame = {
      import spark.implicits._
      pieces.toDF("piece", "mass", "logp")
    }
  }

  /** Symbol width of a grain: hex PAIRS at byte level, code points
    * otherwise — the one number the DP, the seed, and every length
    * check scale by.
    */
  private def symWidth(byteLevel: Boolean): Int = if (byteLevel) 2 else 1

  /** A word's symbol-string representation at the grain: itself (code
    * points), or its UTF-8 bytes as contiguous uppercase hex pairs —
    * `hex(encode(...))` is identical in Spark and DuckDB (the
    * [[Bpe.initSeg]] portability trick without the spaces: the unigram
    * DP slices symbol-aligned substrings, so no separator is needed).
    */
  private def repOf(word: Column, byteLevel: Boolean): Column =
    if (byteLevel) hex(org.apache.spark.sql.functions.encode(word, "UTF-8"))
    else word

  /** Driver-side twin of [[repOf]]. */
  private def repOfLocal(word: String, byteLevel: Boolean): String =
    if (byteLevel)
      word.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .map(b => f"${b & 0xff}%02X").mkString
    else word

  /** Spark's own double rounding (BigDecimal HALF_UP over the shortest
    * decimal representation) — the [[Classifier]] discipline.
    */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Code-point length — `length()`'s unit in both Spark and DuckDB
    * (Java String.length is UTF-16 units and disagrees above U+FFFF).
    */
  private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** A piece's length in SYMBOLS at width W (hex symbols are ASCII, so
    * code points == chars there and the division is exact).
    */
  private def symLen(s: String, w: Int): Int = cpLen(s) / w

  private def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** The Viterbi DP as ONE codegen'd expression: best segmentation of
    * the symbol string `rep` under piece log-probabilities `vocab` (a
    * single map literal), returned as a space-joined seg string (the
    * [[Bpe]] seg representation, so downstream consumers are shared).
    * Positions step in SYMBOLS of width `symWidth` (1 = code points,
    * 2 = hex-pair bytes); at width 1 the expressions reduce to the
    * original code-point DP exactly.
    *
    * dp[i] (prefix of i symbols) extends dp[j−1] with the piece at
    * symbols j..i for j in [i−maxPieceLen+1, i]; single-symbol
    * candidates fall back to `unkLogp` when out of vocabulary, which
    * keeps the candidate list non-empty at every position — the DP (and
    * therefore encode) is TOTAL on any input. Ties take the
    * lexicographically greatest seg (`array_max` over struct(lp, seg)).
    * Cost is O(nSyms · maxPieceLen) per word with an O(nSyms)
    * accumulator — run it on the DISTINCT-WORD table, never the token
    * stream.
    */
  def viterbiSeg(
      rep: Column, vocab: Map[String, Double], unkLogp: Double,
      maxPieceLen: Int, symWidth: Int = 1): Column = {
    require(symWidth >= 1, s"symWidth must be >= 1, got $symWidth")
    val w = symWidth
    val vm = typedlit(vocab)
    val unk = lit(unkLogp)
    val nSym =
      if (w == 1) length(rep) else (length(rep) / w).cast("int")
    def pieceAt(j: Column, i: Column): Column =
      if (w == 1) rep.substr(j, i - j + lit(1))
      else rep.substr((j - lit(1)) * lit(w) + lit(1), (i - j + lit(1)) * lit(w))
    val dp = aggregate(
      sequence(lit(1), nSym),
      array(struct(lit(0.0).as("lp"), lit("").as("seg"))),
      (acc, i) => array_append(acc,
        array_max(filter(
          transform(
            sequence(greatest(lit(1), i - lit(maxPieceLen) + lit(1)), i),
            j => {
              val piece = pieceAt(j, i)
              struct(
                (element_at(acc, j).getField("lp") +
                  when(i === j, coalesce(element_at(vm, piece), unk))
                    .otherwise(element_at(vm, piece))).as("lp"),
                concat(element_at(acc, j).getField("seg"), lit(" "), piece)
                  .as("seg"))
            }),
          x => x.getField("lp").isNotNull))))
    // The empty word (split() keeps empties around doubled spaces) must
    // short-circuit: Spark's sequence(1, 0) DESCENDS to [1, 0] and the
    // j = 0 candidate would hit element_at(acc, 0), which always throws
    // — while the DuckDB twin's range(1, 1) is just empty. "" → "" on
    // every engine, totality preserved.
    when(length(rep) === 0, lit(""))
      .otherwise(ltrim(element_at(dp, nSym + lit(1)).getField("seg")))
  }

  /** Normalize integer masses to 6dp log-probabilities. ln here is
    * `java.lang.Math.log` — the exact function Spark's own `log()`
    * expression evaluates, so driver-side M-steps and in-engine scoring
    * agree bit-for-bit; the DuckDB oracle's `ln` may differ in the last
    * ulp, which the 6dp rounding absorbs (the repo-wide transcendental
    * discipline).
    */
  private def normalize(v: Seq[(String, Long)]): Seq[(String, Long, Double)] = {
    val total = v.map(_._2).sum.toDouble
    v.map { case (p, m) => (p, m, round6(math.log(m.toDouble / total))) }
  }

  /** Train a unigram-LM tokenizer over the corpus's tokens (the
    * `tokenizer` split — whitespace by default, GPT-2 pretokens for
    * the byte-fallback convention; both recorded on the model).
    *
    *   1. SEED: every symbol-aligned substring of every distinct word
    *      up to `maxPieceLen` symbols, occurrence-weighted by word
    *      frequency; the candidate vocabulary is the full alphabet
    *      (every length-1-symbol substring) plus the top-`seedMulti`
    *      multi-symbol substrings by (mass DESC, piece ASC).
    *   2. EM × `iters`: Viterbi-segment the word table under the
    *      current table ([[viterbiSeg]]), re-estimate piece masses from
    *      the chosen segmentations (frequency-weighted), +1-smooth the
    *      alphabet, drop multi-symbol pieces with zero mass,
    *      renormalize.
    *   3. PRUNE: keep the alphabet plus the top
    *      (`vocabSize` − alphabet) multi-symbol pieces by
    *      (mass DESC, piece ASC); renormalize once more.
    *
    * Per round: one distributed DP+aggregation job over the word table
    * and one vocabulary-bounded collect. `maxWordChars` is the same
    * scale-premise guard as [[Bpe.train]] — no-space-script text makes
    * every sentence one "word" and must be pre-segmented first. At the
    * word grain space-bearing tokens are rejected (the seg strings are
    * space-joined); the byte grain's hex symbols are space-safe, and
    * the observed grain is cross-validated against the tokenizer's
    * declared separator ([[TextOps.requireGrainConsistent]]).
    */
  def train(
      docs: DataFrame, textCol: String, vocabSize: Int, iters: Int = 3,
      maxPieceLen: Int = 5, seedMulti: Int = 300,
      maxWordChars: Int = 200,
      reserved: Seq[String] = Seq(SpecialTokens.Unk),
      byteLevel: Boolean = false,
      tokenizer: TextOps.Tok = TextOps.WhitespaceTok): UnigramModel = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    requireUnkLedBand(reserved)
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(maxPieceLen >= 1, s"maxPieceLen must be >= 1, got $maxPieceLen")
    require(seedMulti >= 0, s"seedMulti must be >= 0, got $seedMulti")
    val w = symWidth(byteLevel)
    // The word table feeds the guard, the seed and every EM round: pinned
    // for the training, released on return or on a guard's throw.
    val model = graft.Lineage.pinned(docs
        .select(explode(tokenizer.fn(col(textCol))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .withColumn("rep", repOf(col("word"), byteLevel))) { words =>
      TextOps.requireGrainConsistent(
        TextOps.guardWordTable(words, maxWordChars, forbidSpaces = !byteLevel),
        tokenizer)
      def nSymOf(rep: Column): Column =
        if (w == 1) length(rep) else (length(rep) / w).cast("int")
      // Seed masses: one explode over (position, length) in SYMBOL space —
      // occurrence-weighted substring counts, the SentencePiece
      // frequent-substring seed. Aggregation output is bounded by distinct
      // substrings of the vocabulary, not by the corpus.
      val (singles, multi) = graft.Lineage.pinned(words
        .select(col("freq"), col("rep"),
          explode(sequence(lit(1), nSymOf(col("rep")))).as("i"))
        .select(col("freq"), explode(transform(
          sequence(lit(1),
            least(lit(maxPieceLen), nSymOf(col("rep")) - col("i") + lit(1))),
          l =>
            if (w == 1) col("rep").substr(col("i"), l)
            else col("rep").substr((col("i") - lit(1)) * lit(w) + lit(1), l * lit(w))))
          .as("piece"))
        .groupBy("piece").agg(sum(col("freq")).as("mass"))) { seed =>
        // Two bounded collects: the full alphabet (distinct symbols —
        // content-bounded; at most 256 at byte grain) and the top-seedMulti
        // multi-symbol candidates (TakeOrdered, binary-UTF-8 tie-break
        // in-engine).
        (seed.filter(length(col("piece")) === w)
          .collect().map(r => (r.getString(0), r.getLong(1))),
         seed.filter(length(col("piece")) > w)
          .orderBy(desc("mass"), asc("piece")).limit(seedMulti)
          .collect().map(r => (r.getString(0), r.getLong(1))))
      }
      var model = normalize((singles ++ multi).toSeq)
      for (_ <- 1 to iters) {
        // unkLogp never fires during training (the alphabet covers every
        // corpus symbol by construction) but keeps the DP expression
        // total; computed per round for consistency with encode.
        val unk = round6(math.log(0.5 / model.map(_._2).sum.toDouble))
        val lpMap = model.map(t => (t._1, t._3)).toMap
        // E-step: one distributed Viterbi+aggregate job; the result is
        // vocabulary-bounded (only vocab pieces can appear in a seg).
        val em = words
          .select(col("freq"),
            explode(split(viterbiSeg(col("rep"), lpMap, unk, maxPieceLen, w), " "))
              .as("piece"))
          .groupBy("piece").agg(sum(col("freq")).as("em"))
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        // M-step: +1-smooth the alphabet, drop unused multi-symbol pieces.
        val next = model.flatMap { case (p, _, _) =>
          val m = em.getOrElse(p, 0L) + (if (symLen(p, w) == 1) 1L else 0L)
          if (m > 0L) Some((p, m)) else None
        }
        model = normalize(next)
      }
      model
    }
    // Prune to the target size: alphabet always kept, multi-symbol
    // budget = vocabSize − |alphabet| by (mass DESC, piece ASC).
    val (sgl, mlt) = model.partition(t => symLen(t._1, w) == 1)
    val keepMulti = mlt
      .sortWith((a, b) =>
        a._2 > b._2 || (a._2 == b._2 && utf8Compare(a._1, b._1) < 0))
      .take(math.max(0, vocabSize - sgl.size))
    val kept = normalize((sgl ++ keepMulti).map(t => (t._1, t._2)))
      .sortWith((a, b) => utf8Compare(a._1, b._1) < 0)
    val unkLogp = round6(math.log(0.5 / kept.map(_._2).sum.toDouble))
    UnigramModel(kept, unkLogp, maxPieceLen, reserved = reserved,
      byteLevel = byteLevel, tokenizer = tokenizer)
  }

  /** The Viterbi DP driver-side — [[viterbiSeg]]'s exact replica for
    * [[trainLocal]]'s in-memory EM loop: same candidate order (j
    * ascending), same raw-double accumulation (acc(j−1) + logp, no
    * rounding), same total tie-break (higher lp, then the
    * lexicographically GREATEST seg string in binary UTF-8 — the
    * `array_max` struct order), so the two trainers segment
    * byte-identically. `offs` is the symbol-boundary grid of `rep`
    * (code-point offsets, or every 2 chars at byte grain).
    */
  private def viterbiSegLocal(
      rep: String, offs: IndexedSeq[Int],
      vocab: collection.Map[String, Double], unkLogp: Double,
      maxPieceLen: Int): Seq[String] = {
    val n = offs.length - 1
    val lp = new Array[Double](n + 1)
    val seg = new Array[String](n + 1)
    lp(0) = 0.0; seg(0) = ""
    var i = 1
    while (i <= n) {
      var bestLp = Double.NaN
      var bestSeg: String = null
      var j = math.max(1, i - maxPieceLen + 1)
      while (j <= i) {
        val piece = rep.substring(offs(j - 1), offs(i))
        val plp =
          if (i == j) vocab.getOrElse(piece, unkLogp)
          else vocab.getOrElse(piece, Double.NaN)
        if (!plp.isNaN) {
          val cand = lp(j - 1) + plp
          val candSeg = seg(j - 1) + " " + piece
          val better = bestSeg == null || cand > bestLp ||
            (cand == bestLp && utf8Compare(candSeg, bestSeg) > 0)
          if (better) { bestLp = cand; bestSeg = candSeg }
        }
        j += 1
      }
      lp(i) = bestLp; seg(i) = bestSeg
      i += 1
    }
    seg(n).stripPrefix(" ").split(" ", -1).toSeq
  }

  /** The symbol-boundary offsets of a representation string: every
    * code point (width 1), or every 2 ASCII hex chars (byte grain).
    */
  private def symOffsets(rep: String, byteLevel: Boolean): IndexedSeq[Int] =
    if (byteLevel) 0.to(rep.length, 2)
    else {
      val b = new scala.collection.mutable.ArrayBuffer[Int](rep.length + 1)
      var i = 0
      b += 0
      while (i < rep.length) { i += Character.charCount(rep.codePointAt(i)); b += i }
      b.toIndexedSeq
    }

  /** Train the unigram model with the EM loop DRIVER-LOCAL — the
    * production-vocab path, [[Bpe.trainLocal]]'s (C185) shape for this
    * family. [[train]]'s one-job-per-round is the right shape per
    * round, but a production seed (10⁵–10⁶ candidate pieces) makes the
    * per-round vocab map literal a multi-MB plan constant shipped to
    * every task, every round; SentencePiece itself runs exactly this
    * loop in memory. ONE distributed aggregation builds the word table,
    * ONE TakeOrdered collects it bounded by `wordCap` (freq DESC, word
    * ASC — the C185 cap contract verbatim: a dropped tail word's
    * substring mass is Zipf-spread and invisible to the seed/EM
    * argmaxes; `cappedOut` counts what fell outside, never silent), and
    * seed + EM + prune run in memory. No tail fallback is needed at
    * all — the model IS the piece table and [[encode]] segments any
    * word at encode time.
    *
    * Spec-pinned piece-for-piece, mass-for-mass, logp-for-logp EQUAL to
    * [[train]] when `wordCap` covers the distinct-word count — at BOTH
    * grains.
    */
  def trainLocal(
      docs: DataFrame, textCol: String, vocabSize: Int, iters: Int = 3,
      maxPieceLen: Int = 5, seedMulti: Int = 300, wordCap: Int = 1 << 20,
      maxWordChars: Int = 200,
      reserved: Seq[String] = Seq(SpecialTokens.Unk),
      byteLevel: Boolean = false,
      tokenizer: TextOps.Tok = TextOps.WhitespaceTok): UnigramModel = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    requireUnkLedBand(reserved)
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(wordCap >= 1, s"wordCap must be >= 1, got $wordCap")
    val w = symWidth(byteLevel)
    val (totalWords, words) = graft.Lineage.pinned(docs
        .select(explode(tokenizer.fn(col(textCol))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))) { wf =>
      TextOps.requireGrainConsistent(
        TextOps.guardWordTable(wf, maxWordChars, forbidSpaces = !byteLevel),
        tokenizer)
      // The ONE driver-side collect: bounded by the cap, never the corpus.
      (wf.count(), wf.orderBy(desc("freq"), asc("word")).limit(wordCap)
        .collect().map(r => (repOfLocal(r.getString(0), byteLevel), r.getLong(1))))
    }
    // Seed: occurrence-weighted symbol-aligned substring masses, in
    // memory.
    val seedMass = scala.collection.mutable.HashMap.empty[String, Long]
    for ((rep, f) <- words) {
      val offs = symOffsets(rep, byteLevel)
      val n = offs.length - 1
      var i = 0
      while (i < n) {
        var l = 1
        while (l <= math.min(maxPieceLen, n - i)) {
          val p = rep.substring(offs(i), offs(i + l))
          seedMass(p) = seedMass.getOrElse(p, 0L) + f
          l += 1
        }
        i += 1
      }
    }
    val (sgl0, mlt0) = seedMass.toSeq.partition(t => symLen(t._1, w) == 1)
    val multi = mlt0
      .sortWith((a, b) =>
        a._2 > b._2 || (a._2 == b._2 && utf8Compare(a._1, b._1) < 0))
      .take(seedMulti)
    var model = normalize(sgl0 ++ multi)
    for (_ <- 1 to iters) {
      val unk = round6(math.log(0.5 / model.map(_._2).sum.toDouble))
      val lpMap = model.map(t => (t._1, t._3)).toMap
      val em = scala.collection.mutable.HashMap.empty[String, Long]
      for ((rep, f) <- words;
           p <- viterbiSegLocal(rep, symOffsets(rep, byteLevel), lpMap, unk,
             maxPieceLen))
        em(p) = em.getOrElse(p, 0L) + f
      val next = model.flatMap { case (p, _, _) =>
        val m = em.getOrElse(p, 0L) + (if (symLen(p, w) == 1) 1L else 0L)
        if (m > 0L) Some((p, m)) else None
      }
      model = normalize(next)
    }
    val (sgl, mlt) = model.partition(t => symLen(t._1, w) == 1)
    val keepMulti = mlt
      .sortWith((a, b) =>
        a._2 > b._2 || (a._2 == b._2 && utf8Compare(a._1, b._1) < 0))
      .take(math.max(0, vocabSize - sgl.size))
    val kept = normalize((sgl ++ keepMulti).map(t => (t._1, t._2)))
      .sortWith((a, b) => utf8Compare(a._1, b._1) < 0)
    val unkLogp = round6(math.log(0.5 / kept.map(_._2).sum.toDouble))
    UnigramModel(kept, unkLogp, maxPieceLen,
      cappedOut = math.max(0L, totalWords - words.length),
      reserved = reserved, byteLevel = byteLevel, tokenizer = tokenizer)
  }

  /** Tokenizer-quality (fertility) report per group under a trained
    * unigram model — [[Bpe.fertility]]'s exact surface (n_words,
    * n_pieces, fertility, chars_per_piece per `groupCol`), so the two
    * tokenizer families compare on the same QC gauge. Same scale
    * shape: the piece count rides the segmentation length (size of the
    * seg split — never a piece explode), attached to the token stream
    * by the same broadcast join as [[encode]]. Tokenizer and grain
    * come from the model.
    */
  def fertility(
      docs: DataFrame, textCol: String, groupCol: String,
      model: UnigramModel): DataFrame = {
    val segs = segTable(docs, textCol, model)
    docs
      .select(col(groupCol), explode(model.tokenizer.fn(col(textCol))).as("word"))
      .join(broadcast(segs), Seq("word"))
      .select(col(groupCol), length(col("word")).cast("long").as("__chars"),
        size(split(col("seg"), " ")).cast("long").as("__pieces"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_words"), sum(col("__pieces")).as("n_pieces"),
        round(sum(col("__pieces")) / count(lit(1)).cast("double"), 6).as("fertility"),
        round(sum(col("__chars")) / sum(col("__pieces")).cast("double"), 6)
          .as("chars_per_piece"))
  }

  private def requireUnkLedBand(reserved: Seq[String]): Unit =
    require(reserved.headOption.contains(SpecialTokens.Unk),
      s"the reserved band must lead with ${SpecialTokens.Unk} (OOV pieces " +
        s"take its id — this family always needs the unk slot), got $reserved")

  /** The piece→id vocabulary of a trained model — the SentencePiece id
    * convention: the model's RECORDED band first (`UnigramModel.
    * reserved`, fixed at train time — the default is just `<unk>` at
    * id 0; train with [[SpecialTokens.Band]] for the full shared
    * UNK/BOS/EOS/PAD layout), then pieces take ids in score order
    * (mass DESC, piece ASC in binary UTF-8 — the same total order the
    * prune uses). Collision between a reserved label and a learned
    * piece is rejected loud ([[SpecialTokens]]). Driver-side (the
    * model is already driver-resident and vocabulary-bounded).
    */
  def pieceVocab(model: UnigramModel): Seq[(Long, String)] = {
    val reserved = model.reserved
    requireUnkLedBand(reserved)
    SpecialTokens.requireNoCollision(reserved, model.pieces.map(_._1))
    val band = reserved.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    band ++ model.pieces
      .sortWith((a, b) =>
        a._2 > b._2 || (a._2 == b._2 && utf8Compare(a._1, b._1) < 0))
      .zipWithIndex.map { case ((p, _, _), i) => ((i + reserved.size).toLong, p) }
  }

  /** [[encode]] emitting dense SentencePiece-style ids:
    * (idCol, word_pos, piece_pos, piece_id). Out-of-vocabulary pieces
    * (unknown symbols the DP emitted via `unkLogp`) take the UNK
    * id — the single-unk convention (vs [[Vocab.encode]]'s hash
    * buckets) — so the stream is total on any input; at the byte grain
    * trained on its own corpus no symbol is ever unknown (the
    * byte-fallback argument). The band is the MODEL's (piece ids
    * offset by its size; UNK stays id 0 because the band leads with
    * it). One broadcast join against the vocabulary-sized id table;
    * the stream never shuffles.
    */
  def encodeIds(
      docs: DataFrame, idCol: String, textCol: String,
      model: UnigramModel): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val vocab = pieceVocab(model).toDF("piece_id", "piece")
      .filter(col("piece_id") >= model.reserved.size.toLong)
    encode(docs, idCol, textCol, model)
      .join(broadcast(vocab), Seq("piece"), "left")
      .select(col(idCol), col("word_pos"), col("piece_pos"),
        coalesce(col("piece_id"), lit(SpecialTokens.UnkId)).as("piece_id"))
  }

  /** Decode a piece-ID stream back to text — [[encodeIds]]'s inverse
    * and the family's serving-inspection surface, [[Bpe.decode]]'s
    * contract verbatim: reserved control ids (the band, INCLUDING any
    * UNKs — an unk id erased its piece identity at encode time, the
    * stated lossy edge of the single-unk convention) drop before
    * reassembly; pieces concatenate per word in piece order (byte
    * grain: hex pairs unhex back to UTF-8, astral planes included);
    * words join with the MODEL's tokenizer separator. Output is
    * anchored to the DISTINCT doc ids of the input — a doc whose
    * stream is only control ids decodes to '' rather than vanishing.
    * Exact inverse whenever no piece mapped to UNK — always true at
    * the byte grain over its training corpus (spec- and oracle-pinned).
    *
    * Scale shape: one broadcast vocab join, two document-keyed
    * aggregations whose sort keys are in-group positions, one
    * doc-keyed left join re-anchoring the ids; linear in the stream.
    */
  def decode(ids: DataFrame, idCol: String, model: UnigramModel): DataFrame = {
    val spark = ids.sparkSession
    import spark.implicits._
    val vocab = pieceVocab(model).toDF("piece_id", "piece")
      .filter(col("piece_id") >= model.reserved.size.toLong)
    val joined = ids
      .filter(col("piece_id") >= lit(model.reserved.size.toLong))
      .join(broadcast(vocab), Seq("piece_id"))
    val words = joined
      .groupBy(col(idCol), col("word_pos"))
      .agg(concat_ws("", sort_array(collect_list(struct(col("piece_pos"),
        col("piece")))).getField("piece")).as("__w"))
      .withColumn("word",
        if (model.byteLevel)
          org.apache.spark.sql.functions.decode(unhex(col("__w")), "UTF-8")
        else col("__w"))
    val texts = words
      .groupBy(col(idCol))
      .agg(concat_ws(model.tokenizer.wordSeparator,
        sort_array(collect_list(struct(col("word_pos"), col("word"))))
          .getField("word")).as("text"))
    ids.select(col(idCol)).distinct()
      .join(texts, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("text"), lit("")).as("text"))
  }

  /** The per-distinct-word segmentation table of the target docs under
    * the model — tokenizer, grain, and DP parameters all resolved from
    * the model; the broadcast side of every encode/fertility join.
    */
  private def segTable(
      docs: DataFrame, textCol: String, model: UnigramModel): DataFrame =
    docs
      .select(explode(model.tokenizer.fn(col(textCol))).as("word")).distinct()
      .withColumn("seg",
        viterbiSeg(repOf(col("word"), model.byteLevel), model.logpMap,
          model.unkLogp, model.maxPieceLen, symWidth(model.byteLevel)))

  /** Encode every document's token stream into unigram pieces:
    * (idCol, word_pos, piece_pos, piece) — the [[Bpe.encode]] surface,
    * so packing/fertility consumers are shared; at the byte grain
    * pieces are hex-pair byte strings (the [[Bpe]] convention). The
    * Viterbi DP runs once per DISTINCT word of the target docs
    * (vocabulary-bounded) and attaches to the token stream as a
    * broadcast join; the stream never shuffles. Total on any input:
    * unknown symbols come back as single-symbol pieces via `unkLogp`.
    */
  def encode(
      docs: DataFrame, idCol: String, textCol: String,
      model: UnigramModel): DataFrame = {
    val segs = segTable(docs, textCol, model)
    docs
      .select(col(idCol),
        posexplode(model.tokenizer.fn(col(textCol))).as(Seq("word_pos", "word")))
      .join(broadcast(segs), Seq("word"))
      .select(col(idCol), col("word_pos").cast("long").as("word_pos"),
        posexplode(split(col("seg"), " ")).as(Seq("piece_pos", "piece")))
      .select(col(idCol), col("word_pos"),
        col("piece_pos").cast("long").as("piece_pos"), col("piece"))
  }
}
