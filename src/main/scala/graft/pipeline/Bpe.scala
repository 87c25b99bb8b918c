package graft.pipeline

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer training + subword encoding — the real
  * tokenizer step (vs [[Vocab]]'s whole-word ids): learn the top-k most
  * frequent adjacent symbol merges over the corpus, then segment every
  * word into the learned subword pieces. This is the algorithm behind
  * GPT/LLaMA-family tokenizers (Sennrich et al. 2016), expressed
  * Spark-first.
  *
  * The load-bearing scale decision: BPE trains on the DISTINCT-WORD
  * frequency table, never the token stream — pair counts are weighted
  * by word frequency, so a 100 TB corpus collapses to its vocabulary
  * (bounded by content, not size) before any per-round work happens.
  * Each round is one map-side pair explode + one aggregation over the
  * word table + a 1-row argmax collect (bounded by contract), then a
  * map-only fold applying the merge; the cut/free cycle per round is
  * the [[graft.operators.GraphRank]] lineage-cut discipline.
  *
  * Determinism is the contract (same build on any run, engine, or
  * cluster size): the argmax tie-breaks (count DESC, lhs ASC, rhs ASC),
  * and merge application is greedy-left — a left fold over the symbol
  * sequence where a just-merged piece becomes the new left context,
  * which resolves overlapping matches ("a a a" under (a,a) → "aa a")
  * identically everywhere.
  *
  * Segmentation state is a space-joined string ("t a b l e"), legal
  * because words are whitespace tokens (can never contain the
  * separator); that representation is what makes the fold expressible
  * as a codegen'd `aggregate` higher-order function here and as
  * `list_reduce` in the cross-engine oracle — no UDF on either side.
  */
object Bpe {

  /** One learned merge: `step` (1-based), `lhs`+`rhs` → `merged`,
    * `n` = frequency-weighted pair count at learn time.
    */
  final case class Merge(step: Long, lhs: String, rhs: String, merged: String, n: Long)

  /** A trained tokenizer: the ordered merge table (driver-side — k rows
    * by construction) plus the distinct-word table with its final
    * segmentation (`word`, `freq`, `seg`) as a driver-local table
    * ([[localWords]]: every distinct word, held on the driver while the
    * model lives; no cached blocks to release).
    * `cappedOut` is [[trainLocal]]'s no-silent-caps diagnostic: how many
    * distinct words fell outside the frequency cap and carry the
    * character-fallback segmentation (always 0 for [[train]]).
    * `byteLevel` records the symbol grain the model was trained at
    * (code points vs UTF-8 bytes spelled as hex pairs) — consumers that
    * rebuild initial segmentations ([[pieceVocab]]'s alphabet,
    * [[trainLocal]]'s tail fallback) must match it.
    * `tokenizer` records the NAMED tokenizer the model was trained
    * with ([[TextOps.Tok]]) — [[encode]]/[[encodeIds]]/[[fertility]]
    * and [[decode]] all resolve the split function and the word
    * separator FROM THE MODEL, so a serving session can never split or
    * rejoin text under a different convention than the training
    * session (the silently-corrupted-stream hazard); [[ModelStore]]
    * persists it by name. `reserved` records the special-token band
    * ([[SpecialTokens]]) the model's id space was laid out with —
    * likewise model metadata, not a caller argument: an encode under
    * one band and a decode under another silently shifts every id.
    */
  final case class BpeModel(merges: Seq[Merge], words: DataFrame,
      cappedOut: Long = 0L, byteLevel: Boolean = false,
      tokenizer: TextOps.Tok = TextOps.WhitespaceTok,
      reserved: Seq[String] = Nil) {
    /** The merge table as a DataFrame: (step, lhs, rhs, merged, n). */
    def mergeTable(spark: SparkSession): DataFrame = {
      import spark.implicits._
      merges.toDF("step", "lhs", "rhs", "merged", "n")
    }
  }

  /** The initial segmentation of a word at either grain: one symbol per
    * CODE POINT (Java regex "." is code-point-aware), or — byte level,
    * the GPT-2 convention that handles any script/byte sequence
    * uniformly — one symbol per UTF-8 BYTE, spelled as an uppercase hex
    * pair ("E6 95 B0" for 数). Hex spelling is the portability trick:
    * symbols stay plain ASCII strings, so the seg-string fold, the
    * merge table, and the DuckDB oracle (`hex(encode(word))`, same
    * uppercase hex in both engines) all work unchanged, and
    * `unhex(concat(pieces))` restores the exact bytes (spec-pinned
    * totality, astral planes included).
    */
  private def initSeg(word: org.apache.spark.sql.Column, byteLevel: Boolean) =
    if (byteLevel)
      trim(regexp_replace(
        hex(org.apache.spark.sql.functions.encode(word, "UTF-8")),
        "(..)", "$1 "))
    else trim(regexp_replace(word, "(.)", "$1 "))

  /** Apply ONE merge (lhs,rhs)→merged to a seg string, greedy-left:
    * fold symbols left to right; when the accumulator's last piece is
    * `lhs` and the next symbol is `rhs`, splice them into `merged`
    * (which then becomes the left context for the next step).
    */
  private[pipeline] def applyMerge(seg: org.apache.spark.sql.Column, m: Merge) = {
    val a = lit(m.lhs); val b = lit(m.rhs); val mg = lit(m.merged)
    // Spark's length() counts CODE POINTS (and Java regex "." splits the
    // initial seg per code point), so the splice width must be the lhs's
    // code-point count — Java String .length is UTF-16 units and would
    // cut one short per astral-plane char (emoji, rare CJK).
    val lhsLen = m.lhs.codePointCount(0, m.lhs.length)
    aggregate(
      split(seg, " "),
      lit(null).cast("string"),
      (acc, x) => when(acc.isNull, x)
        .when(element_at(split(acc, " "), -1) === a && x === b,
          concat(acc.substr(lit(1), length(acc) - lit(lhsLen)), mg))
        .otherwise(concat(acc, lit(" "), x)))
  }

  /** Train `numMerges` BPE merges over the corpus's whitespace tokens.
    * Stops early if the word table runs out of adjacent pairs (every
    * word fully merged) — the returned table then has fewer rows, and
    * the cross-engine oracle agrees because an empty argmax contributes
    * no row there either.
    *
    * `maxWordChars` is the scale-premise guard: the bounded-word-table
    * argument above holds only while "words" are actual words. Text in
    * a no-space script (Han/Kana/Thai) arrives as one whitespace token
    * PER SENTENCE — every sentence a distinct table row — and training
    * silently degenerates. Rather than degrade, the trainer REJECTS a
    * corpus whose longest word exceeds the cap (one tiny agg over the
    * already-pinned word table), with the fix named in the message:
    * route text through [[TextOps.segmentNoSpaceScripts]] first. Pass
    * `maxWordChars = 0` to disable for corpora with legitimately
    * enormous tokens.
    */
  def train(docs: DataFrame, textCol: String, numMerges: Int,
      maxWordChars: Int = 200, byteLevel: Boolean = false,
      tokenizer: TextOps.Tok = TextOps.WhitespaceTok,
      reserved: Seq[String] = Nil): BpeModel = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    // One round: the most frequent adjacent pair over `words` and the
    // table with it merged — a Lineage.cut, an eager TRUE lineage cut
    // (persist+count only cuts physically): without it the logical plan
    // chains one aggregate-HOF projection per round and analysis cost —
    // and eventually tree-traversal stack depth — grows with the round
    // count. None once no word has an adjacent pair left.
    def round(words: DataFrame, step: Int): Option[(Merge, DataFrame)] = {
      val syms = split(col("seg"), " ")
      val top = words
        .select(col("freq"),
          explode(arrays_zip(
            slice(syms, lit(1), size(syms) - 1).as("lhs"),
            slice(syms, lit(2), size(syms) - 1).as("rhs"))).as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("n"))
        .orderBy(desc("n"), asc("lhs"), asc("rhs"))
        .limit(1).collect() // 1 row by contract: the round's argmax
      top.headOption.map { r =>
        val m = Merge(step.toLong, r.getString(0), r.getString(1),
          r.getString(0) + r.getString(1), r.getLong(2))
        (m, graft.Lineage.cut(words.withColumn("seg", applyMerge(col("seg"), m))))
      }
    }
    def rows(words: DataFrame) =
      words.select("word", "freq", "seg").as[(String, Long, String)].collect()
    val merges = ArrayBuffer.empty[Merge]
    // The initial table is pinned for the guard and the first round only;
    // a trainer that throws (either guard) releases it on the way out.
    val first = graft.Lineage.pinned(docs
        .select(explode(tokenizer.fn(col(textCol))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .withColumn("seg", initSeg(col("word"), byteLevel))) { initial =>
      TextOps.requireGrainConsistent(
        guardWordTable(initial, maxWordChars, byteLevel), tokenizer)
      round(initial, 1).map { case (m, next) => merges += m; next }.toRight(rows(initial))
    }
    // Later rounds read the previous round's cut. The word table is
    // vocabulary-sized, so cut storage is bounded by content; each
    // superseded leaf releases its blocks eagerly.
    val table = first.fold(identity, { cut =>
      var words = cut
      var step = 2
      try {
        var more = true
        while (more && step <= numMerges) round(words, step) match {
          case Some((m, next)) =>
            merges += m
            graft.Lineage.free(words)
            words = next
            step += 1
          case None => more = false
        }
        rows(words)
      } finally graft.Lineage.free(words)
    })
    BpeModel(merges.toSeq, localWords(spark, table.toSeq), byteLevel = byteLevel,
      tokenizer = tokenizer, reserved = reserved)
  }

  /** A model's word table (word, freq, seg) as a driver-local relation —
    * the one form every trainer and [[ModelStore.loadBpe]] return. Every
    * consumer broadcasts the table, so it is driver-sized already, and a
    * local relation holds no cached blocks that a caller would have to
    * release.
    */
  private[pipeline] def localWords(
      spark: SparkSession, rows: Seq[(String, Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("word", "freq", "seg")
  }

  /** Spark's string ordering is binary over UTF-8 bytes (and so is
    * DuckDB's) — the driver-side loop must tie-break identically, NOT
    * with Java's UTF-16 `compareTo` (they disagree above U+D800).
    */
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

  /** [[applyMerge]]'s greedy-left fold, driver-side: identical overlap
    * resolution ("a a a" under (a,a) → "aa a"), so the two trainers
    * produce byte-identical segmentations.
    */
  private def applyMergeLocal(
      syms: ArrayBuffer[String], lhs: String, rhs: String,
      merged: String): ArrayBuffer[String] = {
    val out = new ArrayBuffer[String](syms.length)
    var i = 0
    while (i < syms.length) {
      val x = syms(i)
      if (out.nonEmpty && out(out.length - 1) == lhs && x == rhs)
        out(out.length - 1) = merged
      else out += x
      i += 1
    }
    out
  }

  /** Train BPE with the merge loop DRIVER-LOCAL — the production-merge-
    * count path. [[train]]'s per-round Spark job is the right shape per
    * round but the wrong shape per TRAINING RUN once k reaches
    * production counts (32k–100k merges): k sequential cluster round
    * trips, each a full shuffle of the word table, is days of wall time
    * at any realistic per-job floor. The HF/sentencepiece shape this
    * implements instead: ONE distributed aggregation builds the
    * frequency-capped word table, ONE TakeOrdered collects it (bounded
    * by `wordCap`, the same vocabulary argument [[train]] already
    * makes), and the k merges run in memory with an incremental
    * pair-count index — per-merge cost is an in-memory map update, not
    * a cluster round trip. The model's word table is the same
    * (word, freq, seg) table [[encode]]/[[fertility]] already consume,
    * as a driver-local relation: every distinct word, capped-out tail
    * included, is collected and held on the driver for the model's
    * lifetime (every consumer broadcasts that table, so it must fit
    * there anyway). `wordCap` bounds the merge learning only, not the
    * driver memory.
    *
    * THE CAP CONTRACT, stated honestly: merges are learned from the
    * top-`wordCap` words by (freq DESC, word ASC — Spark/DuckDB binary
    * UTF-8 order). A dropped word's pair mass is invisible to the
    * argmax, so a cap that cuts into non-negligible frequency mass can
    * reorder low-rank merges vs the uncapped trainer; on Zipfian
    * corpora the dropped tail is individually-rare words whose summed
    * pair mass spreads across MANY distinct pairs, which is exactly
    * why the argmax winner is insensitive to it. Size `wordCap` from
    * the corpus's token-count distribution ([[Vocab.tokenCounts]]),
    * and check `BpeModel.cappedOut` — words beyond the cap keep their
    * CHARACTER segmentation (conservative: unmerged, never wrongly
    * merged) and are counted there, never silently absorbed. With
    * `wordCap` ≥ the distinct-word count the trainer is EXACT:
    * spec-pinned merge-for-merge and seg-for-seg equal to [[train]].
    *
    * Same determinism contract as [[train]]: (count DESC, lhs ASC,
    * rhs ASC) argmax tie-breaks in binary-UTF-8 order, greedy-left
    * merge application, early exhaustion when no pair remains.
    */
  /** [[TextOps.guardWordTable]] at this trainer's grain: the WORD grain
    * additionally forbids space-bearing tokens (its seg strings are
    * space-joined); the byte grain's hex-pair symbols are space-safe.
    */
  private def guardWordTable(
      words: DataFrame, maxWordChars: Int, byteLevel: Boolean): Boolean =
    TextOps.guardWordTable(words, maxWordChars, forbidSpaces = !byteLevel)


  def trainLocal(
      docs: DataFrame, textCol: String, numMerges: Int,
      wordCap: Int = 1 << 20, maxWordChars: Int = 200,
      byteLevel: Boolean = false,
      tokenizer: TextOps.Tok = TextOps.WhitespaceTok,
      reserved: Seq[String] = Nil): BpeModel = {
    require(numMerges >= 1, s"numMerges must be >= 1, got $numMerges")
    require(wordCap >= 1, s"wordCap must be >= 1, got $wordCap")
    val spark = docs.sparkSession
    import spark.implicits._
    // The frequency table is pinned for the guard and the two collects
    // only; the merges run on the driver.
    val (capped, tail) = graft.Lineage.pinned(docs
        .select(explode(tokenizer.fn(col(textCol))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))) { wf =>
      TextOps.requireGrainConsistent(
        guardWordTable(wf, maxWordChars, byteLevel), tokenizer)
      // The merge-learning collect: TakeOrdered top-wordCap — bounded by
      // the cap, never by the corpus.
      val capped = wf.orderBy(desc("freq"), asc("word")).limit(wordCap)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      // Tail words beyond the cap keep their initial (char/byte)
      // segmentation — the conservative no-merge fallback, counted,
      // never silent.
      (capped, wf.join(capped.map(_._1).toSeq.toDF("word"), Seq("word"), "left_anti")
        .withColumn("seg", initSeg(col("word"), byteLevel))
        .select("word", "freq", "seg")
        .as[(String, Long, String)].collect())
    }
    val segs: Array[ArrayBuffer[String]] = capped.map { case (w, _) =>
      if (byteLevel) {
        val bytes = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val buf = new ArrayBuffer[String](bytes.length)
        bytes.foreach(b => buf += f"${b & 0xff}%02X")
        buf
      } else {
        val buf = new ArrayBuffer[String](w.length)
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          buf += new String(Character.toChars(cp))
          i += Character.charCount(cp)
        }
        buf
      }
    }
    // Exact pair counts + inverted pair→words index. Index entries may
    // go stale (a word evolves away from a pair); correctness comes from
    // re-diffing the touched word's actual seg, so stale hits are no-ops.
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
    val index = scala.collection.mutable.HashMap
      .empty[(String, String), scala.collection.mutable.Set[Int]]
    def bump(p: (String, String), delta: Long): Unit = {
      val nv = counts.getOrElse(p, 0L) + delta
      if (nv == 0L) counts.remove(p) else counts(p) = nv
    }
    def addWordPairs(wi: Int, sign: Long): Unit = {
      val s = segs(wi); val f = capped(wi)._2
      var j = 0
      while (j < s.length - 1) {
        val p = (s(j), s(j + 1))
        bump(p, sign * f)
        if (sign > 0) index.getOrElseUpdate(
          p, scala.collection.mutable.Set.empty[Int]) += wi
        j += 1
      }
    }
    capped.indices.foreach(addWordPairs(_, 1L))
    val merges = ArrayBuffer.empty[Merge]
    var step = 1
    while (step <= numMerges && counts.nonEmpty) {
      // Argmax with the train() tie-break; HashMap iteration order is
      // irrelevant because the comparison is total over distinct keys.
      var bestP: (String, String) = null
      var bestN = 0L
      for ((p, n) <- counts) {
        val better = bestP == null || n > bestN || (n == bestN && {
          val c = utf8Compare(p._1, bestP._1)
          c < 0 || (c == 0 && utf8Compare(p._2, bestP._2) < 0)
        })
        if (better) { bestP = p; bestN = n }
      }
      val (lhs, rhs) = bestP
      val merged = lhs + rhs
      merges += Merge(step.toLong, lhs, rhs, merged, bestN)
      val touched = index.getOrElse((lhs, rhs), scala.collection.mutable.Set.empty)
        .toArray
      index.remove((lhs, rhs))
      for (wi <- touched) {
        addWordPairs(wi, -1L)
        segs(wi) = applyMergeLocal(segs(wi), lhs, rhs, merged)
        addWordPairs(wi, 1L)
      }
      step += 1
    }
    val cappedRows = capped.zip(segs).map { case ((w, f), s) => (w, f, s.mkString(" ")) }
    // Held at the full distinct-word count for the model's lifetime.
    BpeModel(merges.toSeq, localWords(spark, (cappedRows ++ tail).toSeq),
      cappedOut = tail.length.toLong,
      byteLevel = byteLevel, tokenizer = tokenizer, reserved = reserved)
  }

  /** Encode every document's token stream into subword pieces against a
    * trained model: (idCol, word_pos, piece_pos, piece) — word_pos the
    * 0-based whitespace-token position, piece_pos the 0-based piece
    * position within the word. Exploded-row output: order-stable,
    * engine-comparable, and concatenating pieces per word restores the
    * word exactly (spec-pinned totality).
    *
    * Scale shape: posexplode is map-only; the segmentation attaches as
    * a BROADCAST join against the distinct-word table (vocabulary-sized
    * by construction — drop the hint only if the word table outgrows
    * the broadcast threshold, at which point AQE makes it an id-keyed
    * equi-join). The token stream never shuffles.
    */
  /** Tokenizer-quality (fertility) report per group: how well the
    * learned merges compress each slice of the corpus — the QC gauge a
    * tokenizer ships with (a lang whose fertility stays near its
    * character count is UNSERVED by the vocabulary; the budget went
    * elsewhere). Per `groupCol`:
    *
    *   - `n_words` — whitespace-token occurrences;
    *   - `n_pieces` — BPE pieces those occurrences segment into;
    *   - `fertility` — pieces per word (1.0 = every word one piece);
    *   - `chars_per_piece` — mean piece length in characters.
    *
    * Scale shape: the piece count per word rides the SEGMENTATION
    * (size of the seg split — never a piece explode), attached to the
    * token stream by the same broadcast join as [[encode]]; one
    * group-keyed aggregation on top.
    */
  def fertility(
      docs: DataFrame, textCol: String, groupCol: String,
      model: BpeModel): DataFrame =
    docs
      .select(col(groupCol), explode(model.tokenizer.fn(col(textCol))).as("word"))
      .join(broadcast(model.words.select(col("word"), col("seg"))), Seq("word"))
      .select(col(groupCol), length(col("word")).cast("long").as("__chars"),
        size(split(col("seg"), " ")).cast("long").as("__pieces"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_words"), sum(col("__pieces")).as("n_pieces"),
        round(sum(col("__pieces")) / count(lit(1)).cast("double"), 6).as("fertility"),
        round(sum(col("__chars")) / sum(col("__pieces")).cast("double"), 6)
          .as("chars_per_piece"))

  /** The piece→id vocabulary of a trained model — the dense-id surface
    * a training pipeline needs between subword encoding and packing
    * (string pieces don't batch; int ids do). The HF/sentencepiece id
    * convention: the initial ALPHABET (distinct code points across the
    * word table, binary-UTF-8-sorted) takes ids 0..A−1, then each
    * merge's output takes the next id in learn order; a surface
    * collision (two merges — e.g. (a,bc) and (ab,c) — or a merge
    * spelling an alphabet char) keeps its FIRST id and later ids stay
    * dense. Every piece any segmentation can produce is covered: a seg
    * symbol is either a single code point (alphabet) or a merge output
    * — including [[trainLocal]]'s char-fallback tail.
    *
    * The alphabet collect is bounded by CONTENT (distinct code points —
    * a few thousand even for CJK), the same boundedness argument as the
    * merge table itself; the result is a broadcast-sized two-column
    * frame.
    *
    * The model's RECORDED special-token band (`BpeModel.reserved`,
    * fixed at train time) takes ids `0..k−1`; pieces start at `k`.
    * Collision between a reserved label and a learned piece (possible
    * at word grain — a corpus can contain the literal "&lt;unk&gt;")
    * is REJECTED loud at build time, never silently absorbed.
    */
  def pieceVocab(model: BpeModel): DataFrame = {
    val reserved = model.reserved
    val spark = model.words.sparkSession
    import spark.implicits._
    val alpha = model.words
      .select(explode(split(initSeg(col("word"), model.byteLevel), " "))
        .as("piece"))
      .distinct().collect().map(_.getString(0))
      .sortWith(utf8Compare(_, _) < 0)
    val ordered = (alpha ++ model.merges.map(_.merged)).distinct // first id wins
    SpecialTokens.requireNoCollision(reserved, ordered)
    (reserved ++ ordered).zipWithIndex.map { case (p, i) => (i.toLong, p) }.toSeq
      .toDF("piece_id", "piece")
  }

  /** [[encode]] emitting dense piece IDS instead of strings:
    * (idCol, word_pos, piece_pos, piece_id) — the shape the packing
    * tier consumes. Same scale shape as encode plus one broadcast join
    * against the vocabulary-sized [[pieceVocab]]; the join is total by
    * the pieceVocab coverage argument, so no row is ever dropped.
    * The model's recorded band lays out the id space: pieces take ids
    * `model.reserved.size` up, leaving the control ids below free
    * ([[Packing.withEos]] validates against exactly this layout).
    */
  def encodeIds(
      docs: DataFrame, idCol: String, textCol: String,
      model: BpeModel): DataFrame =
    encode(docs, idCol, textCol, model)
      .join(broadcast(pieceVocab(model)), Seq("piece"))
      .select(col(idCol), col("word_pos"), col("piece_pos"), col("piece_id"))

  /** Decode a piece-ID stream back to text — [[encodeIds]]'s inverse
    * and the inspection surface a training pipeline needs (spot-read
    * what the model actually sees, audit a packed batch, debug a
    * detokenization mismatch). (idCol, word_pos, piece_pos, piece_id)
    * rows come back as ONE (idCol, text) row per document: pieces
    * concatenate per word in piece order (byte grain: the hex pairs
    * unhex back to UTF-8 — astral planes included), words join with
    * single spaces in word order. Total by [[pieceVocab]] coverage, and
    * exact: decode ∘ encodeIds == identity on any input whose tokens
    * the tokenizer saw (spec-pinned at both grains).
    *
    * The word separator is the MODEL's tokenizer's
    * (`BpeModel.tokenizer.wordSeparator`, fixed at train time): " "
    * for [[TextOps.WhitespaceTok]], "" for [[TextOps.Gpt2Tok]]
    * (pretokens CARRY their own spaces — the Ġ convention).
    * Deliberately NOT a caller parameter: a caller defaulting to " "
    * on a GPT-2-grain model would silently produce wrong text with no
    * detectable error.
    *
    * The band is the MODEL's (`BpeModel.reserved` — the same layout
    * every encode under this model used); reserved control ids in the
    * stream (an EOS between packed documents) are control structure,
    * not text — they are dropped before reassembly, stated here rather
    * than silently concatenated as their labels.
    *
    * Output is anchored to the DISTINCT document ids of the input, not
    * to the surviving pieces: a document whose stream is ONLY control
    * ids (an empty doc that got its EOS from
    * [[Packing.withEosForDocs]]) decodes to the EMPTY STRING rather
    * than vanishing — the doc count in equals the doc count out, the
    * same "empty docs terminate visibly" contract the EOS side keeps.
    *
    * Scale shape: one broadcast vocab join, then two document-keyed
    * aggregations (pieces→word, words→text) whose sort keys are
    * in-group positions — never a global sort — plus one doc-keyed
    * left join re-anchoring the ids; linear in the id stream.
    */
  def decode(ids: DataFrame, idCol: String, model: BpeModel): DataFrame = {
    val joined = ids
      .filter(col("piece_id") >= lit(model.reserved.size.toLong))
      .join(broadcast(pieceVocab(model)), Seq("piece_id"))
    val words = joined
      .groupBy(col(idCol), col("word_pos"))
      .agg(concat_ws("", sort_array(collect_list(struct(col("piece_pos"),
        col("piece")))).getField("piece")).as("__w"))
      .withColumn("word",
        if (model.byteLevel) decode_bytes(col("__w")) else col("__w"))
    val texts = words
      .groupBy(col(idCol))
      .agg(concat_ws(model.tokenizer.wordSeparator, sort_array(collect_list(struct(col("word_pos"),
        col("word")))).getField("word")).as("text"))
    ids.select(col(idCol)).distinct()
      .join(texts, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("text"), lit("")).as("text"))
  }

  /** Hex-pair symbols back to the exact UTF-8 string (the byte grain's
    * inverse of [[initSeg]]).
    */
  private def decode_bytes(hexConcat: org.apache.spark.sql.Column) =
    org.apache.spark.sql.functions.decode(unhex(hexConcat), "UTF-8")

  def encode(docs: DataFrame, idCol: String, textCol: String,
      model: BpeModel): DataFrame =
    docs
      .select(col(idCol),
        posexplode(model.tokenizer.fn(col(textCol))).as(Seq("word_pos", "word")))
      .join(broadcast(model.words.select(col("word"), col("seg"))), Seq("word"))
      .select(col(idCol), col("word_pos").cast("long").as("word_pos"),
        posexplode(split(col("seg"), " ")).as(Seq("piece_pos", "piece")))
      .select(col(idCol), col("word_pos"),
        col("piece_pos").cast("long").as("piece_pos"), col("piece"))
}
