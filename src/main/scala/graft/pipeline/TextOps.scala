package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column-level building blocks for the training-data-pipeline operators
  * (dedup, similarity, text analysis). Everything here is a Catalyst
  * expression tree over `org.apache.spark.sql.functions` — codegen'd,
  * no UDFs — so filters/projections around these ops still push down and
  * the whole pipeline stays inside whole-stage codegen.
  *
  * Portability contract: each primitive has an exact ANSI-SQL twin runnable
  * by DuckDB (used by the oracle suite), so correctness is hash-verified
  * end-to-end, not just rows-counted.
  */
object TextOps {

  /** Whitespace tokens (the corpus is single-space separated).
    *
    * Contract: this premise holds only for scripts that WRITE word
    * boundaries. Han/Kana/Thai text has no spaces — a whole sentence
    * becomes one "word", which silently degenerates every downstream
    * family built on word tables (vocabulary, BPE, fertility, the LMs)
    * and collapses the BPE trainer's bounded-word-table scale argument.
    * Route such text through [[segmentNoSpaceScripts]] FIRST (identity
    * on spaced scripts, so pipelines can apply it unconditionally);
    * [[graft.pipeline.Bpe.train]] additionally fail-fasts on word
    * lengths only unsegmented no-space-script text produces.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** A NAMED tokenizer — the identity that travels with every trained
    * model: the split function, the decode word separator its token
    * convention implies (" " for whitespace tokens; "" for GPT-2-style
    * pretokens that CARRY their own spaces), and a stable name so
    * [[ModelStore]] can persist which tokenizer trained a model and
    * reconstruct it at load. Tokenizer identity is MODEL metadata, not
    * a caller convention: encode/decode resolve it from the model, so
    * a serving session can never split text differently from the
    * session that trained (the silently-corrupted-stream hazard).
    */
  final case class Tok(name: String, fn: Column => Column, wordSeparator: String)

  /** The default whitespace tokenizer ([[tokens]]). */
  val WhitespaceTok: Tok = Tok("whitespace", tokens, " ")

  /** The GPT-2 pre-tokenizer ([[gpt2PreTokenize]]) — pretokens carry
    * their leading space, so decode joins with "".
    */
  val Gpt2Tok: Tok = Tok("gpt2", gpt2PreTokenize, "")

  /** Resolve a persisted tokenizer name back to its [[Tok]] — the
    * [[ModelStore]] load path. Unknown names fail loud: a persisted
    * model can only be served by a tokenizer the library can
    * reconstruct; a custom [[Tok]] needs its own registry before its
    * models can round-trip through disk.
    */
  def tokByName(name: String): Tok = name match {
    case "whitespace" => WhitespaceTok
    case "gpt2" => Gpt2Tok
    case other => throw new IllegalArgumentException(
      s"unknown tokenizer '$other': persisted models record their tokenizer " +
        "by name and can only be reloaded when the library can reconstruct " +
        "it (known: whitespace, gpt2).")
  }

  /** The GPT-2 pre-tokenization pattern, LOOKAHEAD-FREE. The canonical
    * pattern ends `…|\s+(?!\S)|\s+` — "a whitespace run keeps its last
    * space attached to the following token" — but RE2 (the oracle
    * engine's regex) has no lookahead. The rewrite: [[gpt2PreTokenize]]
    * first INSERTS a sentinel (U+001F, stripped from input beforehand)
    * IMMEDIATELY BEFORE every whitespace char that a non-space follows
    * (`(\s)(\S)` → `\u001F$1$2` — the sentinel lands before the run's
    * LAST whitespace char, cutting the run there so that final char
    * stays attached to the following token), then extracts with this
    * pattern, in which every branch excludes the sentinel — a pure
    * split point, and the token stream is exactly the lookahead
    * pattern's (spec-pinned against `\s+(?!\S)` on java.util.regex,
    * which does support it). The contraction branches and the
    * ` ?\p{L}+`-style leading-space convention are the canonical
    * pattern's, verbatim. One stated engine divergence: Java's `\s`
    * includes vertical tab (U+000B), RE2's does not — a corpus carrying
    * raw VT tokenizes it as whitespace in Spark and as punctuation in
    * the DuckDB twin (no other char differs; the fixtures carry none).
    */
  private[pipeline] val Gpt2Pattern =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}\\x1F]+|\\s+"

  /** GPT-2 pre-tokenization: the text as an ARRAY of pretokens — words
    * carrying their leading space (" the"), split contractions ("'s"),
    * digit runs, punctuation runs, and whitespace runs that yield their
    * final space to the next token. This is the split GPT-2/RoBERTa/
    * CLIP-family tokenizers apply BEFORE byte-level BPE (feed these to
    * [[Bpe.train]] via its `tokenizer` hook with `byteLevel = true`;
    * space-bearing pretokens are what the Ġ-prefixed merges come from).
    * Map-only: two codegen'd regexp passes + one extract-all; exact RE2
    * twin (the sentinel rewrite above).
    *
    * Totality: tokens concatenate back to the input, EXCEPT that any
    * pre-existing U+001F (the sentinel — a C0 control char no real
    * corpus text carries) is substituted with U+FFFD REPLACEMENT
    * CHARACTER rather than silently deleted: a round-trip over a
    * sentinel-bearing row then FAILS VISIBLY (the replacement char
    * survives into the token stream, the learned pieces, and the
    * decode), instead of the byte quietly vanishing while the
    * concatenation law appears to hold. Rows carrying U+001F should be
    * quarantined upstream; the substitution is the loud in-band marker
    * for the ones that were not.
    */
  def gpt2PreTokenize(text: Column): Column =
    regexp_extract_all(
      regexp_replace(
        regexp_replace(text, "\\x1F", "\uFFFD"),
        "(\\s)(\\S)", "\u001F$1$2"),
      lit(Gpt2Pattern), lit(0))

  /** The character class of scripts written WITHOUT inter-word spaces
    * (Han, Hiragana, Katakana, Thai) — the rows [[tokens]]'s whitespace
    * premise silently degenerates on. Java regex script names carry the
    * `Is` prefix; the oracle twin is RE2's bare `\p{Han}…` (same
    * Unicode script property, same coverage — the t37 precedent).
    */
  private val NoSpaceScriptClass =
    "\\p{IsHan}\\p{IsHiragana}\\p{IsKatakana}\\p{IsThai}"

  /** How many no-space-script characters the text carries — the routing
    * signal ("does this row need [[segmentNoSpaceScripts]]?") and the
    * audit metric beside it.
    */
  def noSpaceScriptCount(text: Column): Column =
    regexp_count(text, lit(s"[$NoSpaceScriptClass]")).cast("long")

  /** Script-aware pre-segmentation for no-space scripts: isolate every
    * maximal Han/Kana/Thai run with surrounding spaces, then split runs
    * into ≤ `runCap`-codepoint chunks (default 1 = per-character — the
    * mBERT/char-LM convention, and the grain the verdictless "one
    * sentence, one word" failure needs). Spaced-script text passes
    * through IDENTICALLY (no no-space chars ⇒ both rewrites no-op and
    * the collapse/trim leave single-spaced text unchanged), so a
    * pipeline applies this unconditionally — application IS the
    * routing. Idempotent at any runCap (already-chunked runs re-chunk
    * to themselves).
    *
    * Grain trade, stated honestly: runCap=1 makes every CJK char its
    * own word — vocabulary/LM families work at char grain (standard for
    * CJK), but BPE learns no intra-word merges there (a 1-symbol word
    * has no pairs). runCap ≥ 2 keeps the word table bounded
    * (≤ runCap-char chunks, content-bounded like any vocabulary) while
    * giving BPE adjacent pairs to merge; chunk boundaries are arbitrary
    * every-runCap cuts, the price of not having a real CJK word
    * segmenter in-engine.
    *
    * Map-only: three codegen'd regexp passes + trim, no shuffle, exact
    * RE2 twin for the oracle.
    */
  def segmentNoSpaceScripts(text: Column, runCap: Int = 1): Column = {
    require(runCap >= 1, s"runCap must be >= 1, got $runCap")
    val runs = regexp_replace(text, s"([$NoSpaceScriptClass]+)", " $1 ")
    val chunked = regexp_replace(runs, s"([$NoSpaceScriptClass]{$runCap})", "$1 ")
    trim(regexp_replace(chunked, " +", " "))
  }

  /** The shared scale-premise guard over a freshly-built distinct-word
    * table (one aggregation, both checks), used by every word-table
    * trainer ([[Bpe.train]]/[[Bpe.trainLocal]], `Unigram.train`/
    * `trainLocal`): reject the unsegmented no-space-script corpus
    * (`maxWordChars` — whole sentences arriving as single "words"
    * collapse the bounded-word-table argument), and — when
    * `forbidSpaces` and a custom tokenizer emitted space-BEARING tokens
    * (GPT-2 pretokens) — reject representations whose space-joined seg
    * strings cannot hold them. Releasing `words` is the caller's: every
    * trainer pins it in a [[graft.Lineage.pinned]] scope, which a throw
    * exits too.
    *
    * Returns whether any token CARRIES a space — the corpus-observed
    * grain signal (GPT-2-style pretokens carry their leading space;
    * whitespace tokens never can). The trainers cross-validate it
    * against the tokenizer's DECLARED `wordSeparator` (the decode
    * separator recorded on the model): space-bearing tokens under a
    * non-empty separator would double every space on decode, so that
    * combination is rejected at train time.
    */
  private[pipeline] def guardWordTable(
      words: DataFrame, maxWordChars: Int, forbidSpaces: Boolean): Boolean = {
    val row = words.agg(
      max(length(col("word"))).as("maxLen"),
      max(col("word").contains(" ")).as("hasSpace")).head()
    val maxLen = if (row.isNullAt(0)) 0 else row.getInt(0)
    val hasSpace = !row.isNullAt(1) && row.getBoolean(1)
    if (forbidSpaces && hasSpace) {
      throw new IllegalArgumentException(
        "the tokenizer emitted space-bearing tokens (GPT-2-style pretokens): " +
          "the word-grain seg representation is space-joined and cannot hold " +
          "them — train with byteLevel = true (hex-pair symbols are space-safe).")
    }
    if (maxWordChars > 0 && maxLen > maxWordChars) {
      throw new IllegalArgumentException(
        s"longest 'word' in the corpus is $maxLen chars (> $maxWordChars): " +
          "this is the signature of no-space-script (Han/Kana/Thai) text, " +
          "where whole sentences arrive as single whitespace tokens and the " +
          "word-table scale premise collapses. Pre-segment the text with " +
          "TextOps.segmentNoSpaceScripts, or pass maxWordChars = 0 to force.")
    }
    hasSpace
  }

  /** Cross-validate the corpus-observed grain signal ([[guardWordTable]]'s
    * hasSpace — did any token CARRY a space?) against the tokenizer a
    * model will record: space-bearing tokens under a tokenizer that
    * declares a non-empty decode separator would re-join text with
    * separators the tokens already carry — every round trip silently
    * gains spaces. Loud at train time instead (a custom [[Tok]] can
    * misdeclare; the built-ins cannot — whitespace tokens never carry
    * spaces, GPT-2 declares ""). Shared by both tokenizer families.
    */
  private[pipeline] def requireGrainConsistent(
      hasSpace: Boolean, tokenizer: Tok): Unit =
    require(!hasSpace || tokenizer.wordSeparator.isEmpty,
      s"tokenizer '${tokenizer.name}' declares decode word separator " +
        s"'${tokenizer.wordSeparator}' but emitted space-BEARING tokens: " +
        "decode would re-join with a separator the tokens already carry, " +
        "corrupting every round trip. Space-bearing pretokens need a " +
        "separator-free tokenizer (the GPT-2 convention).")

  /** Token COUNT without materializing the token array — the native
    * [[graft.functions.TokenCount]] expression (spaces + 1, exactly
    * `size(tokens(text))`; parity spec-pinned). Requires the session to
    * register [[graft.functions.GraftExtensions]], the engine's standard
    * session contract (same dependency as the e-queries' dot product).
    */
  def tokenCount(text: Column): Column =
    call_function(graft.functions.GraftFunctions.TokenCountName, text)

  /** Deterministic 60-bit hash usable identically from Spark and DuckDB:
    * 15 hex chars of md5("<seed>:<value>") parsed base-16. 60 bits keeps
    * the value positive in a signed 64-bit long in both engines. Each
    * digest yields TWO independent 60-bit hashes (chars 1-15 and 17-31) —
    * `part` selects which — so k hash functions cost k/2 md5 evaluations
    * (md5 dominates the MinHash signature build).
    *
    * DuckDB twin:
    * `('0x' || substr(md5(<seed> || ':' || v), 1 + part*16, 15))::BIGINT`.
    */
  def portableHash(v: Column, seed: Int, part: Int = 0): Column = {
    require(part == 0 || part == 1, s"part must be 0 or 1, got $part")
    conv(substring(md5(concat_ws(":", lit(seed.toString), v)), 1 + part * 16, 15), 16, 10).cast("long")
  }

  /** Distinct word n-gram shingles of a token array.
    *
    * DuckDB twin:
    * `list_distinct(list_transform(range(1, len(w) - (n-2)), i -> w[i] || ' ' || ... || w[i+n-1]))`
    * (Spark `sequence` would generate a DESCENDING range when the doc is
    * shorter than n, hence the explicit size guard.)
    */
  def shingles(words: Column, n: Int): Column =
    array_distinct(allShingles(words, n))

  /** Every word n-gram occurrence of a token array, in position order —
    * the multiset [[shingles]] distincts. Repetition analysis needs the
    * occurrence counts, so this variant keeps duplicates.
    *
    * DuckDB twin: `list_transform(range(1, len(w) - (n-2)), i -> w[i] ||
    * ' ' || ... || w[i+n-1])` guarded by `len(w) >= n`.
    */
  def allShingles(words: Column, n: Int): Column = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    val idx = sequence(lit(1), size(words) - (n - 1))
    val gram = transform(idx, i => concat_ws(" ", (0 until n).map(o => element_at(words, i + lit(o))): _*))
    when(size(words) >= n, gram).otherwise(array().cast("array<string>"))
  }

  /** Normalized-text fingerprint: md5 over lowercased, whitespace-collapsed
    * text. Stable across reformatting; the cheap exact-dup key.
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  /** Sentence segmentation: split after terminal punctuation
    * (`[.!?]` + whitespace). Deliberately lookbehind-free — the sentinel
    * rewrite `([.!?])\s+` → `$1\u0001` then split keeps the rule inside
    * RE2's subset, so the DuckDB oracle applies the IDENTICAL regex (RE2
    * has no lookbehind; a `(?<=[.!?])\s+` rule could never be
    * cross-checked). Terminal punctuation stays attached to its
    * sentence; abbreviation handling ("Dr.") is a model problem, not a
    * segmentation-rule problem — out of scope by design.
    */
  def sentences(text: Column): Column =
    split(regexp_replace(text, "([.!?])\\s+", "$1\u0001"), "\u0001")

  /** Intra-document repeated-sentence removal — the self-repetition
    * cleanup (CCNet/RefinedWeb-style) that complements the CROSS-doc
    * dedup family: chat transcripts, scraped boilerplate, and generation
    * loops repeat whole sentences inside ONE document, which no
    * doc-level or cross-doc block dedup touches. Keeps the FIRST
    * occurrence of each distinct sentence (segmentation per
    * [[sentences]]), preserving order, and reports the drop count.
    *
    * Rejoin normalizes inter-sentence whitespace to a single space (the
    * split consumed it) — the same canonicalization the chunkers apply.
    *
    * Scale shape: map-only — one projection, no shuffle, no explode; the
    * first-occurrence fold is an `aggregate` HOF over the per-doc
    * sentence array (quadratic in SENTENCES PER DOC, which is bounded
    * and tiny — never in corpus size).
    *
    * @return (id, text_clean, n_dropped).
    */
  def dropRepeatedSentences(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sents = sentences(col(textCol))
    val kept = aggregate(sents, array().cast("array<string>"),
      (acc, x) => when(array_contains(acc, x), acc).otherwise(concat(acc, array(x))))
    docs.select(
      col(idCol),
      array_join(kept, " ").as("text_clean"),
      (size(sents) - size(kept)).cast("long").as("n_dropped"))
  }

  /** PII patterns redacted by [[redactPii]], applied in order. Both
    * patterns evaluate identically under Java regex (Spark) and RE2
    * (DuckDB) — plain character classes and bounded quantifiers only, no
    * backrefs/lookaround — so the redaction has an exact oracle twin.
    * Email first: an address contains digit runs an IP-ish rule could
    * otherwise chew on.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>")

  /** Scrub PII spans (emails, IPv4 addresses) to placeholder tokens —
    * map-only, codegen'd, the standard pre-training scrub pass. Redaction
    * must run BEFORE dedup/packing: two docs differing only in the PII
    * span become identical after scrubbing, which is exactly when you
    * want the dedup to collapse them.
    *
    * DuckDB twin: `regexp_replace(regexp_replace(text, email, '<EMAIL>',
    * 'g'), ip, '<IP>', 'g')` (Spark's regexp_replace is global by
    * default; DuckDB needs the 'g' flag).
    */
  def redactPii(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, repl)) => regexp_replace(c, pat, repl) }

  /** How many PII spans [[redactPii]] would scrub — the audit metric a
    * curation report wants next to the scrubbed text.
    */
  def piiCount(text: Column): Column =
    PiiPatterns.map { case (pat, _) => regexp_count(text, lit(pat)) }
      .reduce(_ + _).cast("long")

  /** Entity decodes applied by [[stripMarkup]] IN ORDER — `&amp;` last,
    * so `&amp;lt;` decodes to the literal `&lt;` and not to `<` (the
    * standard one-pass rule). Plain literals, identical under Java regex
    * and RE2.
    */
  val MarkupEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** Strip HTML/XML-ish markup from crawled text: drop tags, decode the
    * five core entities, collapse whitespace — the normalization pass
    * between raw crawl HTML and every downstream text operator (dedup
    * keys, quality stats, tokenization all change meaning if half the
    * corpus still carries `<div>` chrome). Map-only regex chain; a real
    * boilerplate-DOM extractor (trafilatura-class) slots in upstream,
    * this is the cheap always-on floor.
    */
  def stripMarkup(text: Column): Column = {
    val untagged = regexp_replace(text, "<[^>]*>", " ")
    val decoded = MarkupEntities.foldLeft(untagged) {
      case (c, (ent, repl)) => regexp_replace(c, ent, repl)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** How many tags [[stripMarkup]] removes — the markup-density signal
    * (a doc that is mostly tags is navigation chrome, not content).
    */
  def tagCount(text: Column): Column =
    regexp_count(text, lit("<[^>]*>")).cast("long")

  /** Zero-width and format characters with no visual content — the
    * classic crawl-text pollution (SEO stuffing, copy-paste BOMs,
    * soft-hyphen line-break residue, bidi marks) and a token-count
    * inflater: every one of these splits or pads BPE tokens while being
    * invisible to a reader. `\x{…}` codepoint syntax evaluates
    * identically under Java regex and RE2 (the [[PiiPatterns]]
    * portability discipline), so the oracle twin is exact.
    */
  private val InvisibleRemoveRe =
    "[\\x{200B}\\x{200C}\\x{200D}\\x{2060}\\x{FEFF}\\x{00AD}\\x{200E}\\x{200F}]"

  /** Space lookalikes that should normalize to a plain space rather than
    * vanish (NBSP, figure space, narrow NBSP) — removing them would glue
    * words together.
    */
  private val SpaceLikeRe = "[\\x{00A0}\\x{2007}\\x{202F}]"

  /** Scrub invisible format characters: zero-width/bidi/soft-hyphen
    * REMOVED, NBSP-family normalized to plain spaces. Map-only codegen'd
    * regex chain; [[invisibleCount]] is the density signal for gating
    * (a doc where invisibles rival visible characters is adversarial,
    * not prose).
    */
  def stripInvisible(text: Column): Column =
    regexp_replace(regexp_replace(text, InvisibleRemoveRe, ""), SpaceLikeRe, " ")

  /** How many characters [[stripInvisible]] touches (removed +
    * normalized).
    */
  def invisibleCount(text: Column): Column =
    (regexp_count(text, lit(InvisibleRemoveRe)) +
      regexp_count(text, lit(SpaceLikeRe))).cast("long")

  private val SchemeHostRe = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/]*"

  /** Canonicalize a URL for crawl bookkeeping and URL-level dedup:
    * drop the fragment, drop the query string, lowercase the
    * scheme+authority (path case is significant per RFC 3986 and is kept),
    * and strip one trailing slash. Map-only, codegen'd regex chain; every
    * pattern is plain-character-class only, so it evaluates identically
    * under Java regex and RE2 — exact oracle twin, like [[PiiPatterns]].
    */
  def normalizeUrl(url: Column): Column = {
    val stripped = regexp_replace(regexp_replace(url, "#.*$", ""), "\\?.*$", "")
    val head = regexp_extract(stripped, s"($SchemeHostRe)", 1)
    val tail = regexp_replace(stripped, SchemeHostRe, "")
    regexp_replace(concat(lower(head), tail), "/$", "")
  }

  /** Lowercased host (authority without port/userinfo is not modeled —
    * the synthetic corpus carries bare hosts) of a URL.
    */
  def urlHost(url: Column): Column =
    lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]*)", 1))

  /** Registered domain as the last two dot-labels of a host — the
    * per-site key crawl pipelines cap and blocklist on. A production
    * system substitutes a public-suffix-list lookup (broadcast map) for
    * the two-label heuristic; the aggregation shape downstream is
    * unchanged.
    */
  def registeredDomain(host: Column): Column =
    regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
}
