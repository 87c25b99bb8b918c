package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.GraftSuite

/** Unit specs for the training-data-pipeline operators, on tiny inline
  * corpora (assertions on planted duplicates, not just row counts).
  */
class PipelineSpec extends GraftSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy dog tonight"), // near dup of 1
    (4L, "completely different text about spark and parquet files"),
    (5L, "another unrelated document mentioning joins and shuffles")
  ).toDF("doc_id", "text")

  test("exact dedup keeps the lowest id and counts copies") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .select("doc_id", "n_copies").as[(Long, Long)].collect().toMap
    assert(out.keySet === Set(1L, 3L, 4L, 5L))
    assert(out(1L) === 2L) // doc 2 collapsed into doc 1
    assert(out(4L) === 1L)
  }

  test("empty pair frame: clusters converge to empty, pruneDuplicates keeps every doc") {
    // A fully-scrubbed corpus legitimately has ZERO near-dup pairs — the
    // cluster pass must degrade to the identity, not NPE (PipelineDemo
    // regression: the span scrub emptied the pair set at sf0.001).
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(noPairs).count() === 0)
    val kept = Dedup.pruneDuplicates(docs, noPairs, "doc_id")(
      _.select("doc_id").as[Long].collect().toSet)
    assert(kept === Set(1L, 2L, 3L, 4L, 5L))
  }

  test("jaccard near-dup pairing finds the planted pair and nothing else") {
    val pairs = Dedup.withJaccardPairs(docs, "doc_id", "text", n = 3, dfCap = 50, threshold = 0.5)(
      _.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
    // 1-2 exact (J=1), 1-3 and 2-3 near (7 shared of 8 shingles).
    assert(pairs === Set((1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("minhash LSH candidates verify to a subset of exact jaccard pairs") {
    val exact = Dedup.withJaccardPairs(docs, "doc_id", "text", n = 3, dfCap = 50, threshold = 0.5)(
      _.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
    val lsh = Dedup.withMinhashLshPairs(docs, "doc_id", "text", n = 3, bands = 4, rowsPerBand = 4, threshold = 0.5)(
      _.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
    assert(lsh.subsetOf(exact))
    assert(lsh.contains((1L, 2L))) // identical docs always share every band
  }

  test("LSH recall: more bands never lose pairs, tight banding reports its true loss") {
    // 60 base docs + a near-copy of each: 60 true pairs at threshold 0.5.
    val base = (1L to 60L).map(i =>
      (i, (1 to 12).map(j => s"w${i}_$j").mkString(" ")))
    val near = base.map { case (i, t) => (i + 1000L, t + " zz") }
    val corpus = (base ++ near).toDF("doc_id", "text")
    def recallOf(bands: Int, rpb: Int): (Long, Double) = {
      val r = Dedup.lshRecall(corpus, "doc_id", "text",
        n = 3, bands = bands, rowsPerBand = rpb, threshold = 0.5).collect().head
      (r.getLong(0), r.getDouble(3))
    }
    val (n1, tight) = recallOf(2, 8)   // 2 bands of 8 rows: hard to collide
    val (n2, wide) = recallOf(8, 2)    // 8 bands of 2 rows: easy to collide
    assert(n1 === 60L && n2 === 60L)
    assert(tight >= 0.0 && wide <= 1.0)
    assert(wide >= tight, s"more bands must not lose pairs: $wide < $tight")
  }

  test("cluster resolution collapses transitive duplicate chains to the min id") {
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.8), (5L, 6L, 0.99)).toDF("doc_a", "doc_b", "jaccard")
    val c = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(c === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    val chain = (1L until 9L).map(i => (i, i + 1, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    val cc = Dedup.clusters(chain).as[(Long, Long)].collect().toMap
    assert(cc === (1L to 9L).map(_ -> 1L).toMap)
    // The convergence guard raises rather than return a mislabeled graph.
    intercept[IllegalStateException] { Dedup.clusters(chain, maxIters = 1) }
  }

  test("alternating-star clustering matches min-label on cliques, chains, self-pairs") {
    // The labels min-label propagation gave on these shapes: min id per
    // component, and a doc paired only with itself is its own cluster.
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.8), (5L, 6L, 0.99), (9L, 9L, 1.0))
      .toDF("doc_a", "doc_b", "jaccard")
    val c = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(c === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L, 9L -> 9L))
  }

  test("alternating-star converges in O(log n) rounds where min-label needs the diameter") {
    // A 200-hop path: min-label propagation needed one round per hop, while
    // star contraction halves path lengths each alternation and must land
    // inside 12 — the scale claim, pinned as a hard iteration bound.
    val chain = (1L until 201L).map(i => (i, i + 1, 1.0)).toDF("doc_a", "doc_b", "jaccard")
    val cc = Dedup.clusters(chain, maxIters = 12).as[(Long, Long)].collect().toMap
    assert(cc === (1L to 201L).map(_ -> 1L).toMap)
  }

  test("pruneDuplicates over a 64-hop chain keeps exactly the min id at the default maxIters") {
    val corpus = (1L to 65L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val chain = (1L until 65L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val kept = Dedup.pruneDuplicates(corpus, chain, "doc_id")(_.select("doc_id").as[Long].collect())
    assert(kept.toSeq === Seq(1L))
  }

  test("pruneDuplicates keeps one doc per cluster plus every unpaired doc, columns intact") {
    val corpus = Seq(
      (1L, "a", 10), (2L, "a", 20), (3L, "a", 30), // cluster {1,2,3} via chain
      (5L, "b", 50), (6L, "b", 60),                // cluster {5,6}
      (9L, "c", 90)                                 // unpaired — must survive
    ).toDF("doc_id", "lang", "n")
    val pairs = Seq((1L, 2L, 0.9), (2L, 3L, 0.8), (5L, 6L, 0.99)).toDF("doc_a", "doc_b", "jaccard")
    val (cols, kept) = Dedup.pruneDuplicates(corpus, pairs, "doc_id")(
      k => (k.columns.toSeq, k.select("doc_id").as[Long].collect().toSet))
    assert(cols === Seq("doc_id", "lang", "n")) // pass-through schema
    assert(kept === Set(1L, 5L, 9L))
    // The documented cosine composition: pair frames with vec_a/vec_b
    // endpoint columns cluster and prune through the aCol/bCol knobs.
    val vecPairs = Seq((1L, 2L, 0.97), (5L, 6L, 0.99)).toDF("vec_a", "vec_b", "sim")
    val keptVec = Dedup.pruneDuplicates(corpus, vecPairs, "doc_id", aCol = "vec_a", bCol = "vec_b")(
      _.select("doc_id").as[Long].collect().toSet)
    assert(keptVec === Set(1L, 3L, 5L, 9L))
  }

  test("incremental jaccard pairs the new batch against the corpus, never corpus x corpus") {
    // Corpus holds two near-identical docs (1, 2) — an INTERNAL corpus
    // pair that must NOT surface; new doc 10 is a near-copy of doc 1.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (3L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val newDocs = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (11L, "completely fresh content with no corpus overlap at all")
    ).toDF("doc_id", "text")
    val got = Dedup.withIncrementalJaccardPairs(newDocs, corpus, "doc_id", "text", n = 3, threshold = 0.5)(
      _.as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet)
    assert(got.contains((10L, 1L)))           // cross pair found
    assert(!got.exists(_._1 == 11L))          // fresh doc pairs with nothing
    assert(got.forall { case (n2, c) => n2 >= 10L && c <= 3L }) // strictly new × corpus
    // Agreement pin: the cross-boundary pairs equal what withJaccardPairs
    // finds on the union (restricted to new×corpus pairs).
    val viaUnion = Dedup.withJaccardPairs(corpus.unionByName(newDocs), "doc_id", "text", n = 3, threshold = 0.5)(
      _.as[(Long, Long, Double)].collect())
      .collect { case (a, b, _) if b >= 10L && a <= 3L => (b, a) }.toSet
    assert(got === viaUnion)
  }

  test("source overlap: mirror source scores containment 1.0; shingles never cross documents") {
    val docs = Seq(
      (1L, "A", "one two three four"),
      (2L, "A", "five six seven eight"),     // same source, different doc
      (3L, "M", "one two three four"),       // mirror of doc 1
      (4L, "M", "five six seven eight"),     // mirror of doc 2 — M ≡ A exactly
      (5L, "B", "totally different words here")
    ).toDF("doc_id", "source", "text")
    val out = Dedup.withSourceOverlap(docs, "doc_id", "source", "text", n = 3)(
      _.select("src_a", "src_b", "inter", "sz_a", "sz_b", "containment")
        .as[(String, String, Long, Long, Long, Double)].collect())
      .map(r => (r._1, r._2) -> r).toMap
    // Each doc has 2 trigrams; per-source distinct = 4. A≡M → inter 4,
    // containment 1.0. CRUCIALLY inter is 4, not 5+: a cross-document
    // gram like "three four five" must not exist (per-doc windows).
    assert(out(("A", "M"))._3 === 4L)
    assert(out(("A", "M"))._4 === 4L && out(("A", "M"))._5 === 4L)
    assert(out(("A", "M"))._6 === 1.0)
    assert(!out.contains(("A", "B")) && !out.contains(("B", "M"))) // zero overlap → no row
  }

  test("persisted shingle index: disk probe == in-memory incremental; append extends it; df cache self-heals") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      (3L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val delta1 = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta kappa"),
      (11L, "completely fresh content with no corpus overlap at all")
    ).toDF("doc_id", "text")
    val delta2 = Seq(
      // near-copy of delta1's doc 11 — only findable if the append landed.
      (20L, "completely fresh content with no corpus overlap at all indeed")
    ).toDF("doc_id", "text")

    val path = java.nio.file.Files.createTempDirectory("graft-shidx").resolve("i").toString
    Dedup.writeShingleIndex(corpus, "doc_id", "text", path, n = 3)

    def probe(delta: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      Dedup.withJaccardPairsAgainstIndex(spark, path, delta, "doc_id", "text", dfCap = 50, threshold = 0.5)(
        _.as[(Long, Long, Double)].collect().toSet)

    val mem = Dedup.withIncrementalJaccardPairs(delta1, corpus, "doc_id", "text", n = 3, threshold = 0.5)(
      _.as[(Long, Long, Double)].collect().toSet)
    assert(probe(delta1) === mem)

    // Accept delta1, then delta2 must pair with 11 through the index.
    Dedup.appendToShingleIndex(spark, path, delta1, "doc_id", "text")
    val p2 = probe(delta2)
    assert(p2.map(t => (t._1, t._2)) === Set((20L, 11L)))

    // The df cache is derived: deleting it must not change any result.
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/df"), true)
    assert(probe(delta2) === p2)

    // Mixed-config probes are rejected at the spec sidecar.
    fs.delete(new org.apache.hadoop.fs.Path(path, "_graft_shingle_spec.json"), false)
    intercept[IllegalArgumentException] { probe(delta2) }
  }

  test("shingle index compaction: fewer files, identical probes, crash states recover") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft-shidx-c").resolve("i").toString
    Dedup.writeShingleIndex(corpus, "doc_id", "text", path, n = 3)
    // Three appends → accreted file sets in index/ and sizes/.
    (10L to 12L).foreach { i =>
      Dedup.appendToShingleIndex(spark, path,
        Seq((i, s"alpha beta gamma delta epsilon zeta eta theta v$i")).toDF("doc_id", "text"),
        "doc_id", "text")
    }
    val probeDocs = Seq((20L, "alpha beta gamma delta epsilon zeta eta theta kappa")).toDF("doc_id", "text")
    def probe(): Set[(Long, Long, Double)] =
      Dedup.withJaccardPairsAgainstIndex(spark, path, probeDocs, "doc_id", "text", dfCap = 50, threshold = 0.5)(
        _.as[(Long, Long, Double)].collect().toSet)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def nFiles(sub: String): Int =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$path/$sub"))
        .count(f => f.isFile && !f.getPath.getName.startsWith("_"))
    val before = probe()
    val filesBefore = nFiles("index")
    // Tiny target forces "desired=1"; 4 file sets must collapse.
    val compacted = Dedup.compactShingleIndex(spark, path, targetFileBytes = 1L << 30)
    assert(compacted.toSet === Set("index", "sizes"))
    assert(nFiles("index") < filesBefore)
    assert(probe() === before)
    // Re-compacting a healthy index is a no-op.
    assert(Dedup.compactShingleIndex(spark, path, targetFileBytes = 1L << 30) === Seq.empty)

    // Crash before promote: live dir retired, staging in place → recover
    // rolls BACK and the probe still answers identically.
    val idx = new org.apache.hadoop.fs.Path(s"$path/index")
    val retired = new org.apache.hadoop.fs.Path(s"$path/index.retired")
    val staging = new org.apache.hadoop.fs.Path(s"$path/index.staging")
    assert(fs.rename(idx, retired))
    fs.mkdirs(staging)
    assert(Dedup.recoverShingleIndex(spark, path))
    assert(fs.exists(idx) && !fs.exists(retired) && !fs.exists(staging))
    assert(probe() === before)
    // Crash after promote (leftover backup): recover just drops it.
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/sizes.retired"))
    assert(Dedup.recoverShingleIndex(spark, path))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/sizes.retired")))
    assert(!Dedup.recoverShingleIndex(spark, path)) // healthy → no-op
  }

  test("interrupted append: probes fail loudly, recovery rolls the staged append forward") {
    // The ADVICE r10 window: an append that crashed between its commits
    // used to leave docs in index/ with no sizes row, and probes (which
    // inner-join sizes) silently dropped their pairs. The staged protocol
    // makes the state unambiguous: marker present ⇒ staged data complete,
    // probes refuse, recovery completes the promotion.
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (11L, "completely fresh content with no corpus overlap at all")
    ).toDF("doc_id", "text")
    val probeDocs = Seq(
      (20L, "completely fresh content with no corpus overlap at all indeed")
    ).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("graft-shidx-a")
    val path = base.resolve("i").toString
    val side = base.resolve("side").toString
    Dedup.writeShingleIndex(corpus, "doc_id", "text", path, n = 3)
    // The delta's index/sizes parquet, produced by the same writer, stands
    // in for a fully-staged append (the state after step 2's marker).
    Dedup.writeShingleIndex(delta, "doc_id", "text", side, n = 3)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (sub <- Seq("index", "sizes")) {
      val dst = new org.apache.hadoop.fs.Path(s"$path/append.staging/$sub")
      fs.mkdirs(dst)
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$side/$sub"))
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
        .foreach { f =>
          assert(fs.rename(f.getPath,
            new org.apache.hadoop.fs.Path(s"$dst/${f.getPath.getName}")))
        }
    }
    val marker = new org.apache.hadoop.fs.Path(path, "_graft_append_intent")
    fs.create(marker, true).close()

    def probe(): Set[(Long, Long, Double)] =
      Dedup.withJaccardPairsAgainstIndex(spark, path, probeDocs, "doc_id", "text",
        dfCap = 50, threshold = 0.5)(_.as[(Long, Long, Double)].collect().toSet)
    // Mid-promotion: loud failure, never a silently-pairless answer.
    intercept[IllegalArgumentException] { probe() }
    assert(Dedup.recoverShingleIndex(spark, path))
    assert(!fs.exists(marker))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/append.staging")))
    // Both index AND sizes landed: the delta doc pairs through the index.
    assert(probe().map(t => (t._1, t._2)) === Set((20L, 11L)))
    // Unmarked staging leftovers are garbage from a pre-intent crash.
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$path/append.staging/index"))
    assert(Dedup.recoverShingleIndex(spark, path))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/append.staging")))
    assert(!Dedup.recoverShingleIndex(spark, path)) // healthy → no-op
  }

  test("decontaminate drops exactly the corpus docs that hit a benchmark doc") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),    // == bench verbatim
      (2L, "totally unrelated text about nothing in particular x y"),
      (3L, "the quick brown fox jumps over the lazy dog plus trailing tokens")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 3, threshold = 0.5)
    assert(kept.columns.toSeq === Seq("doc_id", "text")) // pass-through schema
    assert(kept.select("doc_id").as[Long].collect().toSet === Set(2L))
  }

  test("decontamination flags corpus docs covering a benchmark doc's n-grams") {
    // Benchmark doc 100 == docs 1/2 verbatim; doc 3 is a superset (extra
    // trailing token), so ALL of the benchmark's 3-grams appear in it too.
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val pairs = Dedup.contaminationPairs(docs, bench, "doc_id", "text", n = 3, threshold = 0.5)
      .select("corpus_id", "bench_id", "overlap").as[(Long, Long, Double)].collect().toSet
    assert(pairs === Set((1L, 100L, 1.0), (2L, 100L, 1.0), (3L, 100L, 1.0)))

    // A benchmark doc only PARTIALLY covered scores its true fraction and
    // falls away once the threshold exceeds it.
    val half = Seq((200L, "the quick brown fox jumps xx yy zz aa bb cc dd")).toDF("doc_id", "text")
    // 12 tokens → 10 3-grams; corpus docs 1/2 share exactly 3 of them.
    val partial = Dedup.contaminationPairs(docs, half, "doc_id", "text", n = 3, threshold = 0.2)
      .select("corpus_id", "overlap").as[(Long, Double)].collect().toMap
    assert(partial.keySet === Set(1L, 2L, 3L))
    assert(partial(1L) === 0.3) // round(3/10, 6)
    assert(Dedup.contaminationPairs(docs, half, "doc_id", "text", n = 3, threshold = 0.5)
      .count() === 0L)
  }

  test("rebalance keeps per-stratum fractions, exactly the single-rate sample per stratum") {
    val d = (0L until 600L).map(i => (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "zh"))
      .toDF("doc_id", "lang")
    val kept = Sampling.rebalance(d, "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.1), seed = 7, defaultRate = 1.0)
      .select("doc_id", "lang").as[(Long, String)].collect()
    val byLang = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLang("zh") === 200) // defaultRate keeps everything
    assert(byLang("en") > 60 && byLang("en") < 140) // ~100 of 200
    assert(byLang("de") < 45) // ~20 of 200
    // Per stratum, rebalance IS sample at that stratum's rate (same seed):
    val enOnly = Sampling.sample(d.filter($"lang" === "en"), "doc_id", 0.5, seed = 7)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.collect { case (id, "en") => id }.toSet === enOnly)
  }

  test("PII redaction scrubs emails and IPs, counts spans, leaves clean text alone") {
    val d = Seq(
      (1L, "reach me at jane.doe+spam@corp-mail.example.org or 192.168.1.77 today"),
      (2L, "no pii in this perfectly ordinary sentence"),
      (3L, "two mails a@b.io c@d.net one ip 10.0.0.1")
    ).toDF("doc_id", "text")
    val out = d.select($"doc_id",
        TextOps.piiCount($"text").as("n"), TextOps.redactPii($"text").as("r"))
      .as[(Long, Long, String)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(out(1L) === ((2L, "reach me at <EMAIL> or <IP> today")))
    assert(out(2L) === ((0L, "no pii in this perfectly ordinary sentence")))
    assert(out(3L) === ((3L, "two mails <EMAIL> <EMAIL> one ip <IP>")))
  }

  test("sequence packing: atomic docs, budget-crossing boundaries, per-group resets") {
    val d = Seq(
      (1L, "en", 5L), (2L, "en", 5L), (3L, "en", 5L), (4L, "en", 12L), (5L, "en", 1L),
      (10L, "fr", 9L), (11L, "fr", 2L)
    ).toDF("doc_id", "lang", "n_tokens")
    val packs = Packing.packGreedyByCount(d, "doc_id", "n_tokens", budget = 10, groupCols = Seq("lang"))
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    // en cum-before: 0,5,10,15,27 → packs 0,0,1,1,2 (doc 4 straddles: atomic, overflows pack 1)
    assert(packs === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L,
      10L -> 0L, 11L -> 0L)) // fr restarts at 0 — groups pack independently
    // Token-count form and text form agree.
    val txt = Seq((1L, "en", "a b c"), (2L, "en", "d e")).toDF("doc_id", "lang", "text")
    val viaText = Packing.packGreedy(txt, "doc_id", "text", budget = 4, groupCols = Seq("lang"))
      .select("doc_id", "n_tokens", "pack_id").as[(Long, Long, Long)].collect().toSet
    assert(viaText === Set((1L, 3L, 0L), (2L, 2L, 0L)))
  }

  test("packGreedyByCount reads ONLY the count column — the upstream-BPE contract") {
    // BPE-like counts that deliberately DISAGREE with whitespace counts:
    // every text is the same 2 words, the count column varies.
    val d = Seq(
      (1L, "en", "hello world", 7L),
      (2L, "en", "hello world", 2L),
      (3L, "en", "hello world", 3L),
      (4L, "en", "hello world", 9L)
    ).toDF("doc_id", "lang", "text", "bpe_tokens")
    val byCount = Packing.packGreedyByCount(d, "doc_id", "bpe_tokens", budget = 8, groupCols = Seq("lang"))
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    // cum-before: 0, 7, 9, 12 → packs 0, 0, 1, 1
    assert(byCount === Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L))
    // Rewriting the text (counts unchanged) must not move any document.
    val retextedByCount = Packing.packGreedyByCount(
      d.withColumn("text", concat(lit("totally different "), $"doc_id".cast("string"))),
      "doc_id", "bpe_tokens", budget = 8, groupCols = Seq("lang"))
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(retextedByCount === byCount)
    // The whitespace entry point on the SAME frame packs differently
    // (2 tokens per doc, everything fits in pack 0) — the two entry
    // points genuinely read different counts.
    val byText = Packing.packGreedy(d, "doc_id", "text", budget = 8, groupCols = Seq("lang"))
      .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
    assert(byText === Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("winnowing: shared token runs share fingerprints; disjoint texts share none") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "PREFIX alpha beta gamma delta epsilon zeta eta theta iota kappa"), // shares the run
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowingFingerprints(d, "doc_id", "text", k = 3, window = 2)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // Winnowing guarantee: a shared run of window+k-1 tokens shares >= 1 fingerprint.
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert((fps(1L) & fps(3L)).isEmpty)
  }

  test("simhash is equal for identical docs and differs for unrelated ones") {
    val sh = Dedup.simhash(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    assert(sh(1L) === sh(2L))
    assert(sh(1L) !== sh(4L))
  }

  test("cosine top-k ranks an identical vector first") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f)), // identical to 1
      (3L, Array(0.9f, 0.1f, 0.0f)),
      (4L, Array(0.0f, 1.0f, 0.0f)),
      (5L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.cosineTopK(vecs, vecs.filter($"vec_id" === 1), "vec_id", "embedding", k = 3)
      .orderBy("rnk").select("neighbor_id", "sim").as[(Long, Double)].collect()
    assert(top.head._1 === 2L && top.head._2 === 1.0)
    assert(top(1)._1 === 3L)
  }

  test("IVF bucketing assigns probes to their nearest centroid's bucket") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), // centroids
      (10L, Array(0.99f, 0.01f)), (11L, Array(0.98f, 0.02f)),
      (20L, Array(0.01f, 0.99f)), (21L, Array(0.02f, 0.98f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(
      vecs, vecs.filter($"vec_id" < 2), vecs.filter($"vec_id" === 10), "vec_id", "embedding", k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    // probe 10 lives in centroid-0's bucket: sees 0, 11 — never the 2x bucket.
    assert(out === Set(0L, 11L))
  }

  test("IVF top-k accepts out-of-corpus probe vectors") {
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), // centroids
      (10L, Array(0.9f, 0.1f)), (20L, Array(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    // Probe id 99 does not exist in the corpus — it must still be bucketed
    // from its own vector and searched.
    val probe = Seq((99L, Array(0.95f, 0.05f))).toDF("vec_id", "embedding")
    val out = Similarity.ivfTopK(corpus, corpus.filter($"vec_id" < 2), probe, "vec_id", "embedding", k = 5)
      .select("neighbor_id").as[Long].collect().toSet
    assert(out === Set(0L, 10L)) // centroid-0's bucket only
  }

  test("IVF nProbe=2 recovers boundary neighbors that nProbe=1 misses") {
    // Probe p sits just on centroid-0's side of the Voronoi boundary; its
    // TRUE nearest neighbor sits just on centroid-1's side. Single-probe
    // search can never see it; probing the top-2 buckets must.
    val corpus = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), // centroids
      (10L, Array(0.69f, 0.72f)), // boundary vector, bucket 1
      (11L, Array(0.95f, 0.05f)) // deep in bucket 0
    ).toDF("vec_id", "embedding")
    val cents = corpus.filter($"vec_id" < 2)
    val probe = Seq((99L, Array(0.72f, 0.69f))).toDF("vec_id", "embedding") // bucket 0
    def top1(nProbe: Int): Long =
      Similarity.ivfTopK(corpus, cents, probe, "vec_id", "embedding", k = 1, nProbe = nProbe)
        .select("neighbor_id").as[Long].head()
    // Brute force (the recall oracle): 10 is the true nearest neighbor.
    val brute = Similarity.cosineTopK(corpus, probe, "vec_id", "embedding", k = 1)
      .select("neighbor_id").as[Long].head()
    assert(brute === 10L)
    assert(top1(1) === 11L) // single probe: stuck with its own bucket
    assert(top1(2) === brute) // p=2 strictly better: finds the true neighbor
  }

  test("xxhash64 hash mode: 60-bit range, independent seeds, LSH still verifies exactly") {
    // Range + seed independence of the production hash.
    val hs = docs.select(
      HashMode.Xxhash64.hash(col("text"), 0).as("h0"),
      HashMode.Xxhash64.hash(col("text"), 0, 1).as("h0b"),
      HashMode.Xxhash64.hash(col("text"), 1).as("h1"))
      .as[(Long, Long, Long)].collect()
    assert(hs.forall { case (a, b, c) => Seq(a, b, c).forall(h => h >= 0 && h < (1L << 60)) })
    assert(hs.exists { case (a, b, c) => a != b && a != c })

    // The exact-duplicate pair shares every band under ANY hash function,
    // and verification is true Jaccard — so the planted pair must survive
    // the mode switch, and all pairs remain a subset of exact Jaccard's.
    val fast = Dedup.withMinhashLshPairs(docs, "doc_id", "text", n = 3, bands = 4, rowsPerBand = 4,
      threshold = 0.5, bucketCap = 200, hashMode = HashMode.Xxhash64)(
      _.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
    val exact = Dedup.withJaccardPairs(docs, "doc_id", "text", n = 3, dfCap = 50, threshold = 0.5)(
      _.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
    assert(fast.contains((1L, 2L)))
    assert(fast.subsetOf(exact))

    // Sampling under xxhash64: deterministic, disjoint+exhaustive split.
    val base = (0L until 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val s1 = Sampling.split(base, "doc_id", w, seed = 11, HashMode.Xxhash64)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val s2 = Sampling.split(base, "doc_id", w, seed = 11, HashMode.Xxhash64)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1 === s2 && s1.size === 400)
    val train = s1.values.count(_ == "train")
    assert(train > 270 && train < 370, s"train=$train of 400")
    // Different mode ⇒ different (but valid) assignment — modes are not
    // interchangeable mid-dataset, by design.
    val md5 = Sampling.split(base, "doc_id", w, seed = 11)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(md5 !== s1)
  }

  test("jaccard hash modes agree: xxhash64 pairs and values match md5 exactly") {
    // Shingle hashing is mode-dependent but 1:1 in practice, so the pair
    // set AND the verified jaccard values must be identical across modes
    // (the d2/d7 twin contract — d7 is d2 minus the md5 digests).
    def run(hm: HashMode) =
      Dedup.withJaccardPairs(docs, "doc_id", "text", n = 3, dfCap = 50, threshold = 0.5, hashMode = hm)(
        _.select("doc_a", "doc_b", "jaccard").as[(Long, Long, Double)].collect().toSet)
    val md5 = run(HashMode.Md5Portable)
    val fast = run(HashMode.Xxhash64)
    assert(md5 === fast)
    assert(md5.nonEmpty)
  }

  // Runs a scoped pair generator twice: consuming its pairs inside the
  // scope must pin something and release it on exit, and a cut handed out
  // of the scope must be all that stays until the caller frees it. Callers
  // pass frames unique to their test — Spark's CacheManager dedupes cached
  // plans, and a pin finds a plan another test left cached already
  // persisted, so it would leave it alone instead of exercising a fresh
  // pin and release.
  private def assertScopedReleases(name: String, withX: (DataFrame => Any) => Any): Unit = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- before
    val n = withX { pairs =>
      val n = pairs.count()
      assert(added.nonEmpty, s"$name pinned nothing while its pairs were consumed")
      n
    }.asInstanceOf[Long]
    assert(n >= 1L, s"$name found no pair on its fixture")
    assert(added.isEmpty, s"$name left ${added.size} persistent RDDs after withX(_.count())")
    val cut = withX(graft.Lineage.cut).asInstanceOf[DataFrame]
    assert(cut.count() === n, name)
    graft.Lineage.free(cut)
    assert(added.isEmpty, s"$name left ${added.size} persistent RDDs after freeing its cut")
  }

  test("dedup handles release their persisted indexes (no leaked cache blocks)") {
    val own = Seq(
      (1L, "handle release corpus alpha beta gamma delta"),
      (2L, "handle release corpus alpha beta gamma delta"),
      (3L, "wholly unrelated handle-lifecycle document body")
    ).toDF("doc_id", "text")
    assertScopedReleases("jaccard", f =>
      Dedup.withJaccardPairs(own, "doc_id", "text", n = 3, dfCap = 50, threshold = 0.5)(f))
    assertScopedReleases("minhash-LSH", f =>
      Dedup.withMinhashLshPairs(own, "doc_id", "text", threshold = 0.5)(f))
  }

  test("checkpoint-leaf handles release their blocks (sourceOverlap probe loop)") {
    // sourceOverlap once returned a localCheckpoint leaf whose blocks only
    // GC freed; the scoped form must free whatever it pins eagerly.
    val own = Seq(
      (1L, "srcA", "checkpoint release corpus alpha beta gamma"),
      (2L, "srcB", "checkpoint release corpus alpha beta gamma delta"),
      (3L, "srcB", "unrelated checkpoint-lifecycle document body")
    ).toDF("doc_id", "source", "text")
    assertScopedReleases("sourceOverlap", f =>
      Dedup.withSourceOverlap(own, "doc_id", "source", "text", n = 3)(f))
  }

  test("scoped pair generators, lshRecall and semDedup release every pin") {
    val own = Seq(
      (1L, "release test corpus alpha beta gamma delta"),
      (2L, "release test corpus alpha beta gamma delta"),
      (3L, "wholly unrelated release-lifecycle document body")
    ).toDF("doc_id", "text")
    val delta = Seq((10L, "release test corpus alpha beta gamma delta zeta")).toDF("doc_id", "text")
    val idxPath = java.nio.file.Files.createTempDirectory("graft-leak-idx").resolve("i").toString
    Dedup.writeShingleIndex(own, "doc_id", "text", idxPath, n = 3)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f)), (2L, Array(2.0f, 0.0f, 1.0f)),
      (3L, Array(0.0f, 1.0f, -0.5f)), (4L, Array(0.01f, 1.0f, -0.5f))
    ).toDF("vec_id", "embedding")
    val newVecs = Seq((9L, Array(3.0f, 0.0f, 1.5f))).toDF("vec_id", "embedding")
    val cents = Seq((100L, Array(1.0f, 0.1f, 0.5f)), (101L, Array(0.1f, 1.0f, -0.5f)))
      .toDF("vec_id", "embedding")

    val scoped: Seq[(String, (DataFrame => Any) => Any)] = Seq(
      "containment" -> (f => Dedup.withContainmentPairs(own, "doc_id", "text", threshold = 0.5)(f)),
      "incremental-jaccard" -> (f =>
        Dedup.withIncrementalJaccardPairs(delta, own, "doc_id", "text", threshold = 0.5)(f)),
      "against-index" -> (f =>
        Dedup.withJaccardPairsAgainstIndex(spark, idxPath, delta, "doc_id", "text", threshold = 0.5)(f)),
      "cosine" -> (f => Similarity.withCosineNearDupPairs(vecs, cents, "vec_id", "embedding", 0.95)(f)),
      "hyperplane-LSH" -> (f =>
        Similarity.withHyperplaneLshPairs(vecs, "vec_id", "embedding", dim = 3, threshold = 0.95)(f)),
      "hyperplane-incremental" -> (f => Similarity.withHyperplaneIncrementalPairs(
        newVecs, vecs, "vec_id", "embedding", dim = 3, threshold = 0.95)(f)))

    val before = spark.sparkContext.getPersistentRDDs.keySet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- before
    scoped.foreach { case (name, withX) => assertScopedReleases(name, withX) }

    val recall = Dedup.lshRecall(own, "doc_id", "text", n = 3, bands = 4, rowsPerBand = 4,
      threshold = 0.5).collect()
    assert(recall.length === 1 && recall.head.getLong(0) >= 1L)
    assert(added.isEmpty, s"lshRecall left ${added.size} persistent RDDs")

    val kept = Similarity.semDedup(vecs, cents, "vec_id", "embedding", threshold = 0.95)(
      _.select("vec_id").as[Long].collect().toSet)
    assert(kept === Set(1L, 3L))
    assert(added.isEmpty, s"semDedup left ${added.size} persistent RDDs")
  }

  test("composed d9/d10 path releases the pair indexes but stays evaluable") {
    // The d9/d10 query shape (VERDICT r7 "what's wrong" #3): clusters /
    // pruneDuplicates inside withJaccardPairs. The caller cuts the pruned
    // frame inside both scopes, so their pins and the cluster cut are
    // released by the time the query frame is returned — and the frame
    // still evaluates afterwards.
    val own = Seq(
      (1L, "composed release corpus alpha beta gamma delta epsilon"),
      (2L, "composed release corpus alpha beta gamma delta epsilon zeta"),
      (3L, "entirely different composed-lifecycle document body here")
    ).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    var pinned = 0
    val pruned = Dedup.withJaccardPairs(own, "doc_id", "text", n = 3, dfCap = 50, threshold = 0.5) { pairs =>
      Dedup.pruneDuplicates(own, pairs, "doc_id") { kept =>
        val out = graft.Lineage.cut(kept)
        pinned = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
        out
      }
    }
    // Inside the scope: the index, filtered index, sizes and the result
    // cut; after it only the returned cut.
    assert(pinned >= 2)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).size === 1)
    // Docs 1/2 are near-dups (one survivor, min id), doc 3 untouched.
    assert(pruned.select("doc_id").as[Long].collect().toSet === Set(1L, 3L))
  }

  test("embedding near-dup pair join is bounded by bucketCap (duplicate flood)") {
    // 40 near-identical vectors — all land in centroid-0's bucket by
    // construction; a handful of ordinary vectors live in the other bucket.
    val flood = (0L until 40L).map(i => (i, Array(1.0f, i.toFloat * 1e-6f)))
    val rest = Seq((100L, Array(0.0f, 1.0f)), (101L, Array(0.01f, 0.99f)))
    val vecs = (flood ++ rest).toDF("vec_id", "embedding")
    val centroids = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")

    // Cap below the flood's occupancy: the flooded bucket is dropped whole,
    // the healthy bucket still pairs — the join stays bounded.
    val capped = Similarity.withCosineNearDupPairs(vecs, centroids, "vec_id", "embedding",
      threshold = 0.9, bucketCap = 10)(_.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet)
    assert(capped === Set((100L, 101L)))

    // Cap above occupancy: the flood pairs quadratically (40*39/2), proving
    // the cap was what bounded it.
    val uncapped = Similarity.withCosineNearDupPairs(vecs, centroids, "vec_id", "embedding",
      threshold = 0.9, bucketCap = 1000)(_.count())
    assert(uncapped === (40L * 39 / 2) + 1)
  }

  test("stratified split hits exact per-stratum proportions, deterministically") {
    val d = ((0L until 100L).map(i => (i, "en")) ++ (1000L until 1010L).map(i => (i, "de")))
      .toDF("doc_id", "lang")
    val w = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = Sampling.stratifiedSplit(d, "doc_id", "lang", w, seed = 11)
    val counts = out.groupBy("lang", "split").count()
      .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // Exact: en 80/10/10, de 8/1/1 — no stratum drifts from target.
    assert(counts === Map(
      ("en", "train") -> 80L, ("en", "val") -> 10L, ("en", "test") -> 10L,
      ("de", "train") -> 8L, ("de", "val") -> 1L, ("de", "test") -> 1L))
    // Deterministic: same seed → identical assignment; the seed matters.
    val again = Sampling.stratifiedSplit(d, "doc_id", "lang", w, seed = 11)
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(again === out.select("doc_id", "split").as[(Long, String)].collect().toSet)
    val other = Sampling.stratifiedSplit(d, "doc_id", "lang", w, seed = 12)
      .select("doc_id", "split").as[(Long, String)].collect().toSet
    assert(other !== again)
  }

  test("length distribution: hand-computed quantiles, approx path tracks exact") {
    def toks(k: Int) = (1 to k).map(i => s"w$i").mkString(" ")
    val docs = ((1 to 5).map(k => (k.toLong, "a", toks(k))) ++
      Seq((10L, "b", toks(10)), (11L, "b", toks(20)))).toDF("doc_id", "lang", "text")
    val out = TextStats.lengthDistribution(docs, "lang", "text")
      .select("lang", "n_docs", "min_tokens", "max_tokens", "avg_tokens", "p25", "p50", "p75")
      .as[(String, Long, Long, Long, Double, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    // lang a: [1,2,3,4,5] → linear-interp quartiles land on 2/3/4.
    assert(out("a") === (("a", 5L, 1L, 5L, 3.0, 2.0, 3.0, 4.0)))
    // lang b: [10,20] → interpolated 12.5/15/17.5.
    assert(out("b") === (("b", 2L, 10L, 20L, 15.0, 12.5, 15.0, 17.5)))

    // The 100 TB path: percentile_approx at this size is exact too.
    val approx = TextStats.lengthDistribution(docs, "lang", "text", exact = false)
      .select("lang", "p25", "p50", "p75").as[(String, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(math.abs(approx("a")._3 - 3.0) <= 1.0)
    assert(math.abs(approx("b")._3 - 15.0) <= 5.0)
  }

  test("tf-idf top terms: hand-computed scores, rank order, k cap") {
    val docs = Seq(
      (1L, "g1", "a a b"),
      (2L, "g1", "a c"),
      (3L, "g2", "b b b")
    ).toDF("doc_id", "source", "text")
    // N=3; df: a=2, b=2, c=1; ln(3/2)=0.405465, ln(3)=1.098612.
    val out = TextStats.tfIdfTopTerms(docs, "doc_id", "text", "source", k = 2)
      .select("source", "term", "tf", "df", "score", "rnk")
      .as[(String, String, Long, Long, Double, Int)].collect().toSet
    assert(out === Set(
      ("g1", "a", 3L, 2L, 1.216395, 1), // 3 * ln(3/2)
      ("g1", "c", 1L, 1L, 1.098612, 2), // 1 * ln(3) beats b's 0.405465
      ("g2", "b", 3L, 2L, 1.216395, 1)))
  }

  test("centroid outliers surface the planted OOD vector first") {
    // Two axis clusters; vec 50 points into the corner away from both —
    // its nearest-centroid similarity is the corpus minimum.
    val vecs = ((0L until 5L).map(i => (i, Array(1.0f, 0.02f * i, 0.0f))) ++
      (10L until 15L).map(i => (i, Array(0.0f, 1.0f, 0.02f * (i - 10)))) ++
      Seq((50L, Array(-1.0f, -1.0f, 5.0f)))).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.centroidOutliers(vecs, cents, "vec_id", "embedding", k = 3)
      .select("vec_id", "csim").as[(Long, Double)].collect()
    assert(out.length === 3) // k cap respected
    assert(out.head._1 === 50L) // worst first
    assert(out.head._2 < out(1)._2 || (out.head._2 == out(1)._2 && out.head._1 < out(1)._1))
  }

  test("hyperplane LSH finds planted duplicates without any centroid model") {
    // Deterministic plane matrix: same seed → same ±1 entries; different
    // seed → a different matrix.
    val p1 = Similarity.hyperplanes(nBits = 8, dim = 4, seed = 7)
    val p2 = Similarity.hyperplanes(nBits = 8, dim = 4, seed = 7)
    assert(p1.map(_.toSeq).toSeq === p2.map(_.toSeq).toSeq)
    assert(p1.flatten.forall(x => x == 1.0 || x == -1.0))
    assert(p1.map(_.toSeq).toSeq !== Similarity.hyperplanes(8, 4, seed = 8).map(_.toSeq).toSeq)

    // 20 well-spread base vectors + exact copies of 0 and 7: an exact copy
    // has the identical signature, so it collides in EVERY band and is
    // always found — no training pass, no centroids.
    val base = (0L until 20L).map { i =>
      (i, Array.tabulate(8)(d => math.sin(i * 13.0 + d * 5.0).toFloat))
    }
    val copies = Seq(100L -> base(0)._2, 107L -> base(7)._2)
    val vecs = (base ++ copies).toDF("vec_id", "embedding")
    val pairs = Similarity.withHyperplaneLshPairs(
      vecs, "vec_id", "embedding", dim = 8, threshold = 0.999, nBits = 16, bandBits = 4)(
      _.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet)
    assert(pairs.contains((0L, 100L)) && pairs.contains((7L, 107L)))

    // bucketCap = 1 drops every shared bucket → no candidates at all.
    val capped = Similarity.withHyperplaneLshPairs(
      vecs, "vec_id", "embedding", dim = 8, threshold = 0.999, nBits = 16, bandBits = 4,
      bucketCap = 1)(_.count())
    assert(capped === 0L)

    // nBits must band evenly.
    intercept[IllegalArgumentException] {
      Similarity.withHyperplaneLshPairs(vecs, "vec_id", "embedding", dim = 8,
        threshold = 0.9, nBits = 10, bandBits = 4)(_.count())
    }
  }

  test("k-means centroid training recovers planted clusters, deterministically") {
    // Three tight clusters on orthogonal axes with slight within-cluster spread.
    val pts = (0 until 30).map { i =>
      val c = i % 3
      val v = Array.fill(3)(0.0f)
      v(c) = 1.0f
      v((c + 1) % 3) = 0.01f * (i / 3)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")

    val cents = Similarity.trainCentroids(pts, "vec_id", "embedding", k = 3, iters = 4, seed = 7)
    assert(cents.count() === 3)

    // Every point's nearest trained centroid groups it with its own cluster.
    val assigned = Similarity.assignBuckets(pts, cents, "vec_id", "embedding")
      .select("vid", "bucket").as[(Long, Long)].collect()
    val byCluster = assigned.groupBy(_._1 % 3).view.mapValues(_.map(_._2).toSet).toMap
    assert(byCluster.values.forall(_.size === 1), s"cluster split across buckets: $byCluster")
    assert(byCluster.values.flatten.toSet.size === 3, "clusters collapsed into one bucket")

    // Same seed → identical model; different seed may differ but is valid.
    val again = Similarity.trainCentroids(pts, "vec_id", "embedding", k = 3, iters = 4, seed = 7)
    assert(cents.collect().map(_.toString).sorted.toSeq === again.collect().map(_.toString).sorted.toSeq)

    // Trained centroids drive IVF search end-to-end.
    val nn = Similarity.ivfTopK(pts, cents, pts.filter($"vec_id" === 0), "vec_id", "embedding", k = 3)
      .select("neighbor_id").as[Long].collect().toSet
    assert(nn.nonEmpty && nn.forall(_ % 3 === 0)) // probe 0's bucket = cluster 0
  }

  test("recallAt: nProbe=1 misses the boundary probe, nProbe=2 recovers it") {
    // v2 sits in centroid-0's bucket but is the true nearest neighbour of
    // a probe assigned to centroid 1 — the Voronoi-boundary miss that IS
    // the IVF recall trade. nProbe=1 must miss it, nProbe=2 must not.
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f)),  // bucket 0
      (2L, Array(0.8f, 0.6f)),  // bucket 0 (cos .8 vs .6) — boundary doc
      (3L, Array(0.0f, 1.0f))   // bucket 1
    ).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val probes = Seq(
      (100L, Array(0.6f, 0.8f)), // bucket 1, but exact top-1 is v2 (sim .96)
      (101L, Array(0.0f, 1.0f))  // bucket 1, exact top-1 is v3 (sim 1.0)
    ).toDF("vec_id", "embedding")

    def recall(nProbe: Int): (Long, Double, Double) =
      Similarity.recallAt(corpus, cents, probes, "vec_id", "embedding", k = 1, nProbe = nProbe)
        .select("n_probes", "macro_recall", "micro_recall")
        .as[(Long, Double, Double)].collect().head

    val (n1, macro1, micro1) = recall(1)
    val (n2, macro2, micro2) = recall(2)
    assert(n1 === 2L && n2 === 2L)
    assert(macro1 === 0.5 && micro1 === 0.5) // probe 100 missed, 101 hit
    assert(macro2 === 1.0 && micro2 === 1.0) // extra probed bucket recovers v2
    assert(macro2 > macro1) // the monotone knob the operator tunes

    // The sampled path is deterministic: same seed, same verdict.
    val s1 = Similarity.recallAt(corpus, cents, probes, "vec_id", "embedding",
      k = 1, nProbe = 1, sampleRate = 0.9, seed = 3).collect().head
    val s2 = Similarity.recallAt(corpus, cents, probes, "vec_id", "embedding",
      k = 1, nProbe = 1, sampleRate = 0.9, seed = 3).collect().head
    assert(s1 === s2)
  }

  test("persisted IVF index: probe equals live ivfTopK, scan prunes to probed bucket dirs") {
    val pts = (0 until 30).map { i =>
      val v = Array.fill(3)(0.0f)
      v(i % 3) = 1.0f
      v((i % 3 + 1) % 3) = 0.01f * (i / 3)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.0f, 1.0f, 0.0f)), (2L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf-index").toString
    Similarity.writeIndex(pts, cents, "vec_id", "embedding", dir)
    val probes = pts.filter($"vec_id" < 2) // buckets 0 and 1 — bucket 2 untouched
    val fromIndex = Similarity.indexTopK(spark, dir, probes, "vec_id", "embedding", k = 3)
    val live = Similarity.ivfTopK(pts, cents, probes, "vec_id", "embedding", k = 3)
    assert(fromIndex.collect().map(_.toString).sorted.toSeq ===
      live.collect().map(_.toString).sorted.toSeq)
    // The scan must touch only the probed buckets' directories: the
    // partition filter survives to the file source.
    val scan = fromIndex.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("bucket"), scan.take(2000))
    // On-disk layout is one directory per bucket.
    val bucketDirs = new java.io.File(s"$dir/vectors").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("bucket=")).sorted
    assert(bucketDirs.toSeq === Seq("bucket=0", "bucket=1", "bucket=2"))

    // Incremental maintenance: an appended vector lands in its bucket
    // (placed by the STORED centroids) and is immediately probeable.
    val extra = Seq((100L, Array(0.99f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    Similarity.appendToIndex(extra, "vec_id", "embedding", dir)
    val after = Similarity.indexTopK(spark, dir, probes, "vec_id", "embedding", k = 31)
      .filter($"probe_id" === 0L).select("neighbor_id").as[Long].collect().toSet
    assert(after.contains(100L)) // new vector visible to bucket-0 probes
    assert(after.forall(n => n == 100L || n % 3 == 0)) // still only bucket 0
  }

  test("compactIndex: N appends -> fewer files, identical probe results, pruning pin unchanged") {
    val pts = (0 until 30).map { i =>
      val v = Array.fill(3)(0.0f)
      v(i % 3) = 1.0f
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
    val cents = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)), (1L, Array(0.0f, 1.0f, 0.0f)), (2L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val dir = java.nio.file.Files.createTempDirectory("ivf-compact").toString
    Similarity.writeIndex(pts, cents, "vec_id", "embedding", dir)
    // Four daily-increment appends, all landing in bucket 0: the accretion
    // pattern compactIndex exists to undo.
    (0 until 4).foreach { day =>
      Similarity.appendToIndex(
        Seq((1000L + day, Array(0.9f, 0.01f * day, 0.0f))).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dir)
    }
    def dataFiles(b: Int): Int =
      new java.io.File(s"$dir/vectors/bucket=$b").listFiles()
        .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val probes = pts.filter($"vec_id" < 2)
    def results(): Seq[String] =
      Similarity.indexTopK(spark, dir, probes, "vec_id", "embedding", k = 5)
        .collect().map(_.toString).sorted.toSeq

    val filesBefore = dataFiles(0)
    assert(filesBefore >= 5) // initial + 4 appends
    val before = results()

    val rewritten = Similarity.compactIndex(spark, dir)
    assert(rewritten === Seq(0)) // only the accreted bucket qualified
    assert(dataFiles(0) === 1 && dataFiles(0) < filesBefore)
    assert(results() === before) // row content preserved exactly

    // Pruning shape unchanged: the partition filter still reaches the scan.
    val scan = Similarity.indexTopK(spark, dir, probes, "vec_id", "embedding", k = 5)
      .queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("bucket"), scan.take(2000))

    // Compaction converges: a healthy layout is not re-flagged.
    assert(Similarity.compactIndex(spark, dir) === Seq.empty)

    // Crash recovery honours the index's partition column: plant an
    // interrupted swap (staging still present -> roll BACK) whose marker
    // names partCol=bucket, with bucket 0 already retired.
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vroot = new org.apache.hadoop.fs.Path(s"$dir/vectors")
    val retired = new org.apache.hadoop.fs.Path(dir, ".vectors.retired-zz")
    val staging = new org.apache.hadoop.fs.Path(dir, ".vectors.staging-zz")
    fs.mkdirs(retired); fs.mkdirs(staging)
    assert(fs.rename(new org.apache.hadoop.fs.Path(vroot, "bucket=0"),
      new org.apache.hadoop.fs.Path(retired, "bucket=0")))
    val marker = fs.create(new org.apache.hadoop.fs.Path(dir, ".vectors.swap-zz.json"), true)
    marker.write(
      (s"""{"staging": "$staging", "retired": "$retired", """ +
        """"buckets": [0], "preExisting": [0], "partCol": "bucket"}""").getBytes("UTF-8"))
    marker.close()
    assert(Similarity.recoverIndex(spark, dir)) // rolls bucket 0 back into place
    assert(results() === before)
  }

  test("language ID predicts from marker hits with deterministic tie rules") {
    val d = Seq((1L, "the value of the table"), (2L, "der hund ist und das"), (3L, "xyz qqq")).toDF("doc_id", "text")
    val out = TextStats.langId(d, "doc_id", "text")
      .select("doc_id", "pred_lang").as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "en", 2L -> "de", 3L -> "und"))
  }

  test("quality signals compute ratios over whitespace tokens") {
    val d = Seq((1L, "the the fox")).toDF("doc_id", "text")
    val r = TextStats.qualitySignals(d, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_tokens") === 3L)
    assert(r.getAs[Long]("n_types") === 2L)
    assert(r.getAs[Double]("stopword_ratio") === (2.0 / 3 * 1e6).round / 1e6)
  }

  test("hash sampling: deterministic, splits disjoint+exhaustive, growth-stable") {
    val base = (0L until 400L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val weights = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

    val s1 = Sampling.split(base, "doc_id", weights, seed = 11)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val s2 = Sampling.split(base, "doc_id", weights, seed = 11)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s1 === s2) // deterministic
    assert(s1.size === 400 && s1.values.toSet.subsetOf(Set("train", "val", "test")))
    // Rough proportions (hash-uniform, 400 draws).
    val train = s1.values.count(_ == "train")
    assert(train > 270 && train < 370, s"train=$train of 400")

    // Growth stability: a bigger corpus never reassigns existing rows.
    val grown = base.unionByName((400L until 800L).map(i => (i, s"doc $i")).toDF("doc_id", "text"))
    val s3 = Sampling.split(grown, "doc_id", weights, seed = 11)
      .filter($"doc_id" < 400).select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(s3 === s1)

    // Sampling at different seeds picks different subsets.
    val a = Sampling.sample(base, "doc_id", 0.2, seed = 7).select("doc_id").as[Long].collect().toSet
    val b = Sampling.sample(base, "doc_id", 0.2, seed = 8).select("doc_id").as[Long].collect().toSet
    assert(a !== b)
    assert(a.nonEmpty)
  }

  test("split boundaries equal the directly-computed thresholds (no fp drift)") {
    // 0.8 + 0.1 sums to 0.9000000000000001 in doubles; the boundary must
    // still be the SAME integer an oracle inlining thresholdFor(0.9) uses.
    val bounds = Sampling.splitThresholds(Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(bounds === Seq(Sampling.thresholdFor(0.8), Sampling.thresholdFor(0.9)))
    // Unnormalized weights land on identical constants too.
    val scaled = Sampling.splitThresholds(Seq("train" -> 8.0, "val" -> 1.0, "test" -> 1.0))
    assert(scaled === bounds)
  }

  test("quality filter: per-rule flags and keep verdict") {
    val d = Seq(
      (1L, "a b c"), // too short
      (2L, "w w w w w w w w w w"), // 10 tokens but 1 type: low diversity
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val out = TextStats.qualityFilter(d, "doc_id", "text", minTokens = 5, maxTokens = 100, minTypeTokenRatio = 0.3)
      .select("doc_id", "too_short", "low_diversity", "keep")
      .as[(Long, Boolean, Boolean, Boolean)].collect()
      .map { case (k, a, b, c) => k -> ((a, b, c)) }.toMap
    assert(out(1L) === ((true, false, false)))
    assert(out(2L) === ((false, true, false)))
    assert(out(3L) === ((false, false, true)))
  }

  test("sessionize: gap starts a new session, index is per-key cumulative") {
    import java.sql.Timestamp
    val e = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (1L, Timestamp.valueOf("2024-01-01 10:10:00")), // same session
      (1L, Timestamp.valueOf("2024-01-01 11:00:00")), // 50min gap: new session
      (2L, Timestamp.valueOf("2024-01-01 10:00:00"))
    ).toDF("user_id", "ts")
    val out = graft.operators.Sessionize.byGap(e, Seq("user_id"), "ts", "30 minutes")
      .select("user_id", "ts", "session_idx")
      .as[(Long, java.sql.Timestamp, Long)].collect()
      .map { case (u, t, s) => (u, t.toString, s) }.toSet
    assert(out === Set(
      (1L, "2024-01-01 10:00:00.0", 1L),
      (1L, "2024-01-01 10:10:00.0", 1L),
      (1L, "2024-01-01 11:00:00.0", 2L),
      (2L, "2024-01-01 10:00:00.0", 1L)))
  }

  test("multimodal ingest + decode stub: expression and mapPartitions paths agree") {
    val withBin = Multimodal.ingestBinary(docs, "doc_id", "text")
    val metaType = withBin.schema("meta").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(metaType.fieldNames.toSeq === Multimodal.MetaSchema.fieldNames.toSeq)
    val exprPath = Multimodal.decodeStub(withBin)
      .select("doc_id", "width", "height", "n_frames").as[(Long, Int, Int, Int)].collect().toSet
    val mapPath = Multimodal.batchDecode(withBin)
      .select("doc_id", "width", "height", "n_frames").as[(Long, Int, Int, Int)].collect().toSet
    assert(exprPath === mapPath)
    assert(exprPath.nonEmpty)
  }

  test("vocab/OOV report: top-V by count with asc tie-break, per-doc occurrence fractions") {
    val d = Seq(
      (1L, "a a b c"),   // all 4 occurrences in vocab {a,b,c}
      (2L, "a b b d"),   // d is OOV → 1/4
      (3L, "e f")        // fully OOV → 2/2
    ).toDF("doc_id", "text")
    // counts: a=3, b=3, c=d=e=f=1 → V=3 keeps a, b and (tie, asc) c.
    val got = TextStats.vocabOovReport(d, "doc_id", "text", vocabSize = 3)
      .select("doc_id", "n_tokens", "n_oov", "oov_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 4L, 0L, 0.0)))
    assert(got(2L) === ((2L, 4L, 1L, 0.25)))
    assert(got(3L) === ((3L, 2L, 2L, 1.0)))
    // A vocab covering everything zeroes the OOV column.
    val full = TextStats.vocabOovReport(d, "doc_id", "text", vocabSize = 100)
      .agg(sum("n_oov")).as[Long].head()
    assert(full === 0L)
  }

  test("source drift: identical snapshots cosine 1, disjoint 0, one-sided sources report 0") {
    val a = Seq(
      (1L, "s1", "x y z"), (2L, "s2", "p q"), (3L, "s3", "only in a")
    ).toDF("doc_id", "source", "text")
    val bSame = Seq((10L, "s1", "x y z"), (11L, "s2", "p q")).toDF("doc_id", "source", "text")
    val got = TextStats.sourceDrift(a, bSame, "source", "text")
      .select("source", "cosine").as[(String, Double)].collect().toMap
    assert(got("s1") === 1.0 && got("s2") === 1.0)
    assert(got("s3") === 0.0) // present only in snapshot A → maximal drift
    // Disjoint vocabularies → cosine 0 (no shared terms, dot coalesces).
    val bDisjoint = Seq((10L, "s1", "totally different words")).toDF("doc_id", "source", "text")
    val d2 = TextStats.sourceDrift(a, bDisjoint, "source", "text")
      .select("source", "cosine").as[(String, Double)].collect().toMap
    assert(d2("s1") === 0.0)
    // Hand-computed partial overlap: A(s1): x y z (1 each); B: "x x y" →
    // ca·cb = 1·2 + 1·1 = 3; |A| = sqrt(3), |B| = sqrt(5) → 3/sqrt(15).
    val bPart = Seq((10L, "s1", "x x y")).toDF("doc_id", "source", "text")
    val d3 = TextStats.sourceDrift(a, bPart, "source", "text")
      .select("source", "cosine").as[(String, Double)].collect().toMap
    assert(math.abs(d3("s1") - 3.0 / math.sqrt(15.0)) < 1e-6)
  }

  test("bloom-prefiltered ingest: exact NOT-IN answer at any fpp, empty corpus accepts all") {
    val corpus = Seq(
      (1L, "alpha corpus document body one"),
      (2L, "beta corpus document body two"),
      (3L, "gamma corpus document body three")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "alpha corpus document body one"),   // dup of 1 → dropped
      (11L, "fresh delta content never seen"),   // new → kept
      (12L, "beta corpus document body two"),    // dup of 2 → dropped
      (13L, "another unseen delta document")     // new → kept
    ).toDF("doc_id", "text")
    def ids(df: DataFrame): Set[Long] = df.select("doc_id").as[Long].collect().toSet

    assert(ids(Dedup.bloomFreshDocs(corpus, delta, "text")) === Set(11L, 13L))
    // A deliberately saturated filter (64 bits for 3 docs at fpp→1) makes
    // ~every delta row a maybe-member: the exact verify must still
    // produce the same answer — the bloom is an optimization, never a
    // semantic.
    assert(ids(Dedup.bloomFreshDocs(corpus, delta, "text",
      expectedItems = 1, fpp = 0.9)) === Set(11L, 13L))
    // Empty corpus: the filter aggregates to null, which must read
    // "definitely absent" — everything is fresh.
    assert(ids(Dedup.bloomFreshDocs(corpus.limit(0), delta, "text")) === Set(10L, 11L, 12L, 13L))
    // Pass-through schema.
    assert(Dedup.bloomFreshDocs(corpus, delta, "text").columns.toSeq === Seq("doc_id", "text"))
    // A mostly-duplicate delta over the broadcast cap takes the shuffle
    // fallback — same answer, no driver-side hash set (combined with the
    // saturated filter so EVERY delta row is a maybe-member).
    assert(ids(Dedup.bloomFreshDocs(corpus, delta, "text",
      expectedItems = 1, fpp = 0.9, candBroadcastLimit = 1)) === Set(11L, 13L))
  }

  test("real PNG decode: synthesized rasters round-trip bit-exactly through javax.imageio") {
    // The decode is no longer a stub: actual PNGs, actual pixels. The
    // expected values are the synthesis formulas computed independently
    // here — pixel_sum can only match if the codec read the full raster.
    val ids = Seq(0L, 3L, 17L, 41L).toDF("doc_id")
    val decoded = Multimodal.decodePng(Multimodal.synthesizePngs(ids, "doc_id"))
      .select("doc_id", "width", "height", "pixel_sum")
      .as[(Long, Int, Int, Long)].collect().map(r => r._1 -> r).toMap
    for (id <- Seq(0L, 3L, 17L, 41L)) {
      val w = (8 + id % 24).toInt
      val h = (8 + (id * 3) % 24).toInt
      var expect = 0L
      for (y <- 0 until h; x <- 0 until w)
        expect += (3L * x + id % 200) % 256 + (5L * x + 7L * y + id) % 256 +
          (x + 11L * y + 13L * id) % 256
      assert(decoded(id) === ((id, w, h, expect)))
    }
    // Resize geometry runs over the REAL decoded dimensions.
    val planned = Multimodal.resizePlan(
      Multimodal.decodePng(Multimodal.synthesizePngs(ids, "doc_id")), maxSide = 16)
      .select("doc_id", "width", "height", "out_w", "out_h", "resized")
      .as[(Long, Int, Int, Int, Int, Boolean)].collect()
    planned.foreach { case (_, w, h, ow, oh, resized) =>
      assert(resized === (math.max(w, h) > 16))
      if (resized) {
        assert(math.max(ow, oh) === 16)
        assert(ow === math.max(1, w * 16 / math.max(w, h)))
        assert(oh === math.max(1, h * 16 / math.max(w, h)))
      } else assert(ow === w && oh === h)
    }
    // The payload is a real PNG container, not arbitrary bytes.
    val magic = Multimodal.synthesizePngs(ids, "doc_id")
      .select("payload").as[Array[Byte]].head()
    assert(magic.take(8).toSeq === Seq(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
  }

  /** Encode an arbitrary pixel function as a real PNG payload row, so the
    * dHash specs can plant exact perceptual structure (not doc_id-derived
    * synthesis) and assert on the hash bits directly.
    */
  private def pngRow(id: Long, w: Int, h: Int)(px: (Int, Int) => (Int, Int, Int)): (Long, Array[Byte]) = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = px(x, y)
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    (id, bos.toByteArray)
  }

  private def dhashOf(rows: (Long, Array[Byte])*): Map[Long, Long] =
    Multimodal.decodePngDHash(rows.toDF("doc_id", "payload"))
      .select("doc_id", "dhash").as[(Long, Long)].collect().toMap

  test("dHash: invariant under uniform brightness shift, resolution, sensitive to content") {
    // A non-trivial gradient whose channel values stay <= 205, leaving
    // +50 headroom so the brightness shift never clamps at 255.
    def base(x: Int, y: Int): (Int, Int, Int) =
      ((x * 7) % 200, (x * 3 + y * 5) % 200, (x + y * 9) % 200)
    val d = dhashOf(
      pngRow(1L, 24, 16)(base),
      // Uniform +50 on every channel: all block means move together, so
      // every neighbor comparison (a strict inequality on means) is
      // unchanged.
      pngRow(2L, 24, 16)((x, y) => { val (r, g, b) = base(x, y); (r + 50, g + 50, b + 50) }),
      // 2x nearest-neighbor upscale: each 8x8-grid block's (sum, count)
      // both scale by 4, so the cross-multiplied comparisons are
      // identical - the resolution-invariance the grid pooling buys.
      pngRow(3L, 48, 32)((x, y) => base(x / 2, y / 2)),
      // Content change: blank out the right half - the horizontal
      // gradient collapses there, flipping right-edge comparisons.
      pngRow(4L, 24, 16)((x, y) => if (x >= 12) (0, 0, 0) else base(x, y)))
    assert(d(2L) === d(1L), "uniform brightness shift must not change the dHash")
    assert(d(3L) === d(1L), "2x upscale must not change the dHash")
    assert(d(4L) !== d(1L), "halving the content must change the dHash")
    // The hash is 56-bit: bits 56..63 are never set.
    d.values.foreach(v => assert((v >>> 56) === 0L))
  }

  test("image near-dup: dHash + hammingPairs recovers every planted variant pair") {
    // The mm7 composition on its own fixture: 20 base images, a uniform
    // +40 brightness twin (ids +20) and a one-block content tweak
    // (ids +40), through REAL PNG encode + decode.
    val ids = spark.range(0, 60).toDF("doc_id")
    val fps = Multimodal.decodePngDHash(Multimodal.synthesizePngsNear(ids, "doc_id"))
    val hashes = fps.select("doc_id", "dhash").as[(Long, Long)].collect().toMap
    for (base <- 0L until 20L) {
      assert(hashes(base + 20) === hashes(base),
        s"brightness twin of base $base must hash identically")
      assert(java.lang.Long.bitCount(hashes(base) ^ hashes(base + 40)) <= 1,
        s"one-block tweak of base $base must stay within hamming 1")
    }
    // The tweak is visible somewhere: at least one base's v2 actually
    // flips the (0,0)-vs-(1,0) comparison (content sensitivity end-to-end).
    assert((0L until 20L).exists(b => hashes(b) !== hashes(b + 40)))
    val pairs = Dedup.hammingPairs(fps, "doc_id", "dhash",
      maxHamming = 4, bits = 56, bucketCap = 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    for (base <- 0L until 20L; (a, b) <- Seq((base, base + 20), (base, base + 40), (base + 20, base + 40)))
      assert(pairs.contains((a, b)), s"planted pair ($a, $b) missing")
  }

  test("image keep-one-per-cluster prunes to the min-id canonical of each dup group") {
    val ids = spark.range(0, 60).toDF("doc_id")
    val fps = Multimodal.decodePngDHash(Multimodal.synthesizePngsNear(ids, "doc_id"))
      .select("doc_id", "dhash")
    val pairFrame = Dedup.hammingPairs(fps, "doc_id", "dhash",
      maxHamming = 4, bits = 56, bucketCap = 100)
    val pairList = pairFrame.select("doc_a", "doc_b").as[(Long, Long)].collect()
    // Reference: union-find over the pair set; keep each component's min.
    val parent = scala.collection.mutable.Map((0L until 60L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairList.foreach { case (a, b) => parent(find(a)) = find(b) }
    val expected = (0L until 60L).filter { i =>
      val root = find(i)
      (0L until 60L).filter(find(_) == root).min == i
    }.toSet
    val kept = Dedup.pruneDuplicates(fps, pairFrame, "doc_id")(
      _.select("doc_id").as[Long].collect().toSet)
    assert(kept === expected)
    // Every planted variant triple collapsed: no base survives alongside
    // its brightness twin or tweak.
    for (base <- 0L until 20L)
      assert(Seq(base, base + 20, base + 40).count(kept) <= 1, s"base $base")
  }

  test("real WAV decode: synthesized PCM round-trips bit-exactly through javax.sound.sampled") {
    // The audio decode is no longer a stub: actual RIFF/WAVE containers,
    // actual PCM frames. Expected values are the synthesis formulas
    // computed independently here — energy can only match if the codec
    // read every frame.
    val idSeq = Seq(0L, 1L, 2L, 17L, 41L)
    val ids = idSeq.toDF("doc_id")
    val decoded = Multimodal.decodeWav(Multimodal.synthesizeWavs(ids, "doc_id"))
      .select("doc_id", "sample_rate", "n_samples", "duration_ms", "sample_sum", "energy")
      .as[(Long, Int, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    for (id <- idSeq) {
      val rate = Array(8000, 16000, 22050)((id % 3).toInt)
      val n = (400 + (id * 37) % 1200).toInt
      var sum = 0L
      var energy = 0L
      for (i <- 0 until n) {
        val s = ((i.toLong * i + 7L * i * id + 13L * id) % 4096) - 2048
        sum += s
        energy += s * s
      }
      assert(decoded(id) === ((id, rate, n.toLong, n.toLong * 1000L / rate, sum, energy)))
    }
    // The payload is a real RIFF/WAVE container, not arbitrary bytes.
    val magic = Multimodal.synthesizeWavs(ids, "doc_id")
      .select("payload").as[Array[Byte]].head()
    assert(new String(magic.take(4), "US-ASCII") === "RIFF")
    assert(new String(magic.slice(8, 12), "US-ASCII") === "WAVE")
  }

  test("segment energy: window folds match per-sample formula; non-overlapping windows tile") {
    val ids = Seq(0L, 1L, 2L, 5L).toDF("doc_id")
    val decoded = Multimodal.decodeWav(Multimodal.synthesizeWavs(ids, "doc_id"))
    val segs = Multimodal.segmentEnergy(decoded, windowMs = 50, hopMs = 30)
      .select("doc_id", "seg_idx", "start_sample", "end_sample", "seg_energy")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(segs.nonEmpty)
    def sample(id: Long, i: Long): Long = ((i * i + 7L * i * id + 13L * id) % 4096) - 2048
    segs.foreach { case (id, _, lo, hi, got) =>
      val expect = (lo until hi).map(i => { val s = sample(id, i); s * s }).sum
      assert(got === expect, s"doc $id window [$lo, $hi)")
    }
    // hop == window: windows tile the planned span [0, dur*rate div 1000)
    // without overlap, so segment energies sum to the span's total energy.
    val tiled = Multimodal.segmentEnergy(decoded, windowMs = 50, hopMs = 50)
      .groupBy("doc_id")
      .agg(sum("seg_energy").as("total"), max("end_sample").as("span"))
      .as[(Long, Long, Long)].collect()
    tiled.foreach { case (id, total, span) =>
      val expect = (0L until span).map(i => { val s = sample(id, i); s * s }).sum
      assert(total === expect, s"doc $id tiling")
    }
  }

  test("real GIF decode: every synthesized frame round-trips bit-exactly through javax.imageio") {
    // Multi-frame decode is no longer a stub: real animated GIF89a
    // containers, a lossless grayscale palette, actual per-frame rasters.
    val idSeq = Seq(0L, 1L, 4L, 23L)
    val ids = idSeq.toDF("doc_id")
    val frames = Multimodal.decodeGifFrames(Multimodal.synthesizeGifs(ids, "doc_id"))
      .select("doc_id", "width", "height", "n_frames", "frame_idx", "frame_sum")
      .as[(Long, Int, Int, Int, Int, Long)].collect()
    def expectSum(id: Long, w: Int, h: Int, f: Int): Long =
      (for (y <- 0 until h; x <- 0 until w)
        yield 3L * ((3L * x + 5L * y + 11L * f + id) % 256)).sum
    for (id <- idSeq) {
      val w = (16 + id % 8).toInt
      val h = (16 + (id * 3) % 8).toInt
      val nf = (2 + id % 5).toInt
      val mine = frames.filter(_._1 == id).sortBy(_._5)
      assert(mine.length === nf, s"doc $id frame count")
      mine.foreach { case (_, gw, gh, gn, f, sum) =>
        assert((gw, gh, gn) === ((w, h, nf)))
        assert(sum === expectSum(id, w, h, f), s"doc $id frame $f")
      }
    }
    // The payload is a real GIF89a container.
    val magic = Multimodal.synthesizeGifs(ids, "doc_id")
      .select("payload").as[Array[Byte]].head()
    assert(new String(magic.take(6), "US-ASCII") === "GIF89a")
  }

  test("strided frame sampling decodes exactly the planner's indices, nothing else") {
    val ids = Seq(0L, 1L, 2L, 3L, 4L).toDF("doc_id") // n_frames 2..6 covers every stride
    val sampled = Multimodal.sampleGifFrames(Multimodal.synthesizeGifs(ids, "doc_id"),
        maxSamples = 2)
      .select("doc_id", "n_frames", "frame_idx", "frame_sum")
      .as[(Long, Int, Int, Long)].collect()
    // Full-decode ground truth for the sampled indices' sums.
    val full = Multimodal.decodeGifFrames(Multimodal.synthesizeGifs(ids, "doc_id"))
      .select("doc_id", "frame_idx", "frame_sum")
      .as[(Long, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    for (id <- 0L until 5L) {
      val nf = (2 + id % 5).toInt
      val step = (nf + 1) / 2
      val want = (0 until nf by step).toSeq
      val mine = sampled.filter(_._1 == id).sortBy(_._3)
      assert(mine.map(_._3).toSeq === want, s"doc $id sampled indices")
      assert(mine.forall(_._2 == nf))
      mine.foreach { case (i, _, f, sum) => assert(sum === full((i, f)), s"doc $i frame $f") }
    }
  }

  test("hamming-ball simhash pairing recovers a planted one-bit flip d4 misses") {
    // Fingerprints, not text: plant exact distances so the assertion is on
    // the banding guarantee itself (within-ball detection is exact).
    val fps = Seq(
      (1L, 0x0F0F0F0FL),        // base
      (2L, 0x0F0F0F0FL),        // hamming 0
      (3L, 0x0F0F0F0EL),        // hamming 1 — the flip exact-bucket grouping misses
      (4L, 0x0F0F0F0FL ^ 0x1E0L) // hamming 4 from 1/2, 5 from 3 — outside the ball
    ).toDF("id", "fp")
    val out = Dedup.hammingPairs(fps, "id", "fp", maxHamming = 3)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(out === Set((1L, 2L, 0), (1L, 3L, 1), (2L, 3L, 1)))
    // d4's exact-bucket view of the same frame: only the 0-distance pair's
    // bucket collapses; doc 3 is stranded — the gap d13 closes.
    val buckets = fps.groupBy("fp").count().as[(Long, Long)].collect().toMap
    assert(buckets(0x0F0F0F0FL) === 2L && buckets(0x0F0F0F0EL) === 1L)
  }

  test("repetition signals: planted loops score, clean docs zero, short docs survive") {
    val d = Seq(
      (1L, "go stop go stop go stop"),            // 6 tokens, 23 chars: heavy 2-gram loop
      (2L, "alpha beta gamma delta epsilon zeta"),// no repetition at all
      (3L, "hi ho")                               // too short for n=5 (sentinel path)
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionSignals(d, "doc_id", "text")
      .select("doc_id", "dup_token_frac", "top2_char_frac", "top3_char_frac", "dup5_char_frac")
      .as[(Long, Double, Double, Double, Double)].collect().map(r => r._1 -> r).toMap
    assert(out.keySet === Set(1L, 2L, 3L)) // every doc present, even the short one
    // doc 1: 6 tokens, 2 types -> dup_token_frac = 1 - 2/6.
    assert(out(1L)._2 === math.rint((1.0 - 2.0 / 6.0) * 1e6) / 1e6)
    // top 2-gram: "go stop" x3 (vs "stop go" x2), len 7 -> 21/23.
    assert(out(1L)._3 === math.rint(21.0 / 23.0 * 1e6) / 1e6)
    // top 3-gram: "go stop go" and "stop go stop" tie at 2 — the
    // lexicographically larger wins (len 12) -> 24/23: the ratio exceeding
    // 1.0 is the documented overlap-counting behavior, not a bug.
    assert(out(1L)._4 === math.rint(24.0 / 23.0 * 1e6) / 1e6)
    // 5-grams: "go stop go stop go" x1, "stop go stop go stop" x1 -> no dup.
    assert(out(1L)._5 === 0.0)
    // doc 2 is repetition-free everywhere.
    assert(out(2L)._2 === 0.0 && out(2L)._5 === 0.0)
    assert(out(2L)._3 > 0.0) // a top 2-gram always exists (count 1)
    // doc 3: no 3-grams or 5-grams -> zeros, not missing rows.
    assert(out(3L)._4 === 0.0 && out(3L)._5 === 0.0)
  }

  test("int8 quantization: codes bounded, max element hits ±127, reconstruction within half-step") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f, 0.0f)),  // max |v| = 1.0
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))     // zero vector: scale 0, codes 0
    ).toDF("vec_id", "embedding")
    val qdf = Similarity.quantizeInt8(vecs, "embedding")
    assert(qdf.schema("qvec").dataType.simpleString === "array<tinyint>") // truly 1 byte/dim
    val q = qdf
      .select(col("vec_id"), col("scale"), col("qvec").cast("array<int>"))
      .as[(Long, Double, Array[Int])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(q(1L)._1 === 1.0 / 127.0)
    assert(q(1L)._2.toSeq === Seq(64, -127, 32, 0)) // 0.5/scale = 63.5 -> floor(+0.5) = 64
    assert(q(2L)._1 === 0.0 && q(2L)._2.forall(_ === 0))
    // Reconstruction error per element is bounded by scale/2.
    val rep = Similarity.quantizationReport(vecs, "vec_id", "embedding")
      .select("vec_id", "recon_err").as[(Long, Double)].collect().toMap
    val maxErr = math.sqrt(4 * math.pow(1.0 / 127.0 / 2, 2))
    assert(rep(1L) <= maxErr + 1e-9)
    assert(rep(2L) === 0.0)
    // Regression pin (Spark 4.1 lateral-column-alias shadowing): the error
    // must be computed against the RAW scale, not the rounded display one.
    val s = 1.0 / 127.0
    val expected = math.sqrt(Seq(0.5, -1.0, 0.25, 0.0).map { x =>
      val d = math.floor(x / s + 0.5) * s; (x - d) * (x - d)
    }.sum)
    assert(rep(1L) === math.rint(expected * 1e6) / 1e6)
  }

  test("trained PQ on a dyadic fixture is bit-identical across partitionings") {
    // The e12t oracle's exactness argument, pinned: with dyadic-rational
    // inputs (multiples of 1/16) every training sum is exact, so the
    // trained codebooks are the same DOUBLES regardless of how the corpus
    // is partitioned — the property that lets a static SQL string replay
    // the fit. (With generic floats this would NOT hold: partial-sum
    // order varies with partitioning.)
    def fixture(parts: Int) = spark.range(0, 64).toDF("vec_id")
      .repartition(parts)
      .withColumn("vec", transform(sequence(lit(0), lit(7)),
        j => ((col("vec_id") * 7 + j * 13) % 29 - 14) / lit(16.0)))
    val cbs = Seq(1, 7, 32).map { parts =>
      Similarity.pqTrainCodebooks(fixture(parts), "vec_id", "vec", m = 2, k = 4,
        iters = 1, seed = 42, hashMode = HashMode.Md5Portable)
    }
    assert(cbs(0) === cbs(1))
    assert(cbs(0) === cbs(2))
    // And the fit actually trained: codebooks differ from raw init slices
    // only via the Lloyd round — at minimum they are 2 blocks x 4
    // centroids x 4 components of finite doubles.
    assert(cbs(0).length === 2)
    assert(cbs(0).forall(book => book.length === 4 && book.forall(c =>
      c.length === 4 && c.forall(x => !x.isNaN && !x.isInfinite))))
  }

  test("product quantization: grid encode is the block argmin, ADC ranks like reconstructed dot") {
    // dim 4, m 2, k 3, grid x_j in {-0.1, 0.0, 0.1}: block means decide
    // the codes (constant-component centroids), hand-checkable.
    val cb = Similarity.pqGridCodebooks(dim = 4, m = 2, k = 3, lo = -0.1, step = 0.1)
    val vs = Seq(
      (1L, Seq(0.09f, 0.11f, -0.09f, -0.11f)), // blocks ≈ (+0.1, -0.1) → codes (2, 0)
      (2L, Seq(0.0f, 0.01f, 0.02f, -0.02f)),   // ≈ (0, 0) → codes (1, 1)
      (3L, Seq(-0.2f, -0.2f, 0.2f, 0.2f))      // → codes (0, 2)
    ).toDF("vec_id", "embedding")
    val enc = Similarity.pqEncode(vs, "embedding", cb)
      .select("vec_id", "codes").as[(Long, Seq[Int])].collect().toMap
    assert(enc(1L) === Seq(2, 0))
    assert(enc(2L) === Seq(1, 1))
    assert(enc(3L) === Seq(0, 2))

    // ADC score == dot(query, RECONSTRUCTED vector); with a query of all
    // ones, that's just the sum of each block's centroid components.
    val q = Seq(1.0, 1.0, 1.0, 1.0)
    val got = Similarity.pqSearchTopK(
      Similarity.pqEncode(vs, "embedding", cb), "vec_id", cb, q, k = 3)
      .as[(Long, Double)].collect().toMap
    assert(got(1L) === 0.0)   // (+0.1)*2 + (-0.1)*2
    assert(got(2L) === 0.0)
    assert(got(3L) === 0.0)   // symmetric blocks cancel
    val q2 = Seq(1.0, 1.0, 0.0, 0.0) // first block only: 0.2, 0.0, -0.2
    val got2 = Similarity.pqSearchTopK(
      Similarity.pqEncode(vs, "embedding", cb), "vec_id", cb, q2, k = 3)
      .as[(Long, Double)].collect()
    assert(got2.head === ((1L, 0.2)))
    assert(got2.last === ((3L, -0.2)))
  }

  test("product quantization: trained codebooks reconstruct planted block clusters, ADC finds the near-copy") {
    // Two planted clusters per block, 40 vectors of dim 8, m=4 blocks of
    // 2: block values near +1 or -1 by vector parity. k=2 per block must
    // recover ±1 centroids, so encode separates parities exactly.
    val vs = (0L until 40L).map { i =>
      val s = if (i % 2 == 0) 1.0f else -1.0f
      val eps = (i % 5).toFloat * 0.01f
      (i, Seq.fill(8)(s + eps).toSeq)
    }.toDF("vec_id", "embedding")
    val cb = Similarity.pqTrainCodebooks(vs, "vec_id", "embedding", m = 4, k = 2, iters = 4)
    assert(cb.length === 4 && cb.forall(_.length === 2) && cb.forall(_.forall(_.length === 2)))
    // Each block's two centroids sit near +1 and -1.
    cb.foreach { book =>
      val sorted = book.map(_.sum / 2).sorted
      assert(math.abs(sorted.head - (-1.0)) < 0.1, sorted.toString)
      assert(math.abs(sorted.last - 1.0) < 0.1, sorted.toString)
    }
    val enc = Similarity.pqEncode(vs, "embedding", cb)
    // All-positive query: every even (positive) vector must outrank every
    // odd one under ADC, exactly as under the true dot product.
    val ranked = Similarity.pqSearchTopK(enc.select("vec_id", "codes"), "vec_id", cb,
      Seq.fill(8)(1.0), k = 40).as[(Long, Double)].collect()
    val (top, bottom) = ranked.splitAt(20)
    assert(top.forall(_._1 % 2 == 0), top.map(_._1).mkString(","))
    assert(bottom.forall(_._1 % 2 == 1), bottom.map(_._1).mkString(","))
  }

  test("ivf+pq: only the probed buckets' codes are scanned") {
    // Two well-separated centroid directions; the corpus vector aligned
    // with the UNPROBED centroid never surfaces, even though its ADC
    // score against the query would top the list — the probe boundary is
    // the recall trade, exactly as in plain IVF.
    val cents = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),  // bucket 0
      (11L, Seq(0.8f, 0.0f, 0.1f, 0.0f)),  // bucket 0
      (20L, Seq(0.0f, 0.1f, 0.0f, 0.9f))   // bucket 1 — unprobed below
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqGridCodebooks(dim = 4, m = 2, k = 16, lo = -0.75, step = 0.1)
    val q = Seq(1.0, 0.0, 0.0, 0.0)
    val got = Similarity.ivfPqTopK(corpus, cents, "vec_id", "embedding", cb, q, k = 3, nProbe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(got === Set(10L, 11L))
    // nProbe=2 widens the scan to both buckets.
    val wide = Similarity.ivfPqTopK(corpus, cents, "vec_id", "embedding", cb, q, k = 3, nProbe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(wide === Set(10L, 11L, 20L))
  }

  test("persisted IVFADC index: probe equals live ivfPqTopK, scans only probed code dirs") {
    val cents = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),  // bucket 0
      (11L, Seq(0.8f, 0.0f, 0.1f, 0.0f)),  // bucket 0
      (20L, Seq(0.0f, 0.1f, 0.0f, 0.9f))   // bucket 1
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqGridCodebooks(dim = 4, m = 2, k = 16, lo = -0.75, step = 0.1)
    val q = Seq(1.0, 0.0, 0.0, 0.0)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-index").toString
    Similarity.writePqIndex(corpus, cents, "vec_id", "embedding", cb, dir)

    // Index == live, at both probe widths (the parity contract).
    for (np <- Seq(1, 2)) {
      val live = Similarity.ivfPqTopK(corpus, cents, "vec_id", "embedding", cb, q, k = 3, nProbe = np)
        .as[(Long, Double)].collect().sorted.toSeq
      val idx = Similarity.pqIndexTopK(spark, dir, "vec_id", q, k = 3, nProbe = np)
        .as[(Long, Double)].collect().sorted.toSeq
      assert(idx === live, s"nProbe=$np")
    }

    // The probe's scan is partition-pruned to the chosen bucket dirs, and
    // the on-disk layout holds CODES, not float vectors.
    val probe = Similarity.pqIndexTopK(spark, dir, "vec_id", q, k = 3, nProbe = 1)
    val scan = probe.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("bucket"), scan.take(2000))
    val codeDirs = new java.io.File(s"$dir/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("bucket=")).sorted
    assert(codeDirs.toSeq === Seq("bucket=0", "bucket=1"))
    val codeSchema = spark.read.parquet(s"$dir/codes").schema.fieldNames.toSet
    assert(codeSchema === Set("vid", "codes", "bucket")) // no float column at rest

    // Append: placed by STORED centroids, encoded by STORED codebooks,
    // immediately probeable; the unprobed bucket stays invisible.
    Similarity.appendToPqIndex(
      Seq((100L, Seq(0.95f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    val after = Similarity.pqIndexTopK(spark, dir, "vec_id", q, k = 4, nProbe = 1)
      .select("vec_id").as[Long].collect().toSet
    assert(after === Set(10L, 11L, 100L))
    // Appended codes match a fresh encode against the same codebooks.
    val appendedCodes = spark.read.parquet(s"$dir/codes")
      .filter($"vid" === 100L).select("codes").as[Seq[Int]].head()
    val freshCodes = Similarity.pqEncode(
      Seq((100L, Seq(0.95f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"), "embedding", cb)
      .select("codes").as[Seq[Int]].head()
    assert(appendedCodes === freshCodes)

    // Compaction: the accreted bucket is rewritten, results unchanged,
    // healthy layout converges; guard rejects a non-index path.
    val filesBefore = new java.io.File(s"$dir/codes/bucket=0").listFiles()
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(filesBefore >= 2) // initial + append
    val before = Similarity.pqIndexTopK(spark, dir, "vec_id", q, k = 4, nProbe = 1)
      .as[(Long, Double)].collect().sorted.toSeq
    assert(Similarity.compactPqIndex(spark, dir, minFiles = 2) === Seq(0))
    assert(Similarity.pqIndexTopK(spark, dir, "vec_id", q, k = 4, nProbe = 1)
      .as[(Long, Double)].collect().sorted.toSeq === before)
    assert(Similarity.compactPqIndex(spark, dir, minFiles = 2) === Seq.empty)
    assert(Similarity.recoverPqIndex(spark, dir) === false) // healthy: no-op
    intercept[IllegalArgumentException] {
      Similarity.compactPqIndex(spark, java.nio.file.Files.createTempDirectory("notidx").toString)
    }
  }

  test("batch IVFADC: single-query parity, and PQ recall@k responds to nProbe") {
    val cents = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),  // bucket 0 — the probe
      (11L, Seq(0.8f, 0.0f, 0.1f, 0.0f)),  // bucket 0
      (20L, Seq(0.0f, 0.1f, 0.0f, 0.9f))   // bucket 1
    ).toDF("vec_id", "embedding")
    val probes = corpus.filter($"vec_id" === 10L)
    val cb = Similarity.pqGridCodebooks(dim = 4, m = 2, k = 16, lo = -0.75, step = 0.1)

    // Batch == single-query (minus the self row the batch form excludes),
    // scores included — the nested-HOF lookup table must reproduce the
    // driver-computed one exactly.
    for (np <- Seq(1, 2)) {
      val single = Similarity.ivfPqTopK(corpus, cents, "vec_id", "embedding", cb,
        Seq(0.9f.toDouble, 0.1f.toDouble, 0.0, 0.0), k = 3, nProbe = np)
        .filter($"vec_id" =!= 10L).as[(Long, Double)].collect().toSet
      val batch = Similarity.ivfPqTopKBatch(corpus, cents, probes, "vec_id", "embedding",
        cb, k = 3, nProbe = np)
        .select("neighbor_id", "score").as[(Long, Double)].collect().toSet
      assert(batch === single, s"nProbe=$np")
    }

    // Recall@2: the exact baseline for probe 10 is {11, 20}; one probed
    // bucket sees only 11 (recall 0.5), widening to 2 recovers 20 — the
    // same monotone nProbe knob recallAt pins for plain IVF, now measured
    // through the ADC scoring path.
    def recall(np: Int): (Long, Double, Double) =
      Similarity.pqRecallAt(corpus, cents, probes, "vec_id", "embedding", cb,
        k = 2, nProbe = np)
        .select("n_probes", "macro_recall", "micro_recall")
        .as[(Long, Double, Double)].collect().head
    assert(recall(1) === ((1L, 0.5, 0.5)))
    assert(recall(2) === ((1L, 1.0, 1.0)))
  }

  test("persisted-index batch probe: batch == single per probe, partition filter prunes to the touched union") {
    val cents = Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Seq(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, Seq(0.9f, 0.1f, 0.0f, 0.0f)),  // bucket 0
      (11L, Seq(0.8f, 0.0f, 0.1f, 0.0f)),  // bucket 0
      (20L, Seq(0.0f, 0.1f, 0.0f, 0.9f)),  // bucket 1
      (21L, Seq(0.0f, 0.0f, 0.1f, 0.8f))   // bucket 1
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqGridCodebooks(dim = 4, m = 2, k = 16, lo = -0.75, step = 0.1)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-batch").toString
    Similarity.writePqIndex(corpus, cents, "vec_id", "embedding", cb, dir)

    // Per probe, the batch result equals the single-query index probe on
    // that probe's own vector (minus the self row the batch form
    // excludes) — scores included.
    val probes = corpus.filter($"vec_id".isin(10L, 20L))
    val batch = Similarity.pqIndexTopKBatch(spark, dir, probes, "vec_id", "embedding",
      k = 3, nProbe = 1)
    val byProbe = batch.select("probe_id", "neighbor_id", "score")
      .as[(Long, Long, Double)].collect().groupBy(_._1)
      .view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    for ((pid, vec) <- Seq(
        10L -> Seq(0.9f.toDouble, 0.1f.toDouble, 0.0, 0.0),
        20L -> Seq(0.0, 0.1f.toDouble, 0.0, 0.9f.toDouble))) {
      val single = Similarity.pqIndexTopK(spark, dir, "vec_id", vec, k = 3, nProbe = 1)
        .filter($"vec_id" =!= pid).as[(Long, Double)].collect().toSet
      assert(byProbe(pid) === single, s"probe=$pid")
    }

    // The at-rest recall gauge (C88 convention for C117): one probed
    // bucket misses the cross-bucket neighbors, widening recovers them —
    // the same monotone knob pqRecallAt pins for the live path, now
    // measured THROUGH the index.
    def recall(np: Int): (Long, Double) =
      Similarity.pqIndexRecallAt(spark, dir, corpus, probes,
        "vec_id", "embedding", k = 3, nProbe = np)
        .select("n_probes", "micro_recall").as[(Long, Double)].collect().head
    assert(recall(1)._1 === 2L)
    assert(recall(1)._2 < 1.0, "one probed bucket cannot see cross-bucket neighbors")
    assert(recall(2)._2 === 1.0)

    // The codes scan is ONE partition-filtered read over the union of the
    // probed buckets; a single-bucket probe frame leaves the other
    // bucket's directory unread and its vectors unseen.
    val b0 = Similarity.pqIndexTopKBatch(spark, dir,
      corpus.filter($"vec_id" === 10L), "vec_id", "embedding", k = 4, nProbe = 1)
    assert(b0.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(b0.select("neighbor_id").as[Long].collect().toSet === Set(11L))
    val planFiles = b0.queryExecution.executedPlan.collectLeaves().map(_.toString).mkString
    assert(!planFiles.contains("bucket=1"), planFiles.take(2000))
  }

  test("index-backed refined search: equals live refined search, float fetch is candidate-sized and pushed down") {
    // Deterministic 8-dim corpus with enough spread that ADC and exact
    // rankings differ at the margin — the refine stage must repair it
    // identically in both forms.
    val corpus = (0L until 48L).map { i =>
      (i, Array.tabulate(8)(j => (math.sin(i * 13 + j * 5) * 0.7).toFloat).toSeq)
    }.toDF("vec_id", "embedding")
    val cents = corpus.filter($"vec_id" < 4)
    val probes = corpus.filter($"vec_id".between(40, 42))
    val cb = Similarity.pqGridCodebooks(dim = 8, m = 2, k = 16)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-refine").toString
    Similarity.writePqIndex(corpus, cents, "vec_id", "embedding", cb, dir)
    // Float corpus at rest — the realistic source the candidate fetch
    // must prune instead of scanning.
    corpus.write.parquet(s"$dir/floats")
    val floats = spark.read.parquet(s"$dir/floats")

    val live = {
      val enc = Similarity.pqEncode(
        Similarity.assignBuckets(corpus, cents, "vec_id", "embedding")
          .select(col("vid"), col("bucket"), col("__v")), "__v", cb)
        .select(col("vid"), col("bucket"), col("codes"))
      Similarity.pqRefinedTopKBatch(enc, cents, corpus, probes, "vec_id", "embedding",
        cb, k = 3, refineK = 8, nProbe = 2)
        .as[(Long, Long, Double, Int)].collect().sorted.toSeq
    }
    val viaIndex = Similarity.pqIndexRefinedTopKBatch(spark, dir, floats, probes,
      "vec_id", "embedding", k = 3, refineK = 8, nProbe = 2)
    assert(viaIndex.as[(Long, Long, Double, Int)].collect().sorted.toSeq === live)

    // The float read carries the candidate-id In predicate down into the
    // parquet scan — row groups outside the shortlist never decode.
    val floatScan = viaIndex.queryExecution.executedPlan.collectLeaves()
      .map(_.toString).find(s => s.contains("floats"))
    assert(floatScan.exists(s => s.contains("PushedFilters") && s.contains("In(vec_id")),
      floatScan.getOrElse("no floats scan in plan").take(2000))
  }

  test("quantized search: top-k over dequantized vectors agrees with exact cosine") {
    // 40 deterministic pseudo-random 16-dim vectors; int8 reconstruction
    // perturbs each coordinate by < scale/2, so the cosine ranking over
    // dequantized vectors must agree with the exact ranking except where
    // similarities were already within quantization noise — on this
    // fixture the top-5 sets match probe-for-probe, which is the
    // integration contract (C39 feeds C5/C6 search directly).
    val vecs = (1L to 40L).map { i =>
      val xs = Array.tabulate(16)(j => (math.sin(i * 31 + j * 7) * 0.9).toFloat)
      (i, xs)
    }.toDF("vec_id", "embedding")
    val probes = vecs.filter(col("vec_id") <= 3)
    val exact = Similarity.cosineTopK(vecs, probes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val deq = Similarity.quantizeInt8(vecs, "embedding")
      .select(col("vec_id"),
        Similarity.dequantize(col("qvec"), col("scale")).cast("array<float>").as("embedding"))
    val qProbes = deq.filter(col("vec_id") <= 3)
    val approx = Similarity.cosineTopK(deq, qProbes, "vec_id", "embedding", k = 5)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    assert(exact.keySet === approx.keySet)
    exact.foreach { case (p, ids) => assert(approx(p) === ids, s"probe $p") }
  }

  test("per-stratum cap: bound enforced, deterministic, no-op when under cap") {
    val d = (1L to 40L).map(i => (i, if (i <= 30) "big" else "small", s"t$i"))
      .toDF("doc_id", "source", "text")
    val capped = Sampling.capPerStratum(d, "doc_id", "source", maxPerStratum = 10, seed = 7)
    val bySrc = capped.groupBy("source").count().as[(String, Long)].collect().toMap
    assert(bySrc("big") === 10L)    // cap bites
    assert(bySrc("small") === 10L)  // 10 rows <= cap: all kept
    // Deterministic: a rerun keeps the identical id set.
    val again = Sampling.capPerStratum(d, "doc_id", "source", maxPerStratum = 10, seed = 7)
    assert(capped.select("doc_id").as[Long].collect().toSet ===
      again.select("doc_id").as[Long].collect().toSet)
    // A different seed selects a different (but equally sized) subset.
    val other = Sampling.capPerStratum(d, "doc_id", "source", maxPerStratum = 10, seed = 8)
      .filter(col("source") === "big").select("doc_id").as[Long].collect().toSet
    assert(other.size === 10)
    assert(other !== capped.filter(col("source") === "big").select("doc_id").as[Long].collect().toSet)
  }

  test("weighted reservoir: bound + determinism, zero-weight excluded, E-S inclusion tracks weight across seeds") {
    val d = (1L to 40L).map(i =>
      (i, "s", if (i <= 20) 9L else 1L)).toDF("doc_id", "src", "w")
    val got = Sampling.weightedSample(d, "doc_id", "w", "src", k = 10, seed = 3)
    assert(got.count() === 10L)
    // Deterministic: identical selection on rerun; ranks are 1..k.
    val again = Sampling.weightedSample(d, "doc_id", "w", "src", k = 10, seed = 3)
    assert(got.select("doc_id", "rnk").as[(Long, Int)].collect().toSet ===
      again.select("doc_id", "rnk").as[(Long, Int)].collect().toSet)
    assert(got.select("rnk").as[Int].collect().sorted.toSeq === (1 to 10))
    // Non-positive weight never samples (the E-S key is undefined).
    val z = (1L to 5L).map(i => (i, "s", if (i == 3) 0L else 1L)).toDF("doc_id", "src", "w")
    assert(!Sampling.weightedSample(z, "doc_id", "w", "src", k = 5, seed = 1)
      .select("doc_id").as[Long].collect().contains(3L))

    // E-S inclusion law, exercised across seeds (each seed is an
    // independent frozen-uniform draw): with one 9-weight row vs nine
    // 1-weight rows and k = 1, the heavy row wins with p = 9/18 = 0.5;
    // over 200 seeds the frequency must sit inside ±4σ (σ ≈ 0.035).
    val pair = ((1L to 9L).map(i => (i, "s", 1L)) :+ ((10L, "s", 9L)))
      .toDF("doc_id", "src", "w")
    val wins = (1 to 200).count { seed =>
      Sampling.weightedSample(pair, "doc_id", "w", "src", k = 1, seed = seed)
        .select("doc_id").as[Long].first() === 10L
    }
    assert(wins >= 72 && wins <= 128, s"heavy-row wins $wins/200, expected ~100")
  }

  test("simhash width is parametric: low bits agree across widths, wide banding finds high-bit flips") {
    // Per-bit majority votes are independent, so a 60-bit fingerprint's
    // low 32 bits must equal the 32-bit fingerprint exactly — widening
    // for scale (smaller band buckets) never changes what the narrow
    // fingerprint said.
    val docs = Seq((1L, "alpha beta gamma delta"), (2L, "epsilon zeta eta theta"),
      (3L, "alpha beta gamma delta iota")).toDF("doc_id", "text")
    val fp32 = Dedup.simhash(docs, "doc_id", "text").as[(Long, Long)].collect().toMap
    val fp60 = Dedup.simhash(docs, "doc_id", "text", bits = 60).as[(Long, Long)].collect().toMap
    assert(fp32.keySet === fp60.keySet)
    fp32.foreach { case (id, f32) => assert((fp60(id) & 0xFFFFFFFFL) === f32) }
    assert(fp60.values.exists(f => (f >>> 32) != 0L)) // the extra width is real
    // Wide-fingerprint banding honors the pigeonhole guarantee at high bit
    // positions: a single flip at bit 55 is within the ball and found.
    val fps = Seq((1L, 0x0FF00FF00FF00FFL), (2L, 0x0FF00FF00FF00FFL ^ (1L << 55))).toDF("id", "fp")
    val out = Dedup.hammingPairs(fps, "id", "fp", maxHamming = 3, bits = 60)
      .select("doc_a", "doc_b", "hamming").as[(Long, Long, Int)].collect().toSet
    assert(out === Set((1L, 2L, 1)))
    // And width changes occupancy, not membership: the 32-bit run on the
    // same (low-bits) fingerprints reports the same pair.
    val narrow = Dedup.hammingPairs(
      fps.select(col("id"), col("fp").bitwiseAND(lit(0xFFFFFFFFL)).as("fp")),
      "id", "fp", maxHamming = 3, bits = 32)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(narrow === Set((1L, 2L)))
  }

  test("hammingPairsDiag reports cap-dropped buckets; capped docs pair via other bands") {
    // 5 identical fingerprints flood every (band, seg) bucket past cap=4;
    // the diagnostic must surface all 4 dropped buckets and the pair
    // frame must come back empty rather than fan out quadratically.
    val flood = (1L to 5L).map(i => (i, 0x12345678L)).toDF("id", "fp")
    val d = Dedup.hammingPairsDiag(flood, "id", "fp", maxHamming = 3, bucketCap = 4)
    assert(d.pairs.count() === 0L)
    val dropped = d.droppedBuckets.select("band", "occupancy").as[(Int, Long)].collect()
    assert(dropped.length === 4 && dropped.forall(_._2 === 5L))
    // The cap is PER BUCKET: an under-cap pair elsewhere in the frame
    // still pairs while the flood's buckets are dropped — and a
    // distance-1 neighbour of the flood is collateral damage (it pushes
    // the three segments it shares with the flood over cap and sits
    // alone in its fourth), which is exactly the silent-loss mode the
    // diagnostic exists to surface.
    val mixed = flood
      .union(Seq((6L, 0x12345679L), (10L, 0x7A7A7A7AL), (11L, 0x7A7A7A7BL)).toDF("id", "fp"))
    val d2 = Dedup.hammingPairsDiag(mixed, "id", "fp", maxHamming = 3, bucketCap = 4)
    val pairs = d2.pairs.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 11L)))
    assert(d2.droppedBuckets.count() === 4L) // flood+neighbour segments
    // Under an unconstrained cap nothing is dropped: the flood clique,
    // its neighbour, and the distant pair all appear — C(6,2) + 1.
    val d3 = Dedup.hammingPairsDiag(mixed, "id", "fp", maxHamming = 3, bucketCap = 200)
    assert(d3.droppedBuckets.count() === 0L)
    assert(d3.pairs.count() === 16L)
  }

  test("block dedup strips aligned duplicate blocks, keeps the global-first occurrence") {
    val corpus = Seq(
      (1L, "a b c d e f g h"), // canonical: both blocks first occurrences
      (2L, "a b c d x y z w"), // block 0 duplicates doc 1's block 0
      (3L, "a b c d e f g h"), // full duplicate of doc 1
      (4L, "p q r s p q r s"), // within-doc repetition
      (5L, "z a b c d e f g"), // doc 1's tokens shifted by one: misaligned
      (6L, "t u v w x") // 5 tokens -> full block + short tail block
    ).toDF("doc_id", "text")
    val out = Dedup.stripDuplicateBlocks(corpus, "doc_id", "text", blockTokens = 4)
      .select("doc_id", "n_blocks", "n_removed", "text_clean")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) === ((2L, 0L, "a b c d e f g h"))) // first occurrence keeps all
    assert(out(2L) === ((2L, 1L, "x y z w"))) // shared block stripped
    assert(out(3L) === ((2L, 2L, ""))) // fully duplicated -> empty
    assert(out(4L) === ((2L, 1L, "p q r s"))) // self-repetition stripped
    // The approximation contract: a copy shifted off the block grid is
    // NOT caught (suffix arrays would; the shingle family covers it).
    assert(out(5L) === ((2L, 0L, "z a b c d e f g")))
    assert(out(6L) === ((2L, 0L, "t u v w x"))) // short tail block kept

    val rep = Dedup.duplicatedBlocks(corpus, "doc_id", "text", blockTokens = 4)
      .select("n_docs", "n_occ").as[(Long, Long)].collect().toSeq
    // "a b c d" in docs 1,2,3; "e f g h" in docs 1,3; "p q r s" twice in doc 4.
    assert(rep.sorted === Seq((1L, 2L), (2L, 2L), (3L, 3L)))
  }

  test("incremental block strip equals the full strip restricted to the delta") {
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "p q r s t u v w")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "a b c d e f g h"), // full duplicate of corpus doc 1 -> empty
      (11L, "e f g h m m m m"), // corpus-known block + fresh block
      (12L, "m m m m k k k k"), // "m m m m" repeats within the delta: doc 11 keeps it
      (13L, "z z z z")          // entirely fresh
    ).toDF("doc_id", "text")

    val incr = Dedup.stripBlocksAgainst(
      delta, Dedup.blockInventory(corpus, "doc_id", "text", blockTokens = 4),
      "doc_id", "text", blockTokens = 4)
      .select("doc_id", "n_blocks", "n_removed", "text_clean")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // With every corpus id below every delta id, the incremental result
    // must equal the full strip over corpus ∪ delta, delta rows only.
    val full = Dedup.stripDuplicateBlocks(
      corpus.unionByName(delta), "doc_id", "text", blockTokens = 4)
      .filter($"doc_id" >= 10L)
      .select("doc_id", "n_blocks", "n_removed", "text_clean")
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(incr === full)
    assert(incr(10L) === ((2L, 2L, "")))
    assert(incr(11L) === ((2L, 1L, "m m m m")))
    assert(incr(12L) === ((2L, 1L, "k k k k")))
    assert(incr(13L) === ((1L, 0L, "z z z z")))
  }

  test("common-block strip drops boilerplate from EVERY carrier, keeps sub-threshold blocks") {
    val corpus = Seq(
      (1L, "h h h h a a a a"), // header + own content
      (2L, "h h h h b b b b"), // header + own content
      (3L, "h h h h c c c c"), // header + own content
      (4L, "d d d d e e e e"), // no header
      (5L, "d d d d f f f f"), // shares "d d d d" with doc 4 only (df=2 < 3)
      (6L, "g g g g g g g g")  // within-doc repeat, single doc (df=1)
    ).toDF("doc_id", "text")
    val out = Dedup.stripCommonBlocks(corpus, "doc_id", "text", minDocs = 3, blockTokens = 4)
      .select("doc_id", "n_blocks", "n_removed", "text_clean")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // The header block (df=3) is dropped from ALL THREE carriers — the
    // first occurrence too, the policy difference vs stripDuplicateBlocks.
    assert(out(1L) === ((2L, 1L, "a a a a")))
    assert(out(2L) === ((2L, 1L, "b b b b")))
    assert(out(3L) === ((2L, 1L, "c c c c")))
    // df=2 < minDocs=3: both carriers keep it.
    assert(out(4L) === ((2L, 0L, "d d d d e e e e")))
    assert(out(5L) === ((2L, 0L, "d d d d f f f f")))
    // Within-doc repetition is ONE distinct document: not boilerplate here.
    assert(out(6L) === ((2L, 0L, "g g g g g g g g")))
    // Same corpus under the dedup policy: doc 1 would KEEP the header.
    val dedup = Dedup.stripDuplicateBlocks(corpus, "doc_id", "text", blockTokens = 4)
      .filter($"doc_id" === 1L).select("text_clean").as[String].head()
    assert(dedup === "h h h h a a a a")
  }

  test("semDedup keeps one representative per semantic group, passes unpaired columns through") {
    // 2-D toy embedding space: an exact-duplicate trio along +x, a
    // near-duplicate pair along +y (cos > 0.95), and a lone diagonal.
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f), "a"),
      (2L, Array(2.0f, 0.0f), "b"),   // same direction as 1
      (3L, Array(3.0f, 0.001f), "c"), // cos ~1 with 1,2
      (10L, Array(0.0f, 1.0f), "d"),
      (11L, Array(0.02f, 1.0f), "e"), // cos ~0.9998 with 10
      (20L, Array(1.0f, 1.0f), "f")   // cos ~0.707 to both groups: unpaired
    ).toDF("vec_id", "embedding", "tag")
    val cents = Seq(
      (100L, Array(1.0f, 0.1f)), (101L, Array(0.1f, 1.0f))
    ).toDF("vec_id", "embedding")
    val kept = Similarity.semDedup(vecs, cents, "vec_id", "embedding", threshold = 0.95)(
      _.select("vec_id", "tag").as[(Long, String)].collect().toMap)
    // min-id representative per group + the unpaired vector; every input
    // column survives the prune.
    assert(kept === Map(1L -> "a", 10L -> "d", 20L -> "f"))
  }

  test("unigram NLL: hand-computed add-1 scores, OOV scored finite against a reference model") {
    // Model corpus: 4 tokens total, 2 distinct (x:3, y:1). V=2, N=4.
    val ref = Seq((1L, "x x x y")).toDF("doc_id", "text")
    val model = TextStats.unigramCounts(ref, "text")
    assert(model.as[(String, Long)].collect().toMap === Map("x" -> 3L, "y" -> 1L))
    // p(x) = (3+1)/(4+2) = 2/3; p(y) = (1+1)/6 = 1/3; p(oov) = 1/6.
    val scored = TextStats.unigramNllAgainst(
      Seq((10L, "x y"), (11L, "z z")).toDF("doc_id", "text"),
      model, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val nll = (p: Seq[Double]) =>
      BigDecimal(-p.map(math.log).sum / p.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(scored(10L) === ((2L, nll(Seq(2.0 / 3, 1.0 / 3)))))
    assert(scored(11L) === ((2L, nll(Seq(1.0 / 6, 1.0 / 6))))) // OOV: finite, high
    assert(scored(11L)._2 > scored(10L)._2) // junk scores worse
    // Self-trained convenience form agrees with the explicit composition.
    val self = TextStats.unigramNll(ref, "doc_id", "text").as[(Long, Long, Double)].head()
    assert(self === ((1L, 4L, nll(Seq(2.0 / 3, 2.0 / 3, 2.0 / 3, 1.0 / 3)))))
    intercept[IllegalArgumentException] {
      TextStats.unigramNllAgainst(ref, model, "doc_id", "text", addK = 0.0)
    }
  }

  test("bigram NLL: hand-computed conditionals, word-order damage collapses the score, OOV finite") {
    // Model corpus: "a b a b" — unigrams a:2 b:2 (V=2, N=4); bigrams
    // (a,b):2, (b,a):1.
    val ref = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val big = TextStats.bigramCounts(ref, "text")
    assert(big.as[(String, String, Long)].collect().toSet ===
      Set(("a", "b", 2L), ("b", "a", 1L)))
    val uni = TextStats.unigramCounts(ref, "text")
    val nll = (p: Seq[Double]) =>
      BigDecimal(-p.map(math.log).sum / p.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // "a b": start p(a) = (2+1)/(4+2) = 1/2; p(b|a) = (2+1)/(2+2) = 3/4.
    // "b b": start p(b) = 1/2; p(b|b) = (0+1)/(2+2) = 1/4 — the in-vocab
    //         but order-broken pair scores strictly worse.
    // "z z": OOV start 1/6; p(z|z) = (0+1)/(0+2) = 1/2 — finite.
    val scored = TextStats.bigramNllAgainst(
      Seq((10L, "a b"), (11L, "b b"), (12L, "z z")).toDF("doc_id", "text"),
      big, uni, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(scored(10L) === ((2L, nll(Seq(0.5, 0.75)))))
    assert(scored(11L) === ((2L, nll(Seq(0.5, 0.25)))))
    assert(scored(12L) === ((2L, nll(Seq(1.0 / 6, 0.5)))))
    assert(scored(11L)._2 > scored(10L)._2, "broken word order must score worse")
    // The t12 blind spot, pinned: a SHUFFLED doc has the IDENTICAL
    // unigram score but a strictly worse bigram score.
    val pair = Seq((20L, "a b a b"), (21L, "b b a a")).toDF("doc_id", "text")
    val uniScores = TextStats.unigramNllAgainst(pair, uni, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(uniScores(20L) === uniScores(21L), "unigram is order-blind by construction")
    val bigScores = TextStats.bigramNllAgainst(pair, big, uni, "doc_id", "text")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(bigScores(21L) > bigScores(20L), "bigram sees the order damage")
    // Single-token doc: start-distribution only, no bigram term.
    val solo = TextStats.bigramNllAgainst(
      Seq((30L, "a")).toDF("doc_id", "text"), big, uni, "doc_id", "text")
      .as[(Long, Long, Double)].head()
    assert(solo === ((30L, 1L, nll(Seq(0.5)))))
    intercept[IllegalArgumentException] {
      TextStats.bigramNllAgainst(ref, big, uni, "doc_id", "text", addK = 0.0)
    }
  }

  test("epoch shuffle: exact permutation per shard, deterministic, fresh order per seed") {
    val d = (1L to 200L).toDF("doc_id")
    val a = Sampling.epochShuffle(d, "doc_id", numShards = 4, epochSeed = 1)
      .select("doc_id", "shard", "ord").as[(Long, Int, Long)].collect()
    // Every row exactly once; shards in range; ord contiguous 1..n per shard.
    assert(a.map(_._1).sorted === (1L to 200L).toArray)
    assert(a.forall(r => r._2 >= 0 && r._2 < 4))
    a.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted === (1L to rows.length).toArray)
    }
    // Deterministic replay; a new seed is a different permutation.
    val b = Sampling.epochShuffle(d, "doc_id", numShards = 4, epochSeed = 1)
      .select("doc_id", "shard", "ord").as[(Long, Int, Long)].collect()
    assert(a.sorted === b.sorted)
    val c = Sampling.epochShuffle(d, "doc_id", numShards = 4, epochSeed = 2)
      .select("doc_id", "shard", "ord").as[(Long, Int, Long)].collect()
    assert(c.sorted !== a.sorted)
  }

  test("chunking: strided windows cover the doc, overlap correct, final window partial") {
    val d = Seq((1L, (0 until 10).map(i => s"t$i").mkString(" "))).toDF("doc_id", "text")
    val out = Packing.chunk(d, "doc_id", "text", chunkTokens = 4, stride = 3)
      .orderBy("chunk_idx")
      .select("chunk_idx", "chunk_start", "n_tokens", "chunk_text")
      .as[(Int, Int, Int, String)].collect()
    assert(out.map(_._2).toSeq === Seq(0, 3, 6, 9))
    assert(out.map(_._3).toSeq === Seq(4, 4, 4, 1)) // last window partial, not padded
    assert(out(0)._4 === "t0 t1 t2 t3")
    assert(out(1)._4 === "t3 t4 t5 t6") // 1-token overlap with the previous window
    assert(out(3)._4 === "t9")
    // Stitching the first `stride` tokens of each window reconstructs the doc.
    val stitched = out.map(c => c._4.split(" ").take(3)).flatten.distinct
    assert(stitched.toSeq === (0 until 10).map(i => s"t$i"))
  }

  test("frame sampling: at most maxSamples evenly-strided indices, stub byte offsets") {
    val d = Multimodal.decodeStub(Multimodal.ingestBinary(docs, "doc_id", "text"))
    val out = Multimodal.sampleFrames(d, "doc_id", maxSamples = 4)
      .select("doc_id", "n_frames", "frame_idx", "byte_offset")
      .as[(Long, Int, Int, Long)].collect()
    val meta = d.select("doc_id", "n_frames", "width", "height")
      .as[(Long, Int, Int, Int)].collect()
      .map(r => r._1 -> r).toMap
    out.groupBy(_._1).foreach { case (id, rows) =>
      val (_, nf, w, h) = meta(id)
      val idxs = rows.map(_._3).sorted
      assert(idxs.length <= 4 && idxs.head === 0)
      val step = (nf + 3) / 4
      assert(idxs.toSeq === (0 until nf by step).toSeq)
      rows.foreach(r => assert(r._4 === r._3.toLong * w * h * 3))
    }
  }

  test("resize plan: aspect preserved, no upscale, degenerate strip floors at 1px") {
    val d = Seq(
      (1L, 640, 480),  // shrink: longest 640 → 224, short side 168
      (2L, 100, 50),   // under the box: untouched
      (3L, 224, 224),  // exactly at the box: untouched
      (4L, 10000, 2)   // extreme strip: height would round to 0 → floor 1
    ).toDF("id", "width", "height")
    val out = Multimodal.resizePlan(d, maxSide = 224)
      .select("id", "out_w", "out_h", "resized")
      .as[(Long, Int, Int, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 224, 168, true)))
    assert(out(2L) === ((2L, 100, 50, false)))
    assert(out(3L) === ((3L, 224, 224, false)))
    assert(out(4L) === ((4L, 224, 1, true)))
  }

  test("sentence chunking: boundaries respected, straddler lands early, oversize atomic") {
    val docs = Seq(
      // 4 sentences of 3/3/3/2 tokens; budget 5: exclusive cums 0,3,6,9 →
      // chunks 0,0,1,1 — the second sentence STRADDLES (chunk 0 holds 6
      // tokens) and is never split.
      (1L, "a b one. c d two. e f three! g four?"),
      // one giant unpunctuated doc: a single atomic chunk over budget
      (2L, (1 to 12).map(i => s"w$i").mkString(" ")),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Packing.chunkBySentences(docs, "doc_id", "text", budget = 5)
      .select("doc_id", "chunk_idx", "chunk_text", "n_tokens", "n_sentences")
      .as[(Long, Long, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out((1L, 0L)) === ((1L, 0L, "a b one. c d two.", 6L, 2L)))
    assert(out((1L, 1L)) === ((1L, 1L, "e f three! g four?", 5L, 2L)))
    assert(out((2L, 0L))._4 === 12L) // atomic despite 12 > 5
    assert(out((2L, 0L))._5 === 1L)
    assert(out.contains((3L, 0L))) // empty text: one empty sentence row
    // Reconstruction: chunks joined in order give back the text.
    val rejoined = out.toSeq.filter(_._1._1 == 1L).sortBy(_._1._2).map(_._2._3).mkString(" ")
    assert(rejoined === "a b one. c d two. e f three! g four?")
  }

  test("segment plan: hop stride, truncated final window, exact sample offsets") {
    val d = Seq(
      (1L, 16000, 3200L), // 3 segs at hop 1500: [0,2000) [1500,3200) [3000,3200)
      (2L, 44100, 900L)   // shorter than one window: a single truncated seg
    ).toDF("id", "sample_rate", "duration_ms")
    val out = Multimodal.segmentPlan(d, windowMs = 2000, hopMs = 1500)
      .select("id", "seg_idx", "start_ms", "end_ms", "start_sample", "end_sample")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(out === Set(
      (1L, 0L, 0L, 2000L, 0L, 32000L),
      (1L, 1L, 1500L, 3200L, 24000L, 51200L),
      (1L, 2L, 3000L, 3200L, 48000L, 51200L),
      // 44100 Hz: 900 ms → 39690 samples, truncating arithmetic.
      (2L, 0L, 0L, 900L, 0L, 39690L)))
  }

  test("markup strip: tags out, entities decoded once with amp-last ordering") {
    val d = Seq((1L, "<p>a &amp;lt; b</p> <br/> &quot;x&quot; &#39;y&#39; &gt;"))
      .toDF("id", "text")
    val r = d.select(TextOps.stripMarkup(col("text")).as("c"),
        TextOps.tagCount(col("text")).as("n"))
      .as[(String, Long)].first()
    // &amp;lt; decodes to the literal "&lt;" (one pass), not to "<".
    assert(r._1 === "a &lt; b \"x\" 'y' >")
    assert(r._2 === 3L)
  }

  test("URL normalization: query/fragment stripped, scheme+host lowercased, path case kept") {
    val d = Seq(
      (1L, "HTTPS://WWW.Example.COM/Path/Sub/?q=1&r=2#frag"),
      (2L, "http://a.b.example.org/x"),
      (3L, "https://example.com/")
    ).toDF("id", "url")
    val out = d.select(col("id"),
        TextOps.normalizeUrl(col("url")).as("n"),
        TextOps.urlHost(col("url")).as("h"),
        TextOps.registeredDomain(TextOps.urlHost(col("url"))).as("d"))
      .as[(Long, String, String, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._2 === "https://www.example.com/Path/Sub")
    assert(out(1L)._3 === "www.example.com")
    assert(out(1L)._4 === "example.com")
    assert(out(2L)._2 === "http://a.b.example.org/x")
    assert(out(2L)._4 === "example.org")
    assert(out(3L)._2 === "https://example.com") // bare trailing slash dropped
  }

  test("temperature sampling: smallest stratum kept whole, α=1 is identity, deterministic") {
    val d = ((1L to 40L).map(i => (i, "big")) ++ (41L to 45L).map(i => (i, "small")))
      .toDF("doc_id", "stratum")
    val kept = Sampling.temperatureSample(d, "doc_id", "stratum", alpha = 0.5, seed = 3)
      .select("doc_id", "stratum").as[(Long, String)].collect()
    // rate_small = (5/5)^-0.5 = 1 → all 5 kept; rate_big = (40/5)^-0.5 ≈ 0.354.
    assert(kept.filter(_._2 == "small").map(_._1).sorted === (41L to 45L).toArray)
    val nBig = kept.count(_._2 == "big")
    assert(nBig > 0 && nBig < 40, s"big stratum should be thinned, kept $nBig/40")
    // Deterministic replay.
    val again = Sampling.temperatureSample(d, "doc_id", "stratum", alpha = 0.5, seed = 3)
      .select("doc_id", "stratum").as[(Long, String)].collect()
    assert(kept.sorted === again.sorted)
    // α = 1: every rate is 1, nothing dropped.
    val all = Sampling.temperatureSample(d, "doc_id", "stratum", alpha = 1.0, seed = 3)
    assert(all.count() === 45)
  }

  test("novelty: exact copies score 0, fresh docs score 1, near-dup scores only its new gram") {
    val out = Dedup.noveltyScores(docs, "doc_id", "text")
      .select("id", "n_shingles", "n_novel", "novelty")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._4 === 0.0 && out(2L)._4 === 0.0) // every shingle shared with the twin
    assert(out(4L)._4 === 1.0 && out(5L)._4 === 1.0) // nothing shared
    assert(out(3L) === ((3L, 8L, 1L, 0.125))) // 7 grams shared with 1/2, one fresh tail gram
  }

  test("containment pairs: excerpt scores 1.0 where symmetric jaccard misses it") {
    // 5-token excerpt of doc 4: 3 shingles, all inside doc 4's 6 → containment
    // 1.0, jaccard 0.5 — invisible to the 0.6 jaccard threshold.
    val corpus = docs.unionByName(
      Seq((99L, "completely different text about spark")).toDF("doc_id", "text"))
    val cont = Dedup.withContainmentPairs(corpus, "doc_id", "text", n = 3, dfCap = 50, threshold = 0.9)(
      _.as[(Long, Long, Double)].collect().toSet)
    assert(cont === Set((1L, 2L, 1.0), (1L, 3L, 1.0), (2L, 3L, 1.0), (4L, 99L, 1.0)))
    val jac = Dedup.withJaccardPairs(corpus, "doc_id", "text", n = 3, dfCap = 50, threshold = 0.6)(
      _.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
    assert(!jac.contains((4L, 99L)), s"jaccard should miss the excerpt pair: $jac")
  }

  test("incremental novelty equals the full score over corpus ∪ delta restricted to the delta") {
    val corpus = docs // ids 1-5
    val delta = Seq(
      (101L, "the quick brown fox jumps over the lazy dog"), // corpus copy → 0
      (102L, "an entirely fresh piece of text nobody wrote"), // fresh, but duplicated within the delta → 0
      (103L, "an entirely fresh piece of text nobody wrote"), // delta-internal dup of 102 → 0
      (104L, "completely different text about spark and parquet files tonight") // 1 new tail gram
    ).toDF("doc_id", "text")
    val inv = Dedup.shingleInventory(corpus, "doc_id", "text")
    val incr = Dedup.noveltyAgainst(delta, inv, "doc_id", "text")
      .select("id", "n_shingles", "n_novel", "novelty")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    val full = Dedup.noveltyScores(corpus.unionByName(delta), "doc_id", "text")
      .filter(col("id") >= 100L)
      .select("id", "n_shingles", "n_novel", "novelty")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    assert(incr.toSeq === full.toSeq)
    val byId = incr.map(r => r._1 -> r._4).toMap
    assert(byId(101L) === 0.0 && byId(102L) === 0.0 && byId(103L) === 0.0)
    assert(byId(104L) > 0.0 && byId(104L) < 1.0) // only the shifted tail grams are new
  }

  test("budget select: whole bins above the cut, hash-rank prefix at the boundary, edge budgets") {
    // 10 bins over [0,1]: three docs in bin 9 (score .95), three in bin 5
    // (score .55), each doc 10 tokens.
    val d = ((1L to 3L).map(i => (i, 0.95, 10L)) ++ (11L to 13L).map(i => (i, 0.55, 10L)))
      .toDF("doc_id", "score", "n_tokens")
    def kept(budget: Long): Set[Long] =
      Sampling.selectUnderBudget(d, "doc_id", "score", "n_tokens", budget, bins = 10, seed = 17)
        .select("doc_id").as[Long].collect().toSet
    assert(kept(60L) === (1L to 3L).toSet ++ (11L to 13L).toSet) // budget == total: all
    assert(kept(0L) === Set.empty) // nothing fits
    assert(kept(30L) === (1L to 3L).toSet) // top bin exactly spends it
    // 40 tokens: top bin (30) + ONE doc of the boundary bin — the one
    // ranking first by (hash, id), regardless of id order.
    val atBoundary = kept(40L)
    assert(((1L to 3L).toSet.subsetOf(atBoundary)) && atBoundary.size === 4)
    assert((atBoundary -- (1L to 3L).toSet).head >= 11L)
    // A doc that cannot fully fit is NOT kept partially (atomicity): 35
    // tokens leaves room for half a doc — boundary admits nothing.
    assert(kept(35L) === (1L to 3L).toSet)
  }

  test("mixture schedule: every prefix mixes by weight, ties break by stratum") {
    val d = ((1L to 20L).map(i => (i, "A")) ++ (21L to 40L).map(i => (i, "B")))
      .toDF("doc_id", "stratum")
    val out = Sampling.mixtureSchedule(d, "doc_id", "stratum",
        Map("A" -> 1.0, "B" -> 0.5), seed = 5)
      .orderBy("pos", "stratum", "doc_id")
      .select("stratum").as[String].collect()
    // A strides at 1, B at 2 → every prefix of length 3k holds exactly
    // 2k A's and k B's (the prefix-proportionality a global shuffle
    // cannot promise), until A runs dry.
    for (k <- 1 to 10) {
      val p = out.take(3 * k)
      assert(p.count(_ == "A") === 2 * k && p.count(_ == "B") === k, s"prefix ${3 * k}")
    }
  }

  test("embedding QC: counts zero vectors, catches dim drift and the norm spread") {
    val d = Seq(
      (1L, Array(3f, 4f)),     // norm 5
      (2L, Array(0f, 0f)),     // dead row
      (3L, Array(1f, 0f, 0f))  // dimension drift
    ).toDF("vec_id", "embedding")
    val r = Similarity.embeddingQc(d, "vec_id", "embedding").first()
    assert(r.getLong(0) === 3L)
    assert(r.getInt(1) === 2 && r.getInt(2) === 3) // dim_min / dim_max expose the drift
    assert(r.getLong(3) === 1L && r.getLong(4) === 0L) // one zero vector, nothing non-finite
    assert(r.getDouble(5) === 0.0 && r.getDouble(6) === 5.0 && r.getDouble(7) === 1.0)
  }

  test("cluster purity: planted mixed bucket scores fractionally, pure bucket scores 1, min-label tie") {
    // Two well-separated axes as centroids; vectors hug one axis each.
    val cents = Seq(
      (0L, Array(1f, 0f, 0f), 0),
      (1L, Array(0f, 1f, 0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val vecs = Seq(
      // bucket 0: three label-7, one label-3 → purity 0.75
      (10L, Array(0.9f, 0.1f, 0f), 7), (11L, Array(0.95f, 0f, 0.1f), 7),
      (12L, Array(1f, 0.05f, 0f), 7), (13L, Array(0.8f, 0.2f, 0f), 3),
      // bucket 1: two docs, one of each label → tie broken to the SMALLER label
      (20L, Array(0.1f, 0.9f, 0f), 5), (21L, Array(0f, 1f, 0.1f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.clusterPurity(vecs, cents, "vec_id", "embedding", "label")
      .select("bucket", "n", "top_label", "n_top", "purity")
      .as[(Long, Long, Int, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(out(0L) === ((0L, 4L, 7, 3L, 0.75)))
    assert(out(1L) === ((1L, 2L, 2, 1L, 0.5))) // count tie → label 2 < 5 wins
  }

  test("bm25: hand-computed scores on a planted corpus, rare term dominates, map-only plan") {
    // N=4, Σdl=18, avgdl=4.5; df(dup)=df(merge)=2 → idf = ln(2.5/2.5 + 1)
    // = ln 2 for both terms. Expected scores derived from the formula
    // with these hand-checked constants, NOT by calling the operator.
    val docs = Seq(
      (1L, "dup dup alpha beta"),
      (2L, "merge alpha beta gamma delta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "dup merge alpha")
    ).toDF("doc_id", "text")
    val out = TextStats.bm25TopK(docs, "doc_id", "text", Seq("dup", "merge"), k = 4)
      .as[(Long, Long, Long, Long, Double)].collect()
    def term(tf: Double, dl: Double): Double =
      math.log(2.0) * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 4.5))
    def r6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = Map(
      1L -> r6(term(2, 4) + term(0, 4)),
      2L -> r6(term(0, 5) + term(1, 5)),
      3L -> 0.0,
      4L -> r6(term(1, 3) + term(1, 3)))
    out.foreach { case (id, _, _, _, score) => assert(score === expect(id), s"doc $id") }
    // Both-term doc 4 outranks single-term docs; the no-hit doc is last at 0.
    assert(out.map(_._1).toSeq === Seq(4L, 1L, 2L, 3L))
    // tf/dl evidence columns surface what the score used.
    val byId = out.map(o => o._1 -> o).toMap
    assert(byId(1L)._2 === 4L && byId(1L)._3 === 2L && byId(1L)._4 === 0L)
    // Scale pin: tokens never explode (no Generate) and the top-k is
    // TakeOrdered, not a global sort. k strictly below the corpus size —
    // at k >= maxRows Catalyst ELIMINATES the limit and a plain sort is
    // the right plan anyway.
    val plan = TextStats.bm25TopK(docs, "doc_id", "text", Seq("dup", "merge"), k = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"), "tf must be a HOF projection, not an explode")
    assert(plan.contains("TakeOrdered"), "top-k must be TakeOrdered")
  }

  test("multimodal pipeline: the sniff gate is load-bearing — ungated liars crash the decoder") {
    // A text payload declaring itself image/png. Gated: quarantined
    // before the decoder. Ungated: ImageIO rejects the bytes and the
    // pipeline dies — the gate is not decoration.
    val liar = Multimodal.ingestBinary(
        Seq((9L, "not a png at all")).toDF("doc_id", "text"), "doc_id", "text")
      .withColumn("meta", struct(lit("image/png").as("media_type"),
        col("meta.n_bytes"), col("meta.digest")))
    val real = Multimodal.synthesizePngsNear(Seq(1L, 2L).toDF("doc_id"), "doc_id")
    val mixed = real.unionByName(liar)
    val gated = graft.streaming.StreamingMultimodal.sniffGate(mixed)
      .filter(col("routed") === "accepted" && col("sniffed_type") === "image/png")
      .select("doc_id", "payload", "meta")
    val hashes = Multimodal.decodePngDHash(gated).select("doc_id", "dhash")
      .as[(Long, Long)].collect().map(_._1).sorted.toSeq
    assert(hashes === Seq(1L, 2L), "gate admits exactly the genuine PNGs")
    val boom = intercept[Exception] {
      Multimodal.decodePngDHash(mixed).select("doc_id").collect()
    }
    assert(boom != null)
  }

  test("real resize: NN resample matches formulas, plan parity with resizePlan, identity preserves sum") {
    val idSeq = Seq(0L, 5L, 17L, 23L) // dims 8..31: a mix of shrink and identity at maxSide 16
    val ids = idSeq.toDF("doc_id")
    val synth = Multimodal.synthesizePngs(ids, "doc_id")
    val real = Multimodal.resizePixels(synth, maxSide = 16)
      .select("doc_id", "width", "height", "out_w", "out_h", "resized_sum")
      .as[(Long, Int, Int, Int, Int, Long)].collect().map(r => r._1 -> r).toMap
    // 1. The resampled sum matches the synthesis formula sampled at the
    //    truncating NN source coordinates — computed independently here.
    for (id <- idSeq) {
      val w = (8 + id % 24).toInt
      val h = (8 + (id * 3) % 24).toInt
      val longest = math.max(w, h)
      val (ow, oh) = if (longest > 16)
        (math.max(1, w * 16 / longest), math.max(1, h * 16 / longest)) else (w, h)
      var expect = 0L
      for (yo <- 0 until oh; xo <- 0 until ow) {
        val xs = xo * w / ow
        val ys = yo * h / oh
        expect += (3L * xs + id % 200) % 256 + (5L * xs + 7L * ys + id) % 256 +
          (xs + 11L * ys + 13L * id) % 256
      }
      assert(real(id) === ((id, w, h, ow, oh, expect)), s"doc $id")
    }
    // 2. Plan parity: the real resampler's geometry IS resizePlan's.
    val planned = Multimodal.resizePlan(Multimodal.decodePng(synth), maxSide = 16)
      .select("doc_id", "out_w", "out_h").as[(Long, Int, Int)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    idSeq.foreach(id => assert((real(id)._4, real(id)._5) === planned(id), s"doc $id plan"))
    // 3. Identity plans reproduce the full decode's pixel_sum exactly.
    val fullSums = Multimodal.decodePng(synth).select("doc_id", "pixel_sum")
      .as[(Long, Long)].collect().toMap
    val identity = idSeq.filter { id =>
      math.max((8 + id % 24).toInt, (8 + (id * 3) % 24).toInt) <= 16
    }
    assert(identity.nonEmpty, "fixture must include an identity-plan image")
    identity.foreach(id => assert(real(id)._6 === fullSums(id), s"doc $id identity"))
  }

  test("bm25 posting index: bit-equal to the live scorer, probe partition-pruned, no corpus scan") {
    val docs = Seq(
      (1L, "dup dup alpha beta"),
      (2L, "merge alpha beta gamma delta"),
      (3L, "alpha beta gamma delta epsilon zeta"),
      (4L, "dup merge alpha"),
      (5L, "merge merge dup beta beta")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("bm25-index").toString + "/idx"
    TextStats.writeBm25Index(docs, "doc_id", "text", dir, nBuckets = 8)
    val fromIndex = TextStats.bm25IndexTopK(spark, dir, Seq("dup", "merge"), k = 4)
    val live = TextStats.bm25TopK(docs, "doc_id", "text", Seq("dup", "merge"), k = 4)
    // k = 4 = number of matching docs, so live's zero-score tail (doc 3)
    // is exactly what the index contract excludes -> both return the
    // same 4 matching docs, scores bit-equal (shared contribution tree).
    assert(fromIndex.collect().map(_.toString).sorted.toSeq ===
      live.collect().map(_.toString).sorted.toSeq)
    // The probe reads only the buckets its terms hash to and never
    // re-tokenizes the corpus: partition filter survives to the source.
    val scan = fromIndex.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("pbucket"), scan.take(2000))
    // Zero-match query term against a fresh one-term query still works.
    val solo = TextStats.bm25IndexTopK(spark, dir, Seq("dup"), k = 10)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(solo === Seq(1L, 4L, 5L), "only docs containing the term are indexed matches")
  }

  test("bm25 index maintenance: append == full rebuild bit-for-bit, compact round-trips, recovery rolls forward") {
    val slabA = Seq(
      (1L, "dup dup alpha beta"),
      (2L, "merge alpha beta gamma delta"),
      (3L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val slabB = Seq(
      (4L, "dup merge alpha"),
      (5L, "merge merge dup beta beta"),
      (6L, "")                                 // zero-token doc: counts toward N/avgdl only
    ).toDF("doc_id", "text")
    val base = java.nio.file.Files.createTempDirectory("bm25-maint")
    val dir = base.resolve("idx").toString
    val fresh = base.resolve("fresh").toString
    TextStats.writeBm25Index(slabA, "doc_id", "text", dir, nBuckets = 8)
    TextStats.appendToBm25Index(spark, dir, slabB, "doc_id", "text")
    // Append-visible, and bit-equal to rebuilding over the union: df, N,
    // and Σdl all advanced (doc 6 moves avgdl through N with no posting).
    TextStats.writeBm25Index(slabA.unionByName(slabB), "doc_id", "text", fresh, nBuckets = 8)
    def probeStrings(p: String): Seq[String] =
      TextStats.bm25IndexTopK(spark, p, Seq("dup", "merge"), k = 5)
        .collect().map(_.toString).sorted.toSeq
    assert(probeStrings(dir) === probeStrings(fresh))

    // Compaction: appends accrete file sets per touched bucket; the
    // shared staged-swap rewrite restores the layout, results unchanged,
    // healthy layout converges.
    TextStats.appendToBm25Index(spark, dir,
      Seq((7L, "dup gamma")).toDF("doc_id", "text"), "doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucketFiles(): Map[String, Int] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/postings"))
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("pbucket="))
        .map(d => d.getPath.getName ->
          fs.listStatus(d.getPath).count(f => f.isFile && !f.getPath.getName.startsWith("_")))
        .toMap
    assert(bucketFiles().values.exists(_ >= 2), "appends must have fragmented a bucket")
    val before = probeStrings(dir)
    val compacted = TextStats.compactBm25Index(spark, dir, targetFileBytes = 1L << 30)
    assert(compacted.nonEmpty)
    assert(bucketFiles().values.forall(_ === 1))
    assert(probeStrings(dir) === before)
    assert(TextStats.compactBm25Index(spark, dir, targetFileBytes = 1L << 30) === Seq.empty)

    // Interrupted append (marker present, staging complete): probes fail
    // loudly, recovery promotes forward, the delta becomes visible.
    val sideDocs = Seq((8L, "zeta dup")).toDF("doc_id", "text")
    val expectAfter = {
      val all = slabA.unionByName(slabB)
        .unionByName(Seq((7L, "dup gamma")).toDF("doc_id", "text"))
        .unionByName(sideDocs)
      val p = base.resolve("expect").toString
      TextStats.writeBm25Index(all, "doc_id", "text", p, nBuckets = 8)
      probeStrings(p)
    }
    // Stage the append for real, then "crash" mid-promotion by restoring
    // the marker + re-staging a copy of the sidecars: simulate by doing
    // the staging work with the real writer against a scratch index and
    // moving its postings under append.staging.
    val scratch = base.resolve("scratch").toString
    TextStats.writeBm25Index(sideDocs, "doc_id", "text", scratch, nBuckets = 8)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/append.staging"))
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$scratch/postings"),
      new org.apache.hadoop.fs.Path(s"$dir/append.staging/postings")))
    // Staged sidecars = merged caches (what step 1 writes): build them
    // through the public API against a throwaway copy is overkill here —
    // recompute directly with the same aggregations.
    spark.read.parquet(s"$dir/terms")
      .unionByName(spark.read.parquet(s"$dir/append.staging/postings")
        .groupBy("term").agg(count(lit(1)).as("df")))
      .groupBy("term").agg(sum("df").as("df"))
      .write.parquet(s"$dir/append.staging/terms")
    val c0 = spark.read.parquet(s"$dir/corpus").head()
    spark.range(1).select(
      lit(c0.getLong(c0.fieldIndex("n")) + 1L).as("n"),
      lit(c0.getLong(c0.fieldIndex("sumdl")) + 2L).as("sumdl"),
      lit(c0.getInt(c0.fieldIndex("n_buckets"))).as("n_buckets"))
      .coalesce(1).write.parquet(s"$dir/append.staging/corpus")
    fs.create(new org.apache.hadoop.fs.Path(dir, "_graft_append_intent"), true).close()
    intercept[IllegalStateException] { probeStrings(dir) }
    intercept[IllegalStateException] {
      TextStats.appendToBm25Index(spark, dir, sideDocs, "doc_id", "text")
    }
    assert(TextStats.recoverBm25Index(spark, dir))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir, "_graft_append_intent")))
    assert(probeStrings(dir) === expectAfter)
    // Unmarked staging leftovers are pre-intent garbage; healthy → no-op.
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/append.staging/postings"))
    assert(TextStats.recoverBm25Index(spark, dir))
    assert(!TextStats.recoverBm25Index(spark, dir))
    // Self-healing df cache: losing terms/ does not change answers.
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/terms"), true)
    assert(probeStrings(dir) === expectAfter)
  }

  test("refined ADC search: exact re-rank overturns a quantization tie; equals exact at full width") {
    // Both corpus vectors quantize onto the SAME grid code (0.25 per
    // dim), so the ADC stage ties and the id tiebreak ranks vid 1 first
    // — but vid 2 is exactly parallel to the probe (true cosine 1.0).
    // The refine stage must overturn it.
    val cb = Similarity.pqGridCodebooks(dim = 2, m = 1, k = 16)
    val corpus = Seq((1L, Array(0.31f, 0.18f)), (2L, Array(0.26f, 0.26f)))
      .toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(0.3f, 0.3f))).toDF("vec_id", "embedding")
    val probes = Seq((99L, Array(0.3f, 0.3f))).toDF("vec_id", "embedding")
    val enc = Similarity.pqEncode(
      Similarity.assignBuckets(corpus, cents, "vec_id", "embedding")
        .select(col("vid"), col("bucket"), col("__v")), "__v", cb)
      .select(col("vid"), col("bucket"), col("codes"))
    val raw = Similarity.pqSearchTopKBatch(enc, cents, probes, "vec_id", "embedding", cb, k = 2)
      .orderBy("rnk").as[(Long, Long, Double, Int)].collect()
    assert(raw(0)._3 === raw(1)._3, "quantization collapses both vectors onto one code")
    assert(raw(0)._2 === 1L, "the ADC tie falls to the lower id — the wrong vector")
    val refined = Similarity.pqRefinedTopKBatch(enc, cents, corpus, probes,
        "vec_id", "embedding", cb, k = 2, refineK = 2)
      .orderBy("rnk").as[(Long, Long, Double, Int)].collect()
    assert(refined(0)._2 === 2L, "exact re-rank restores the true nearest")
    assert(refined(0)._3 === 1.0)
    // Candidate stage covered the whole bucket, so refined == exact.
    val exact = Similarity.cosineTopK(corpus, probes, "vec_id", "embedding", k = 2)
      .orderBy("rnk").as[(Long, Long, Double, Int)].collect()
    assert(refined.toSeq === exact.toSeq)
  }

  test("hard-negative mining: rank-1 positive, near-ties skipped, margin negatives capped in order") {
    // Probe (1,0). id 10 is an exact match (positive, sim 1.0); id 11
    // sits INSIDE the 0.05 margin (sim ~0.995 — an unlabeled positive,
    // must be skipped); 12..14 are genuine negatives in descending sim;
    // kNeg = 2 keeps only the two hardest.
    val corpus = Seq(
      (10L, Array(1f, 0f)), (11L, Array(0.99f, 0.1f)),
      (12L, Array(0.9f, 0.5f)), (13L, Array(0.5f, 0.9f)), (14L, Array(0.1f, 0.99f))
    ).toDF("vec_id", "embedding")
    val probe = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.hardNegatives(corpus, probe, "vec_id", "embedding",
        searchK = 10, kNeg = 2, margin = 0.05)
      .orderBy("role", "role_rnk")
      .as[(Long, String, Int, Long, Double)].collect().toSeq
    assert(out.map(r => (r._2, r._3, r._4)) === Seq(
      ("hard_negative", 1, 12L), ("hard_negative", 2, 13L), ("positive", 1, 10L)))
    assert(out.find(_._2 == "positive").get._5 === 1.0)
    assert(!out.exists(_._4 == 11L), "near-tie inside the margin must not be mined")
    // The miner composes with ANY ranked frame: feeding the ranked
    // top-k directly gives the identical result.
    val viaFrom = Similarity.hardNegativesFrom(
        Similarity.cosineTopK(corpus, probe, "vec_id", "embedding", 10), kNeg = 2, margin = 0.05)
      .orderBy("role", "role_rnk")
      .as[(Long, String, Int, Long, Double)].collect().toSeq
    assert(viaFrom === out)
    // ...including the ADC generator, whose similarity column is named
    // `score` (ADVICE r12 #1 — the advertised composition must not
    // throw): simCol routes the margin logic and the output keeps the
    // generator's column name.
    val cents = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val cb = Similarity.pqGridCodebooks(dim = 2, m = 1, k = 16)
    val enc = Similarity.pqEncode(
      Similarity.assignBuckets(corpus, cents, "vec_id", "embedding")
        .select(col("vid"), col("bucket"), col("__v")), "__v", cb)
      .select(col("vid"), col("bucket"), col("codes"))
    val viaAdc = Similarity.hardNegativesFrom(
      Similarity.pqSearchTopKBatch(enc, cents, probe, "vec_id", "embedding", cb, k = 10),
      kNeg = 2, margin = 0.05, simCol = "score")
    assert(viaAdc.columns.toSeq ===
      Seq("probe_id", "role", "role_rnk", "neighbor_id", "score"))
    assert(viaAdc.filter(col("role") === "positive").count() === 1)
  }

  test("media sniffing: every real container types from its bytes; liars and stubs quarantine") {
    val ids = Seq(0L, 1L, 7L).toDF("doc_id")
    def sniffOf(df: org.apache.spark.sql.DataFrame): Seq[(String, Boolean)] =
      Multimodal.sniffMediaType(df).select("sniffed_type", "meta_agrees")
        .as[(String, Boolean)].collect().toSeq.distinct
    assert(sniffOf(Multimodal.synthesizePngs(ids, "doc_id")) === Seq(("image/png", true)))
    assert(sniffOf(Multimodal.synthesizeGifs(ids, "doc_id")) === Seq(("image/gif", true)))
    assert(sniffOf(Multimodal.synthesizeWavs(ids, "doc_id")) === Seq(("audio/wav", true)))
    // text bytes carry no container magic: octet-stream, declaration disagrees.
    assert(sniffOf(Multimodal.ingestBinary(Seq((1L, "some text")).toDF("doc_id", "text"),
      "doc_id", "text")) === Seq(("application/octet-stream", false)))
    // Corrupt cases: a truncated payload and a RIFF container that is NOT
    // WAVE (an AVI) both fall through instead of misclassifying.
    val weird = Seq(
      (1L, "GIF".getBytes("US-ASCII")),                  // truncated magic
      (2L, "RIFF0000AVI LIST".getBytes("US-ASCII"))      // RIFF but not WAVE
    ).toDF("doc_id", "payload")
      .withColumn("meta", struct(lit("video/avi").as("media_type"),
        lit(0L).as("n_bytes"), lit("x").as("digest")))
    assert(sniffOf(weird) === Seq(("application/octet-stream", false)))
    // Pure expression: map-only, no exchange, no decoder escape hatch.
    val plan = Multimodal.sniffMediaType(Multimodal.synthesizePngs(ids, "doc_id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"))
  }

  test("aHash: brightness-shift invariant, resolution-pooled, pairs through the hamming machinery at 63 bits") {
    // The near-dup fixture's v1 variant is a uniform +40/channel shift:
    // block and global means move together, so aHash (like dHash) must
    // not move at all.
    val ids = (0L until 20L).toDF("doc_id")
    val base = (0L until 60L).toDF("doc_id")
    val fps = Multimodal.decodePngAHash(Multimodal.synthesizePngsNear(base, "doc_id"))
      .select("doc_id", "ahash").as[(Long, Long)].collect().toMap
    (0L until 20L).foreach { b =>
      assert(fps(b) === fps(b + 20L), s"base $b: uniform brightness shift must not move aHash")
      // Bit 63 deliberately unused — the sign-safe hamming contract.
      assert(fps(b) >= 0L)
    }
    // Detector diversity: aHash and dHash are different functions of the
    // same pixels (on this fixture they disagree somewhere).
    val dhs = Multimodal.decodePngDHash(Multimodal.synthesizePngs(ids, "doc_id"))
      .select("doc_id", "dhash").as[(Long, Long)].collect().toMap
    val ahs = Multimodal.decodePngAHash(Multimodal.synthesizePngs(ids, "doc_id"))
      .select("doc_id", "ahash").as[(Long, Long)].collect().toMap
    assert((0L until 20L).exists(i => dhs(i) !== ahs(i)))
    // The existing hamming-ball machinery consumes aHash unchanged at
    // width 63: the planted v0/v1 pairs land at hamming 0.
    val pairFps = Multimodal.decodePngAHash(Multimodal.synthesizePngsNear(base, "doc_id"))
      .select(col("doc_id"), col("ahash"))
    val pairs = Dedup.hammingPairs(pairFps, "doc_id", "ahash",
      maxHamming = 0, bits = 63, bucketCap = 100)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    (0L until 20L).foreach(b => assert(pairs.contains((b, b + 20L)), s"pair $b"))
  }

  test("container-header parse: byte-arithmetic dims/rate equal the real decoders, map-only, sniff-gated NULLs") {
    val idSeq = Seq(0L, 1L, 7L, 23L)
    val ids = idSeq.toDF("doc_id")
    // PNG: parsed big-endian IHDR dims == javax.imageio's decoded dims.
    val pngs = Multimodal.synthesizePngs(ids, "doc_id")
    val parsedPng = Multimodal.parseContainerMeta(pngs)
      .select("doc_id", "parsed_w", "parsed_h").as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    val decodedPng = Multimodal.decodePng(pngs)
      .select("doc_id", "width", "height").as[(Long, Int, Int)].collect()
    decodedPng.foreach { case (id, w, h) =>
      assert(parsedPng(id) === ((w.toLong, h.toLong)), s"png $id") }
    // GIF: parsed little-endian screen descriptor == the GIF decoder.
    val gifs = Multimodal.synthesizeGifs(ids, "doc_id")
    val parsedGif = Multimodal.parseContainerMeta(gifs)
      .select("doc_id", "parsed_w", "parsed_h").as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    Multimodal.decodeGifFrames(gifs).select("doc_id", "width", "height")
      .as[(Long, Int, Int)].collect().distinct.foreach { case (id, w, h) =>
        assert(parsedGif(id) === ((w.toLong, h.toLong)), s"gif $id") }
    // WAV: parsed little-endian fmt rate == the javax.sound decoder.
    val wavs = Multimodal.synthesizeWavs(ids, "doc_id")
    val parsedWav = Multimodal.parseContainerMeta(wavs)
      .select("doc_id", "parsed_rate").as[(Long, Long)].collect().toMap
    Multimodal.decodeWav(wavs).select("doc_id", "sample_rate")
      .as[(Long, Int)].collect().foreach { case (id, r) =>
        assert(parsedWav(id) === r.toLong, s"wav $id") }
    // Fields a container doesn't carry stay NULL (images: no rate; audio:
    // no dims).
    assert(Multimodal.parseContainerMeta(pngs).filter(col("parsed_rate").isNotNull).count() === 0)
    assert(Multimodal.parseContainerMeta(wavs).filter(col("parsed_w").isNotNull).count() === 0)
    // JPEG: dims through the SOF segment walk == the synthesis geometry
    // (JPEG encode is lossy but the container geometry is exact); no rate.
    val jpegs = Multimodal.synthesizeJpegs(ids, "doc_id")
    val parsedJpeg = Multimodal.parseContainerMeta(jpegs)
      .select("doc_id", "parsed_w", "parsed_h").as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    idSeq.foreach { id =>
      assert(parsedJpeg(id) === ((8 + id % 24, 8 + (id * 3) % 24)), s"jpeg $id") }
    assert(Multimodal.parseContainerMeta(jpegs).filter(col("parsed_rate").isNotNull).count() === 0)
    // Pure expression: map-only, no exchange.
    assert(!Multimodal.parseContainerMeta(pngs)
      .queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("JPEG perceptual hashes: brightness-invariant through DCT, planted near-dups recovered, bases far apart") {
    // VERDICT r13 next #2: JPEG (the dominant real-crawl image
    // container) feeds the perceptual-dedup machinery. No pixel oracle
    // exists (lossy), so this spec pins the contract the mm17 oracle
    // rides on: planted variants sit INSIDE the pairing ball, distinct
    // bases sit far OUTSIDE it, through real JPEG encode + decode.
    val base = (0L until 60L).toDF("doc_id")
    val jp = Multimodal.synthesizeJpegsNear(base, "doc_id")
    val dh = Multimodal.decodeJpegDHash(jp).select("doc_id", "dhash")
      .as[(Long, Long)].collect().toMap
    val ah = Multimodal.decodeJpegAHash(jp).select("doc_id", "ahash")
      .as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    (0L until 20L).foreach { b =>
      // v1 = uniform +40 brightness: both hashes invariant even through
      // DCT quantization (block margins ≥ 37 levels dwarf the noise).
      assert(ham(dh(b), dh(b + 20)) === 0, s"dhash brightness base $b")
      assert(ham(ah(b), ah(b + 20)) === 0, s"ahash brightness base $b")
      // v2 = one-block tweak: ≤ 1 design bit + a small DCT-noise budget.
      assert(ham(dh(b), dh(b + 40)) <= 2, s"dhash tweak base $b")
      assert(ham(ah(b), ah(b + 40)) <= 4, s"ahash tweak base $b")
    }
    // Distinct bases: every cross-base distance far outside the
    // maxHamming = 4 pairing ball (measured min: dhash 16, ahash 20).
    val crossMin = (for {
      a <- 0L until 20L; b <- 0L until 20L if a < b
      va <- Seq(0L, 20L, 40L); vb <- Seq(0L, 20L, 40L)
    } yield math.min(ham(dh(a + va), dh(b + vb)), ham(ah(a + va), ah(b + vb)))).min
    assert(crossMin > 8, s"cross-base hamming collapsed to $crossMin")
    // The unchanged keep-one machinery resolves exactly the planted
    // groups: 20 canonicals, each the group's v0.
    val fps = Multimodal.decodeJpegDHash(jp).select(col("doc_id"), col("dhash"))
    val pairs = Dedup.hammingPairs(fps, "doc_id", "dhash",
      maxHamming = 4, bits = 56, bucketCap = 100)
    val kept = Dedup.pruneDuplicates(fps, pairs, "doc_id")(
      _.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(kept === (0L until 20L))
    // Detector diversity holds for JPEG too.
    assert((0L until 20L).exists(i => dh(i) !== ah(i)))
  }

  test("JPEG SOF dims: segment walk == real decoder, survives planted metadata segments, honest NULLs") {
    val ids = (0L until 60L).toDF("doc_id")
    val jp = Multimodal.synthesizeJpegsNear(ids, "doc_id")
    // Walk == the real decoder's dimensions on every fixture.
    val parsed = Multimodal.parseContainerMeta(jp)
      .select("doc_id", "parsed_w", "parsed_h").as[(Long, Long, Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    Multimodal.decodeJpegDHash(jp).select("doc_id", "width", "height")
      .as[(Long, Int, Int)].collect().foreach { case (id, w, h) =>
        assert(parsed(id) === ((w.toLong, h.toLong)), s"jpeg $id") }
    // The variable-offset claim for real: splice an APP1 (EXIF-style)
    // segment right after SOI — every later segment shifts, and the
    // walk must still land on SOF. Fixed-offset arithmetic cannot.
    val onePayload = jp.filter(col("doc_id") === 3L)
      .select("payload").head().getAs[Array[Byte]](0)
    val exif = Array(0xff, 0xe1, 0x00, 0x08, 'E'.toInt, 'x'.toInt, 'i'.toInt,
      'f'.toInt, 0x00, 0x00).map(_.toByte)
    val spliced = onePayload.take(2) ++ exif ++ onePayload.drop(2)
    val w3 = 48 + 8 * (3 % 3)
    val h3 = 48 + 8 * ((3 * 2) % 3)
    val splicedRow = Seq((3L, spliced)).toDF("doc_id", "payload")
      .withColumn("meta", struct(
        lit("image/jpeg").as("media_type"),
        lit(spliced.length.toLong).as("n_bytes"),
        lit("planted").as("digest")))
    val sp = Multimodal.parseContainerMeta(splicedRow)
      .select("sniffed_type", "parsed_w", "parsed_h").head()
    assert(sp.getString(0) === "image/jpeg")
    assert(sp.getLong(1) === w3.toLong && sp.getLong(2) === h3.toLong)
    // Honest NULLs: an SOI with no parsable frame header, and a
    // truncated stream, both yield NULL dims — never garbage.
    for (bad <- Seq(
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xd9.toByte), // SOI+EOI
      onePayload.take(6))) { // truncated mid-segment
      val row = Seq((9L, bad)).toDF("doc_id", "payload")
        .withColumn("meta", struct(
          lit("image/jpeg").as("media_type"),
          lit(bad.length.toLong).as("n_bytes"),
          lit("planted").as("digest")))
      val r = Multimodal.parseContainerMeta(row).select("parsed_w", "parsed_h").head()
      assert(r.isNullAt(0) && r.isNullAt(1), s"bad payload len ${bad.length}")
    }
  }

  test("container-header parse: non-canonical WAV (JUNK chunk before fmt) gets NULL rate, never garbage") {
    // Hand-built RIFF/WAVE with a JUNK chunk ahead of fmt — legal RIFF
    // (chunks may appear in any order after WAVE), common in real crawls.
    // It sniffs as audio/wav, but offset 25 holds junk, so the pre-guard
    // parser returned a garbage rate silently (ADVICE r13 #3).
    val bos = new java.io.ByteArrayOutputStream()
    def ascii(s: String): Unit = bos.write(s.getBytes("US-ASCII"))
    def le32(v: Int): Unit =
      (0 until 4).foreach(i => bos.write((v >> (8 * i)) & 0xff))
    def le16(v: Int): Unit =
      (0 until 2).foreach(i => bos.write((v >> (8 * i)) & 0xff))
    ascii("RIFF"); le32(48)
    ascii("WAVE")
    ascii("JUNK"); le32(4); le32(0x00003344) // junk where canonical layout has fmt
    ascii("fmt "); le32(16)
    le16(1); le16(1); le32(8000); le32(16000); le16(2); le16(16)
    ascii("data"); le32(0)
    val bytes = bos.toByteArray
    val df = Seq((1L, bytes)).toDF("doc_id", "payload")
      .withColumn("meta", struct(
        lit("audio/wav").as("media_type"),
        lit(bytes.length.toLong).as("n_bytes"),
        lit("planted").as("digest")))
    val row = Multimodal.parseContainerMeta(df)
      .select("sniffed_type", "parsed_rate").head()
    assert(row.getString(0) === "audio/wav") // the sniff is CORRECT...
    assert(row.isNullAt(1)) // ...and the non-canonical rate is honest NULL
    // Canonical layouts (the JDK writer's output) still parse — contrast.
    val canon = Multimodal.parseContainerMeta(
      Multimodal.synthesizeWavs(Seq(1L).toDF("doc_id"), "doc_id"))
      .select("parsed_rate").head()
    assert(!canon.isNullAt(0) && canon.getLong(0) === 16000L)
  }

  test("repeated spans: cross-doc and intra-doc grams merge into maximal intervals") {
    // n = 3. d1/d2 share "p q r s" (two overlapping grams -> one merged
    // span each); d3 repeats its own opening 3-gram (intra-doc, gap 6 > n
    // -> two spans); d4/d5 share two passages at gap == n (merge) and
    // gap n+1 (stay separate) -- the adjacency boundary both ways.
    val docs = Seq(
      (1L, "p q r s t u v w"),
      (2L, "x x p q r s y z"),
      (3L, "m n o k k k m n o"),
      (4L, "a1 a2 a3 b1 b2 b3 c"),
      (5L, "a1 a2 a3 z b1 b2 b3")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id", "span_idx")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, 1L, 0L, 4L, 2L),
      (2L, 1L, 2L, 6L, 2L),
      (3L, 1L, 0L, 3L, 1L), (3L, 2L, 6L, 9L, 1L),
      (4L, 1L, 0L, 6L, 2L),
      (5L, 1L, 0L, 3L, 1L), (5L, 2L, 4L, 7L, 1L)))
    // Docs shorter than n produce no grams and are absent, not errors.
    val short = Dedup.repeatedSpans(Seq((9L, "a b")).toDF("doc_id", "text"), "doc_id", "text", n = 3)
    assert(short.count() === 0)
    // Mode agreement (the d7 discipline): the xxhash64 production twin
    // computes identical spans — the hash only keys the df index.
    val fast = Dedup.repeatedSpans(docs, "doc_id", "text", n = 3, HashMode.Xxhash64)
      .orderBy("doc_id", "span_idx")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(fast === out)
    // ...and so does the rolling-hash sweep (d28) — including the
    // short-doc guard and the maximal-merge boundaries.
    val rolling = Dedup.repeatedSpansRolling(docs, "doc_id", "text", n = 3)
      .orderBy("doc_id", "span_idx")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(rolling === out)
    assert(Dedup.repeatedSpansRolling(
      Seq((9L, "a b")).toDF("doc_id", "text"), "doc_id", "text", n = 3).count() === 0)
  }

  test("strip spans: covered tokens removed in position order, no-span docs unchanged, full-cover doc empties") {
    // n = 3. d1/d2 share "p q r s" (one merged span each); d3 has no
    // repeats; d4/d5 are whole-doc copies (full-width spans).
    val docs = Seq(
      (1L, "p q r s t u v w"),
      (2L, "x x p q r s y z"),
      (3L, "alpha beta gamma delta"),
      (4L, "c1 c2 c3 c4 c5"),
      (5L, "c1 c2 c3 c4 c5")
    ).toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(docs, "doc_id", "text", n = 3)
    val out = Dedup.stripSpans(docs, spans, "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 8L, 4L, "t u v w"),        // span [0,4) stripped
      (2L, 8L, 4L, "x x y z"),        // span [2,6) stripped, flanks survive in order
      (3L, 4L, 0L, "alpha beta gamma delta"), // untouched
      (4L, 5L, 5L, ""),               // whole-doc copy: empties (quarantine signal)
      (5L, 5L, 5L, "")))
    // Composes identically over the rolling detector (hash-independent).
    val viaRolling = Dedup.stripSpans(docs,
      Dedup.repeatedSpansRolling(docs, "doc_id", "text", n = 3), "doc_id", "text")
      .orderBy("doc_id").as[(Long, Long, Long, String)].collect().toSeq
    assert(viaRolling === out)
    // The anti join keys on the doc id (range terms ride as the join
    // condition) — never a nested-loop over tokens × spans.
    val plan = Dedup.stripSpans(docs, spans, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan.take(2000))
  }

  test("scrub pipeline stages: spam gate quarantines span-dominated docs, identity on a repeat-free corpus") {
    // Four docs: clean (untouched), tail-spam (shared 6-token tail over a
    // 4-token base — more than half removed, quarantined), two whole-doc
    // copies (fully covered — emptied, quarantined).
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "base one two win s1 s2 s3 s4 s5 s6"),
      (3L, "other four pie toe s1 s2 s3 s4 s5 s6"),
      (4L, "c1 c2 c3 c4 c5 c6 c7"),
      (5L, "c1 c2 c3 c4 c5 c6 c7")
    ).toDF("doc_id", "text")
    val scrub = Dedup.stripSpans(docs,
      Dedup.repeatedSpansRolling(docs, "doc_id", "text", n = 3), "doc_id", "text")
    val gated = scrub.filter(col("n_tokens") - col("n_removed") > 0 &&
        col("n_removed") * 2 <= col("n_tokens"))
      .select("doc_id").as[Long].collect().toSet
    assert(gated === Set(1L), "spam-dominated and emptied docs quarantine; clean doc survives")
    // Repeat-free corpus: the whole pipeline is the identity — nothing
    // scrubbed, nothing gated.
    val clean = Seq((1L, "a b c d e"), (2L, "f g h i j")).toDF("doc_id", "text")
    val out = Dedup.stripSpans(clean,
      Dedup.repeatedSpansRolling(clean, "doc_id", "text", n = 3), "doc_id", "text")
    assert(out.filter(col("n_removed") === 0).count() === 2)
    assert(out.select("doc_id", "text_clean").as[(Long, String)].collect().toMap
      === Map(1L -> "a b c d e", 2L -> "f g h i j"))
  }

  test("rolling gram hash: equals the direct polynomial per position, equal grams collide, distinct grams don't") {
    // The rolling recurrence must reproduce the direct O(n)-per-position
    // polynomial over xxhash64 token hashes at EVERY offset — any drift
    // in the subtract-shift-add step shows up as a mismatch somewhere in
    // a long-enough sweep.
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.StringType
    val words = (0 until 40).map(i => s"w${i % 11}")
    val n = 5
    val seed = 43L
    val got = Seq(Tuple1(words.mkString(" "))).toDF("text")
      .select(call_function(graft.functions.GraftFunctions.GramRollingHashName,
        split(col("text"), " "), lit(n), lit(seed)))
      .as[Seq[Long]].head()
    val th = words.map(w => XxHash64Function.hash(UTF8String.fromString(w), StringType, seed))
    val direct = (0 to words.length - n).map { p =>
      (0 until n).foldLeft(0L)((h, i) => h * graft.functions.GramRollingHash.Base + th(p + i))
    }
    assert(got === direct)
    // Equal token windows hash equal (w0..w10 repeats with period 11).
    assert(got(0) === got(11))
    // And the 36 distinct windows produce 36 distinct hashes.
    assert(got.distinct.size === (0 to words.length - n).map(p => words.slice(p, p + n)).distinct.size)
  }

  test("repeated-sentence removal: first occurrence kept in order, whitespace normalized, map-only") {
    val docs = Seq(
      (1L, "a b. c d. a b. e"),      // planted repeat mid-doc
      (2L, "x y. z w."),             // no repeats — unchanged
      (3L, "q r.  s t. q r. q r."),  // double space + two repeats
      (4L, "solo sentence no punct")
    ).toDF("doc_id", "text")
    val out = TextOps.dropRepeatedSentences(docs, "doc_id", "text")
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === (("a b. c d. e", 1L)))
    assert(out(2L) === (("x y. z w.", 0L)))
    // the split consumes inter-sentence whitespace runs, so the rejoin
    // canonicalizes the double space; both "q r." repeats drop.
    assert(out(3L) === (("q r. s t.", 2L)))
    assert(out(4L) === (("solo sentence no punct", 0L)))
    // Map-only: no shuffle, no explode.
    val plan = TextOps.dropRepeatedSentences(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Generate"))
  }

  test("unimax: water-filling allocations match hand computation across budgets and epoch caps") {
    def doc(id: Long, lang: String, n: Int) = (id, lang, Seq.fill(n)("w").mkString(" "))
    val docs = ((1 to 2).map(i => doc(i, "a", 50)) ++
      (3 to 5).map(i => doc(i + 2, "b", 100)) ++
      (6 to 10).map(i => doc(i + 4, "c", 200))).toDF("doc_id", "lang", "text")
    // Budget 600 over caps {a:100, b:300, c:1000}: a fits under its fair
    // share (100*3 <= 600, full); b and c split (600-100)/2 = 250 each.
    val al = Sampling.unimaxAllocations(docs, "lang", "text", budgetTokens = 600)
      .as[(String, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(al("a") === (("a", 100L, 100L, 100L, 1.0)))
    assert(al("b") === (("b", 300L, 300L, 250L, 0.833333)))
    assert(al("c") === (("c", 1000L, 1000L, 250L, 0.25)))
    // Budget >= total capacity: everyone keeps everything.
    val rich = Sampling.unimaxAllocations(docs, "lang", "text", budgetTokens = 2000)
      .as[(String, Long, Long, Long, Double)].collect()
    assert(rich.forall(r => r._4 === r._3 && r._5 === 1.0))
    // A 2-epoch cap doubles capacities: a's 200 fills exactly at its
    // turn (200*3 = 600), b/c split the remaining 400 -> 200 each; a's
    // over-one-epoch allocation clamps the keep-rate at 1.0.
    val ep = Sampling.unimaxAllocations(docs, "lang", "text",
        budgetTokens = 600, maxEpochs = 2.0)
      .as[(String, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(ep("a") === (("a", 100L, 200L, 200L, 1.0)))
    assert(ep("b") === (("b", 300L, 600L, 200L, 0.666667)))
    assert(ep("c") === (("c", 1000L, 2000L, 200L, 0.2)))
    // The sampler realizes the rates: a rate-1.0 stratum keeps every doc.
    val kept = Sampling.unimaxSample(docs, "doc_id", "lang", "text", budgetTokens = 600)
    assert(kept.filter(col("lang") === "a").count() === 2L)
    assert(kept.count() <= 10L)
  }

  test("dsir: target-vocab docs outrank off-target, signs split, independent replay matches") {
    // Target slice speaks {aa, bb}; raw adds {zz, yy} docs. addK small so
    // the smoothing mass doesn't swamp the 16-token corpus.
    val raw = Seq(
      (1L, "aa bb aa bb", "t"),
      (2L, "aa bb zz yy", "m"),
      (3L, "zz yy zz yy", "o"),
      (4L, "aa aa aa aa", "t")
    ).toDF("doc_id", "text", "grp")
    val target = raw.filter(col("grp") === "t").select("doc_id", "text")
    val buckets = 64
    val addK = 0.01
    val out = Sampling.dsirScores(raw, target, "doc_id", "text",
        buckets = buckets, seed = 5, addK = addK)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(out(1L) > out(2L) && out(2L) > out(3L), s"ranking: $out")
    assert(out(1L) > 0 && out(4L) > 0, "pure target vocab scores positive")
    assert(out(3L) < 0, "pure off-target vocab scores negative")
    // Independent replay: bucket assignment read off the hash expression
    // standalone, then plain-Scala histograms + the published formula,
    // summed in position order — must match to the rounded digit.
    val bucketOf = Seq("aa", "bb", "zz", "yy").toDF("w")
      .select(col("w"), pmod(HashMode.Md5Portable.hash(col("w"), 5), lit(buckets.toLong)).as("b"))
      .as[(String, Long)].collect().toMap
    val docs = Map(
      1L -> "aa bb aa bb", 2L -> "aa bb zz yy", 3L -> "zz yy zz yy", 4L -> "aa aa aa aa")
    val tTok = Seq(1L, 4L).flatMap(id => docs(id).split(" ")).map(bucketOf)
    val rTok = docs.values.flatMap(_.split(" ")).map(bucketOf).toSeq
    val (ct, cr) = (tTok.groupBy(identity).map { case (b, g) => b -> g.size },
      rTok.groupBy(identity).map { case (b, g) => b -> g.size })
    val denom = addK * buckets
    def r6(x: Double): Double = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    docs.foreach { case (id, text) =>
      val lnws = text.split(" ").map { w =>
        val b = bucketOf(w)
        math.log(((ct.getOrElse(b, 0) + addK) / (tTok.size + denom)) /
          ((cr(b) + addK) / (rTok.size + denom)))
      }
      assert(out(id) === r6(lnws.sum / lnws.length), s"doc $id replay")
    }
  }

  test("curation pipeline composition: every stage's contract holds on the end-to-end output") {
    // p1 chains five independently-oracled stages; this spec pins the
    // STAGE-BOUNDARY contracts on the composed output (the oracle pins
    // exact row equality; this explains WHY the output is right).
    val dir = graft.SparkTestBase.sf0001
    val out = graft.SparkEntry.queries("p1_curation_pipeline")(spark, dir)
      .select("doc_id", "lang", "source", "split")
      .as[(Long, String, String, String)].collect()
    assert(out.nonEmpty)
    val ids = out.map(_._1)
    assert(ids.distinct.length === ids.length, "output ids unique")

    // Stage 1 (quality): every survivor passes the gate, recomputed here.
    val raw = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text", "lang", "source")
    val aug = raw
      .unionByName(raw.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 100000))
      .unionByName(raw.filter(col("doc_id") % 25 === 0)
        .withColumn("doc_id", col("doc_id") + 200000)
        .withColumn("text", concat(col("text"), lit(" zq zq zq"))))
    val pass = TextStats.qualityFilter(aug, "doc_id", "text",
        minTokens = 15, maxTokens = 90, minTypeTokenRatio = 0.25)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(ids.forall(pass), "every output doc passes the quality gate")

    // Stage 2 (exact dedup): a planted exact copy whose original also
    // survived quality never reaches the output — the min-id original does.
    val copies = ids.filter(id => id >= 100000 && id < 200000)
    assert(copies.isEmpty, s"exact copies must collapse, got ${copies.toSeq}")

    // Stage 3 (near-dup prune): a planted near copy whose original also
    // passed quality is pruned (jaccard (T-2)/(T+1) >= 0.6 at T >= 15).
    val nearSurvivors = ids.filter(_ >= 200000)
      .filter(id => pass(id - 200000))
    assert(nearSurvivors.isEmpty,
      s"near copies with surviving originals must prune, got ${nearSurvivors.toSeq}")

    // Stage 4 (cap): no source exceeds its budget.
    val bySource = out.groupBy(_._3).map { case (_, g) => g.length }
    assert(bySource.forall(_ <= 20), "per-source cap respected")

    // Stage 5 (split): the assignment is exactly Sampling.split's hash
    // decision for the id — recomputed per row, disjoint and exhaustive.
    val expectSplit = Sampling.split(
        out.map(_._1).toSeq.toDF("doc_id"), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 11)
      .as[(Long, String)].collect().toMap
    out.foreach { case (id, _, _, split) =>
      assert(split === expectSplit(id), s"doc $id split")
    }
  }

  test("invisible scrub: round-trip law, NBSP normalizes not vanishes, clean text untouched") {
    val rows = Seq(
      (1L, "plain ascii text"),
      (2L, "zero\u200Bwidth\u200Cjoin\u200Ders\u2060here\uFEFF"),
      (3L, "soft\u00ADhyphen and\u00A0nbsp\u202Fnarrow\u2007figure"),
      (4L, "bidi\u200Emarks\u200Fkept out")
    ).toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
        graft.pipeline.TextOps.invisibleCount(col("text")).as("n"),
        graft.pipeline.TextOps.stripInvisible(col("text")).as("clean"))
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) === ((0L, "plain ascii text")))           // clean is untouched
    assert(out(2L) === ((5L, "zerowidthjoinershere")))       // removables vanish
    assert(out(3L) === ((4L, "softhyphen and nbsp narrow figure"))) // spaces survive as spaces
    assert(out(4L) === ((2L, "bidimarks" + "kept out")))
    // Round-trip law over real corpus text: plant -> scrub == identity.
    val docs = spark.read.parquet(s"${graft.SparkTestBase.sf0001}/documents.parquet")
      .limit(100).select(col("doc_id"), col("text"))
    val planted = docs.select(col("doc_id"),
      regexp_replace(
        regexp_replace(col("text"), lit("e"), lit("e\u200B\u00AD")),
        lit(" "), lit("\u00A0")).as("raw"))
    val mismatches = planted
      .select(col("doc_id"), graft.pipeline.TextOps.stripInvisible(col("raw")).as("clean"))
      .join(docs, "doc_id")
      .filter(col("clean") =!= col("text")).count()
    assert(mismatches === 0L)
  }

  test("frequent phrases: == brute-force gram counts at both SFs and widths, planted boilerplate surfaces, clean corpus yields none") {
    import graft.pipeline.TextStats
    def grams(df: org.apache.spark.sql.DataFrame, n: Int) = df
      .select(split(col("text"), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(explode(expr(
        s"transform(sequence(1, size(w) - ${n - 1}), i -> array_join(slice(w, i, $n), ' '))")).as("phrase"))
    for (dir <- Seq(graft.SparkTestBase.sf0001, graft.SparkTestBase.sf001);
         n <- Seq(2, 3); phi <- Seq(0.002, 0.01)) {
      val planted = spark.read.parquet(s"$dir/documents.parquet")
        .select(when(col("doc_id") % 2 === 0,
            concat(col("text"), lit(" please subscribe to our newsletter")))
          .otherwise(col("text")).as("text"))
      val g = grams(planted, n)
      val total = g.count()
      val brute = g.groupBy("phrase").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > lit(total) * lit(phi))
        .as[(String, Long)].collect().toMap
      val got = TextStats.frequentPhrases(planted, "text", n, phi)
        .as[(String, Long)].collect().toMap
      assert(got === brute, s"$dir n=$n phi=$phi")
    }
    // The un-planted fixture corpus has no phrase-level boilerplate at
    // this threshold — the report is empty, not noisy.
    val clean = spark.read.parquet(s"${graft.SparkTestBase.sf0001}/documents.parquet")
    assert(TextStats.frequentPhrases(clean, "text", 3, 0.002).isEmpty)
  }

  test("random projection: basis vectors read the matrix back, deterministic, JL distortion and projected-space recall within measured bounds") {
    import graft.pipeline.Similarity
    val dim = 8; val outDim = 4; val seed = 11
    val m = Similarity.projectionMatrix(outDim, dim, seed)
    // Basis vector e_i projects to column i of the matrix over sqrt(outDim).
    val basis = (0 until dim)
      .map(i => (i.toLong, Array.tabulate(dim)(j => if (j == i) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.randomProject(basis, "vec_id", "embedding", dim, outDim, seed)
      .as[(Long, Seq[Double])].collect().toMap
    for (i <- 0 until dim; j <- 0 until outDim)
      assert(math.abs(got(i.toLong)(j) - m(j)(i) / 2.0) < 1e-9, s"e$i -> m[$j][$i]")
    // Deterministic: a second derivation is identical.
    val again = Similarity.randomProject(basis, "vec_id", "embedding", dim, outDim, seed)
      .as[(Long, Seq[Double])].collect().toMap
    assert(again === got)

    // Measured JL contract on the real corpus (64 -> 16). Two claims,
    // each matched to what JL actually promises: (1) PLANTED near-dup
    // twins (cosine ≈ 1, the e3 plant) stay each other's projected
    // top-1 — angle ≈ 0 survives any JL map, and near-dup detection is
    // the projection's use case; (2) mean |Δcosine| over probe×corpus
    // stays under 2× the measured value — a regression tripwire. Rank
    // recall among the UNSTRUCTURED background is deliberately not
    // pinned: fixture vectors are near-equidistant, where no 16-dim map
    // preserves order (that is the JL bound working, not failing).
    val base = spark.read.parquet(s"${graft.SparkTestBase.sf0001}/embeddings.parquet")
      .select("vec_id", "embedding")
    val twins = base.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.1f) + lit(0.01f)).as("embedding"))
    val v = base.unionByName(twins)
    val proj = Similarity.randomProject(v, "vec_id", "embedding", 64, 16, seed)
    val twinProbes = proj.join(
      twins.select("vec_id"), Seq("vec_id"), "left_semi")
    val top1 = Similarity.cosineTopK(proj, twinProbes, "vec_id", "proj", k = 1)
      .select("probe_id", "neighbor_id").as[(Long, Long)].collect()
    assert(top1.nonEmpty)
    for ((p, n) <- top1)
      assert(n === p - 10000, s"planted twin of $p lost through projection")
    // Distortion: |cos_proj - cos_exact| averaged over probe x corpus.
    val probes = base.filter(col("vec_id") < 20)
    val pairsExact = Similarity.cosineTopK(v, probes, "vec_id", "embedding", k = 50)
      .select(col("probe_id"), col("neighbor_id"), col("sim").as("s64"))
    val pairsProj = Similarity.cosineTopK(
        proj, proj.join(probes.select("vec_id"), Seq("vec_id"), "left_semi"),
        "vec_id", "proj", k = 520)
      .select(col("probe_id"), col("neighbor_id"), col("sim").as("s16"))
    val err = pairsExact.join(pairsProj, Seq("probe_id", "neighbor_id"))
      .agg(avg(abs(col("s64") - col("s16")))).first().getDouble(0)
    assert(err < 0.32, s"mean cosine distortion at 64->16 drifted: $err")
  }

  test("curriculum budget composition: per-(lang,bin) caps hold, under-cap strata keep everything, deterministic") {
    import graft.operators.Sketches
    val d = spark.read.parquet(s"${graft.SparkTestBase.sf001}/documents.parquet")
    val binned = Sketches.quantileBins(d, "n_chars", nBins = 4)
      .withColumn("stratum", concat_ws("|", col("lang"), col("bin")))
    val kept = Sampling.capPerStratum(binned, "doc_id", "stratum", 15, seed = 17)
    // Cap law: no stratum exceeds 15 in the output…
    val outCounts = kept.groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    assert(outCounts.values.forall(_ <= 15L), outCounts.filter(_._2 > 15))
    // …and a stratum below the cap is passed through whole.
    val inCounts = binned.groupBy("stratum").count()
      .as[(String, Long)].collect().toMap
    for ((st, n) <- inCounts if n <= 15)
      assert(outCounts.getOrElse(st, 0L) === n, st)
    for ((st, n) <- inCounts if n > 15)
      assert(outCounts(st) === 15L, st)
    // Output rows are input rows (suppressive, never synthesized)…
    assert(kept.join(binned, Seq("doc_id"), "left_anti").isEmpty)
    // …and the selection is deterministic.
    val again = Sampling.capPerStratum(binned, "doc_id", "stratum", 15, seed = 17)
      .select("doc_id").as[Long].collect().sorted
    assert(again.toSeq === kept.select("doc_id").as[Long].collect().sorted.toSeq)
  }

  test("dominant direction: axis-aligned corpus recovered exactly, planted anisotropy alarms, fixture corpus stays spread") {
    import graft.pipeline.Similarity
    // Corpus concentrated on axis 2 (with a dash of axis 1): power
    // iteration from the uniform start must land on e2, energy ~ 20/21.
    val axial = Seq(
      Array(1.0f, 0.0f, 0.0f),
      Array(0.0f, 2.0f, 0.0f), Array(0.0f, -2.0f, 0.0f),
      Array(0.0f, 2.0f, 0.0f), Array(0.0f, 2.0f, 0.0f),
      Array(0.0f, -2.0f, 0.0f)).toDF("embedding")
    val (v, energy) = Similarity.dominantDirection(axial, "embedding", dim = 3)
    assert(math.abs(math.abs(v(1)) - 1.0) < 1e-3, v.toSeq)
    assert(math.abs(v(0)) < 0.1 && math.abs(v(2)) < 1e-6, v.toSeq)
    assert(energy > 0.94, s"axis energy: $energy") // 20 of 21 units of energy
    // Unit direction by construction.
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-4)
    // Determinism: identical re-run.
    val (v2, e2) = Similarity.dominantDirection(axial, "embedding", dim = 3)
    assert(v2.toSeq === v.toSeq && e2 === energy)

    // Fixture corpus: near-isotropic synthetic embeddings — no single
    // direction should dominate (the healthy-encoder baseline), while a
    // rank-1 plant drives the alarm toward 1.
    val base = spark.read.parquet(s"${graft.SparkTestBase.sf0001}/embeddings.parquet")
    val (_, eBase) = Similarity.dominantDirection(base, "embedding", dim = 64)
    assert(eBase < 0.5, s"fixture corpus should be spread: $eBase")
    val collapsed = base.select(
      transform(col("embedding"),
        (x, i) => when(i === 0, lit(10.0f)).otherwise(x * lit(0.01f))).as("embedding"))
    val (_, eCol) = Similarity.dominantDirection(collapsed, "embedding", dim = 64)
    assert(eCol > 0.99, s"planted collapse must alarm: $eCol")
  }
}
