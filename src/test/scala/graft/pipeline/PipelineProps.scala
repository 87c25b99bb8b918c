package graft.pipeline

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll

/** Property families for the dedup operators over random small corpora:
  * exact-dedup idempotence and survivor counting, Jaccard bounds and
  * symmetry-by-construction, LSH soundness (candidates verify against
  * exact Jaccard, so LSH pairs ⊆ exact pairs at the same threshold).
  */
object PipelineProps extends Properties("pipeline") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withWorkers(1)

  private lazy val spark = graft.SparkTestBase.spark

  private val word: Gen[String] = Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")
  private val textGen: Gen[String] = Gen.chooseNum(3, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  private def corpusGen: Gen[Seq[(Long, String)]] =
    Gen.chooseNum(3, 12).flatMap(n => Gen.listOfN(n, textGen)).map(_.zipWithIndex.map { case (t, i) => (i.toLong, t) })

  private def toDF(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  property("exact dedup: survivors == distinct texts, and re-dedup is identity") =
    forAll(corpusGen) { rows =>
      val s = spark
      import s.implicits._
      val once = Dedup.exact(toDF(rows), "doc_id", "text")
      val ids = once.select("doc_id").as[Long].collect().toSet
      val again = Dedup.exact(once.drop("n_copies"), "doc_id", "text")
        .select("doc_id").as[Long].collect().toSet
      ids.size == rows.map(_._2).distinct.size && again == ids
    }

  property("jaccard pairs: 0 < j <= 1, ordered ids, and identical docs score 1") =
    forAll(corpusGen) { rows =>
      val s = spark
      import s.implicits._
      val withDup = rows :+ (999L, rows.head._2) // plant an exact copy of doc 0
      val pairs = Dedup.withJaccardPairs(toDF(withDup), "doc_id", "text", n = 2, dfCap = 1000, threshold = 0.0)(
        _.as[(Long, Long, Double)].collect())
      val wellFormed = pairs.forall { case (a, b, j) => a < b && j > 0.0 && j <= 1.0 }
      val plantedScoresOne =
        rows.head._2.split(" ").length < 2 || // too short for bigrams: no pair expected
          pairs.exists { case (a, b, j) => a == rows.head._1 && b == 999L && j == 1.0 }
      wellFormed && plantedScoresOne
    }

  property("LSH pairs are a subset of exact jaccard pairs at the same threshold") =
    forAll(corpusGen) { rows =>
      val s = spark
      import s.implicits._
      val df = toDF(rows)
      val exact = Dedup.withJaccardPairs(df, "doc_id", "text", n = 2, dfCap = 1000, threshold = 0.5)(
        _.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
      val lsh = Dedup.withMinhashLshPairs(df, "doc_id", "text", n = 2, bands = 2, rowsPerBand = 2, threshold = 0.5)(
        _.select("doc_a", "doc_b").as[(Long, Long)].collect().toSet)
      lsh.subsetOf(exact)
    }

  property("contamination: self-overlap is 1.0 and every overlap is in (0, 1]") =
    forAll(corpusGen) { rows =>
      val s = spark
      import s.implicits._
      // Benchmark = the corpus itself (ids shifted): every doc long enough
      // to shingle must hit its own twin at overlap exactly 1.0.
      val bench = toDF(rows.map { case (i, t) => (i + 1000L, t) })
      val pairs = Dedup.contaminationPairs(toDF(rows), bench, "doc_id", "text", n = 2, threshold = 0.0)
        .select("corpus_id", "bench_id", "overlap").as[(Long, Long, Double)].collect()
      val wellFormed = pairs.forall { case (_, _, o) => o > 0.0 && o <= 1.0 }
      val selfHits = rows.filter(_._2.split(" ").length >= 2).forall { case (i, _) =>
        pairs.exists { case (c, b, o) => c == i && b == i + 1000L && o == 1.0 }
      }
      wellFormed && selfHits
    }

  private val countsGen: Gen[Seq[(Long, Long)]] =
    Gen.chooseNum(1, 20).flatMap(n => Gen.listOfN(n, Gen.chooseNum(1L, 30L)))
      .map(_.zipWithIndex.map { case (c, i) => (i.toLong, c) })

  property("packing matches the sequential first-fit spec exactly (any counts, any budget)") =
    forAll(countsGen, Gen.chooseNum(5, 40)) { (rows, budget) =>
      val s = spark
      import s.implicits._
      val out = Packing.packGreedyByCount(
        rows.toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", budget)
        .select("doc_id", "pack_id").as[(Long, Long)].collect().toMap
      // The distributed window computation must equal the sequential
      // definition: doc → floor(tokensBefore / budget) in id order.
      var cum = 0L
      val expected = rows.sortBy(_._1).map { case (i, c) =>
        val p = cum / budget; cum += c; (i, p)
      }.toMap
      out == expected
    }

  /** Block partitioning + reassembly is lossless: with per-doc-unique
    * tokens no block can duplicate, so the strip must return every doc's
    * text verbatim — across random lengths, block widths, and (the risky
    * part) short tail blocks. And on ANY corpus the removal accounting
    * must balance: n_removed + kept blocks == n_blocks per doc.
    */
  property("block strip: identity on unique-token corpora, removal accounting balances") =
    forAll(Gen.chooseNum(1, 8), Gen.chooseNum(1, 6)) { (nDocs, blockTokens) =>
      val s = spark
      import s.implicits._
      val rows = (0 until nDocs).map { d =>
        val len = d * 7 % 19 + 1 // lengths 1..19, deterministic variety
        (d.toLong, (0 until len).map(j => s"d${d}w$j").mkString(" "))
      }
      val out = Dedup.stripDuplicateBlocks(rows.toDF("doc_id", "text"), "doc_id", "text",
          blockTokens = blockTokens)
        .select("doc_id", "n_blocks", "n_removed", "text_clean")
        .as[(Long, Long, Long, String)].collect()
      val identity = out.forall { case (id, _, rem, clean) =>
        rem == 0L && clean == rows(id.toInt)._2
      }
      val accounting = out.forall { case (id, nb, rem, _) =>
        val tokens = rows(id.toInt)._2.split(" ").length
        nb == (tokens + blockTokens - 1) / blockTokens && rem >= 0 && rem <= nb
      }
      identity && accounting
    }

  property("chunking: windows cover every token, starts stride exactly, stitch reconstructs") =
    forAll(Gen.chooseNum(1, 40), Gen.chooseNum(1, 10), Gen.chooseNum(1, 10)) {
      (nTokens, chunkTokens, stride) =>
        val s = spark
        import s.implicits._
        val text = (0 until nTokens).map(i => s"t$i").mkString(" ")
        val out = Packing.chunk(Seq((1L, text)).toDF("doc_id", "text"),
            "doc_id", "text", chunkTokens, stride)
          .select("chunk_idx", "chunk_start", "n_tokens", "chunk_text")
          .as[(Int, Int, Int, String)].collect().sortBy(_._1)
        val starts = out.map(_._2).toSeq
        val expectStarts = 0 until nTokens by stride
        val strided = starts == expectStarts
        val sized = out.forall { case (_, st, n, txt) =>
          n == math.min(chunkTokens, nTokens - st) && txt.split(" ").length == n
        }
        // Position i is covered iff its nearest preceding start reaches it:
        // i mod stride < chunkTokens. (stride > chunkTokens gaps by design —
        // that's sampling, not chunking, but the algebra must still hold.)
        val stitched = out.flatMap { case (_, st, _, txt) =>
          txt.split(" ").zipWithIndex.map { case (w, j) => (st + j, w) }
        }.toMap
        val expectCovered = (0 until nTokens).filter(i => i % stride < chunkTokens).toSet
        val covered = stitched.keySet == expectCovered &&
          expectCovered.forall(i => stitched(i) == s"t$i")
        strided && sized && covered
    }

  property("budget select equals the sequential best-bin-first reference algorithm") =
    forAll(
      Gen.chooseNum(1, 20).flatMap(n => Gen.listOfN(n,
        for { s <- Gen.chooseNum(0, 10); t <- Gen.chooseNum(1L, 20L) } yield (s / 10.0, t))),
      Gen.chooseNum(1, 8),
      Gen.chooseNum(0L, 150L)) { (rows, bins, budget) =>
      val s = spark
      import s.implicits._
      val docs = rows.zipWithIndex.map { case ((sc, tk), i) => (i.toLong, sc, tk) }
      val got = Sampling.selectUnderBudget(
          docs.toDF("doc_id", "score", "n_tokens"),
          "doc_id", "score", "n_tokens", budget, bins, seed = 17)
        .select("doc_id").as[Long].collect().toSet
      // Sequential reference: bins best-first; whole bin if it fits what's
      // left of the budget so far consumed by better bins, else hash-rank
      // prefix with inclusive sums, then stop admitting from lower bins.
      def h(id: Long): Long = {
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(s"17:$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(md.substring(0, 15), 16)
      }
      val byBin = docs.groupBy { case (_, sc, _) => math.min(bins - 1, math.floor(sc * bins).toInt) }
      var spent = 0L
      val expect = scala.collection.mutable.Set[Long]()
      for (b <- byBin.keys.toSeq.sorted.reverse) {
        val members = byBin(b)
        val btok = members.map(_._3).sum
        if (spent + btok <= budget) { members.foreach(m => expect += m._1); spent += btok }
        else {
          // Prefix semantics, not greedy-skip: admit while the INCLUSIVE
          // running sum fits; the first overflow ends admission (running
          // sum only grows, matching the operator's dcum <= rem filter).
          val rem = budget - spent
          var cum = 0L
          for ((id, _, tk) <- members.sortBy(m => (h(m._1), m._1))) {
            cum += tk
            if (cum <= rem) expect += id
          }
          spent = budget // lower bins admit nothing
        }
      }
      got == expect.toSet
    }

  property("temperature sampling: kept set shrinks monotonically as alpha decreases") =
    forAll(Gen.chooseNum(2, 6), Gen.chooseNum(10, 40)) { (nSmall, nBig) =>
      val s = spark
      import s.implicits._
      val rows = (1 to nBig).map(i => (i.toLong, "big")) ++
        (101 to 100 + nSmall).map(i => (i.toLong, "small"))
      val df = rows.toDF("doc_id", "stratum")
      def keptAt(alpha: Double): Set[Long] =
        Sampling.temperatureSample(df, "doc_id", "stratum", alpha, seed = 5)
          .select("doc_id").as[Long].collect().toSet
      val k1 = keptAt(1.0); val k05 = keptAt(0.5); val k02 = keptAt(0.2)
      // alpha=1 keeps everything; lower alpha keeps a subset (same seed →
      // nested hash thresholds), and the smallest stratum is never thinned.
      k1 == rows.map(_._1).toSet &&
        k05.subsetOf(k1) && k02.subsetOf(k05) &&
        (101 to 100 + nSmall).forall(i => k02.contains(i.toLong))
    }

  /** Driver-side union-find reference for [[Dedup.clusters]]: every
    * vertex of `edges` mapped to the minimum id of its component. A root
    * is always re-hung under the smaller root, so each root is its set's
    * minimum.
    */
  private def unionFindLabels(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  property("clusters == driver-side union-find on random multigraphs") =
    forAll(Gen.chooseNum(0, 25).flatMap(m =>
      Gen.listOfN(m, Gen.zip(Gen.chooseNum(1L, 15L), Gen.chooseNum(1L, 15L))))) { edges =>
      val s = spark
      import s.implicits._
      // Random multigraphs over 15 vertices: self-loops, duplicates, and
      // disconnected fragments all land in the generator's range.
      val all = edges :+ ((1L, 1L))
      val df = all.toDF("doc_a", "doc_b")
      Dedup.clusters(df).as[(Long, Long)].collect().toMap == unionFindLabels(all)
    }

  property("rolling gram hash == direct polynomial at every offset, on random corpora and widths") =
    forAll(for {
      words <- Gen.chooseNum(1, 40).flatMap(n => Gen.listOfN(n, word))
      n <- Gen.chooseNum(2, 6)
      seed <- Gen.chooseNum(0L, 1000L)
    } yield (words, n, seed)) { case (words, n, seed) =>
      val s = spark
      import s.implicits._
      import org.apache.spark.sql.functions.{call_function, col, lit, split}
      val got = Seq(Tuple1(words.mkString(" "))).toDF("text")
        .select(call_function(graft.functions.GraftFunctions.GramRollingHashName,
          split(col("text"), " "), lit(n), lit(seed)))
        .as[Seq[Long]].head()
      import org.apache.spark.sql.catalyst.expressions.XxHash64Function
      import org.apache.spark.sql.types.StringType
      val th = words.map(w => XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(w), StringType, seed))
      val direct = (0 to words.length - n).map { p =>
        (0 until n).foldLeft(0L)((h, i) => h * graft.functions.GramRollingHash.Base + th(p + i))
      }
      // Shorter-than-n inputs roll to the empty sweep, not an error.
      got == direct && (words.length >= n || got.isEmpty)
    }
}
