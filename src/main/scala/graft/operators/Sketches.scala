package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Mergeable distinct-count sketches over slices of a corpus — Spark's
  * native Apache DataSketches HLL expressions
  * (`hll_sketch_agg`/`hll_union_agg`/`hll_sketch_estimate`, codegen'd
  * aggregates, no UDFs) composed into the incremental-cardinality
  * pattern a 100 TB event lake actually runs: sketch each ingest slice
  * (day, source, snapshot) ONCE at write time, persist the few-KB
  * sketch rows beside the data, and answer "distinct users this
  * quarter / across sources" by unioning SKETCHES — history is never
  * rescanned, and slices compose in any grouping after the fact
  * (sketch union is associative and commutative, the property exact
  * distinct fundamentally lacks: exact per-day distincts cannot be
  * added across days).
  *
  * Approximation contract: a DataSketches HLL sketch is EXACT while it
  * remains in sparse (coupon) mode — up to roughly `0.75 · 2^lgConfigK`
  * distinct values per sketch — and a relative-error estimate
  * (~1.04/√2^lgConfigK) beyond; `lgConfigK` prices that trade
  * (default 14 ⇒ ~12k exact, ~0.8% error at scale). The fixture-scale
  * oracle relies on the exact regime; the spec pins estimate == exact
  * there and the error bound is the documented behavior past it.
  */
object Sketches {

  /** One HLL sketch per key group — the per-slice increment you persist.
    * Output `sketch` is the DataSketches binary; store it like any other
    * column (parquet `binary`).
    */
  def distinctSketches(
      df: DataFrame, keys: Seq[String], valueCol: String,
      lgConfigK: Int = 14): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(valueCol), lit(lgConfigK)).as("sketch"))
  }

  /** Union persisted sketches down to a distinct-count estimate per key
    * group — the read path: slices regroup freely (drop the slice key
    * from `keys` and days collapse into totals) without touching raw
    * history.
    */
  def unionEstimate(sketches: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    sketches.groupBy(keys.map(col): _*)
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(true)))
        .as("n_distinct"))
  }

  /** At-rest incremental composition (VERDICT r13 next #7): the sketch
    * rows persist as a bucket-partitioned merge target keyed by the
    * SLICE columns, so sketch ingest rides the machinery the merge tier
    * already has — [[appendSlices]] is a partition-scoped Keep-mode
    * upsert that rewrites only the buckets the arriving slices hash
    * into (a day's few-KB sketch row lands without touching the rest of
    * a years-deep store), crash windows are the merge protocol's own
    * (staged swap; `compact`/`recover` apply verbatim), and re-running
    * a slice's ingest REPLACES its sketch row — idempotent re-ingest,
    * the property a single running union sketch fundamentally lacks
    * (a sketch can only grow; a store of per-slice sketches can
    * re-derive any slice). The read path never rescans history:
    * [[storedEstimate]] unions the few-KB rows under any regrouping of
    * the slice keys.
    */
  def writeSketchStore(
      sliceSketches: DataFrame, path: String, sliceKeys: Seq[String],
      nBuckets: Int = 8,
      hashMode: graft.pipeline.HashMode = graft.pipeline.HashMode.Xxhash64): Unit =
    graft.merge.PartitionedTarget.write(
      sliceSketches, path,
      graft.merge.PartitionSpec(sliceKeys, nBuckets, hashMode))

  /** Upsert arriving slices' sketch rows into the store (the periodic
    * increment). Keys come from the store's own persisted spec; absent
    * slices are untouched (Keep mode), matching slices are replaced.
    */
  def appendSlices(
      spark: org.apache.spark.sql.SparkSession, path: String,
      sliceSketches: DataFrame): Unit = {
    val keys = graft.merge.PartitionedTarget.readSpec(spark, path).keys
    graft.merge.MergeApply.applyToPartitioned(
      spark, path, sliceSketches,
      graft.merge.MergeOptions(keys = keys, delete = graft.merge.DeleteMode.Ignore))
  }

  /** Distinct-count estimates straight off the persisted store, under
    * any regrouping of (a subset of) the slice keys.
    */
  def storedEstimate(
      spark: org.apache.spark.sql.SparkSession, path: String,
      keys: Seq[String]): DataFrame =
    unionEstimate(graft.merge.PartitionedTarget.read(spark, path), keys)

  // ------------------------------------------------------------------
  // Theta sketches: distinct counts WITH set algebra (C138).
  // ------------------------------------------------------------------

  /** One theta sketch per key group. The theta family answers the
    * question HLL structurally cannot: |A ∩ B| and |A \ B| — HLL union
    * is its ONLY operation, so source-overlap / audience-intersection /
    * novelty questions need either a rescan per pair (exact) or theta.
    * A theta sketch is a uniform hash sample of the distinct items
    * (all of them while n ≤ nominal entries = 2^lgK — the EXACT
    * regime; a fixed-size sample with relative error ~1/√(2^lgK)
    * beyond), and intersection/difference operate sample-on-sample, so
    * a K-source overlap matrix costs K sketch rows, never K² corpus
    * scans. Spark-native DataSketches aggregates
    * (`theta_sketch_agg`/`theta_union`/`theta_intersection`), map-side
    * combined, no UDFs.
    */
  def thetaSketches(
      df: DataFrame, keys: Seq[String], valueCol: String,
      lgK: Int = 14): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    df.groupBy(keys.map(col): _*)
      .agg(theta_sketch_agg(col(valueCol), lit(lgK)).as("sketch"))
  }

  /** Pairwise overlap matrix from per-group theta sketches: for every
    * unordered key pair (a < b), the group sizes plus |A ∩ B| and
    * |A ∪ B| — republication / shared-audience structure across the
    * whole key set from ONE pass over the data. The self-join runs on
    * the sketch frame (one row per key, a few KB each), never the
    * corpus: K groups cost K(K−1)/2 sketch-pair evaluations, each pure
    * column arithmetic. Estimates are exact while every sketch is in
    * the exact regime (intersections of exact-mode sketches are exact);
    * `.cast(long)` is lossless there.
    */
  def thetaOverlapMatrix(sketches: DataFrame, keyCol: String): DataFrame = {
    val a = sketches.select(col(keyCol).as("key_a"), col("sketch").as("sk_a"))
    val b = sketches.select(col(keyCol).as("key_b"), col("sketch").as("sk_b"))
    a.join(broadcast(b), col("key_a") < col("key_b"))
      .select(
        col("key_a"), col("key_b"),
        theta_sketch_estimate(col("sk_a")).cast("long").as("n_a"),
        theta_sketch_estimate(col("sk_b")).cast("long").as("n_b"),
        theta_sketch_estimate(theta_intersection(col("sk_a"), col("sk_b")))
          .cast("long").as("n_inter"),
        theta_sketch_estimate(theta_union(col("sk_a"), col("sk_b")))
          .cast("long").as("n_union"))
  }

  /** Union theta slice sketches under a coarser regrouping — the read
    * path when theta increments were persisted per slice (a day's rows
    * collapse into a type's). `lgK` caps the union's nominal entries;
    * keep it at the build-side value so the union stays in the exact
    * regime exactly as long as its inputs do.
    */
  def unionThetaSlices(
      sketches: DataFrame, keys: Seq[String], lgK: Int = 14): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    sketches.groupBy(keys.map(col): _*)
      .agg(theta_union_agg(col("sketch"), lit(lgK)).as("sketch"))
  }

  /** Distinct-count estimates from unioned theta slices — the HLL
    * [[unionEstimate]] shape for the theta tier (use theta only when
    * the set algebra is needed; HLL rows are smaller at equal error).
    */
  def unionEstimateTheta(
      sketches: DataFrame, keys: Seq[String], lgK: Int = 14): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    sketches.groupBy(keys.map(col): _*)
      .agg(theta_sketch_estimate(theta_union_agg(col("sketch"), lit(lgK)))
        .cast("long").as("n_distinct"))
  }

  /** Per-group novelty against a reference sketch: |group \ reference|
    * — "how many of this snapshot's users/urls are NEW vs the archive"
    * without revisiting the archive (the C91 drift question answered
    * from sketch rows alone). `reference` must be a single-sketch frame
    * (one row, column `sketch`); it cross-joins as a broadcast literal.
    */
  def thetaNovelty(sketches: DataFrame, reference: DataFrame): DataFrame =
    sketches.crossJoin(broadcast(reference.select(col("sketch").as("__ref"))))
      .withColumn("n_novel",
        theta_sketch_estimate(theta_difference(col("sketch"), col("__ref")))
          .cast("long"))
      .drop("__ref")

  // ------------------------------------------------------------------
  // KLL quantile sketches: mergeable distributions (C139).
  // ------------------------------------------------------------------

  /** One KLL quantile sketch of `valueCol` (cast to long) per key
    * group — the distribution twin of [[distinctSketches]]: length /
    * token-count / score distributions sketched per ingest slice ONCE,
    * then merged under any regrouping ([[mergedQuantiles]]) without
    * rescanning history — the property exact percentiles fundamentally
    * lack (per-day exact medians cannot be combined into a month's).
    * EXACT while a (merged) sketch retains ≤ k items; the classic
    * ~1.7%-of-rank error at k=200 beyond, priced down by raising k.
    * Spark-native DataSketches KLL aggregates, map-side combined.
    */
  def quantileSketches(
      df: DataFrame, keys: Seq[String], valueCol: String,
      k: Int = 8192): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    df.groupBy(keys.map(col): _*)
      .agg(kll_sketch_agg_bigint(col(valueCol).cast("long"), lit(k))
        .as("sketch"))
  }

  /** Merge persisted KLL sketches under a coarser grouping and read
    * quantiles at the given ranks (columns `p<rank·100>`, e.g. `p50`),
    * plus the population count `n`. Quantile semantics are the
    * DataSketches INCLUSIVE rule: the smallest retained item whose
    * inclusive rank (fraction of items ≤ it) is ≥ the requested rank —
    * i.e. `min(v) where cume_dist(v) ≥ rank`, the form the oracle
    * replays literally.
    */
  def mergedQuantiles(
      sketches: DataFrame, keys: Seq[String], ranks: Seq[Double],
      k: Int = 8192): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    require(ranks.nonEmpty && ranks.forall(r => r > 0.0 && r <= 1.0),
      "ranks must lie in (0, 1]")
    val merged = sketches.groupBy(keys.map(col): _*)
      .agg(kll_merge_agg_bigint(col("sketch"), lit(k)).as("sketch"))
    val qCols = ranks.map { r =>
      val label = math.round(r * 100).toInt
      kll_sketch_get_quantile_bigint(col("sketch"), lit(r)).as(s"p$label")
    }
    merged.select(
      keys.map(col) ++ (kll_sketch_get_n_bigint(col("sketch")).as("n") +: qCols): _*)
  }

  /** Equi-depth quantile binning: assign every row the bucket its
    * `valueCol` falls into among `nBins` equal-population bins, with
    * edges read from a KLL sketch of the column — the continuous-
    * feature stratifier the categorical tier (C48's stratified split,
    * C40's per-stratum caps) composes with: "sample uniformly across
    * length quartiles", "cap each score decile", "curriculum-order by
    * difficulty band" all start from exactly this column.
    *
    * Edges are the DataSketches INCLUSIVE quantiles at ranks
    * i/nBins (i = 1..nBins−1) — `min(v) where cume_dist(v) ≥ rank`, the
    * oracle-replayable rule the quantile tier already pins — and
    * assignment is `bin = |{edges e : v > e}|` (0-based; ties land in
    * the LOWER bin because the inclusive edge is itself reachable).
    * Exact while the sketch is (k ≥ n); approximate-edged beyond with
    * KLL's rank error, where bins stay within ±ε of equal population —
    * the documented trade. Scale shape: one map-side-combined sketch
    * agg, nBins−1 edges collected (bounded by nBins, never the data),
    * assignment a codegen'd comparison chain — no row-level window, no
    * global sort (the `ntile` alternative is one global sort AND
    * engine-dependent tie placement; this is neither).
    */
  def quantileBins(
      df: DataFrame, valueCol: String, nBins: Int, k: Int = 8192,
      binAs: String = "bin"): DataFrame = {
    require(nBins >= 2, s"nBins must be >= 2, got $nBins")
    val sk = quantileSketches(
      df.withColumn("__g", lit(1)), Seq("__g"), valueCol, k)
    val ranks = (1 until nBins).map(_.toDouble / nBins)
    val edgeRow = mergedQuantiles(sk, Seq("__g"), ranks, k).first()
    val edges = ranks.indices.map(i => edgeRow.getLong(i + 2)) // __g, n, p...
    val v = col(valueCol).cast("long")
    val bin = edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when(v > lit(e), 1).otherwise(0)
    }
    df.withColumn(binAs, bin)
  }

  /** Robust outlier gate (median/MAD, the Iglewicz–Hoaglin modified
    * z-score): flag rows where `0.6745·|v − median| > cut·MAD`,
    * `MAD = median(|v − median|)` — the outlier filter that works on
    * the HEAVY-TAILED columns quality signals actually are (lengths,
    * token counts, scores), where mean/stddev gates self-destruct: the
    * outliers inflate the stddev that is supposed to catch them
    * (breakdown point 0 vs the median/MAD pair's 50%, and the
    * spec pins exactly that contrast). cut=3.5 is the published
    * Iglewicz–Hoaglin default.
    *
    * Two sketch medians (the C152 edge machinery: KLL inclusive rule,
    * exact while sketches are), each ONE map-side-combined aggregation
    * with a scalar collected; the flag is a codegen'd comparison — no
    * window, no join, no sort. Deterministic and oracle-replayable:
    * medians via `min(v) where cume_dist ≥ 0.5`, the comparison in
    * plain double arithmetic.
    */
  def madOutliers(
      df: DataFrame, valueCol: String, cut: Double = 3.5, k: Int = 8192,
      flagAs: String = "is_outlier"): DataFrame = {
    require(cut > 0.0, s"cut must be positive, got $cut")
    val v = col(valueCol).cast("long")
    def medianOf(frame: DataFrame, c: org.apache.spark.sql.Column): Long = {
      val sk = quantileSketches(
        frame.select(c.as("__v")).withColumn("__g", lit(1)), Seq("__g"), "__v", k)
      mergedQuantiles(sk, Seq("__g"), Seq(0.5), k).first().getLong(2)
    }
    val med = medianOf(df, v)
    val mad = medianOf(df, abs(v - lit(med)))
    df.withColumn(flagAs,
      lit(0.6745) * abs(v - lit(med)).cast("double") > lit(cut) * lit(mad.toDouble))
  }

  /** Two-sample Kolmogorov–Smirnov drift between two snapshots'
    * distributions, computed ENTIRELY from their KLL sketches — the
    * corpus-free drift monitor: "did this month's length/score/token
    * distribution move against last month's" costs O(slices × k) sketch
    * arithmetic, never a rescan of either snapshot. Per key group
    * present in BOTH frames, evaluates both empirical CDFs over the
    * union of the sketches' retained values (the sup of |F_a − F_b| is
    * attained at a sample point, so in the exact regime this IS the
    * exact two-sample KS) and reports the scale-free integer numerator
    *
    *   `ks_num = max_v |c_a(≤v)·n_b − c_b(≤v)·n_a|`,  KS = ks_num/(n_a·n_b)
    *
    * — integer output so cross-engine comparison is exact (no float
    * division to hash); callers derive the statistic with one divide.
    * Past the exact regime the grid is the sketches' retained quantiles
    * and the result inherits KLL's rank error — the documented trade.
    * Grid size is bounded by 2k per slice REGARDLESS of corpus size:
    * the whole report is sketch-sized.
    */
  def distributionDrift(
      sketchesA: DataFrame, sketchesB: DataFrame,
      keys: Seq[String]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(keys.nonEmpty, "at least one grouping key required")
    val a = sketchesA.select(keys.map(col) :+ col("sketch").as("sk_a"): _*)
    val b = sketchesB.select(keys.map(col) :+ col("sketch").as("sk_b"): _*)
    val joined = a.join(b, keys)
    val iA = joined.schema.fieldIndex("sk_a")
    val iB = joined.schema.fieldIndex("sk_b")
    val keyIdx = keys.map(joined.schema.fieldIndex)
    val schema = StructType(
      keys.map(k => joined.schema(joined.schema.fieldIndex(k))) ++ Seq(
        StructField("n_a", LongType, nullable = false),
        StructField("n_b", LongType, nullable = false),
        StructField("ks_num", LongType, nullable = false)))
    // Sorted-view walk per slice row (the decode-stack mapPartitions
    // convention — the sketch library's sorted view is imperative, and
    // per-row dynamic ranks are outside the SQL expressions' foldable-
    // literal contract). Work is O(retained_a + retained_b) ≤ O(k) per
    // slice — sketch-sized, corpus-free.
    val rdd = joined.rdd.mapPartitions { rows =>
      import org.apache.datasketches.kll.KllLongsSketch
      import org.apache.datasketches.memory.Memory
      def view(bytes: Array[Byte]): (Long, Array[Long], Array[Long]) = {
        val sk = KllLongsSketch.heapify(Memory.wrap(bytes))
        if (sk.isEmpty) (0L, Array.empty, Array.empty)
        else {
          val it = sk.getSortedView.iterator()
          val vs = scala.collection.mutable.ArrayBuffer.empty[Long]
          val cw = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (it.next()) { vs += it.getQuantile; cw += it.getNaturalRank }
          (sk.getN, vs.toArray, cw.toArray)
        }
      }
      rows.map { r =>
        val (nA, va, cwa) = view(r.getAs[Array[Byte]](iA))
        val (nB, vb, cwb) = view(r.getAs[Array[Byte]](iB))
        // Union walk over both retained-value sequences; cumulative
        // weights are the inclusive CDF numerators. Exact overflow
        // bound: n_a·n_b must fit a long (~3×10^9 rows per side per
        // slice) — slice finer past it.
        var ia = 0; var ib = 0; var ca = 0L; var cb = 0L; var ks = 0L
        while (ia < va.length || ib < vb.length) {
          val v =
            if (ib >= vb.length) va(ia)
            else if (ia >= va.length) vb(ib)
            else math.min(va(ia), vb(ib))
          while (ia < va.length && va(ia) == v) { ca = cwa(ia); ia += 1 }
          while (ib < vb.length && vb(ib) == v) { cb = cwb(ib); ib += 1 }
          val d = math.abs(ca * nB - cb * nA)
          if (d > ks) ks = d
        }
        Row.fromSeq(keyIdx.map(r.get) ++ Seq(nA, nB, ks))
      }
    }
    joined.sparkSession.createDataFrame(rdd, schema)
  }

  /** Quantile estimates straight off a persisted KLL slice store, under
    * any regrouping of (a subset of) the slice keys.
    */
  def storedQuantiles(
      spark: org.apache.spark.sql.SparkSession, path: String,
      keys: Seq[String], ranks: Seq[Double], k: Int = 8192): DataFrame =
    mergedQuantiles(
      graft.merge.PartitionedTarget.read(spark, path)
        .select((keys :+ "sketch").map(col): _*),
      keys, ranks, k)

  /** Merge arriving KLL slice sketches INTO the store — the
    * [[mergeIntoStore]] twin for the quantile tier, with one structural
    * difference forced by the algebra: KLL merge is a WEIGHTED-SAMPLE
    * union, not a semilattice — re-merging the same rows doubles `n` —
    * so unlike HLL the caller needs replay protection. `arriving` must
    * carry a `batch_id` column; the stored row keeps the MAX batch id
    * folded into it, so the replay watermark rides IN the store rows
    * and promotes atomically with the data through the partition-scoped
    * apply — there is no sidecar to tear (the failure mode the BM25/PQ
    * watermark files needed atomic-rename hardening for is structurally
    * impossible here). [[graft.streaming.StreamingIndex.quantileStoreTo]]
    * reads `max(batch_id)` before applying and skips batches already
    * folded.
    */
  def mergeQuantilesIntoStore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      arriving: DataFrame, k: Int = 8192): Unit =
    graft.merge.PartitionedTarget.foldIntoStore(spark, path, arriving) { (both, keys) =>
      both.groupBy(keys.map(col): _*)
        .agg(
          kll_merge_agg_bigint(col("sketch"), lit(k)).as("sketch"),
          max(col("batch_id")).as("batch_id"))
    }

  /** Union arriving slice sketches INTO the store — the increment for
    * feeds that deliver a slice across many arrivals (a day's events
    * trickle in all day): read the stored rows of ONLY the buckets the
    * arriving slices hash to, union per slice, and replace through the
    * partition-scoped apply. HLL union is a join-semilattice (register
    * max / coupon-set union), so re-merging the same rows is a no-op on
    * every answer the store gives — at-least-once replay needs NO
    * watermark, the property that lets
    * [[graft.streaming.StreamingIndex.sketchStoreTo]] skip the
    * BM25/PQ tiers' whole batch-id protocol. Crash windows are the
    * apply's own staged swap: a batch either landed or it didn't, and
    * either way the replay converges to the same store.
    */
  def mergeIntoStore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      arriving: DataFrame): Unit =
    graft.merge.PartitionedTarget.foldIntoStore(spark, path, arriving) { (both, keys) =>
      both.groupBy(keys.map(col): _*)
        .agg(hll_union_agg(col("sketch"), lit(true)).as("sketch"))
    }

  // ------------------------------------------------------------------
  // Frequency tier: exact heavy hitters + mergeable count-min (C140/C141).
  // ------------------------------------------------------------------

  /** One scan, two corpus-free facts: per-partition Misra–Gries survivor
    * sets plus per-partition row totals. Output rows are either a
    * candidate (`__np` NULL) or a partition total (value NULL) — at most
    * `numPartitions · (k + 1)` rows regardless of corpus size.
    *
    * Guarantee (Misra & Gries 1982): with k counters, every item whose
    * count in a partition exceeds N_p/(k+1) survives that partition's
    * summary; by pigeonhole any item with GLOBAL count > N/(k+1) exceeds
    * that bound in at least one partition, so the union of survivors is
    * a superset of the global heavy hitters at threshold N/(k+1). This
    * is the fixed-memory map side that makes exact heavy hitters viable
    * at 100 TB: the long tail (billions of distinct keys) is never
    * shuffled — only ≤ parts·k candidates reach the exact recount.
    */
  private def mgScan(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val in = df.select(col(valueCol)).filter(col(valueCol).isNotNull)
    val schema = StructType(Seq(
      in.schema.head.copy(nullable = true),
      StructField("__np", LongType, nullable = true)))
    val rdd = in.rdd.mapPartitions { rows =>
      val counters = scala.collection.mutable.HashMap.empty[Any, Long]
      var np = 0L
      while (rows.hasNext) {
        val v = rows.next().get(0)
        np += 1
        counters.get(v) match {
          case Some(c) => counters.update(v, c + 1L)
          case None if counters.size < k => counters.update(v, 1L)
          case None => // the MG step: decrement every counter, drop zeros
            val ks = counters.keysIterator.toArray
            var i = 0
            while (i < ks.length) {
              val c = counters(ks(i))
              if (c == 1L) counters.remove(ks(i))
              else counters.update(ks(i), c - 1L)
              i += 1
            }
        }
      }
      counters.keysIterator.map(v => Row(v, null)) ++
        Iterator.single(Row(null, np))
    }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** Candidate summary for phi-heavy-hitters: (candidate values, total
    * non-null rows), collected to the driver. The collect is
    * contract-bounded — ≤ `numPartitions · (ceil(1/phi) + 1)` rows, a
    * function of the parallelism and the threshold, never the corpus.
    */
  private[graft] def mgSummary(
      df: DataFrame, valueCol: String, phi: Double): (Seq[Any], Long) = {
    require(phi > 0.0 && phi < 1.0, "phi must lie in (0, 1)")
    val k = math.ceil(1.0 / phi).toInt
    val rows = mgScan(df, valueCol, k).collect()
    val total = rows.iterator.filter(r => !r.isNullAt(1)).map(_.getLong(1)).sum
    val cands = rows.iterator.filter(_.isNullAt(1)).map(_.get(0))
      .toSeq.distinct
    (cands, total)
  }

  /** EXACT phi-heavy-hitters of `valueCol`: every value occurring in
    * strictly more than `phi · N` of the non-null rows, with its exact
    * count — two scans, zero full-cardinality shuffles. Scan 1
    * ([[mgSummary]]) produces a fixed-memory candidate superset (the MG
    * guarantee above, k = ceil(1/phi) ≥ 1/phi counters so the survivor
    * threshold N/(k+1) < phi·N); scan 2 recounts ONLY candidate rows
    * (broadcast semi-join, partial-aggregated) and applies the exact
    * threshold. The answer is therefore exactly the brute-force
    * `GROUP BY … HAVING count(*) > phi·N` — which is the oracle — while
    * the shuffle carries ≤ parts·k keys instead of every distinct value
    * in the corpus.
    */
  def heavyHitters(df: DataFrame, valueCol: String, phi: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    val (cands, total) = mgSummary(df, valueCol, phi)
    val spark = df.sparkSession
    val vField = df.schema(df.schema.fieldIndex(valueCol))
    val candDf = spark.createDataFrame(
      spark.sparkContext.parallelize(cands.map(Row(_)), 1),
      StructType(Seq(vField)))
    df.filter(col(valueCol).isNotNull)
      .join(broadcast(candDf), Seq(valueCol), "left_semi")
      .groupBy(col(valueCol))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(total) * lit(phi))
  }

  /** EXACT per-group phi-heavy-hitters: [[heavyHitters]] with the MG
    * summary keyed by `groupCols` — "per language, which phrases / per
    * domain, which URLs / per event type, which users dominate", each
    * group's threshold φ·N_group applied over ITS OWN total. The MG
    * guarantee holds per group verbatim (each group's counters see
    * exactly its rows, so the partition-count pigeonhole applies
    * group-wise), making the answer the brute-force per-group HAVING.
    *
    * Memory contract: per-partition summary state is |groups present in
    * the partition| × k counters — built for the bounded-group shapes
    * (languages, sources, event types, domains after capping), NOT for
    * group cardinalities that rival the value cardinality (there the
    * per-group threshold is meaningless anyway). The recount joins on
    * (group, value) WITHOUT a forced broadcast — candidates are
    * parts·groups·k rows and AQE broadcasts while that fits.
    */
  def heavyHittersByGroup(
      df: DataFrame, groupCols: Seq[String], valueCol: String,
      phi: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    require(groupCols.nonEmpty, "at least one grouping column required")
    require(phi > 0.0 && phi < 1.0, "phi must lie in (0, 1)")
    val k = math.ceil(1.0 / phi).toInt
    val cols = groupCols :+ valueCol
    val in = df.select(cols.map(col): _*).filter(col(valueCol).isNotNull)
    val ng = groupCols.length
    val scanSchema = StructType(
      in.schema.fields.map(_.copy(nullable = true)) :+
        StructField("__np", LongType, nullable = true))
    val scan = in.rdd.mapPartitions { rows =>
      val state = scala.collection.mutable.HashMap
        .empty[List[Any], (scala.collection.mutable.HashMap[Any, Long], Long)]
      while (rows.hasNext) {
        val r = rows.next()
        val g = (0 until ng).map(r.get).toList
        val (counters, np) = state.getOrElse(g,
          (scala.collection.mutable.HashMap.empty[Any, Long], 0L))
        val v = r.get(ng)
        counters.get(v) match {
          case Some(c) => counters.update(v, c + 1L)
          case None if counters.size < k => counters.update(v, 1L)
          case None =>
            val ks = counters.keysIterator.toArray
            var i = 0
            while (i < ks.length) {
              val c = counters(ks(i))
              if (c == 1L) counters.remove(ks(i))
              else counters.update(ks(i), c - 1L)
              i += 1
            }
        }
        state.update(g, (counters, np + 1L))
      }
      state.iterator.flatMap { case (g, (counters, np)) =>
        counters.keysIterator.map(v => Row.fromSeq(g ++ Seq(v, null))) ++
          Iterator.single(Row.fromSeq(g ++ Seq(null, np)))
      }
    }
    val spark = df.sparkSession
    val summary = spark.createDataFrame(scan, scanSchema)
    val cands = summary.filter(col("__np").isNull)
      .select(cols.map(col): _*).distinct()
    val totals = summary.filter(col("__np").isNotNull)
      .groupBy(groupCols.map(col): _*).agg(sum(col("__np")).as("__n"))
    df.filter(col(valueCol).isNotNull)
      .join(cands, cols) // AQE broadcasts the candidate side while it fits
      .groupBy(cols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
      .join(broadcast(totals), groupCols)
      .filter(col("cnt") > col("__n") * lit(phi))
      .select(cols.map(col) :+ col("cnt"): _*)
  }

  /** One count-min sketch per key group — the frequency twin of
    * [[distinctSketches]]: per-slice CMS rows persist beside the data
    * and answer "how often has THIS key been seen across history" by
    * merging few-KB sketches, never rescanning. Spark's native
    * `count_min_sketch` aggregate (codegen'd, map-side combined). CMS
    * is linear (the table is a sum of per-row increments), so slice
    * sketches built with identical (eps, confidence, seed) merge into
    * byte-identical state to a single-pass sketch — the property the
    * merge spec pins. Estimates are one-sided: est ≥ true count ALWAYS
    * (a theorem — collisions only add), within eps·N above it w.p.
    * `confidence`; the one-sidedness is what lets [[storedHeavyHitters]]
    * stay exact.
    */
  def freqSketches(
      df: DataFrame, keys: Seq[String], valueCol: String,
      eps: Double = 1e-4, confidence: Double = 0.99, seed: Int = 42): DataFrame = {
    require(keys.nonEmpty, "at least one grouping key required")
    df.filter(col(valueCol).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(count_min_sketch(col(valueCol), lit(eps), lit(confidence), lit(seed))
        .as("sketch"))
  }

  /** Fold slice CMS rows down to one sketch — a distributed `treeReduce`
    * (log-depth, executor-side merges; the driver receives exactly one
    * sketch, depth·width longs, a function of (eps, confidence) only).
    * All inputs must share (eps, confidence, seed); `mergeInPlace`
    * rejects incompatible shapes.
    */
  def mergeFreqSketches(sketches: DataFrame): Array[Byte] = {
    import org.apache.spark.util.sketch.CountMinSketch
    sketches.select(col("sketch")).rdd
      .map(_.getAs[Array[Byte]](0))
      .treeReduce { (a, b) =>
        val sa = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(a))
        val sb = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(b))
        sa.mergeInPlace(sb)
        val bos = new java.io.ByteArrayOutputStream()
        sa.writeTo(bos)
        bos.toByteArray
      }
  }

  /** Point estimates for a frame of probe keys against one merged
    * sketch: broadcast the sketch bytes, deserialize once per partition,
    * emit `(probe, est_count)`. Probe values must be the JVM type the
    * sketch was built over (long column ⇒ long probes — CMS hashes by
    * runtime type).
    */
  def probeCounts(
      probes: DataFrame, probeCol: String, sketch: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    import org.apache.spark.util.sketch.CountMinSketch
    val spark = probes.sparkSession
    val in = probes.select(col(probeCol)).filter(col(probeCol).isNotNull).distinct()
    val schema = StructType(
      in.schema.fields :+ StructField("est_count", LongType, nullable = false))
    val bc = spark.sparkContext.broadcast(sketch)
    val rdd = in.rdd.mapPartitions { rows =>
      val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(bc.value))
      rows.map(r => Row(r.get(0), cms.estimateCount(r.get(0))))
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Merge arriving CMS slice sketches INTO the store — the
    * [[mergeQuantilesIntoStore]] twin for the frequency tier, sharing
    * its exactly-once mechanism because the two algebras fail the same
    * way: CMS is LINEAR-ADDITIVE (the table is a sum), so replaying a
    * batch doubles every count it contributed — like KLL's n and unlike
    * HLL's register max. The replay watermark therefore rides IN the
    * store rows (each stored slice keeps the max `batch_id` folded into
    * it) and promotes atomically with the data through the
    * partition-scoped apply — no sidecar to tear.
    *
    * The per-slice binary merge has no SQL aggregate (count-min
    * aggregates raw VALUES, not sketches), so slices fold via
    * `reduceByKey` over the (stored-match ∪ arriving) rows — per-slice
    * row counts are tiny (one stored + the batch's one), and the merge
    * is executor-side. All sketches must share (eps, confidence, seed).
    */
  def mergeFreqIntoStore(
      spark: org.apache.spark.sql.SparkSession, path: String,
      arriving: DataFrame): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.util.sketch.CountMinSketch
    graft.merge.PartitionedTarget.foldIntoStore(spark, path, arriving) { (union, keys) =>
      val ordered = (keys :+ "sketch") :+ "batch_id"
      val both = union.select(ordered.map(col): _*)
      val nk = keys.length
      val rdd = both.rdd
        .map(r => (keys.indices.map(r.get).toList,
          (r.getAs[Array[Byte]](nk), r.getLong(nk + 1))))
        .reduceByKey { (x: (Array[Byte], Long), y: (Array[Byte], Long)) =>
          val sa = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(x._1))
          val sb = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(y._1))
          sa.mergeInPlace(sb)
          val bos = new java.io.ByteArrayOutputStream()
          sa.writeTo(bos)
          (bos.toByteArray, math.max(x._2, y._2))
        }
        .map { case (ks, (sk, b)) => Row.fromSeq(ks ::: List(sk, b)) }
      spark.createDataFrame(rdd, both.schema)
    }
  }

  /** EXACT phi-heavy-hitters answered THROUGH a persisted CMS slice
    * store: MG candidates from the current corpus (scan 1), historical
    * frequency estimates for those candidates from the MERGED stored
    * sketches (sketch arithmetic, history never rescanned), and an
    * exact recount (scan 2) confined to candidates whose estimate
    * clears `phi · N`. Exactness is a theorem twice over: MG candidates
    * are a superset of the true heavy hitters, and CMS estimates are
    * one-sided (est ≥ true), so the estimate filter cannot drop a true
    * hitter — the final recount + threshold is exactly the brute-force
    * answer. The candidate probe runs driver-side against the single
    * merged sketch: ≤ parts·k lookups, contract-bounded.
    */
  def storedHeavyHitters(
      spark: org.apache.spark.sql.SparkSession, path: String,
      df: DataFrame, valueCol: String, phi: Double): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.StructType
    import org.apache.spark.util.sketch.CountMinSketch
    val (cands, total) = mgSummary(df, valueCol, phi)
    val merged = mergeFreqSketches(
      graft.merge.PartitionedTarget.read(spark, path))
    val cms = CountMinSketch.readFrom(new java.io.ByteArrayInputStream(merged))
    val kept = cands.filter(v => cms.estimateCount(v) > phi * total)
    val vField = df.schema(df.schema.fieldIndex(valueCol))
    val candDf = spark.createDataFrame(
      spark.sparkContext.parallelize(kept.map(Row(_)), 1),
      StructType(Seq(vField)))
    df.filter(col(valueCol).isNotNull)
      .join(broadcast(candDf), Seq(valueCol), "left_semi")
      .groupBy(col(valueCol))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > lit(total) * lit(phi))
  }
}
