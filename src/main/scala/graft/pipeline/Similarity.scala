package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`). Two tiers:
  *
  *   - [[cosineTopK]] — brute-force cosine top-k: the exact baseline.
  *     Linear scan per probe; right when the probe set is small (it is
  *     broadcast) or as the verification oracle for the approximate tier.
  *   - [[ivfTopK]] — IVF-style: vectors are bucketed to their nearest
  *     centroid once, probes search only their own bucket. At 100 TB the
  *     scan per probe drops from |corpus| to |corpus|/nCentroids; bucket
  *     assignment is a broadcast join (centroid set is tiny by
  *     construction) followed by one shuffle on the bucket id.
  *
  * The dot product is the native codegen'd [[graft.functions.DotProduct]]
  * expression (requires a session built with
  * [[graft.functions.GraftExtensions]]) — Spark's array HOFs evaluate
  * interpreted, several times slower on the hot path. Vector norms are
  * computed ONCE per corpus/probe row before the join, not per pair.
  * Similarity is rounded to 6 decimals before ranking so cross-engine
  * float noise (~1e-15) cannot flip the top-k order; DuckDB's
  * `list_dot_product` sums in the same left-to-right order for exact
  * oracle parity.
  */
object Similarity {

  /** Native sequential-fold dot product of two `array<double>` columns.
    * Requires [[graft.functions.GraftExtensions]] on the session.
    */
  def dot(a: Column, b: Column): Column =
    call_function(GraftFunctions.DotProductName, a, b)

  /** Session-aware dot product: the native codegen expression when the
    * extension is registered, else a HOF fold with IDENTICAL semantics —
    * same left-to-right summation, and null products coalesced to 0.0 so
    * ragged lengths / null elements behave like the native expression's
    * min-length truncation (zip_with pads the short side with nulls, which
    * would otherwise poison the whole sum to NULL). Keeps the operators
    * usable, with the same values, on sessions the caller doesn't control.
    */
  private def dotOn(spark: org.apache.spark.sql.SparkSession): (Column, Column) => Column =
    if (spark.catalog.functionExists(GraftFunctions.DotProductName)) dot
    else (a, b) =>
      aggregate(zip_with(a, b, (x, y) => coalesce(x * y, lit(0.0))), lit(0.0), (acc, v) => acc + v)

  /** Cosine similarity, rounded to 6 decimals. Norms are recomputed per
    * call — prefer pre-normalized frames (see [[withNorm]]) in joins.
    */
  def cosine(a: Column, b: Column): Column =
    round(dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b))), 6)

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Project (id, vector, norm) — norm computed once per row, before any
    * join multiplies the row out.
    */
  private def withNorm(df: DataFrame, idCol: String, vecCol: String, idAs: String, vecAs: String, normAs: String): DataFrame = {
    val dp = dotOn(df.sparkSession)
    val v = asDouble(col(vecCol))
    df.select(col(idCol).as(idAs), v.as(vecAs))
      .withColumn(normAs, sqrt(dp(col(vecAs), col(vecAs))))
  }

  /** Brute-force cosine top-k for each probe vector.
    *
    * @param vectors corpus (idCol, vecCol: array<float>)
    * @param probes  probe rows from the same schema; must be small — it is
    *                broadcast to every corpus partition (no shuffle of the
    *                corpus side).
    * @return (probe_id, neighbor_id, sim, rnk) — k rows per probe, ranked
    *         by rounded similarity desc, neighbor id asc as tiebreak.
    */
  def cosineTopK(vectors: DataFrame, probes: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val dp = dotOn(vectors.sparkSession)
    val corpus = withNorm(vectors, idCol, vecCol, "neighbor_id", "__v", "__vn")
    val probe = withNorm(probes, idCol, vecCol, "probe_id", "__p", "__pn")
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("neighbor_id"))
    corpus
      .join(broadcast(probe), col("neighbor_id") =!= col("probe_id"))
      .withColumn("sim", round(dp(col("__p"), col("__v")) / (col("__pn") * col("__vn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("probe_id", "neighbor_id", "sim", "rnk")
  }

  /** Contrastive-pair mining over a RANKED neighbor frame — the
    * (anchor, positive, hard negatives) triplets an embedding trainer
    * consumes (DPR/SimCSE-style): per probe, the rank-1 neighbor is the
    * positive, and the next neighbors become hard negatives ONLY if
    * their similarity sits at least `margin` below the positive's —
    * near-ties are likely unlabeled positives and mining them as
    * negatives poisons the loss, which is exactly why the margin guard
    * exists in published mining recipes.
    *
    * Takes the `(probe_id, neighbor_id, <sim>, rnk)` shape every search
    * path here emits — [[cosineTopK]] (exact), [[ivfTopK]]/[[indexTopK]]
    * (ANN, similarity column `sim`), [[pqSearchTopKBatch]] (ADC, whose
    * similarity column is named `score` — pass `simCol = "score"`) — so
    * the miner composes with whichever generator the corpus size
    * dictates; `searchK` upstream bounds the candidate pool. Map-only
    * over the ranked frame plus two probe-keyed windows (probe-sized,
    * never corpus-sized).
    *
    * @param simCol name of the ranked frame's similarity column (`sim`
    *               for the cosine generators, `score` for the ADC ones);
    *               the output carries it under the same name.
    * @return (probe_id, role ∈ {positive, hard_negative}, role_rnk,
    *         neighbor_id, simCol); positives have role_rnk = 1, negatives
    *         keep their mined order, at most `kNeg` per probe.
    */
  def hardNegativesFrom(
      ranked: DataFrame, kNeg: Int, margin: Double, simCol: String = "sim"): DataFrame = {
    require(kNeg >= 1, s"kNeg must be >= 1, got $kNeg")
    require(margin >= 0, s"margin must be >= 0, got $margin")
    val wp = Window.partitionBy("probe_id")
    ranked
      .withColumn("__pos_sim", max(when(col("rnk") === 1, col(simCol))).over(wp))
      .withColumn("role",
        when(col("rnk") === 1, lit("positive"))
          .when(col(simCol) <= col("__pos_sim") - lit(margin), lit("hard_negative")))
      .filter(col("role").isNotNull)
      .withColumn("role_rnk", row_number().over(
        Window.partitionBy("probe_id", "role").orderBy("rnk")))
      .filter(col("role") === "positive" || col("role_rnk") <= kNeg)
      .select("probe_id", "role", "role_rnk", "neighbor_id", simCol)
  }

  /** [[hardNegativesFrom]] over the exact [[cosineTopK]] generator — the
    * oracle-able composition; swap the generator for IVF/PQ at corpus
    * sizes where exact search is off the table.
    */
  def hardNegatives(
      vectors: DataFrame, probes: DataFrame, idCol: String, vecCol: String,
      searchK: Int, kNeg: Int, margin: Double): DataFrame =
    hardNegativesFrom(cosineTopK(vectors, probes, idCol, vecCol, searchK), kNeg, margin)

  /** Assign every vector to its nearest centroid (max cosine, centroid id
    * as deterministic tiebreak). Centroids must be a small frame — they are
    * broadcast.
    */
  def assignBuckets(vectors: DataFrame, centroids: DataFrame, idCol: String, vecCol: String): DataFrame =
    assignTopBuckets(vectors, centroids, idCol, vecCol, 1).drop("crnk")

  /** Assign every vector to its `n` nearest centroids (multi-probe form —
    * one row per (vid, bucket), closest first in `crnk`). The IVF recall
    * knob: a probe near a Voronoi boundary has true neighbors in the
    * runner-up buckets, and searching the top-n buckets trades n× probe
    * cost for recovering them. Corpus vectors are still indexed under
    * exactly ONE bucket (n=1), so multi-probe never duplicates a
    * candidate.
    */
  def assignTopBuckets(
      vectors: DataFrame, centroids: DataFrame, idCol: String, vecCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val dp = dotOn(vectors.sparkSession)
    val vecs = withNorm(vectors, idCol, vecCol, "vid", "__v", "__vn")
    val cents = withNorm(centroids, idCol, vecCol, "centroid_id", "__c", "__cn")
    val w = Window.partitionBy("vid").orderBy(col("csim").desc, col("centroid_id"))
    vecs
      .crossJoin(broadcast(cents))
      .withColumn("csim", round(dp(col("__v"), col("__c")) / (col("__vn") * col("__cn")), 6))
      .withColumn("crnk", row_number().over(w))
      .filter(col("crnk") <= n)
      .select(col("vid"), col("centroid_id").as("bucket"), col("__v"), col("__vn"), col("crnk"))
  }

  /** The k vectors FURTHEST from their own nearest centroid — the
    * embedding-space quality report: a vector dissimilar to every cluster
    * center is out-of-distribution for the corpus (garbage decode, wrong
    * language, adversarial content), and this surfaces the worst k for
    * inspection or filtering before they pollute training.
    *
    * Scale shape: centroids broadcast (k×dim), per-vector scoring is
    * map-side; the nearest-centroid pick shuffles (vid, c) scored rows
    * once, and the global bottom-k plans as TakeOrdered — no full sort,
    * no driver-side data beyond the k-row result.
    *
    * @return (vec_id, bucket, csim) — the assigned centroid and its
    *         rounded cosine, ascending (worst first), vec_id tiebreak.
    */
  def centroidOutliers(
      vectors: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val dp = dotOn(vectors.sparkSession)
    val vecs = withNorm(vectors, idCol, vecCol, "vec_id", "__v", "__vn")
    val cents = withNorm(centroids, idCol, vecCol, "centroid_id", "__c", "__cn")
    val w = Window.partitionBy("vec_id").orderBy(col("csim").desc, col("centroid_id"))
    vecs
      .crossJoin(broadcast(cents))
      .withColumn("csim", round(dp(col("__v"), col("__c")) / (col("__vn") * col("__cn")), 6))
      .withColumn("crnk", row_number().over(w))
      .filter(col("crnk") === 1)
      .select(col("vec_id"), col("centroid_id").as("bucket"), col("csim"))
      .orderBy(col("csim").asc, col("vec_id"))
      .limit(k)
  }

  /** Corpus-level embedding health report — the gate before ANY
    * embedding operator is trusted: vector count, dimension bounds (a
    * mixed-dim corpus breaks every dot product), zero-vector and
    * non-finite counts (dead rows that NaN-poison cosine math), and the
    * L2-norm range/median. Every statistic is engine-deterministic: the
    * norm folds left-to-right (the e5 discipline), min/max/counts are
    * order-free, and the median interpolates over pre-rounded norms —
    * no floating-point sum over row order anywhere.
    *
    * Scale shape: one map-side projection + one aggregation; the exact
    * median buffers norms per group (fine for a 1-row report; swap
    * `percentile_approx` at extreme scale — same schema).
    */
  /** Dominant principal direction of an embedding corpus by POWER
    * ITERATION on the (uncentered) second-moment matrix — the
    * anisotropy probe that extends [[embeddingQc]]'s scalar report: a
    * healthy encoder spreads energy across dimensions, while a
    * collapsed/degenerate one concentrates it along one axis
    * (`energy_frac` → 1 is the alarm; the "rogue dimension" failure
    * documented for contrastive encoders). Returns the unit direction
    * (components rounded to 6 — the e20 cross-engine discipline, each
    * iteration re-rounding so both engines iterate on identical
    * vectors) and the Rayleigh energy fraction Σ(x·v)²/Σ‖x‖².
    *
    * A FIXED iteration count (convergence loops are not
    * oracle-expressible; k unrolls exactly), v₀ = 𝟙/√dim — the uniform
    * start, whose overlap with the dominant eigenvector is generically
    * nonzero (an axis start e₁ stalls on any corpus exactly orthogonal
    * to it — the classic power-iteration caveat). Scale shape: per
    * iteration ONE map-side-combined aggregation — a codegen'd
    * [[DotProduct]] per row against the literal direction plus `dim`
    * partial sums — and the driver holds `dim` doubles; never a
    * dim×dim covariance materialization, never a row collect. Sign
    * follows v₀ deterministically.
    */
  /** Greedy k-center selection (farthest-point traversal, the classic
    * 2-approximation to the k-center objective) over an embedding
    * corpus — diversity-aware coreset construction: each round picks
    * the point FARTHEST (cosine distance) from everything selected so
    * far, so the selected set spreads across the embedding space
    * instead of oversampling its dense core. The curation uses: seed a
    * labeling budget with maximally-diverse examples, pick dedup
    * cluster exemplars that span a cluster, build an eval probe set
    * that covers the corpus.
    *
    * Deterministic on any engine: the seed is the minimum id, per-pair
    * distances round to 6dp BEFORE the running min, and each round's
    * argmax tie-breaks by id — the e20/e21 fixed-iteration discipline,
    * so the whole trajectory unrolls as oracle CTE layers.
    *
    * Scale shape: one persisted (vector, norm) pass, then per round one
    * map-only distance-update against the single new center (a plan
    * literal — dim doubles, broadcast for free inside codegen) + a
    * TakeOrdered(1) argmax; the running min-distance column persists
    * per round under the GraphRank lineage-cut cycle, so round r costs
    * one corpus scan, not r of them. Driver state is k centers — model-
    * sized by contract.
    *
    * @return (step, center_id, dist) — dist is the coverage radius at
    *         selection time (how far the farthest point was when this
    *         center was chosen; 0.0 for the seed), the monotone curve
    *         that tells you when to stop adding centers.
    */
  def kCenters(
      vectors: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = vectors.sparkSession
    import spark.implicits._
    val dp = dotOn(spark)
    def distTo(vec: Seq[Double], norm: Double): Column =
      round(lit(1.0) - dp(col("__v"), typedLit(vec)) / (col("__vn") * lit(norm)), 6)
    def vecOf(r: org.apache.spark.sql.Row) = (r.getSeq[Double](1), r.getDouble(2))
    // Lineage.cut, not persist+count: persist only cut the PHYSICAL
    // recomputation — round r's logical plan still nested r
    // withColumn/least layers over the corpus lineage, so per-round
    // analysis cost grew with r (the GraphRank lesson, guide §3.3).
    // Each round's frame is a constant-size leaf; superseded rounds
    // release their blocks eagerly (Lineage.free). The norm pass is
    // pinned only for the seed pick and the first round's cut.
    val (seed, first) = graft.Lineage.pinned(
        withNorm(vectors, idCol, vecCol, "__id", "__v", "__vn")) { base =>
      val s = base.orderBy(col("__id")).limit(1).collect().head
      val (sv, sn) = vecOf(s)
      (s, graft.Lineage.cut(base.withColumn("mind", distTo(sv, sn))))
    }
    val picks = scala.collection.mutable.ArrayBuffer((1L, seed.getLong(0), 0.0))
    var cur = first
    var step = 2
    while (step <= k) {
      val top = cur.filter(!col("__id").isin(picks.toSeq.map(_._2): _*))
        .orderBy(desc("mind"), asc("__id")).limit(1).collect()
      if (top.isEmpty) step = k + 1 // corpus exhausted before k
      else {
        val t = top.head
        picks += ((step.toLong, t.getLong(0), t.getAs[Double]("mind")))
        val (tv, tn) = vecOf(t)
        val next = graft.Lineage.cut(cur
          .withColumn("mind", least(col("mind"), distTo(tv, tn))))
        graft.Lineage.free(cur)
        cur = next
        step += 1
      }
    }
    graft.Lineage.free(cur)
    picks.toSeq.toDF("step", "center_id", "dist")
  }

  def dominantDirection(
      vectors: DataFrame, vecCol: String, dim: Int,
      iters: Int = 3): (Array[Double], Double) = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(iters >= 1, s"iters must be >= 1, got $iters")
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val dp = dotOn(vectors.sparkSession)
    graft.Lineage.pinned(vectors.select(asDouble(col(vecCol)).as("__e"))) { base =>
      var v: IndexedSeq[Double] = IndexedSeq.fill(dim)(1.0 / math.sqrt(dim.toDouble))
      for (_ <- 1 to iters) {
        val s = dp(col("__e"), typedLit(v))
        val sums = (0 until dim).map(j =>
          sum(element_at(col("__e"), j + 1) * s).as(s"__c$j"))
        val row = base.agg(sums.head, sums.tail: _*).first()
        val w = (0 until dim).map(row.getDouble)
        val nrm = math.sqrt(w.map(x => x * x).sum)
        v = w.map(x => r6(x / nrm))
      }
      val s = dp(col("__e"), typedLit(v))
      val er = base.agg(
        sum(s * s).as("__num"),
        sum(dp(col("__e"), col("__e"))).as("__den")).first()
      (v.toArray, r6(er.getDouble(0) / er.getDouble(1)))
    }
  }

  def embeddingQc(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = asDouble(col(vecCol))
    val norm = round(
      sqrt(aggregate(transform(e, x => x * x), lit(0.0), (a, b) => a + b)), 6)
    vectors
      .select(size(e).as("__dim"), norm.as("__nrm"))
      .agg(
        count(lit(1)).as("n_vecs"),
        min(col("__dim")).as("dim_min"),
        max(col("__dim")).as("dim_max"),
        sum(when(col("__nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(isnan(col("__nrm")) || col("__nrm") === Double.PositiveInfinity, 1L)
          .otherwise(0L)).as("n_nonfinite"),
        min(col("__nrm")).as("norm_min"),
        max(col("__nrm")).as("norm_max"),
        expr("percentile(__nrm, 0.5)").as("norm_p50"))
  }

  /** Per-cluster label purity: assign every vector to its nearest
    * centroid, then report each bucket's size, majority label (smallest
    * label on count ties), and purity = majority fraction — the clustering
    * quality readout that tells an index operator whether the centroid set
    * actually separates the corpus (low purity ⇒ retrain with more
    * centroids before trusting IVF buckets or SemDeDup groups).
    *
    * Scale shape: [[assignBuckets]]'s broadcast-centroid map-side scoring
    * with the label CARRIED THROUGH the assignment (no corpus-sized join
    * back for it), one (bucket, label) aggregation with map-side combine,
    * then windows over the AGGREGATED frame only (≤ buckets × labels rows
    * — metadata, not corpus).
    *
    * @return (bucket, n, top_label, n_top, purity), purity rounded to 6.
    */
  def clusterPurity(
      vectors: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val dp = dotOn(vectors.sparkSession)
    val vecs = vectors.select(
      col(idCol).as("vid"), asDouble(col(vecCol)).as("__v"), col(labelCol).as("__lbl"))
      .withColumn("__vn", sqrt(dp(col("__v"), col("__v"))))
    val cents = withNorm(centroids, idCol, vecCol, "centroid_id", "__c", "__cn")
    val w0 = Window.partitionBy("vid").orderBy(col("csim").desc, col("centroid_id"))
    val assigned = vecs
      .crossJoin(broadcast(cents))
      .withColumn("csim", round(dp(col("__v"), col("__c")) / (col("__vn") * col("__cn")), 6))
      .withColumn("crnk", row_number().over(w0))
      .filter(col("crnk") === 1)
      .select(col("centroid_id").as("bucket"), col("__lbl"))
    val counts = assigned.groupBy("bucket", "__lbl").agg(count(lit(1)).as("n_lbl"))
    val w = Window.partitionBy("bucket").orderBy(col("n_lbl").desc, col("__lbl"))
    counts
      .withColumn("rn", row_number().over(w))
      .withColumn("n", sum("n_lbl").over(Window.partitionBy("bucket")))
      .filter(col("rn") === 1)
      .select(col("bucket"), col("n"), col("__lbl").as("top_label"), col("n_lbl").as("n_top"),
        round(col("n_lbl") / col("n"), 6).as("purity"))
  }

  /** Embedding-cosine near-duplicate pairs: all (a, b) with
    * cosine >= threshold, found WITHIN centroid buckets — the IVF trick
    * applied to dedup. Near-identical vectors point the same way, so they
    * land in the same bucket; the pair join keys on the bucket id and its
    * fan-out is bucket occupancy, never |corpus|² (the same scale shape as
    * the banded-MinHash text dedup).
    *
    * Scoped like [[Dedup.withJaccardPairs]]: the bucket assignment
    * (broadcast-centroid crossJoin + rank window + occupancy window) feeds
    * BOTH sides of the pair self-join, so it is pinned while `f` runs
    * (without the pin Catalyst recomputes that whole lineage twice —
    * VERDICT r5 "what's wrong" #3, e3's bench double-compute) and
    * released when `f` returns.
    *
    * @param bucketCap drop buckets holding more than this many vectors
    *                  before pairing (VERDICT r2 "what's wrong" #1): the
    *                  within-bucket join fans out quadratically in
    *                  occupancy, and mass-duplicated embeddings all land in
    *                  the SAME bucket by construction — the exact workload
    *                  this operator targets is the one that blows it up.
    *                  Same occupancy-window pattern as
    *                  [[Dedup.withMinhashLshPairs]]'s bucketCap; unlike LSH
    *                  there is no second band to recover a dropped bucket,
    *                  so run [[Dedup.exact]] first for duplicate floods,
    *                  or raise the cap knowing cost grows with cap².
    * @param f receives (vec_a, vec_b, sim) with vec_a < vec_b, sim
    *          rounded to 6.
    */
  def withCosineNearDupPairs[T](
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bucketCap: Int = 10000)(f: DataFrame => T): T = {
    val dp = dotOn(vectors.sparkSession)
    graft.Lineage.pinned(assignBuckets(vectors, centroids, idCol, vecCol)
        .withColumn("__occ", count(lit(1)).over(Window.partitionBy("bucket")))
        .filter(col("__occ") <= bucketCap)
        .drop("__occ")) { b =>
      f(b.as("x").join(
          b.as("y"),
          col("x.bucket") === col("y.bucket") && col("x.vid") < col("y.vid"))
        .withColumn("sim", round(dp(col("x.__v"), col("y.__v")) / (col("x.__vn") * col("y.__vn")), 6))
        .filter(col("sim") >= threshold)
        .select(col("x.vid").as("vec_a"), col("y.vid").as("vec_b"), col("sim")))
    }
  }

  /** Deterministic Rademacher (±1) hyperplanes for [[withHyperplaneLshPairs]]:
    * `nBits` planes of `dim` components each, derived from
    * `java.util.Random` seeded per plane (the LCG is pinned by its Javadoc
    * spec, so the matrix is identical on every JVM). For random-projection
    * sign hashing, ±1 entries are as good as Gaussian ones
    * (Achlioptas 2001) and keep the dot products exactly representable.
    * k×dim driver-side constants only — data-INdependent, so unlike the
    * [[trainCentroids]]/IVF family there is no training pass, no model to
    * version, and streaming ingest can signature rows one batch at a time
    * against the same planes forever.
    */
  def hyperplanes(nBits: Int, dim: Int, seed: Int): Array[Array[Double]] =
    Array.tabulate(nBits) { p =>
      val rnd = new java.util.Random(seed.toLong * 1000003L + p)
      Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
    }

  /** Seed-derived ±1 projection matrix — the database-friendly
    * Johnson–Lindenstrauss family (Achlioptas, JCSS 2003: ±1 entries
    * satisfy the JL lemma with the same guarantees as Gaussians, and
    * the projection is pure add/subtract). Rows are derived exactly
    * like [[hyperplanes]]' planes: data-independent constants, so
    * projections NEVER go stale as the corpus grows and any engine can
    * replay them from (outDim, dim, seed) alone.
    */
  def projectionMatrix(outDim: Int, dim: Int, seed: Int): Array[Array[Double]] =
    Array.tabulate(outDim) { p =>
      val rnd = new java.util.Random(seed.toLong * 7368787L + p)
      Array.fill(dim)(if (rnd.nextBoolean()) 1.0 else -1.0)
    }

  /** Random-projection dimensionality reduction: each embedding maps to
    * `proj[j] = round(v · m_j / √outDim, 6)` — the JL preprocessing
    * step that makes every downstream vector operator cheaper by
    * dim/outDim (a 64→16 cut quarters every dot product in brute-force
    * search, IVF assignment, and near-dup verification) while
    * distances/angles distort by the JL bound (ε ≈ √(8·ln n / outDim)
    * w.h.p.; the measured distortion on the fixture corpus is
    * spec-pinned). Map-only: `outDim` codegen'd [[DotProduct]]s per row
    * against literal matrix rows — no shuffle, no model to train or
    * persist (contrast C92's PQ, which learns codebooks for better
    * fidelity at equal bytes but needs the training pass + sidecars).
    * Components round to 6 decimals so the projected frame is
    * bit-reproducible cross-engine (the splitThresholds float
    * discipline); the rounding's 1e-6 per-component error is ~100×
    * below the JL distortion it rides on.
    */
  def randomProject(
      vectors: DataFrame, idCol: String, vecCol: String,
      dim: Int, outDim: Int, seed: Int,
      projAs: String = "proj"): DataFrame = {
    require(outDim >= 1 && outDim <= dim,
      s"outDim must lie in [1, dim]; got $outDim vs dim $dim")
    val m = projectionMatrix(outDim, dim, seed)
    val dp = dotOn(vectors.sparkSession)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val v = asDouble(col(vecCol))
    val comps = m.map { row =>
      round(dp(v, typedLit(row.toSeq)) * lit(scale), 6)
    }
    vectors.select(col(idCol), array(comps.toIndexedSeq: _*).as(projAs))
  }

  /** Random-hyperplane LSH near-duplicate pairs (Charikar 2002 — SimHash
    * for embeddings): each vector gets an `nBits` sign signature
    * (bit p = [v · plane_p >= 0]); the signature is banded into
    * `nBits / bandBits` bands and vectors sharing any band's bit pattern
    * become candidates, verified with exact cosine >= threshold. Two
    * vectors at angle θ agree on one bit with probability 1 − θ/π, so
    * near-identical vectors (θ ≈ 0) collide in every band while unrelated
    * ones are scattered across 2^bandBits buckets per band.
    *
    * The data-independent complement of [[withCosineNearDupPairs]]: IVF
    * buckets adapt to the data's density (better candidate quality) but
    * need a centroid model; hyperplane LSH needs none — the right tool
    * when no training pass has run, for streaming ingest against stable
    * planes, or as a cross-check detector family (same role SimHash plays
    * beside MinHash in the text suite).
    *
    * Scale shape: signature build is map-only (nBits codegen'd dots per
    * row, no shuffle); the candidate join keys on (band, bucket) with
    * fan-out = bucket occupancy, never corpus²; `bucketCap` drops
    * degenerate buckets (mass-duplicated vectors collide in EVERY band by
    * construction) exactly like [[Dedup.withMinhashLshPairs]]' cap, and a
    * capped bucket's members can still pair through their other bands.
    * Verification touches the distinct candidate set only.
    *
    * Scoped like [[Dedup.withJaccardPairs]]: the slim signature and norm
    * frames are pinned while `f` runs — sig feeds BOTH sides of the
    * candidate join, vecs both verification joins, and without the pins
    * Catalyst recomputes the signature/norm lineage per use (the e3/d3
    * lesson).
    *
    * @param dim vector dimensionality (the plane matrix is driver-side
    *            literal constants, so it cannot be inferred lazily)
    * @param f receives (vec_a, vec_b, sim), vec_a < vec_b, sim rounded to 6.
    */
  def withHyperplaneLshPairs[T](
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      nBits: Int = 16,
      bandBits: Int = 8,
      seed: Int = 7,
      bucketCap: Int = 10000)(f: DataFrame => T): T = {
    val dp = dotOn(vectors.sparkSession)
    graft.Lineage.pinned(hyperplaneNorms(vectors, idCol, vecCol)) { vecs =>
      graft.Lineage.pinned(cappedSignatures(vecs, dim, nBits, bandBits, seed, bucketCap)) { sig =>
        val candidates = sig.as("a")
          .join(sig.as("b"),
            col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
              col("a.vid") < col("b.vid"))
          .select(col("a.vid").as("vec_a"), col("b.vid").as("vec_b"))
          .distinct()
        f(candidates
          .join(vecs.as("va"), col("vec_a") === col("va.vid"))
          .join(vecs.as("vb"), col("vec_b") === col("vb.vid"))
          .withColumn("sim",
            round(dp(col("va.__v"), col("vb.__v")) / (col("va.__vn") * col("vb.__vn")), 6))
          .filter(col("sim") >= threshold)
          .select(col("vec_a"), col("vec_b"), col("sim")))
      }
    }
  }

  /** (id, vector, norm) projection with the operator-internal column names
    * the hyperplane family uses — the entry point for callers (streaming
    * ingest) that stage the corpus side themselves.
    */
  private[graft] def hyperplaneNorms(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    withNorm(df, idCol, vecCol, "vid", "__v", "__vn")

  /** [[signatureOf]] minus every (band, bucket) holding more than
    * `bucketCap` vectors: degenerate buckets (mass-duplicated vectors
    * collide in every band) are dropped whole, so no pairing ever pays a
    * quadratic bucket fan-out.
    */
  private[graft] def cappedSignatures(
      vecs: DataFrame, dim: Int, nBits: Int, bandBits: Int, seed: Int,
      bucketCap: Int): DataFrame =
    signatureOf(vecs, dim, nBits, bandBits, seed)
      .withColumn("__occ", count(lit(1)).over(Window.partitionBy("band", "bucket")))
      .filter(col("__occ") <= bucketCap)
      .drop("__occ")

  /** Exploded (vid, band, bucket) sign signatures of a [[hyperplaneNorms]]
    * frame — map-only: nBits codegen'd dots per row, no shuffle.
    */
  private[graft] def signatureOf(
      vecs: DataFrame, dim: Int, nBits: Int, bandBits: Int, seed: Int): DataFrame = {
    require(nBits >= 1 && bandBits >= 1 && nBits % bandBits == 0,
      s"nBits ($nBits) must be a positive multiple of bandBits ($bandBits)")
    require(bandBits <= 62, s"bandBits must fit a long, got $bandBits")
    val dp = dotOn(vecs.sparkSession)
    val planes = hyperplanes(nBits, dim, seed)
    val bits: IndexedSeq[Column] =
      planes.toIndexedSeq.map(p => (dp(col("__v"), array(p.map(lit).toSeq: _*)) >= 0).cast("long"))
    val bandStructs = (0 until nBits / bandBits).map { b =>
      val bucket = (0 until bandBits)
        .map(j => bits(b * bandBits + j) * lit(1L << j)).reduce(_ + _)
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    vecs
      .select(col("vid"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("vid"), col("bs.band").as("band"), col("bs.bucket").as("bucket"))
  }

  /** Incremental hyperplane-LSH near-dup: every (new, corpus) pair with
    * cosine >= threshold among candidates sharing a band bucket — the
    * delta-ingest twin of [[withHyperplaneLshPairs]] (the role
    * [[Dedup.withIncrementalJaccardPairs]] plays for the shingle family).
    * Candidates are delta × corpus only — the corpus never self-pairs, so
    * a daily delta against a 100 TB corpus costs |delta| signatures plus
    * bucket-local joins, never a corpus re-pairing.
    *
    * The corpus-side occupancy cap bounds degenerate buckets; the delta
    * side is uncapped (a batch is small by construction). Because the
    * planes are data-independent constants, corpus signatures never go
    * stale — unlike IVF centroids, there is no drift to re-train away.
    * Scoped like [[withHyperplaneLshPairs]]: the corpus norms and capped
    * signatures and the delta norms are pinned while `f` runs.
    *
    * @param f receives (new_id, corpus_id, sim), sim rounded to 6.
    */
  def withHyperplaneIncrementalPairs[T](
      newVecs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      nBits: Int = 16,
      bandBits: Int = 8,
      seed: Int = 7,
      bucketCap: Int = 10000)(f: DataFrame => T): T =
    graft.Lineage.pinned(hyperplaneNorms(corpus, idCol, vecCol)) { cVecs =>
      graft.Lineage.pinned(cappedSignatures(cVecs, dim, nBits, bandBits, seed, bucketCap)) { cSig =>
        graft.Lineage.pinned(hyperplaneNorms(newVecs, idCol, vecCol)) { nVecs =>
          f(incrementalPairsAgainst(nVecs, cSig, cVecs, dim, threshold, nBits, bandBits, seed))
        }
      }
    }

  /** Delta-side pairing against PRE-STAGED corpus frames (capped
    * signatures + norm payloads) — the per-micro-batch core shared by
    * [[withHyperplaneIncrementalPairs]] and the streaming ingest path,
    * which prepares the corpus once and calls this per batch.
    */
  private[graft] def incrementalPairsAgainst(
      nVecs: DataFrame,
      corpusSig: DataFrame,
      corpusVecs: DataFrame,
      dim: Int,
      threshold: Double,
      nBits: Int,
      bandBits: Int,
      seed: Int): DataFrame = {
    val dp = dotOn(nVecs.sparkSession)
    val nSig = signatureOf(nVecs, dim, nBits, bandBits, seed)
    val candidates = nSig.as("n")
      .join(corpusSig.as("c"),
        col("n.band") === col("c.band") && col("n.bucket") === col("c.bucket"))
      .select(col("n.vid").as("new_id"), col("c.vid").as("corpus_id"))
      .distinct()
    candidates
      .join(nVecs.as("nv"), col("new_id") === col("nv.vid"))
      .join(corpusVecs.as("cv"), col("corpus_id") === col("cv.vid"))
      .withColumn("sim",
        round(dp(col("nv.__v"), col("cv.__v")) / (col("nv.__vn") * col("cv.__vn")), 6))
      .filter(col("sim") >= threshold)
      .select(col("new_id"), col("corpus_id"), col("sim"))
  }

  // ---- persisted hyperplane signature index (VERDICT r13 next #3) ----

  private val SigSpecFile = "_graft_sig_spec"
  private val SigAppendIntent = "_graft_append_intent"
  private[graft] val SigStreamBatchFile = "_graft_stream_batch"

  /** Persist the hyperplane-LSH signature index — the at-rest form of the
    * [[withHyperplaneIncrementalPairs]] corpus side (the C82/d23 protocol
    * applied to the e6 detector): the corpus is signatured ONCE EVER,
    * every later delta probes `(band, bucket, vid)` rows off disk and
    * appends its own, and no corpus vector is ever re-signatured. The
    * planes are data-independent constants, which is exactly what makes
    * this index uniquely maintenance-free among the persisted family:
    * signatures NEVER go stale (no centroid drift, no codebook drift, no
    * rebuild-on-drift loop) — append is the only maintenance verb, plus
    * layout compaction.
    *
    * Layout:
    *   - `path/sig`  — `(vid, band, bucket)` exploded signatures,
    *     append-only
    *   - `path/vecs` — `(vid, v: array<double>, vn)` norm payloads for
    *     the exact-cosine verify, append-only
    *   - `path/occ`  — `(band, bucket, occ)` occupancy counts, a DERIVED
    *     cache rewritten per append; if lost mid-swap it rebuilds from
    *     `sig` on next read (self-healing, never authoritative)
    *   - `_graft_sig_spec` JSON pinning (dim, nBits, bandBits, seed) so
    *     probes can't mix plane families
    */
  def writeSignatureIndex(
      corpus: DataFrame, idCol: String, vecCol: String, path: String,
      dim: Int, nBits: Int = 16, bandBits: Int = 8, seed: Int = 7): Unit = {
    val spark = corpus.sparkSession
    graft.Lineage.pinned(hyperplaneNorms(corpus, idCol, vecCol)) { vecs =>
      vecs.select(col("vid"), col("__v").as("v"), col("__vn").as("vn"))
        .write.mode("overwrite").parquet(s"$path/vecs")
      signatureOf(vecs, dim, nBits, bandBits, seed)
        .write.mode("overwrite").parquet(s"$path/sig")
      // Occupancy from the WRITTEN files, so the cache cannot drift.
      spark.read.parquet(s"$path/sig")
        .groupBy("band", "bucket").agg(count(lit(1)).as("occ"))
        .write.mode("overwrite").parquet(s"$path/occ")
    }
    val p = new org.apache.hadoop.fs.Path(path, SigSpecFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(
      s"""{"dim": $dim, "nBits": $nBits, "bandBits": $bandBits, "seed": $seed}"""
        .getBytes("UTF-8"))
    finally out.close()
  }

  /** The pinned plane-family spec, behind the index/consistency gate:
    * `path` must be a [[writeSignatureIndex]] layout with no append
    * mid-promotion (sig/vecs/occ may be mutually inconsistent mid-swap,
    * and a probe would silently drop pairs through the vecs inner-join).
    */
  private def readSigSpec(
      spark: org.apache.spark.sql.SparkSession, path: String): (Int, Int, Int, Int) = {
    val p = new org.apache.hadoop.fs.Path(path, SigSpecFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(p),
      s"$path is not a signature index (no $SigSpecFile) — build it with writeSignatureIndex")
    if (fs.exists(new org.apache.hadoop.fs.Path(path, SigAppendIntent)))
      throw new IllegalStateException(
        s"$path has an interrupted append — run recoverSignatureIndex to roll it forward")
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    def field(name: String): Int =
      ("\"" + name + "\"\\s*:\\s*(-?\\d+)").r.findFirstMatchIn(txt).map(_.group(1).toInt)
        .getOrElse(throw new IllegalArgumentException(s"Malformed $SigSpecFile at $path"))
    (field("dim"), field("nBits"), field("bandBits"), field("seed"))
  }

  /** The occupancy cache, rebuilt from the authoritative signatures if a
    * crashed append swap lost it. */
  private def sigOcc(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(s"$path/occ")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) spark.read.parquet(s"$path/occ")
    else spark.read.parquet(s"$path/sig")
      .groupBy("band", "bucket").agg(count(lit(1)).as("occ"))
  }

  /** [[withHyperplaneIncrementalPairs]] against the AT-REST index: the delta
    * is signatured in memory with the PINNED plane family, the corpus
    * side reads `(band, bucket, vid)` rows off disk, and the occupancy
    * cap is an ANTI-JOIN against the (tiny, broadcast) set of over-cap
    * buckets read off the occ cache — no count window over the corpus
    * signatures, no corpus vector touched outside the probed buckets'
    * verify joins. Result contract identical to
    * [[withHyperplaneIncrementalPairs]] over the same corpus (spec-pinned
    * row-for-row).
    */
  def pairsAgainstSignatureIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bucketCap: Int = 10000): DataFrame = {
    val (dim, nBits, bandBits, seed) = readSigSpec(spark, path)
    val hot = sigOcc(spark, path).filter(col("occ") > bucketCap).select("band", "bucket")
    val cSig = spark.read.parquet(s"$path/sig")
      .join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    val cVecs = spark.read.parquet(s"$path/vecs")
      .select(col("vid"), col("v").as("__v"), col("vn").as("__vn"))
    incrementalPairsAgainst(
      hyperplaneNorms(newVecs, idCol, vecCol), cSig, cVecs,
      dim, threshold, nBits, bandBits, seed)
  }

  /** Append a delta's signatures + norm payloads to the at-rest index,
    * crash-atomically — the [[graft.pipeline.Dedup.appendToShingleIndex]]
    * protocol verbatim: stage sig/vecs/merged-occ (one aggregation over
    * the occ cache + the STAGED files, never a corpus re-scan) completely
    * under `append.staging/`, declare with an intent marker, promote by
    * per-file rename (occ and the optional stream watermark by
    * stage-delete-rename), drop the marker. Crash points unambiguous: no
    * marker → live index untouched, staging is garbage; marker → staged
    * data complete, [[recoverSignatureIndex]] re-runs the idempotent
    * promotion while probes fail loudly; marker gone → fully visible.
    * Contract: delta ids disjoint from indexed ones (append, not
    * upsert); callers probe FIRST — append is the accept step of
    * check-then-accept ingest.
    *
    * @param streamBatchId when set, a stream-batch watermark stages and
    *                      promotes WITH the signatures — the
    *                      exactly-once hinge of the streaming ingest.
    */
  def appendToSignatureIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      newVecs: DataFrame, idCol: String, vecCol: String,
      streamBatchId: Option[Long] = None): Unit = {
    val (dim, nBits, bandBits, seed) = readSigSpec(spark, path) // gates on a pending marker
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/append.staging"), true)
    graft.Lineage.pinned(hyperplaneNorms(newVecs, idCol, vecCol)) { vecs =>
      vecs.select(col("vid"), col("__v").as("v"), col("__vn").as("vn"))
        .write.mode("overwrite").parquet(s"$path/append.staging/vecs")
      signatureOf(vecs, dim, nBits, bandBits, seed)
        .write.mode("overwrite").parquet(s"$path/append.staging/sig")
      sigOcc(spark, path)
        .unionByName(spark.read.parquet(s"$path/append.staging/sig")
          .groupBy("band", "bucket").agg(count(lit(1)).as("occ")))
        .groupBy("band", "bucket").agg(sum("occ").as("occ"))
        .write.mode("overwrite").parquet(s"$path/append.staging/occ")
      streamBatchId.foreach(id =>
        TextStats.atomicWriteWatermark(fs, s"$path/append.staging", SigStreamBatchFile, id))
      val marker = fs.create(new org.apache.hadoop.fs.Path(path, SigAppendIntent), true)
      try marker.write("pending".getBytes("UTF-8")) finally marker.close()
      promoteSigAppend(fs, path)
    }
  }

  /** Promote a fully-staged signature append (intent marker present);
    * idempotent — already-promoted files are no longer in staging. */
  private def promoteSigAppend(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    for (sub <- Seq("sig", "vecs")) {
      val from = new org.apache.hadoop.fs.Path(s"$path/append.staging/$sub")
      if (fs.exists(from)) {
        fs.listStatus(from)
          .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))
          .foreach { f =>
            val dest = new org.apache.hadoop.fs.Path(s"$path/$sub/${f.getPath.getName}")
            if (!fs.rename(f.getPath, dest))
              throw new IllegalStateException(s"append: could not promote ${f.getPath} to $dest")
          }
      }
    }
    for (sub <- Seq("occ", SigStreamBatchFile)) {
      val staged = new org.apache.hadoop.fs.Path(s"$path/append.staging/$sub")
      if (fs.exists(staged)) {
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/$sub"), true)
        if (!fs.rename(staged, new org.apache.hadoop.fs.Path(s"$path/$sub")))
          throw new IllegalStateException(s"append: could not promote $sub at $path")
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/append.staging"), true)
    fs.delete(new org.apache.hadoop.fs.Path(path, SigAppendIntent), false)
  }

  /** The last applied stream batch id, or None for a batch-built index;
    * torn/unparseable reads as None (the BM25/PQ contract). */
  private[graft] def readSigStreamBatch(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(path, SigStreamBatchFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      txt.trim.toLongOption
    }
  }

  /** Restore a healthy file layout to an append-accreted signature index
    * — each append lands one file set per subdir, the same degradation
    * every persisted index guards against. `sig`/`vecs` coalesce
    * (content already one row per fact); the occ cache is untouched.
    * Stage → retire → promote per subdir; [[recoverSignatureIndex]]
    * rolls an interrupted swap deterministically.
    *
    * @return the subdirs actually rewritten (empty = nothing degraded).
    */
  def compactSignatureIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      targetFileBytes: Long = 128L << 20, minFiles: Int = 2): Seq[String] = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive, got $targetFileBytes")
    require(minFiles >= 2, s"minFiles must be >= 2, got $minFiles")
    readSigSpec(spark, path) // gate: only operate on a real index
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq("sig", "vecs").flatMap { sub =>
      val dir = new org.apache.hadoop.fs.Path(s"$path/$sub")
      val files = fs.listStatus(dir).filter(f =>
        f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      val bytes = files.map(_.getLen).sum
      val desired = math.min(256L, math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes)).toInt
      if (files.length < minFiles || files.length <= desired) None
      else {
        val staging = new org.apache.hadoop.fs.Path(s"$path/$sub.staging")
        val retired = new org.apache.hadoop.fs.Path(s"$path/$sub.retired")
        spark.read.parquet(dir.toString).repartition(desired).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staging.toString)
        if (!fs.rename(dir, retired))
          throw new IllegalStateException(s"compact: could not retire $dir")
        if (!fs.rename(staging, dir))
          throw new IllegalStateException(s"compact: could not promote $staging")
        fs.delete(retired, true)
        Some(sub)
      }
    }
  }

  /** Roll an interrupted signature-index maintenance step to a
    * consistent state: a marked append promotes FORWARD, unmarked
    * staging leftovers drop, and an interrupted compaction swap rolls
    * per subdir (live missing + retired present → roll back; both
    * present → swap completed, drop the backup; orphan staging → drop).
    * @return true when anything was repaired.
    */
  def recoverSignatureIndex(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val appendActed = {
      val marker = new org.apache.hadoop.fs.Path(path, SigAppendIntent)
      val staging = new org.apache.hadoop.fs.Path(s"$path/append.staging")
      if (fs.exists(marker)) { promoteSigAppend(fs, path); true }
      else if (fs.exists(staging)) { fs.delete(staging, true); true }
      else false
    }
    appendActed | Seq("sig", "vecs").map { sub =>
      val dir = new org.apache.hadoop.fs.Path(s"$path/$sub")
      val staging = new org.apache.hadoop.fs.Path(s"$path/$sub.staging")
      val retired = new org.apache.hadoop.fs.Path(s"$path/$sub.retired")
      var acted = false
      if (!fs.exists(dir) && fs.exists(retired)) {
        if (!fs.rename(retired, dir))
          throw new IllegalStateException(s"recover: could not restore $retired")
        acted = true
      }
      if (fs.exists(dir) && fs.exists(retired)) { fs.delete(retired, true); acted = true }
      if (fs.exists(staging)) { fs.delete(staging, true); acted = true }
      acted
    }.exists(identity)
  }

  /** Persist an IVF index to disk: vectors bucket-assigned once and
    * written PARTITIONED BY bucket, centroids as a sidecar — so the
    * expensive assignment pass is paid at build time, and every later
    * probe batch reads ONLY its probed buckets' directories (partition
    * pruning at the file listing, before any row is scanned). The at-rest
    * ANN shape for a corpus probed many times: at 100 TB a probe batch
    * touching 5 of 1024 buckets scans ~0.5% of the files.
    *
    * Layout: `path/centroids` (centroid_id, cvec), `path/vectors`
    * partitioned by `bucket` with (vid, v: array<double>, vn: precomputed
    * norm — probes never recompute corpus norms).
    */
  def writeIndex(
      vectors: DataFrame, centroids: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    assignBuckets(vectors, centroids, idCol, vecCol)
      .select(col("vid"), col("__v").as("v"), col("__vn").as("vn"), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/vectors")
    centroids
      .select(col(idCol).as("centroid_id"), asDouble(col(vecCol)).as("cvec"))
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Append new vectors into a [[writeIndex]]-persisted index without a
    * rebuild: the increment is bucket-assigned with the STORED centroids
    * (so placement is consistent with every existing row) and appended
    * under its bucket directories — only the touched buckets gain files,
    * untouched directories are never opened. The index twin of
    * [[Dedup.withIncrementalJaccardPairs]]'s delta-vs-corpus shape: a daily
    * embedding increment costs the increment, not the corpus.
    *
    * Caller contract: ids disjoint from the existing index (append is
    * not upsert); centroids are fixed at build time — re-train and
    * rebuild when drift accumulates (the standard IVF maintenance trade).
    */
  def appendToIndex(
      newVectors: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val spark = newVectors.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("centroid_id").as(idCol), col("cvec").as(vecCol))
    assignBuckets(newVectors, cents, idCol, vecCol)
      .select(col("vid"), col("__v").as("v"), col("__vn").as("vn"), col("bucket"))
      .write.mode("append").partitionBy("bucket").parquet(s"$path/vectors")
  }

  /** Restore [[appendToIndex]]-accreted bucket directories to a healthy
    * file layout (VERDICT r7 next #6): each append adds one file set per
    * touched bucket, so a daily increment turns every hot bucket into
    * hundreds of small files and probe scan cost grows with appends, not
    * data. Delegates to [[graft.merge.PartitionedTarget.compactDirs]] —
    * the same fragmentation/oversize flagging as the merge target's
    * compaction, and the same staged-write + intent-marker + per-bucket
    * swap protocol, so an interrupted index compaction recovers exactly
    * like an interrupted merge (run [[recoverIndex]] after a crash).
    * Untouched bucket directories are never opened; probe results and the
    * PartitionFilters pruning shape are unchanged — only file layout.
    *
    * @return the bucket ids rewritten (empty when nothing qualified)
    */
  def compactIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFileBytes: Long = 128L << 20,
      minFiles: Int = 2): Seq[Int] = {
    val cents = new org.apache.hadoop.fs.Path(s"$path/centroids")
    val fs = cents.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(cents))
      throw new IllegalArgumentException(
        s"$path is not a persisted IVF index (no centroids sidecar) — build it with writeIndex")
    graft.merge.PartitionedTarget.compactDirs(
      spark, s"$path/vectors", "bucket", targetFileBytes, minFiles)
  }

  /** Roll an interrupted [[compactIndex]] swap forward or back (same
    * marker protocol as [[graft.merge.MergeApply.recover]], which this
    * delegates to against the index's vectors root).
    */
  def recoverIndex(spark: org.apache.spark.sql.SparkSession, path: String): Boolean =
    graft.merge.MergeApply.recover(spark, s"$path/vectors")

  /** [[ivfTopK]] against a [[writeIndex]]-persisted index: probes are
    * bucketed with the stored centroids, the touched-bucket set (≤
    * nProbe × |probes| integers — metadata-sized collect) becomes a
    * partition filter, and only those bucket directories are listed and
    * scanned. Same semantics as [[ivfTopK]] over the live frames.
    */
  def indexTopK(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 1): DataFrame = {
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("centroid_id").as(idCol), col("cvec").as(vecCol))
    val probeBuckets = assignTopBuckets(probes, cents, idCol, vecCol, nProbe)
      .select(col("vid").as("probe_id"), col("bucket"), col("__v").as("__p"), col("__vn").as("__pn"))
    val touched = probeBuckets.select("bucket").distinct().collect().map(_.get(0)).toIndexedSeq
    val bucketed = spark.read.parquet(s"$path/vectors")
      .filter(col("bucket").isin(touched: _*)) // partition-pruned listing
      .withColumn("bucket", col("bucket").cast("long"))
    val dp = dotOn(spark)
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("vid"))
    bucketed
      .join(broadcast(probeBuckets.withColumn("bucket", col("bucket").cast("long"))), Seq("bucket"))
      .filter(col("vid") =!= col("probe_id"))
      .withColumn("sim", round(dp(col("__p"), col("v")) / (col("__pn") * col("vn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vid").as("neighbor_id"), col("sim"), col("rnk"))
  }

  /** Train IVF centroids with spherical k-means (VERDICT r2 next #5):
    * deterministic hash-ordered initialization, then `iters` Lloyd rounds
    * where assignment is the broadcast [[assignBuckets]] join and the new
    * centroid is the element-wise mean of its bucket — every step is a
    * join/aggregation over the (optionally hash-sampled) corpus; the only
    * driver-side data is the k×dim centroid model itself, collected once
    * per round to keep the plan flat (centroids ARE driver-sized state —
    * the same shape any distributed k-means keeps).
    *
    * Deterministic end-to-end: same corpus + k + iters + seed → the same
    * centroids, on any cluster size. A bucket that loses all members keeps
    * its previous centroid.
    *
    * @param sampleRate train on a deterministic hash-sample of the corpus
    *                   (training needs a representative sample, not every
    *                   row — at 100 TB this is the difference between a
    *                   model fit and a full scan per round)
    * @return (idCol: centroid id 0..k-1, vecCol: array<double>) — feed to
    *         [[ivfTopK]] / [[withCosineNearDupPairs]]
    */
  def trainCentroids(
      vectors: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      iters: Int = 5,
      seed: Int = 42,
      sampleRate: Double = 1.0,
      hashMode: HashMode = HashMode.Xxhash64): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val spark = vectors.sparkSession
    import spark.implicits._
    val all = vectors.select(col(idCol).cast("string").as("vid"), asDouble(col(vecCol)).as("v"))
    val base =
      if (sampleRate >= 1.0) all
      else all.filter(hashMode.hash(col("vid"), seed) <
        lit(Sampling.thresholdFor(sampleRate)))

    // Init: the k corpus vectors that sort first by a seeded hash of their
    // id — a deterministic uniform sample, immune to partition order.
    // `hashMode` = Md5Portable makes the init (and so the whole fit, when
    // the arithmetic is exact — see the e12t oracle) replayable in SQL.
    var centroids: Seq[(String, Seq[Double])] = base
      .orderBy(hashMode.hash(col("vid"), seed), col("vid"))
      .limit(k)
      .as[(String, Seq[Double])].collect()
      .zipWithIndex.map { case ((_, v), i) => (i.toString, v) }.toSeq

    for (_ <- 0 until iters) {
      val cdf = centroids.toDF("vid", "v")
      val means = assignBuckets(base, cdf, "vid", "v")
        .select(col("bucket"), posexplode(col("__v")).as(Seq("pos", "x")))
        .groupBy("bucket", "pos").agg(avg(col("x")).as("m"))
        .groupBy("bucket")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))), e => e.getField("m")).as("cv"))
        .as[(String, Seq[Double])].collect()
        .toMap
      centroids = centroids.map { case (cid, v) => (cid, means.getOrElse(cid, v)) }
    }
    centroids.map { case (cid, v) => (cid.toLong, v) }.toDF(idCol, vecCol)
  }

  /** IVF-bucketed cosine top-k: probes only scan the corpus partitions
    * that share their top-`nProbe` centroid buckets. Approximate (a true
    * neighbor outside the probed buckets is missed) — the classic IVF
    * recall/probe-cost trade, with `nProbe` as the standard recall knob
    * (VERDICT r4 next #4): per-probe scan cost is
    * nProbe × |corpus| / nCentroids, and recall at Voronoi boundaries
    * rises with every extra probed bucket.
    *
    * @param centroids the coarse quantizer; at real scale these come from a
    *                  sampled k-means ([[trainCentroids]]) — any
    *                  deterministic small vector set works (the operator
    *                  is agnostic).
    * @param nProbe    how many nearest-centroid buckets each probe
    *                  searches (default 1 — the minimal-cost mode).
    */
  def ivfTopK(
      vectors: DataFrame,
      centroids: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 1): DataFrame = {
    val bucketed = assignBuckets(vectors, centroids, idCol, vecCol)
    // Probes are bucketed from their OWN vectors (not looked up in the
    // corpus), so out-of-corpus query vectors — the normal ANN case — work;
    // for in-corpus probes the assignment is identical either way. Corpus
    // vectors live under exactly one bucket, so a neighbor reachable
    // through two probed buckets cannot appear twice.
    val probeBuckets = assignTopBuckets(probes, centroids, idCol, vecCol, nProbe)
      .select(col("vid").as("probe_id"), col("bucket"), col("__v").as("__p"), col("__vn").as("__pn"))
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("vid"))
    // Bucket-equi-join: each probe meets only its probed buckets' vectors.
    val dp = dotOn(vectors.sparkSession)
    bucketed
      .join(broadcast(probeBuckets), Seq("bucket"))
      .filter(col("vid") =!= col("probe_id"))
      .withColumn("sim", round(dp(col("__p"), col("__v")) / (col("__pn") * col("__vn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vid").as("neighbor_id"), col("sim"), col("rnk"))
  }

  /** Measured recall@k of [[ivfTopK]] against the exact [[cosineTopK]]
    * baseline on a (hash-sampled) probe set — THE number an IVF operator
    * tunes `nProbe` / centroid count with (VERDICT r7 next #5): approximate
    * results carry no error bar of their own, so an index without a recall
    * readout can silently degrade as the corpus drifts away from its
    * centroids. At 100 TB the baseline is the expensive side (a full
    * corpus scan per probe) — that is what `sampleRate` bounds: measure on
    * a deterministic hash-sample of probes ([[Sampling.hashFilter]]
    * semantics, growth-stable), not the full query load.
    *
    * Per-probe recall = |approx top-k ∩ exact top-k| / |exact top-k|
    * (denominator < k when the corpus itself is smaller than k). Both
    * tiers rank identically (rounded sim desc, id asc), so the
    * intersection is an exact set match, not a float comparison.
    *
    * @return one row: (n_probes, k, n_probe, macro_recall, micro_recall)
    *         — macro averages per-probe recall (every probe counts
    *         equally), micro pools hits over pooled baseline rows (heavy
    *         probes count more). Lazy frame; nothing is collected.
    */
  def recallAt(
      vectors: DataFrame,
      centroids: DataFrame,
      probes: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 1,
      sampleRate: Double = 1.0,
      seed: Int = 7): DataFrame = {
    require(sampleRate > 0.0 && sampleRate <= 1.0,
      s"sampleRate must be in (0, 1], got $sampleRate")
    val sampled =
      if (sampleRate >= 1.0) probes
      else probes.filter(Sampling.hashFilter(col(idCol), sampleRate, seed))
    val exact = cosineTopK(vectors, sampled, idCol, vecCol, k)
      .select("probe_id", "neighbor_id")
    val approx = ivfTopK(vectors, centroids, sampled, idCol, vecCol, k, nProbe)
      .select("probe_id", "neighbor_id")
    val perProbe = exact
      .join(approx.withColumn("__hit", lit(1)), Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("__base"), sum(coalesce(col("__hit"), lit(0))).as("__hits"))
    perProbe.agg(
      count(lit(1)).as("n_probes"),
      lit(k).as("k"),
      lit(nProbe).as("n_probe"),
      round(avg(col("__hits") / col("__base")), 6).as("macro_recall"),
      round(sum(col("__hits")) / sum(col("__base")), 6).as("micro_recall"))
  }

  /** Symmetric int8 scalar quantization — the storage path for embedding
    * columns at corpus scale (4 bytes/dim float → 1 byte/dim + one scale,
    * a 4× shrink of what is usually the widest column in the lake).
    * Per vector: `scale = max|v|/127`, `q_i = clamp(⌊v_i/scale + 0.5⌋,
    * −127, 127)`. The all-zero vector gets scale 0 and all-zero codes.
    *
    * Map-only projection (no shuffle, pushdown intact); every step is an
    * IEEE-exact double op with a DuckDB twin, so quantized codes are
    * bit-identical cross-engine and oracle-checkable — `floor(x + 0.5)`
    * instead of `round(x)` precisely because the engines' round-half
    * conventions differ.
    *
    * @return input columns + (`scale`: double, `qvec`: array<tinyint>).
    */
  def quantizeInt8(vectors: DataFrame, vecCol: String): DataFrame = {
    val v = asDouble(col(vecCol))
    val scale = array_max(transform(v, x => abs(x))) / lit(127.0)
    vectors
      .withColumn("scale", scale)
      .withColumn("qvec",
        transform(v, x =>
          when(col("scale") === 0.0, lit(0L))
            .otherwise(least(lit(127L), greatest(lit(-127L), floor(x / col("scale") + lit(0.5)))))
            .cast("byte")))
  }

  /** Reconstruction of a [[quantizeInt8]] vector: `q_i × scale`, as
    * `array<double>` — feed straight back into [[cosineTopK]]/[[ivfTopK]]
    * for quantized-corpus search.
    */
  def dequantize(qvec: Column, scale: Column): Column =
    transform(qvec, q => q.cast("double") * scale)

  /** Per-vector quantization quality report: the scale, code-range
    * sanity bounds, and the L2 reconstruction error — the readout that
    * says whether int8 is safe for a given embedding family before a
    * corpus-wide rewrite. Map-only.
    *
    * @return (idCol, scale, q_min, q_max, q_sum, recon_err)
    */
  def quantizationReport(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val q = quantizeInt8(vectors, vecCol)
    val v = asDouble(col(vecCol))
    val err2 = aggregate(
      zip_with(v, dequantize(col("qvec"), col("scale")), (x, d) => (x - d) * (x - d)),
      lit(0.0), (acc, e) => acc + e)
    // NOTE the rounded scale is applied in a SEPARATE projection: aliasing
    // `round(scale, 6) AS scale` in the same select would shadow the
    // child's raw `scale` for the sibling recon_err expression via lateral
    // column alias resolution (observed on Spark 4.1 — the error came back
    // computed against the rounded scale).
    q.select(
      col(idCol),
      col("scale"),
      array_min(col("qvec")).cast("long").as("q_min"),
      array_max(col("qvec")).cast("long").as("q_max"),
      aggregate(col("qvec"), lit(0L), (acc, x) => acc + x.cast("long")).as("q_sum"),
      round(sqrt(err2), 6).as("recon_err"))
      .withColumn("scale", round(col("scale"), 6))
  }

  // ---- Product quantization (C92): m-block codebook compression + ADC ----

  /** Closed-form "grid" codebooks for [[pqEncode]]/[[pqSearchTopK]]: in
    * every block, centroid j is the constant vector
    * `x_j = lo + j·step` — a deterministic arithmetic codebook any SQL
    * engine can reproduce, which is what gives PQ an EXACT oracle (the
    * trained path is covered by spec, like the IVF trainer C26).
    */
  def pqGridCodebooks(
      dim: Int, m: Int, k: Int,
      lo: Double = -0.75, step: Double = 0.1): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m blocks")
    val sub = dim / m
    Seq.tabulate(m)(_ => Seq.tabulate(k)(j => Seq.fill(sub)(lo + j * step)))
  }

  /** Train per-block codebooks with the existing k-means trainer
    * ([[trainCentroids]] run on each block's slice — the PQ training
    * loop IS m independent k-means fits; Jégou et al. 2011, "Product
    * quantization for nearest neighbor search"). Driver-sized model:
    * m × k × (dim/m) doubles.
    */
  def pqTrainCodebooks(
      vectors: DataFrame, idCol: String, vecCol: String,
      m: Int, k: Int, iters: Int = 5, seed: Int = 42,
      sampleRate: Double = 1.0,
      hashMode: HashMode = HashMode.Xxhash64): Seq[Seq[Seq[Double]]] = {
    val dim = vectors.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must divide into $m blocks")
    val sub = dim / m
    val spark = vectors.sparkSession
    import spark.implicits._
    (0 until m).map { b =>
      trainCentroids(
        vectors.select(col(idCol), slice(asDouble(col(vecCol)), b * sub + 1, sub).as(vecCol)),
        idCol, vecCol, k, iters, seed + b, sampleRate, hashMode)
        .orderBy(idCol).as[(Long, Seq[Double])].collect().map(_._2).toSeq
    }
  }

  /** PQ encode: each vector becomes `m` one-byte-ish codes — per block,
    * the index of the nearest codebook centroid by squared L2
    * (sequential per-component accumulation; strict `<` keeps the
    * LOWEST index on ties, the same argmin DuckDB's `ORDER BY dist, j`
    * expresses). Map-only projection: at 100 TB this is the one-time
    * ingest rewrite that shrinks the widest lake column ~16–32× (m
    * bytes vs dim floats); HOF cost is paid once at encode, not on the
    * search path, whose scans read only the codes.
    *
    * @return input columns + `codes: array<int>` of length m.
    */
  def pqEncode(
      vectors: DataFrame, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val k = codebooks.head.length
    val cb = typedLit(codebooks)
    val v = asDouble(col(vecCol))
    val codes = transform(sequence(lit(0), lit(m - 1)), b => {
      val block = slice(v, b * sub + 1, lit(sub))
      val bookB = element_at(cb, b + 1)
      val best = aggregate(
        sequence(lit(0), lit(k - 1)),
        struct(lit(Double.MaxValue).as("d"), lit(-1).as("j")),
        (acc, j) => {
          val cent = element_at(bookB, j + 1)
          val dist = aggregate(
            zip_with(block, cent, (x, y) => (x - y) * (x - y)),
            lit(0.0), (a, e) => a + e)
          when(dist < acc.getField("d"),
            struct(dist.as("d"), j.as("j"))).otherwise(acc)
        })
      best.getField("j")
    })
    vectors.withColumn("codes", codes)
  }

  /** PQ search via Asymmetric Distance Computation: the query builds an
    * m × k lookup table of block inner products against the codebooks
    * (driver-side, codebook-sized), and corpus scoring is a map-only
    * m-term table-lookup sum over the CODES — the scan never touches a
    * float vector. Inner-product scoring (equivalent to cosine ranking
    * under unit-norm queries up to the corpus norms PQ deliberately
    * approximates away — the standard IVF-PQ trade).
    *
    * @return (idCol, score) — top `k` by score desc, id asc (TakeOrdered,
    *         never a global sort).
    */
  def pqSearchTopK(
      encoded: DataFrame, idCol: String,
      codebooks: Seq[Seq[Seq[Double]]],
      query: Seq[Double], k: Int): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    require(query.length == m * sub,
      s"query dim ${query.length} != codebook dim ${m * sub}")
    val lut: Seq[Seq[Double]] = (0 until m).map { b =>
      codebooks(b).map(c => c.zip(query.slice(b * sub, (b + 1) * sub)).map(p => p._1 * p._2).sum)
    }
    val score = aggregate(
      zip_with(col("codes"), typedLit(lut), (c, row) => element_at(row, c + 1)),
      lit(0.0), (a, x) => a + x)
    encoded
      .withColumn("score", round(score, 6))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("score"))
  }

  /** IVF + PQ — the canonical billion-scale ANN composition (the FAISS
    * IVFADC layout, Jégou et al. 2011): bucket the corpus under the
    * coarse quantizer ([[assignBuckets]]), PQ-encode, then ADC-scan only
    * the query's `nProbe` nearest centroid buckets' codes. This LIVE
    * form recomputes assignment + encode over the float frame per call —
    * right for a one-shot or ad-hoc query against frames already in
    * memory, but at corpus scale the encode pass dominates. The
    * production path is [[writePqIndex]] + [[pqIndexTopK]], where
    * assignment and encode are paid once at build time and a probe scans
    * `nProbe/|centroids| × corpus × m` bytes of CODES with no float
    * reads at all (C93's cost claim — made true by the index, parity
    * spec-pinned). Query-side state (bucket choice by round-6 cosine +
    * id tie-break, bit-matching the distributed [[assignTopBuckets]]
    * arithmetic, and the m×k ADC table) is driver-sized in both forms.
    *
    * @return (idCol, score) — top `k` by ADC score desc, id asc.
    */
  def ivfPqTopK(
      vectors: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]],
      query: Seq[Double], k: Int, nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    val spark = vectors.sparkSession
    import spark.implicits._
    val bucketed = assignBuckets(vectors, centroids, idCol, vecCol)
    val encoded = pqEncode(
      bucketed.select(col("vid"), col("bucket"), col("__v")), "__v", codebooks)
      .select(col("vid"), col("bucket"), col("codes"))
    val cents = centroids
      .select(col(idCol).cast("long").as("cid"), asDouble(col(vecCol)).as("cv"))
      .as[(Long, Seq[Double])].collect().toSeq
    val chosen = chooseProbeBuckets(cents, query, nProbe)
    pqSearchTopK(
      encoded.filter(col("bucket").isin(chosen: _*)).withColumnRenamed("vid", idCol),
      idCol, codebooks, query, k)
  }

  /** The query-side coarse quantization shared by [[ivfPqTopK]] and
    * [[pqIndexTopK]]: the query's top-`nProbe` centroid buckets by
    * round-6 cosine, centroid-id tie-break — bit-matching the
    * distributed [[assignTopBuckets]] arithmetic, over the driver-sized
    * centroid model.
    */
  private def chooseProbeBuckets(
      cents: Seq[(Long, Seq[Double])], query: Seq[Double], nProbe: Int): Seq[java.lang.Long] = {
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val qn = math.sqrt(dot(query, query))
    cents
      .map { case (cid, cv) => (cid, round6(dot(cv, query) / (math.sqrt(dot(cv, cv)) * qn))) }
      .sortBy { case (cid, s) => (-s, cid) }
      .take(nProbe).map(x => Long.box(x._1))
  }

  /** Persist an IVFADC index — the at-rest form of [[ivfPqTopK]] that
    * makes C93's cost claim true at QUERY time: bucket assignment and PQ
    * encode are paid ONCE here, the codes land `PARTITIONED BY bucket`
    * (m ints per vector — the float vectors never appear in the index at
    * all), and centroids + codebooks ride along as model-sized sidecars.
    * A probe then reads only its probed buckets' code directories:
    * partition pruning at the file listing, scanned bytes =
    * nProbe/|centroids| × corpus × m, no assignment scan, no floats.
    * The [[writeIndex]] precedent with codes in place of vectors.
    *
    * Layout: `path/codes` (vid, codes: array<int>) partitioned by
    * `bucket`; `path/centroids` (centroid_id, cvec) — same shape as
    * [[writeIndex]]'s sidecar; `path/codebooks` (block, code, cvec).
    */
  def writePqIndex(
      vectors: DataFrame, centroids: DataFrame, idCol: String, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]], path: String): Unit = {
    val spark = vectors.sparkSession
    import spark.implicits._
    pqEncode(
      assignBuckets(vectors, centroids, idCol, vecCol)
        .select(col("vid"), col("bucket"), col("__v")), "__v", codebooks)
      .select(col("vid"), col("codes"), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(s"$path/codes")
    centroids
      .select(col(idCol).as("centroid_id"), asDouble(col(vecCol)).as("cvec"))
      .write.mode("overwrite").parquet(s"$path/centroids")
    codebooks.zipWithIndex.flatMap { case (book, b) =>
      book.zipWithIndex.map { case (cent, j) => (b, j, cent) }
    }.toDF("block", "code", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
  }

  /** Read back the [[writePqIndex]] codebook sidecar as the in-memory
    * model shape the encode/search functions take.
    */
  private def readCodebooks(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[Seq[Seq[Double]]] = {
    import spark.implicits._
    spark.read.parquet(s"$path/codebooks")
      .select(col("block"), col("code"), col("cvec"))
      .as[(Int, Int, Seq[Double])].collect().toSeq
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
  }

  /** Filename of the PQ-index append intent marker and stream-batch
    * watermark — the [[graft.pipeline.TextStats]] BM25 protocol applied
    * to the IVFADC layout, so a streaming ingest
    * ([[graft.streaming.StreamingIndex.pqIndexTo]]) gets crash-atomic,
    * replay-dedupable appends.
    */
  private val PqAppendIntent = "_graft_append_intent"
  private val PqRebuildIntent = "_graft_rebuild_intent"
  private[graft] val PqStreamBatchFile = "_graft_stream_batch"

  /** Guard shared by the probes and the append: `path` must be a
    * [[writePqIndex]] layout with no append mid-promotion (a probe
    * against a half-promoted append would silently miss codes).
    */
  private def pqIndexGuard(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$path/codebooks")))
      throw new IllegalArgumentException(
        s"$path is not a persisted IVFADC index (no codebooks sidecar) — build it with writePqIndex")
    if (fs.exists(new org.apache.hadoop.fs.Path(path, PqAppendIntent)))
      throw new IllegalStateException(
        s"$path has an interrupted append — run recoverPqIndex to roll it forward")
    if (fs.exists(new org.apache.hadoop.fs.Path(path, PqRebuildIntent)))
      throw new IllegalStateException(
        s"$path has an interrupted rebuild — run recoverPqIndex to roll it forward")
  }

  /** The last applied stream batch id, or None for a batch-built (or
    * interrupted-bootstrap) index. A torn/unparseable watermark also
    * reads as None so the interrupted-bootstrap rebuild path repairs it
    * (ADVICE r13 #1 — the BM25 contract).
    */
  private[graft] def readPqStreamBatch(
      spark: org.apache.spark.sql.SparkSession, path: String): Option[Long] = {
    val p = new org.apache.hadoop.fs.Path(path, PqStreamBatchFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      txt.trim.toLongOption
    }
  }

  /** Temp-write + atomic rename, like the BM25 twin (ADVICE r13 #1). */
  private[graft] def writePqStreamBatch(
      fs: org.apache.hadoop.fs.FileSystem, dir: String, batchId: Long): Unit =
    TextStats.atomicWriteWatermark(fs, dir, PqStreamBatchFile, batchId)

  /** Append new vectors into a [[writePqIndex]]-persisted IVFADC index,
    * crash-atomically: the increment is bucket-assigned with the STORED
    * centroids and encoded with the STORED codebooks (placement and
    * codes consistent with every existing row), staged COMPLETELY under
    * `append.staging/codes`, declared by an intent marker, then
    * promoted by per-file rename into the touched bucket directories
    * only — the BM25-index protocol (crash points unambiguous: no
    * marker → live index untouched, staging is garbage; marker → staged
    * data complete, [[recoverPqIndex]] re-runs the idempotent promotion
    * while probes fail loudly; marker gone → fully visible). The
    * [[appendToIndex]] contract otherwise: ids disjoint, model fixed at
    * build time; re-train and rebuild on drift.
    *
    * @param streamBatchId when set, a stream-batch watermark stages and
    *                      promotes WITH the codes — the exactly-once
    *                      hinge of the streaming ingest.
    */
  def appendToPqIndex(
      newVectors: DataFrame, idCol: String, vecCol: String, path: String,
      streamBatchId: Option[Long] = None): Unit = {
    val spark = newVectors.sparkSession
    pqIndexGuard(spark, path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/append.staging"), true)
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("centroid_id").as(idCol), col("cvec").as(vecCol))
    pqEncode(
      assignBuckets(newVectors, cents, idCol, vecCol)
        .select(col("vid"), col("bucket"), col("__v")), "__v", readCodebooks(spark, path))
      .select(col("vid"), col("codes"), col("bucket"))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$path/append.staging/codes")
    streamBatchId.foreach(id => writePqStreamBatch(fs, s"$path/append.staging", id))
    val marker = fs.create(new org.apache.hadoop.fs.Path(path, PqAppendIntent), true)
    try marker.write("pending".getBytes("UTF-8")) finally marker.close()
    promotePqAppend(fs, path)
  }

  /** Promote a fully-staged PQ append (intent marker present);
    * idempotent — already-promoted files are no longer in staging. */
  private def promotePqAppend(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val staged = new org.apache.hadoop.fs.Path(s"$path/append.staging/codes")
    if (fs.exists(staged)) {
      fs.listStatus(staged)
        .filter(d => d.isDirectory && d.getPath.getName.startsWith("bucket="))
        .foreach { d =>
          val dest = new org.apache.hadoop.fs.Path(s"$path/codes/${d.getPath.getName}")
          if (!fs.exists(dest)) fs.mkdirs(dest)
          fs.listStatus(d.getPath)
            .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))
            .foreach { f =>
              val to = new org.apache.hadoop.fs.Path(dest, f.getPath.getName)
              if (!fs.rename(f.getPath, to))
                throw new IllegalStateException(s"append: could not promote ${f.getPath} to $to")
            }
        }
    }
    val stagedWm = new org.apache.hadoop.fs.Path(s"$path/append.staging/$PqStreamBatchFile")
    if (fs.exists(stagedWm)) {
      fs.delete(new org.apache.hadoop.fs.Path(path, PqStreamBatchFile), false)
      if (!fs.rename(stagedWm, new org.apache.hadoop.fs.Path(path, PqStreamBatchFile)))
        throw new IllegalStateException(s"append: could not promote stream watermark at $path")
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/append.staging"), true)
    fs.delete(new org.apache.hadoop.fs.Path(path, PqAppendIntent), false)
  }

  /** [[ivfPqTopK]] against a [[writePqIndex]]-persisted index — the
    * search path C93 advertises: centroids and codebooks load driver-side
    * (model-sized), the query picks its `nProbe` buckets, and the ONLY
    * distributed work is the partition-filtered ADC scan over those
    * buckets' codes. No assignment pass, no float reads, no shuffle —
    * TakeOrdered on the lookup-sum score. Same semantics as the live
    * composition (parity spec-pinned).
    */
  def pqIndexTopK(
      spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String,
      query: Seq[Double], k: Int, nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    pqIndexGuard(spark, path)
    import spark.implicits._
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("centroid_id").cast("long"), col("cvec"))
      .as[(Long, Seq[Double])].collect().toSeq
    val chosen = chooseProbeBuckets(cents, query, nProbe)
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("bucket").isin(chosen: _*)) // partition-pruned listing
      .withColumnRenamed("vid", idCol)
    pqSearchTopK(codes, idCol, readCodebooks(spark, path), query, k)
  }

  /** Batch IVFADC search — [[ivfPqTopK]] for a probe FRAME, fully
    * distributed: probes pick their `nProbe` buckets through the
    * broadcast [[assignTopBuckets]] join, each probe's m×k ADC lookup
    * table is computed as a nested-HOF column (same left-to-right block
    * sums as the single-query form — parity spec-pinned), and the
    * encoded corpus joins the broadcast (probe, bucket, lut) frame on
    * the bucket id — per probe, only its probed buckets' codes are
    * scored, and nothing probe-side is ever collected to the driver.
    * Follows the [[indexTopK]] convention: a corpus row sharing the
    * probe's id is excluded (probes drawn from the corpus don't match
    * themselves).
    *
    * @param encoded (vid, bucket, codes) — [[pqEncode]] output over the
    *                bucket-assigned corpus, or the codes of a
    *                [[writePqIndex]] index read back
    * @return (probe_id, neighbor_id, score, rnk) — k rows per probe by
    *         ADC score desc, id asc.
    */
  def pqSearchTopKBatch(
      encoded: DataFrame, centroids: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]], k: Int, nProbe: Int = 1): DataFrame = {
    val m = codebooks.length
    val sub = codebooks.head.head.length
    val cbLit = typedLit(codebooks)
    val probeBuckets = assignTopBuckets(probes, centroids, idCol, vecCol, nProbe)
      .select(col("vid").as("probe_id"), col("bucket").cast("long").as("bucket"), col("__v"))
      .withColumn("__lut", transform(sequence(lit(0), lit(m - 1)), b =>
        transform(element_at(cbLit, b + 1), cent =>
          aggregate(sequence(lit(1), lit(sub)), lit(0.0),
            (acc, p) => acc + element_at(cent, p) * element_at(col("__v"), b * sub + p)))))
      .select("probe_id", "bucket", "__lut")
    val score = aggregate(
      zip_with(col("codes"), col("__lut"), (c, lrow) => element_at(lrow, c + 1)),
      lit(0.0), (a, x) => a + x)
    val w = Window.partitionBy("probe_id").orderBy(col("score").desc, col("vid"))
    encoded
      .withColumn("bucket", col("bucket").cast("long"))
      .join(broadcast(probeBuckets), Seq("bucket"))
      .filter(col("vid") =!= col("probe_id"))
      .withColumn("score", round(score, 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vid").as("neighbor_id"), col("score"), col("rnk"))
  }

  /** Two-stage refined search — the standard ADC + exact-re-rank
    * composition (FAISS's refine stage; Jégou et al.'s "asymmetric
    * distance is an estimator, verify the shortlist"): the quantized
    * scan proposes `refineK` candidates per probe (recall), then ONLY
    * those candidates' float vectors are fetched and re-ranked by exact
    * cosine (precision) — quantization artifacts (two close vectors
    * collapsed onto one code, an ADC tie broken by id) cannot survive
    * into the final top-k.
    *
    * Scale shape: stage 1 is [[pqSearchTopKBatch]] (codes-only scan,
    * never floats); stage 2's float read is CANDIDATE-sized
    * (probes × refineK rows joined by id against the vector store —
    * Spark broadcasts the tiny candidate side), so the full-precision
    * corpus is never scanned. `refineK` is the recall/cost knob:
    * [[pqRecallAt]] measures what a given width buys.
    *
    * @return (probe_id, neighbor_id, sim, rnk) — exact cosine, k rows
    *         per probe.
    */
  def pqRefinedTopKBatch(
      encoded: DataFrame, centroids: DataFrame, vectors: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, codebooks: Seq[Seq[Seq[Double]]],
      k: Int, refineK: Int, nProbe: Int = 1): DataFrame = {
    require(refineK >= k, s"refineK ($refineK) must be >= k ($k)")
    val cands = pqSearchTopKBatch(
      encoded, centroids, probes, idCol, vecCol, codebooks, refineK, nProbe)
      .select(col("probe_id"), col("neighbor_id"))
    rerankExact(cands, vectors, probes, idCol, vecCol, k)
  }

  /** The exact-cosine re-rank stage shared by [[pqRefinedTopKBatch]] and
    * [[pqIndexRefinedTopKBatch]]: the (probe_id, neighbor_id) candidate
    * frame — probes × refineK rows, tiny by construction — BROADCASTS
    * into the float-corpus join, so the corpus side streams through a
    * broadcast hash join without a shuffle and only candidate rows
    * survive into the window.
    */
  private def rerankExact(
      cands: DataFrame, vectors: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val dp = dotOn(vectors.sparkSession)
    val corpus = withNorm(vectors, idCol, vecCol, "neighbor_id", "__v", "__vn")
    val probe = withNorm(probes, idCol, vecCol, "probe_id", "__p", "__pn")
    val w = Window.partitionBy("probe_id").orderBy(col("sim").desc, col("neighbor_id"))
    broadcast(cands)
      .join(corpus, Seq("neighbor_id"))
      .join(broadcast(probe), Seq("probe_id"))
      .withColumn("sim", round(dp(col("__p"), col("__v")) / (col("__pn") * col("__vn")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select("probe_id", "neighbor_id", "sim", "rnk")
  }

  /** [[pqSearchTopKBatch]] against a [[writePqIndex]]-persisted index —
    * the production retrieval workload's shape (VERDICT r12 next #1): a
    * probe FRAME against the at-rest codes. Probes pick their `nProbe`
    * buckets through the broadcast [[assignTopBuckets]] join against the
    * centroid sidecar; the UNION of probed buckets (≤ |centroids| values
    * — metadata-sized, the e4/t25 touched-buckets license) becomes ONE
    * `isin` partition filter on `path/codes`, so the file listing itself
    * prunes to the probed bucket directories; then the existing
    * broadcast (probe, bucket, LUT) join scores only those buckets'
    * codes. Per probe the join still restricts to the probe's OWN
    * buckets — the union filter is a superset cut, never a semantic
    * change (parity with [[pqIndexTopK]] spec-pinned). No assignment
    * pass over the corpus, no float reads, scanned bytes =
    * |touched buckets|/|centroids| × corpus × m.
    *
    * @return (probe_id, neighbor_id, score, rnk) — k rows per probe by
    *         ADC score desc, id asc; a corpus row sharing the probe's id
    *         is excluded (the [[pqSearchTopKBatch]] convention).
    */
  def pqIndexTopKBatch(
      spark: org.apache.spark.sql.SparkSession,
      path: String, probes: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int = 1): DataFrame = {
    require(nProbe >= 1, s"nProbe must be >= 1, got $nProbe")
    pqIndexGuard(spark, path)
    import spark.implicits._
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("centroid_id").as(idCol), col("cvec").as(vecCol))
    val touched = assignTopBuckets(probes, cents, idCol, vecCol, nProbe)
      .select(col("bucket").cast("long")).distinct()
      .as[Long].collect().sorted.map(Long.box).toSeq
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("bucket").isin(touched: _*)) // partition-pruned listing
    pqSearchTopKBatch(codes, cents, probes, idCol, vecCol,
      readCodebooks(spark, path), k, nProbe)
  }

  /** Two-stage refined search against the AT-REST index — [[
    * pqRefinedTopKBatch]]'s composition with [[writePqIndex]] output
    * (VERDICT r12 next #4): the index's codes propose `refineK`
    * candidates per probe through [[pqIndexTopKBatch]] (partition-pruned,
    * codes-only — the index stores no floats by design), then ONLY those
    * candidates' float vectors are fetched from `vectors` (the original
    * corpus, or an e4 float index read back) for the exact-cosine
    * re-rank.
    *
    * The candidate set is collected driver-side — ≤ |probes| × refineK
    * (id, id) rows, query-sized by contract (a probe frame is a query
    * workload, not a corpus; at corpus-scale probe counts use the live
    * [[pqRefinedTopKBatch]], whose stage 2 joins distributively) — so
    * the candidate ids push into the float scan as an `isin` predicate:
    * `PushedFilters` prunes parquet row groups and the full-precision
    * corpus is never scanned (plan spec-pinned).
    *
    * @return (probe_id, neighbor_id, sim, rnk) — exact cosine, k rows
    *         per probe.
    */
  def pqIndexRefinedTopKBatch(
      spark: org.apache.spark.sql.SparkSession,
      path: String, vectors: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String,
      k: Int, refineK: Int, nProbe: Int = 1): DataFrame = {
    require(refineK >= k, s"refineK ($refineK) must be >= k ($k)")
    val cands = pqIndexTopKBatch(spark, path, probes, idCol, vecCol, refineK, nProbe)
      .select(col("probe_id"), col("neighbor_id"))
    val candRows = cands.collect() // ≤ |probes| × refineK — bounded by contract
    val candDf = spark.createDataFrame(
      java.util.Arrays.asList(candRows: _*), cands.schema)
    val ids = candRows.map(_.get(1)).distinct.toSeq
    val pruned =
      if (ids.isEmpty) vectors.filter(lit(false))
      else vectors.filter(col(idCol).isin(ids: _*))
    rerankExact(candDf, pruned, probes, idCol, vecCol, k)
  }

  /** [[pqSearchTopKBatch]] over the LIVE frames (assign + encode per
    * call — the [[ivfPqTopK]] cost shape; prefer the index form against
    * [[writePqIndex]] output for repeated query loads).
    */
  def ivfPqTopKBatch(
      vectors: DataFrame, centroids: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]], k: Int, nProbe: Int = 1): DataFrame = {
    val encoded = pqEncode(
      assignBuckets(vectors, centroids, idCol, vecCol)
        .select(col("vid"), col("bucket"), col("__v")), "__v", codebooks)
      .select(col("vid"), col("bucket"), col("codes"))
    pqSearchTopKBatch(encoded, centroids, probes, idCol, vecCol, codebooks, k, nProbe)
  }

  /** Measured recall@k of the IVFADC path against the exact
    * [[cosineTopK]] baseline — [[recallAt]] for the PQ family (the C88
    * convention): ADC approximates scores twice over (coarse bucket
    * pruning + code quantization), so a PQ deployment without a recall
    * readout cannot see degradation as the corpus drifts from its
    * centroids OR its codebooks. Same sampled-probe contract and output
    * schema as [[recallAt]]; the baseline full scan is what
    * `sampleRate` bounds at 100 TB.
    *
    * @return one row: (n_probes, k, n_probe, macro_recall, micro_recall)
    */
  def pqRecallAt(
      vectors: DataFrame, centroids: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String,
      codebooks: Seq[Seq[Seq[Double]]], k: Int, nProbe: Int = 1,
      sampleRate: Double = 1.0, seed: Int = 7): DataFrame = {
    val sampled = sampleProbes(probes, idCol, sampleRate, seed)
    recallReport(
      cosineTopK(vectors, sampled, idCol, vecCol, k),
      ivfPqTopKBatch(vectors, centroids, sampled, idCol, vecCol, codebooks, k, nProbe),
      k, nProbe)
  }

  /** [[pqRecallAt]] against a [[writePqIndex]]-persisted index — the
    * recall readout for the path production actually runs (C117): a
    * deployed index drifts from its centroids AND its codebooks as the
    * corpus grows through appends, and this is the gauge that sees it.
    * The exact baseline scans `vectors` (the float corpus the index was
    * built from — the index itself stores codes only); `sampleRate`
    * bounds that scan at 100 TB, the [[recallAt]] contract.
    */
  def pqIndexRecallAt(
      spark: org.apache.spark.sql.SparkSession, path: String,
      vectors: DataFrame, probes: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 1,
      sampleRate: Double = 1.0, seed: Int = 7): DataFrame = {
    val sampled = sampleProbes(probes, idCol, sampleRate, seed)
    recallReport(
      cosineTopK(vectors, sampled, idCol, vecCol, k),
      pqIndexTopKBatch(spark, path, sampled, idCol, vecCol, k, nProbe),
      k, nProbe)
  }

  private def sampleProbes(
      probes: DataFrame, idCol: String, sampleRate: Double, seed: Int): DataFrame = {
    require(sampleRate > 0.0 && sampleRate <= 1.0,
      s"sampleRate must be in (0, 1], got $sampleRate")
    if (sampleRate >= 1.0) probes
    else probes.filter(Sampling.hashFilter(col(idCol), sampleRate, seed))
  }

  /** The shared recall aggregation: fraction of the exact top-k the
    * approximate path recovered, macro (per-probe mean) and micro
    * (pooled). Both inputs carry (probe_id, neighbor_id).
    */
  private def recallReport(
      exact: DataFrame, approx: DataFrame, k: Int, nProbe: Int): DataFrame =
    exact.select("probe_id", "neighbor_id")
      .join(approx.select("probe_id", "neighbor_id").withColumn("__hit", lit(1)),
        Seq("probe_id", "neighbor_id"), "left")
      .groupBy("probe_id")
      .agg(count(lit(1)).as("__base"), sum(coalesce(col("__hit"), lit(0))).as("__hits"))
      .agg(
        count(lit(1)).as("n_probes"),
        lit(k).as("k"),
        lit(nProbe).as("n_probe"),
        round(avg(col("__hits") / col("__base")), 6).as("macro_recall"),
        round(sum(col("__hits")) / sum(col("__base")), 6).as("micro_recall"))

  /** [[compactIndex]] for the IVFADC layout: appends accrete one file set
    * per touched code bucket, so hot buckets fragment; delegate to the
    * same staged-swap compaction against `path/codes`. Run
    * [[recoverPqIndex]] after a crash.
    */
  def compactPqIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFileBytes: Long = 128L << 20,
      minFiles: Int = 2): Seq[Int] = {
    val books = new org.apache.hadoop.fs.Path(s"$path/codebooks")
    val fs = books.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(books))
      throw new IllegalArgumentException(
        s"$path is not a persisted IVFADC index (no codebooks sidecar) — build it with writePqIndex")
    graft.merge.PartitionedTarget.compactDirs(
      spark, s"$path/codes", "bucket", targetFileBytes, minFiles)
  }

  /** Roll an interrupted PQ-index maintenance step to a consistent
    * state: a marked append promotes FORWARD (staged data is complete
    * by the marker's contract), unmarked staging leftovers are dropped,
    * and an interrupted [[compactPqIndex]] swap rolls through the shared
    * marker protocol against the codes root. @return true when anything
    * was repaired.
    */
  def recoverPqIndex(spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new org.apache.hadoop.fs.Path(path, PqAppendIntent)
    val staging = new org.apache.hadoop.fs.Path(s"$path/append.staging")
    val appendActed =
      if (fs.exists(marker)) { promotePqAppend(fs, path); true }
      else if (fs.exists(staging)) { fs.delete(staging, true); true }
      else false
    val rebuildMarker = new org.apache.hadoop.fs.Path(path, PqRebuildIntent)
    val rebuildStaging = new org.apache.hadoop.fs.Path(s"$path/rebuild.staging")
    val rebuildActed =
      if (fs.exists(rebuildMarker)) { promotePqRebuild(fs, path); true }
      else if (fs.exists(rebuildStaging)) { fs.delete(rebuildStaging, true); true }
      else false
    appendActed | rebuildActed | graft.merge.MergeApply.recover(spark, s"$path/codes")
  }

  /** Retrain-and-swap a drifted IVFADC index IN PLACE (VERDICT r13 next
    * #5 — the recall gauges existed, the rebuild they exist FOR didn't):
    * [[pqIndexRecallAt]] detects a drifted index, and this closes the
    * detect → retrain → promote loop atomically. Centroids retrain via
    * [[trainCentroids]] and codebooks via [[pqTrainCodebooks]] on a
    * deterministic hash sample of `vectors` (the C21 discipline — a
    * model fit, never a mandatory full scan), the ENTIRE new index
    * (codes + centroids + codebooks) builds under `rebuild.staging/`,
    * an intent marker declares the swap, and each subdir promotes by
    * retire-rename — the existing marker protocol, so every crash point
    * is unambiguous: no marker → live index untouched, staging is
    * garbage; marker → staged index complete, [[recoverPqIndex]]
    * re-runs the idempotent promotion while probes fail loudly through
    * [[pqIndexGuard]]; marker gone → the rebuilt index is fully live.
    *
    * The stream-batch watermark is deliberately preserved: a rebuild
    * re-encodes the same corpus the watermark describes (pass the
    * current corpus INCLUDING streamed appends as `vectors`), so the
    * exactly-once replay contract of
    * [[graft.streaming.StreamingIndex.pqIndexTo]] carries across the
    * swap.
    */
  def rebuildPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      vectors: DataFrame, idCol: String, vecCol: String,
      nCentroids: Int, m: Int, pqK: Int,
      iters: Int = 5, seed: Int = 42, sampleRate: Double = 1.0): Unit = {
    pqIndexGuard(spark, path) // never start over a half-done append/rebuild
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/rebuild.staging"), true)
    val cents = trainCentroids(
      vectors, idCol, vecCol, nCentroids, iters, seed, sampleRate)
    val books = pqTrainCodebooks(
      vectors, idCol, vecCol, m, pqK, iters, seed, sampleRate)
    writePqIndex(vectors, cents, idCol, vecCol, books, s"$path/rebuild.staging")
    val marker = fs.create(new org.apache.hadoop.fs.Path(path, PqRebuildIntent), true)
    try marker.write("pending".getBytes("UTF-8")) finally marker.close()
    promotePqRebuild(fs, path)
  }

  /** Promote a fully-staged rebuild (intent marker present). Idempotent
    * per subdir: staged present → retire the live dir and swap the
    * staged one in; staged absent → that subdir already promoted (its
    * retired backup, if any, is dropped).
    */
  private def promotePqRebuild(
      fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    for (sub <- Seq("codes", "centroids", "codebooks")) {
      val staged = new org.apache.hadoop.fs.Path(s"$path/rebuild.staging/$sub")
      val live = new org.apache.hadoop.fs.Path(s"$path/$sub")
      val retired = new org.apache.hadoop.fs.Path(s"$path/$sub.rebuild-retired")
      if (fs.exists(staged)) {
        if (fs.exists(live)) {
          if (fs.exists(retired)) fs.delete(retired, true) // stale earlier attempt
          if (!fs.rename(live, retired))
            throw new IllegalStateException(s"rebuild: could not retire $live")
        }
        if (!fs.rename(staged, live))
          throw new IllegalStateException(s"rebuild: could not promote $staged")
      }
      if (fs.exists(live) && fs.exists(retired)) fs.delete(retired, true)
    }
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/rebuild.staging"), true)
    fs.delete(new org.apache.hadoop.fs.Path(path, PqRebuildIntent), false)
  }

  /** The closed maintenance loop: gauge the at-rest index's recall on a
    * probe sample ([[pqIndexRecallAt]]) and, only if macro recall fell
    * below `minRecall`, retrain-and-swap via [[rebuildPqIndex]] — with
    * the model SHAPE (nCentroids, m, pqK) read from the index's own
    * sidecars, so the scheduled job needs no out-of-band record of how
    * the index was built. Returns (recall before, whether it rebuilt);
    * a healthy index costs one sampled probe batch and touches nothing.
    */
  def maintainPqIndex(
      spark: org.apache.spark.sql.SparkSession, path: String,
      vectors: DataFrame, idCol: String, vecCol: String,
      k: Int, nProbe: Int, minRecall: Double,
      probeSampleRate: Double = 0.05,
      iters: Int = 5, seed: Int = 42, trainSampleRate: Double = 1.0): (Double, Boolean) = {
    val recall = pqIndexRecallAt(
      spark, path, vectors, vectors, idCol, vecCol, k, nProbe,
      probeSampleRate, seed)
      .select("macro_recall").head().getDouble(0)
    if (recall >= minRecall) (recall, false)
    else {
      val nCentroids = spark.read.parquet(s"$path/centroids").count().toInt
      val books = readCodebooks(spark, path) // model-bounded: m × pqK × dim
      rebuildPqIndex(spark, path, vectors, idCol, vecCol,
        nCentroids, books.length, books.head.length, iters, seed, trainSampleRate)
      (recall, true)
    }
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): deduplicate the corpus in
    * EMBEDDING space — find within-centroid-bucket vector pairs with
    * cosine ≥ `threshold`, resolve them into duplicate groups, and keep
    * exactly one representative (minimum id) per group plus every
    * unpaired vector. This catches paraphrases, re-renders, and
    * translations-of-boilerplate that the lexical d-family (shingle /
    * minhash / simhash) cannot see — different words, same meaning — for
    * the cost of the embedding pass the corpus already paid.
    *
    * Composition, not new machinery: [[withCosineNearDupPairs]]
    * generates the pair frame (centroid-bucketed self-join under an
    * occupancy cap — never corpus²), [[Dedup.pruneDuplicates]] resolves
    * transitive duplicate groups ([[Dedup.clusters]]' O(log n)-round star
    * contraction) and LEFT ANTI joins the corpus against the non-canonical
    * members — the embedding-space instance of the d10 keep-one pipeline.
    *
    * Scale shape inherits both parents: centroids broadcast, one shuffle
    * on the bucket id, pair fan-out bounded by `bucketCap`; the cluster
    * frame holds only PAIRED vectors (≪ corpus); the final prune is one
    * id-keyed anti-join the corpus streams through. Scoped like
    * [[Dedup.pruneDuplicates]]: `f` runs over the pruned frame while the
    * bucket assignment and the cluster cut live, and both are released
    * when it returns, so a result that outlives the call is a cut `f`
    * makes of the columns it keeps. Every column of `vectors` passes
    * through untouched.
    *
    * @param centroids cluster model — [[trainCentroids]] output or any
    *                  frame of (idCol, vecCol) rows; granularity knob:
    *                  more centroids → smaller buckets → cheaper pairs
    *                  but near-dups straddling a boundary escape (the
    *                  standard SemDeDup recall trade).
    * @return `f` of `vectors` minus non-canonical duplicate-group members.
    */
  def semDedup[T](
      vectors: DataFrame,
      centroids: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bucketCap: Int = 10000,
      maxIters: Int = 30)(f: DataFrame => T): T = {
    withCosineNearDupPairs(vectors, centroids, idCol, vecCol, threshold, bucketCap)(
      pairs => Dedup.pruneDuplicates(vectors, pairs, idCol, maxIters, "vec_a", "vec_b")(f))
  }
}
