package graft.queries

import graft.{GraftSuite, SparkTestBase}
import graft.SparkEntry

/** Physical-plan assertions for the scale-critical properties the queries
  * claim (100 TB design intent, checked on every run — not just prose):
  * filter/column pushdown into the parquet scan, no accidental cartesian
  * products, map-only shapes staying shuffle-free, and merge's single
  * full-outer join.
  */
class PlanSpec extends GraftSuite {

  private val dir = SparkTestBase.sf0001

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def optimizedOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.optimizedPlan.toString

  test("q1_agg: filter and projection push into the parquet scan") {
    val plan = planOf("q1_agg")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    // Column pruning: the scan must not read all 11 lineitem columns.
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") && !readSchema.contains("l_partkey"))
  }

  test("q3_topk: limit becomes TakeOrdered, no cartesian join") {
    val plan = planOf("q3_topk")
    assert(plan.contains("TakeOrderedAndProject"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("merge m1: exactly one full-outer join, keyed on the merge key") {
    val plan = planOf("m1_merge_delete")
    assert("FullOuter".r.findAllIn(plan).size === 1)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("m12 salted rank: the offsets join-back is a broadcast, not a shuffle of the ranked side") {
    val plan = planOf("m12_merge_badkey_salted")
    // Two salted-rank computations (target + source side), each joining its
    // per-(key, salt) offsets frame back in. The offsets frame is
    // metadata-sized (≤ salt rows per distinct key), so both join-backs
    // must plan as BroadcastHashJoin — a sort-merge join here re-shuffles
    // and re-sorts the full ranked input per side, the m12-vs-m6 premium
    // VERDICT r4/r5 flagged.
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(4000))
  }

  test("t9 repetition: ONE scan feeds every n-gram family — no joins, no second pass") {
    val plan = planOf("t9_repetition")
    assert("Scan parquet".r.findAllIn(plan).size === 1, plan.take(2000))
    assert(!plan.contains("Join"))
  }

  test("e5 quantization report: map-only — no join, no aggregation shuffle") {
    val plan = planOf("e5_quantize")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"))
    assert("Scan parquet".r.findAllIn(plan).size === 1)
  }

  test("s3 stratum cap: one hash shuffle on the stratum, no join") {
    val plan = planOf("s3_source_cap")
    assert(!plan.contains("Join"))
    assert("Exchange hashpartitioning\\(source".r.findAllIn(plan).size === 1, plan.take(2000))
  }

  test("d2 near-dup: inverted-index joins only — never an all-pairs product") {
    val plan = planOf("d2_neardup_jaccard")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("d3 minhash LSH: bucket joins only — never an all-pairs product") {
    val plan = planOf("d3_minhash_lsh")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("d8 decontamination: hashed inverted-index joins only — never an all-pairs product") {
    val plan = planOf("d8_decontamination")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("d11/d12 composed dedup ops: index/anti joins only — never an all-pairs product") {
    for (name <- Seq("d11_decontaminate", "d12_incremental_neardup")) {
      val plan = planOf(name)
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), name)
    }
  }

  test("t2/t4/mm1 map-only queries plan no exchange beyond the output sort") {
    for (name <- Seq("t2_quality", "t4_fingerprint", "mm1_binary_meta")) {
      val plan = planOf(name)
      // The trailing orderBy for oracle determinism is the only exchange.
      val exchanges = "Exchange".r.findAllIn(plan).size
      assert(exchanges <= 1, s"$name plans $exchanges exchanges:\n$plan")
      assert(plan.contains("PushedFilters: [IsNotNull(doc_id), LessThan(doc_id"), name)
    }
  }

  test("e1 brute-force top-k: corpus side streams, probe side broadcasts") {
    val plan = planOf("e1_topk_cosine")
    // Non-equi self-exclusion makes this a broadcast nested loop by design:
    // the TINY probe set is the broadcast side; the corpus is never shuffled.
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight"))
    assert(!plan.contains("CartesianProduct"))
  }

  test("e2 IVF top-k: bucket join is an equi-join on the bucket id") {
    val plan = optimizedOf("e2_ann_ivf")
    assert(!plan.contains("CartesianProduct"))
    // The probe-bucket join keys on `bucket` — present as a join condition.
    assert(plan.contains("bucket"))
  }

  test("q19 range join: bin equi-join, not a nested-loop/cartesian plan") {
    val plan = planOf("q19_range_windows")
    assert(!plan.contains("CartesianProduct"))
    // The containment predicate rides an equi-join on the bin id; a
    // broadcast hash join on __graft_bin is fine, a BNLJ is not.
    assert(!plan.contains("BroadcastNestedLoopJoin"))
  }

  test("q20 bucketed join: no exchange below the join — bucketing carries the shuffle") {
    AnalyticQueries.q20Setup(spark, dir)
    val plan = AnalyticQueries.q20Join(spark).queryExecution.executedPlan.toString
    // Allowed SHUFFLES: aggregation re-shuffle on o_orderpriority and the
    // final orderBy range exchange. The JOIN itself must ride the bucketed
    // layout — a third shuffle would mean a side got re-partitioned. A
    // BroadcastExchange is fine: at tiny SF Catalyst broadcasts the small
    // side, which is the right call (BucketingSpec pins the SMJ-no-shuffle
    // case with broadcast disabled; here we pin "never re-shuffled").
    val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"bucketed join re-shuffled ($shuffles shuffles):\n${plan.take(3000)}")
    assert(plan.contains("Bucketed: true"), plan.take(2000))
  }

  test("q17 json extraction: props is the only wide column read") {
    val plan = planOf("q17_json_props")
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("props") && !readSchema.contains("user_id"))
  }

  test("q15 as-of: single shuffle key, no cartesian") {
    val plan = planOf("q15_asof_attribution")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("s1 sampling: map-only except the final aggregation") {
    val plan = planOf("s1_hash_sampling")
    // one exchange for the groupBy(lang), one for the orderBy — no joins.
    assert(!plan.contains("Join"))
  }

  test("q14 without forced hint: AQE owns the join strategy at every scale") {
    val plan = planOf("q14_brand_top_types")
    assert(plan.contains("AdaptiveSparkPlan"))
    assert(!plan.contains("ResolvedHint"))
  }

  test("t10 tf-idf: term-keyed joins with partial aggregation, 1-row N broadcasts") {
    val plan = planOf("t10_tfidf")
    // The only nested-loop is the 1-row corpus-size crossJoin, which must
    // broadcast; tf/df fold map-side before their exchanges.
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
    assert(plan.contains("partial_count"), plan.take(2000))
  }

  test("t11 length distribution: one aggregation, no joins") {
    val plan = planOf("t11_length_dist")
    assert(!plan.contains("Join"), plan.take(2000))
    // groupBy(lang) exchange + the output orderBy — nothing else.
    val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"t11 plans $shuffles shuffles:\n${plan.take(2000)}")
  }

  test("d15 block report: pure aggregation — no joins, skew-safe partial agg") {
    val plan = planOf("d15_dup_blocks")
    // Linear scan → block grouping → per-hash count. Any join here would
    // mean the operator went pairwise, which is exactly what C42 avoids.
    assert(!plan.contains("Join"), plan.take(2000))
    // The per-hash count must partially aggregate map-side so a
    // mega-duplicated block collapses before the exchange.
    assert(plan.contains("partial_count"), plan.take(2000))
  }

  test("e6 hyperplane LSH: bucket equi-joins only — never an all-pairs product") {
    val plan = planOf("e6_hyperplane_lsh")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("d16 block strip: equi-joins only, canonical pick is an agg not a window") {
    val plan = planOf("d16_strip_dup_blocks")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // The global-first pick is the skew-safe groupBy-min — a Window over
    // the block hash would concentrate every occurrence of a duplicated
    // hash in one task before ranking.
    assert(!plan.contains("Window"), plan.take(2000))
    assert(plan.contains("partial_min"), plan.take(2000))
  }

  test("d18 boilerplate strip: hash-keyed joins only, df agg folds map-side") {
    val plan = planOf("d18_strip_common_blocks")
    // The policy is a df aggregation + one anti join per carrier block —
    // a pairwise plan here would mean the linear scale shape was lost.
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
    // countDistinct(doc_id) must partially aggregate below its exchange so
    // a block pasted into every page collapses map-side, not on one reducer.
    assert(plan.contains("partial_count"), plan.take(2000))
  }

  test("e8 semdedup: bucketed pair generation + anti-join prune, never all-pairs") {
    // The prune is a cut made while the query is built, so its anti-join
    // runs in one of the executions the build starts, not in the returned
    // plan: look for it in both, and check both.
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val returned = try {
      val p = planOf("e8_semdedup")
      // Listener events arrive on the bus: wait for the prune's.
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!plans.toArray.exists(_.toString.contains("__graft_loser")) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      p
    } finally spark.listenerManager.unregister(listener)
    // The keep-one prune is the id-keyed LEFT ANTI the corpus streams through.
    val prune = (returned +: plans.toArray.toSeq.map(_.toString)).find(_.contains("__graft_loser"))
    assert(prune.exists(_.contains("LeftAnti")), prune.getOrElse(returned).take(2000))
    for (plan <- Seq(returned, prune.get))
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        plan.take(2000))
  }

  test("t12 unigram NLL: term-keyed equi-join, 1-row totals broadcast, no all-pairs") {
    val plan = planOf("t12_unigram_nll")
    // The only permitted nested-loop is the 1-row (N, V) totals crossJoin,
    // and it must BROADCAST — anything else would shuffle the token stream.
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("BroadcastExchange"), plan.take(2000))
    // The model side folds term counts map-side before its exchange.
    assert(plan.contains("partial_count"), plan.take(2000))
  }

  test("s6 epoch shuffle: one shard exchange + per-shard local sorts — no global sort, no join") {
    val plan = planOf("s6_epoch_shuffle")
    assert(!plan.contains("Join"), plan.take(2000))
    // One hash exchange on the shard id for the rank window; the trailing
    // oracle orderBy adds the only range exchange. A third shuffle (or a
    // single-partition exchange) would mean the permutation went global.
    val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(plan).size
    assert(shuffles <= 2, s"s6 plans $shuffles shuffles:\n${plan.take(2000)}")
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2000))
  }

  test("t13 chunking / mm2 frame sampling: map-only fan-out — no join, no aggregation") {
    Seq("t13_chunking", "mm2_frame_sample").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("Join") && !plan.contains("HashAggregate"), s"$q:\n${plan.take(2000)}")
      assert("Scan parquet".r.findAllIn(plan).size === 1, s"$q:\n${plan.take(2000)}")
      // The only exchange is the trailing oracle orderBy's range partition:
      // the explode fan-out itself must stay in the scan's partitioning.
      assert(!plan.contains("Exchange hashpartitioning"), s"$q:\n${plan.take(2000)}")
    }
  }

  test("s7 temperature mix: rates broadcast back onto the corpus — no corpus-sized shuffle join") {
    val plan = planOf("s7_temperature_mix")
    // The stratum-rate frame (5 langs) must come back as a broadcast join;
    // a SortMergeJoin here shuffles the whole corpus on the stratum.
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // The one allowed nested-loop is the deliberate 1-row global-min
    // broadcast cross (counts × n_min) — metadata-sized by construction.
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1, plan.take(3000))
  }

  test("t14 domain cap: one stratum exchange for the cap window, no join") {
    val plan = planOf("t14_domain_cap")
    assert(!plan.contains("Join"), plan.take(2000))
    assert("Exchange hashpartitioning\\(domain".r.findAllIn(plan).size === 1, plan.take(2000))
  }

  test("d21 containment: inverted-index joins only — never an all-pairs product") {
    val plan = planOf("d21_containment")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("d19 URL dedup / t15 novelty: aggregation-and-window only — no joins at all") {
    Seq("d19_url_dedup", "t15_novelty").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("Join"), s"$q:\n${plan.take(2000)}")
    }
  }

  test("e9 purity / e10 quantized top-k: the only nested loop is the broadcast probe/centroid cross") {
    Seq("e9_cluster_purity", "e10_quantized_topk").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(2000)}")
      assert(!plan.contains("SortMergeJoin"), s"$q:\n${plan.take(2000)}")
      assert("BroadcastNestedLoopJoin BuildRight".r.findAllIn(plan).size === 1,
        s"$q:\n${plan.take(2000)}")
    }
  }

  test("q22 profile: each per-column aggregation scans ONLY its column") {
    val plan = planOf("q22_profile")
    val schemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.size === 4, plan.take(2000))
    assert(schemas.forall(l => l.split("struct<").last.count(_ == ':') === 1),
      schemas.mkString("\n"))
  }

  test("s8 budget select: corpus never globally sorts — single-partition work is the bins frame only") {
    val plan = planOf("s8_budget_select")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"), plan.take(3000))
    // Single-partition exchanges belong ONLY to the bins-sized cumsum
    // frame (the keep/boundary union re-derives it, so it may appear
    // twice — both metadata-sized); the bin plan must come back to the
    // corpus as broadcast joins.
    val sp = "Exchange SinglePartition".r.findAllIn(plan).size
    assert(sp <= 2, s"s8 plans $sp single-partition exchanges:\n${plan.take(3000)}")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
  }

  test("q24 z-order key: map-only shift/mask expression — no exchange before the output sort, no join") {
    val plan = planOf("q24_zorder_key")
    assert(!plan.contains("Join"), plan.take(2000))
    // The only exchange is the final presentation orderBy's range
    // exchange; the key computation itself adds none.
    assert("Exchange".r.findAllIn(plan).size <= 1, plan.take(2000))
    assert(plan.contains("PushedFilters"), plan.take(2000))
  }

  test("m16 SCD2: one full-outer join; the 1-or-2-row fan-out is a map-side explode, not a second join") {
    val plan = planOf("m16_scd2_history")
    assert("FullOuter".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(plan.contains("Generate explode"), plan.take(3000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
    // History pass-through unions in without any extra exchange of its own:
    // total joins in the whole query = the single full-outer.
    assert("Join ".r.findAllIn(optimizedOf("m16_scd2_history")).size === 1)
  }

  // d23/d24 are not plan-pinnable from the query surface: their operators
  // materialize through localCheckpoint (handle-release hygiene), so the
  // visible plan is a Scan ExistingRDD — the join shapes are exercised and
  // asserted semantically by their specs/oracles instead.

  test("q33 argmin: partial-aggregated struct-min — no window sort anywhere") {
    val plan = planOf("q33_argmin_order")
    assert(!plan.contains("WindowExec") && !plan.contains("Window "), plan.take(3000))
    // Map-side combine: a partial_min over the struct before the exchange.
    assert(plan.contains("partial_min"), plan.take(3000))
  }

  test("q30 cohort: aggregations + one user-keyed join — never a row-level window") {
    val plan = planOf("q30_cohort_retention")
    assert(!plan.contains("WindowExec") && !plan.contains("Window "), plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("t19 sentence chunks: one per-doc window, no joins at all") {
    val opt = optimizedOf("t19_sentence_chunks")
    assert(!opt.contains("Join"), opt.take(2000))
    assert("Window".r.findAllIn(optimizedOf("t19_sentence_chunks")).size === 1, opt.take(2000))
  }

  test("mm4 segment plan: map-only fan-out — no join, no aggregation before the output sort") {
    val opt = optimizedOf("mm4_segment_plan")
    assert(!opt.contains("Join") && !opt.contains("Aggregate"), opt.take(2000))
  }

  test("q27 heavy keys: TakeOrdered top-N — the key census never globally sorts or windows") {
    val plan = planOf("q27_heavy_keys")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // The only nested loop is the 1-row broadcast total; the rank window
    // runs over the N collected rows, after the TakeOrdered.
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("d25 bloom ingest: no corpus shuffle — every join is a broadcast probe") {
    val plan = planOf("d25_bloom_ingest")
    // The corpus appears only under map-scans (bloom aggregate + the
    // broadcast-probed semi join); nothing corpus-sized is sort-merge
    // joined or shuffled for a join.
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("e12/e13 PQ search: top-k is TakeOrdered, never a global sort") {
    for (q <- Seq("e12_pq_topk", "e13_ivfpq_topk")) {
      val plan = planOf(q)
      assert(plan.contains("TakeOrderedAndProject"), s"$q\n" + plan.take(3000))
      assert(!plan.contains("CartesianProduct"), s"$q\n" + plan.take(3000))
    }
  }

  test("t20 vocab/OOV: the vocabulary joins back as a broadcast, the rank cut is a TakeOrdered") {
    val plan = planOf("t20_vocab_oov")
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000)) // top-V cut
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))    // vocab probe
    assert(!plan.linesIterator.exists(l => l.contains("SortMergeJoin")), plan.take(3000))
  }

  test("q25 fuzzy join: variant equi-join, hub anti-join broadcast-or-eliminated — never cartesian") {
    val plan = planOf("q25_fuzzy_join")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"), plan.take(3000))
    // The probed hub set becomes a broadcast LocalRelation within
    // hubBroadcastLimit; when it probes EMPTY (this fixture) Catalyst's
    // PropagateEmptyRelation removes the anti-join outright. Either way
    // the exploded variant index is never shuffled against the hub list.
    assert(!plan.linesIterator.exists(l => l.contains("SortMergeJoin") && l.contains("LeftAnti")),
      plan.take(3000))
  }

  test("q39 heavy hitters: the recount semi-join broadcasts the candidate set — the long tail never shuffles") {
    val plan = planOf("q39_heavy_hitters")
    // The candidate frame is parts·k rows: its semi-join must be a
    // broadcast probe of the events scan, never a shuffle of events.
    assert(plan.linesIterator.exists(l =>
      l.contains("BroadcastHashJoin") && l.contains("LeftSemi")), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"))
  }

  test("t29 k-anonymity: one aggregation + one semi-join on the quasi columns, no window") {
    val plan = planOf("t29_k_anonymity")
    assert(plan.contains("LeftSemi"), plan.take(3000))
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
  }

  test("m20 snapshot diff: exactly one full-outer join, no BNLJ, change test stays in the projection") {
    val plan = planOf("m20_snapshot_diff")
    assert("FullOuter".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"))
    // No re-aggregation or window: diff is join + filter + project only.
    assert(!plan.contains("Window"), plan.take(3000))
  }

  test("q43 quantile bins: assignment is a map-only comparison chain — no window, no sort, no join") {
    val plan = planOf("q43_quantile_bins")
    // The output orderBy is the only sort; binning itself adds no
    // exchange beyond it and never a row-level window or join.
    assert(!plan.contains("Window"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("e20 random projection: map-only against literal matrix rows, top-k never globally sorts the corpus") {
    val plan = planOf("e20_random_project")
    // Projection adds no exchange; the search is e1's shape: a single
    // probe broadcast + rank window, never a corpus-wide global sort of
    // unranked rows (TakeOrdered handles the final display order).
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoop"),
      plan.take(3000)) // probe side broadcast (non-equi self-pair filter)
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("j1/j4 quarantine ingest: map-only — one text scan, no exchange beyond the output sort") {
    for (name <- Seq("j1_jsonl_ingest", "j4_csv_quarantine")) {
      val plan = planOf(name)
      assert("Scan text".r.findAllIn(plan).size === 1, s"$name:\n" + plan.take(3000))
      assert(!plan.contains("Join"), name)
      // The trailing orderBy for oracle determinism is the only exchange;
      // parse + route is a pure projection over the line scan.
      assert("Exchange".r.findAllIn(plan).size <= 1, s"$name:\n" + plan.take(3000))
    }
  }

  test("j2 ingest report: single scan, partial-agg only — no join, no second pass") {
    val plan = planOf("j2_jsonl_quarantine")
    assert("Scan text".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    // One 1-row aggregation: exactly the partial/final exchange, nothing else.
    assert("Exchange".r.findAllIn(plan).size <= 1, plan.take(3000))
  }

  test("j5 quarantine provenance: map-side filtered scan + one shard-keyed aggregation") {
    val plan = planOf("j5_quarantine_provenance")
    assert("Scan text".r.findAllIn(plan).size === 1, plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("p5 leakage-safe split: equi-joins only — label attach never goes all-pairs") {
    val plan = planOf("p5_leakage_safe_split")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(3000))
  }

  test("t34 BPE encode: segmentation attaches as a broadcast join — the token stream never sort-merge-shuffles") {
    val plan = planOf("t34_bpe_encode")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan.take(3000))
  }

  test("t35 classifier gate: the trained model is a plan literal — scoring is map-only, no join") {
    val plan = planOf("t35_quality_classifier")
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("t36 trigram NLL: vocabulary-keyed equi-joins + the 1-row totals broadcast — never corpus-cartesian") {
    val plan = planOf("t36_trigram_nll")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // The only nested-loop join is the 1-row totals crossJoin(broadcast)
    // — the t12/t26 shape; the model attaches are hash equi-joins.
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1, plan.take(3000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      plan.take(3000))
  }

  test("p7 tokenizer pipeline: gates are equi-joins, segmentation attach broadcasts — no cartesian anywhere in the chain") {
    val plan = planOf("p7_tokenizer_pipeline")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan.take(3000))
  }

  test("j10 field inventory: explode + field-keyed agg, total joins as a 1-row broadcast") {
    val plan = planOf("j10_field_inventory")
    // The corpus-total denominator must arrive as a broadcast of ONE
    // row, never a shuffle of the inventory against the line count.
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("t49 unigram encode: the per-word Viterbi attaches as a broadcast join — the token stream never sort-merge-shuffles") {
    val plan = planOf("t49_unigram_encode")
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      plan.take(3000))
  }

  test("t50 GPT-2 pre-tokenization: map-only — no exchange beyond the output sort, no join") {
    val plan = planOf("t50_gpt2_pretokenize")
    assert(!plan.contains("Join"), plan.take(3000))
    // One Exchange for the final orderBy (rangepartitioning) only.
    assert("Exchange".r.findAllIn(plan).size <= 1, plan.take(3000))
  }

  test("j13 WARC ingest: one text scan, map-only parse — no join, no aggregation") {
    val plan = planOf("j13_warc_ingest")
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      plan.take(3000))
  }

  test("p9 perplexity gate: model attaches are equi-joins + 1-row broadcasts, terciles one doc-frame window — never corpus-cartesian") {
    val plan = planOf("p9_perplexity_gate")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // 1-row broadcasts: the MKN totals crossJoin and the classifier
    // score threshold; everything row-keyed is a hash equi-join.
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      plan.take(3000))
    assert("Window".r.findAllIn(plan).size >= 1, plan.take(3000))
  }

  test("t58 persisted-BPE encode: the loaded word table and vocab still attach as broadcast joins — persistence changes the source, not the shape") {
    val plan = planOf("t58_bpe_saved_encode")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("t60 persisted-LM scoring: vocabulary-keyed equi-joins + 1-row totals broadcast — never corpus-cartesian") {
    val plan = planOf("t60_mkn_saved_nll")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      plan.take(3000))
  }

  test("t61 5-gram MKN: the deeper level chain stays vocabulary-keyed equi-joins + the 1-row totals broadcast — no cartesian at any order") {
    val plan = planOf("t61_mkn5_nll")
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // The only nested-loop is the 1-row totals crossJoin (broadcast).
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
      plan.take(3000))
  }

  test("p11 crawl-to-corpus: the composed chain plans with no cartesian product end to end") {
    val plan = planOf("p11_crawl_to_corpus")
    assert(!plan.contains("CartesianProduct"), plan.take(4000))
  }
}
