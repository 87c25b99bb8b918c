package graft.merge

import graft.GraftSuite
import org.apache.spark.sql.DataFrame

/** Semantics tests for the merge dataflow, pinned to the reference's
  * documented behavior (citations inline). Uses the VendorList golden
  * fixture from /root/reference/README.md:51-109.
  */
class MergeFrameSpec extends GraftSuite {
  import spark.implicits._

  // VendorList golden fixture (README.md:54-58)
  private def vendorTarget: DataFrame = Seq(
    (1, "Acme", "1 Main St", "Springfield", "IL", "62701", "555-0001"),
    (2, "Bolt", "2 Oak Ave", "Shelbyville", "IL", "62565", "555-0002"),
    (3, "Cogs", "3 Elm Rd", "Capital City", "IL", "62700", "555-0003")
  ).toDF("Vendor", "Name", "Addr", "City", "State", "Zip", "Phone")

  private def vendorSource: DataFrame = Seq(
    (1, "Acme", "1 Main St", "Springfield", "IL", "62701", "555-0001"), // unchanged
    (2, "Bolt Inc", "2 Oak Ave", "Shelbyville", "IL", "62565", "555-0002"), // changed
    (4, "Dyno", "4 Pine Ln", "Ogdenville", "IL", "62710", "555-0004") // new
  ).toDF("Vendor", "Name", "Addr", "City", "State", "Zip", "Phone")

  private def merge(opts: MergeOptions, t: DataFrame = vendorTarget, s: DataFrame = vendorSource) =
    new MergeFrame(t, s, MergePlan.build(t.schema, s.schema, opts))

  test("delete=YES: result is exactly the source (update+insert+delete)") {
    val m = merge(MergeOptions(keys = Seq("Vendor")))
    val got = m.merged.orderBy("Vendor").collect().map(_.toSeq)
    val want = vendorSource.orderBy("Vendor").collect().map(_.toSeq)
    assert(got.toSeq == want.toSeq)
  }

  test("$action classification and @@ROWCOUNT (A19, A21)") {
    val m = merge(MergeOptions(keys = Seq("Vendor")))
    val actions = m.audit.groupBy("action").count().as[(String, Long)].collect().toMap
    // vendor 1 unchanged -> no-op suppressed (sp_SimpleMerge.sql:275-297)
    assert(actions == Map("UPDATE" -> 1L, "INSERT" -> 1L, "DELETE" -> 1L))
    assert(m.affectedCount() == 3L)
  }

  test("delete=Ignore keeps unmatched target rows (A16)") {
    val m = merge(MergeOptions(keys = Seq("Vendor"), delete = DeleteMode.Ignore))
    val keys = m.merged.select("Vendor").as[Int].collect().sorted.toSeq
    assert(keys == Seq(1, 2, 3, 4))
    // vendor 3 retained with original payload
    val v3 = m.merged.filter($"Vendor" === 3).select("Name").as[String].head()
    assert(v3 == "Cogs")
  }

  test("soft delete: set expr applied to not-matched-by-source rows (A15)") {
    val m = merge(MergeOptions(keys = Seq("Vendor"), delete = DeleteMode.parse("set Name = 'GONE', Zip = null")))
    val v3 = m.merged.filter($"Vendor" === 3).select("Name", "Zip").as[(String, String)].head()
    assert(v3 == ("GONE", null))
    // matched rows unaffected by the SET
    val v2 = m.merged.filter($"Vendor" === 2).select("Name").as[String].head()
    assert(v2 == "Bolt Inc")
    // soft delete reports UPDATE in $action
    val acts = m.audit.groupBy("action").count().as[(String, Long)].collect().toMap
    assert(acts("UPDATE") == 2L) // vendor 2 changed + vendor 3 soft-deleted
  }

  test("null-safe key matching: NULL keys pair up (A7, README.md:20-21)") {
    val t = Seq((Option(1), "a"), (Option.empty[Int], "nullrow-t")).toDF("k", "v")
    val s = Seq((Option(1), "a"), (Option.empty[Int], "nullrow-s")).toDF("k", "v")
    val m = merge(MergeOptions(keys = Seq("k"), delete = DeleteMode.Ignore), t, s)
    // NULL<=>NULL matches: 2 rows out, null row updated not duplicated
    assert(m.merged.count() == 2)
    val nv = m.merged.filter($"k".isNull).select("v").as[String].head()
    assert(nv == "nullrow-s")
  }

  test("badKey: duplicate keys dedup via row_number; result multiset == source (A5, A8)") {
    val t = Seq((1, "t1"), (1, "t2"), (2, "t3")).toDF("k", "v")
    val s = Seq((1, "s1"), (1, "s2"), (1, "s3"), (3, "s4")).toDF("k", "v")
    val m = merge(MergeOptions(keys = Seq("k"), badKey = true), t, s)
    val got = m.merged.as[(Int, String)].collect().sorted.toSeq
    assert(got == Seq((1, "s1"), (1, "s2"), (1, "s3"), (3, "s4")))
  }

  test("targetFilter: out-of-filter rows invisible; duplicate-insert edge (A3, SURVEY §7.4)") {
    val t = Seq((1, 10, "old-in"), (2, 99, "out"), (3, 10, "in-del")).toDF("k", "d", "v")
    val s = Seq((1, 10, "new"), (2, 10, "dup-insert")).toDF("k", "d", "v")
    val m = merge(MergeOptions(keys = Seq("k"), targetFilter = Some("d < 50")), t, s)
    val got = m.merged.as[(Int, Int, String)].collect().sortBy(r => (r._1, r._3)).toSeq
    // k=1 updated; k=3 deleted (in filter, not in source); k=2 out-of-filter
    // retained AND source k=2 inserted as a duplicate — reference semantics.
    assert(got == Seq((1, 10, "new"), (2, 10, "dup-insert"), (2, 99, "out")))
  }

  test("target-only columns preserved on update, NULL on insert (README.md:27-29)") {
    val t = Seq((1, "a", "extra1"), (2, "b", "extra2")).toDF("k", "v", "x")
    val s = Seq((1, "a2"), (3, "c")).toDF("k", "v")
    val m = merge(MergeOptions(keys = Seq("k")), t, s)
    val got = m.merged.as[(Int, String, String)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1, "a2", "extra1"), (3, "c", null)))
  }

  test("all-columns-in-key: matched clause suppressed (A12)") {
    val t = Seq((1, "a"), (2, "b")).toDF("k1", "k2")
    val s = Seq((1, "a"), (3, "c")).toDF("k1", "k2")
    val plan = MergePlan.build(t.schema, s.schema, MergeOptions(keys = Seq("k1", "k2")))
    assert(!plan.hasMatchedClause)
    val m = new MergeFrame(t, s, plan)
    val acts = m.audit.groupBy("action").count().as[(String, Long)].collect().toMap
    assert(acts == Map("INSERT" -> 1L, "DELETE" -> 1L))
    // audit has no image columns when matched clause suppressed (A18)
    assert(!m.audit.columns.exists(c => c.startsWith("d_") || c.startsWith("i_")))
  }

  test("audit images: d_* old values, i_* new, null on insert/delete (A17)") {
    val m = merge(MergeOptions(keys = Seq("Vendor")))
    val byAction = m.audit.select("action", "Vendor", "d_Name", "i_Name")
      .as[(String, Int, String, String)].collect().map(r => r._1 -> r).toMap
    assert(byAction("UPDATE") == ("UPDATE", 2, "Bolt", "Bolt Inc"))
    assert(byAction("INSERT") == ("INSERT", 4, null, "Dyno"))
    assert(byAction("DELETE") == ("DELETE", 3, "Cogs", null))
  }

  test("validation gates (B6): missing key / source not subset of target") {
    val t = Seq((1, "a")).toDF("k", "v")
    val s = Seq((1, "a", "zz")).toDF("k", "v", "w")
    intercept[MergeValidationException] {
      MergePlan.build(t.schema, s.schema, MergeOptions(keys = Seq("nope")))
    }
    intercept[MergeValidationException] {
      MergePlan.build(t.schema, s.schema, MergeOptions(keys = Seq("k")))
    }
    intercept[MergeValidationException] {
      MergePlan.build(t.schema, t.schema, MergeOptions(keys = Nil))
    }
  }

  test("idempotence: merging a result with itself is all no-op") {
    val m1 = merge(MergeOptions(keys = Seq("Vendor")))
    val once = m1.merged.cache()
    val m2 = new MergeFrame(once, vendorSource, MergePlan.build(once.schema, vendorSource.schema, MergeOptions(keys = Seq("Vendor"))))
    assert(m2.affectedCount() == 0L)
    once.unpersist()
  }

  test("change-feed apply: D removes, U replaces, I inserts, absent keys untouched, null-safe") {
    val target = Seq(
      (Option(1L), "keep-me"), (Option(2L), "update-me"),
      (Option(3L), "delete-me"), (Option.empty[Long], "null-key-delete")
    ).toDF("k", "v")
    val feed = Seq(
      (Option(2L), "updated", "U"), (Option(3L), "", "D"),
      (Option(4L), "inserted", "I"), (Option.empty[Long], "", "D")
    ).toDF("k", "v", "op")
    val out = ChangeFeed.apply(target, feed, Seq("k"))
      .as[(Option[Long], String)].collect().toSet
    // Null-safe delete removes the null-key row; key 1 untouched.
    assert(out === Set(
      (Option(1L), "keep-me"), (Option(2L), "updated"), (Option(4L), "inserted")))
  }

  test("change-feed diff: op classes exact, D carries old values, and the round-trip law apply(old, diff) == new") {
    val old = Seq(
      (Option(1L), "same"), (Option(2L), "before"),
      (Option(3L), "gone"), (Option.empty[Long], "null-key-gone")
    ).toDF("k", "v")
    val next = Seq(
      (Option(1L), "same"), (Option(2L), "after"), (Option(4L), "fresh")
    ).toDF("k", "v")
    val feed = ChangeFeed.diff(old, next, Seq("k"))
      .as[(String, Option[Long], String)].collect().toSet
    // Unchanged key 1 emits nothing; D rows carry the OLD values;
    // the null key is diffed null-safely.
    assert(feed === Set(
      ("U", Option(2L), "after"), ("D", Option(3L), "gone"),
      ("D", Option.empty[Long], "null-key-gone"), ("I", Option(4L), "fresh")))
    // Round trip on the hand fixture…
    val replayed = ChangeFeed.apply(old, ChangeFeed.diff(old, next, Seq("k")), Seq("k"))
      .as[(Option[Long], String)].collect().toSet
    assert(replayed === next.as[(Option[Long], String)].collect().toSet)
    // …and on the corpus snapshots (the m15/m20 fixture pair).
    val t = graft.queries.Fixtures.ordersTarget(spark, graft.SparkTestBase.sf0001)
    val s2 = graft.queries.Fixtures.ordersSource(spark, graft.SparkTestBase.sf0001)
    val d = ChangeFeed.diff(t, s2, Seq("o_orderkey"))
    assert(ChangeFeed.apply(t, d, Seq("o_orderkey"))
      .exceptAll(s2).isEmpty)
    assert(s2.exceptAll(ChangeFeed.apply(t, d, Seq("o_orderkey"))).isEmpty)
    // Identical snapshots diff to the empty feed.
    assert(ChangeFeed.diff(t, t, Seq("o_orderkey")).isEmpty)
  }

  test("schema evolution: opt-in pre-pass flows the new column; without it the merge rejects") {
    import org.apache.spark.sql.functions._
    val widened = vendorSource.withColumn("Tier", concat(lit("T"), col("Vendor").cast("string")))
    // Without the pre-pass: a widened source is REJECTED, never silently
    // reinterpreted (the reference's alignment gate).
    intercept[MergeValidationException] {
      MergePlan.build(vendorTarget.schema, widened.schema, MergeOptions(keys = Seq("Vendor")))
    }
    // With it: the target grows a typed NULL column, matched rows pick
    // the value up on the same merge, keep-mode target-only rows carry
    // NULL history.
    val evolved = SimpleMerge.evolveTarget(vendorTarget, widened)
    assert(evolved.schema("Tier").dataType === org.apache.spark.sql.types.StringType)
    assert(evolved.select("Tier").collect().forall(_.isNullAt(0)))
    val m = merge(MergeOptions(keys = Seq("Vendor"), delete = DeleteMode.Ignore),
      t = evolved, s = widened)
    val tiers = m.merged.select("Vendor", "Tier").as[(Int, Option[String])]
      .collect().toMap
    assert(tiers === Map(1 -> Some("T1"), 2 -> Some("T2"), 3 -> None, 4 -> Some("T4")))
    // A source column differing only in CASE is the same column under the
    // default case-insensitive resolution (ADVICE r12 #2): the pre-pass
    // must not append a near-duplicate that would ambiguate the merge.
    val cased = widened.withColumnRenamed("Tier", "tIER")
    val evolvedOnce = SimpleMerge.evolveTarget(evolved, cased)
    assert(evolvedOnce.columns.toSeq === evolved.columns.toSeq)
  }

  /** Runs `body` with SQL confs set, restoring the previous values. */
  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val prev = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def joinOf(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.linesIterator
      .find(l => l.contains("FullOuter")).getOrElse(df.queryExecution.executedPlan.toString)

  /** Merged rows, audit rows (action time dropped) and affected count of a
    * fresh merge, with the join node its executed plan shows.
    */
  private def outcome(t: DataFrame, s: DataFrame, opts: MergeOptions) = {
    val m = merge(opts, t, s)
    def rows(df: DataFrame) = df.collect().map(_.toSeq.mkString("|")).sorted.toSeq
    (joinOf(m.merged), rows(m.merged), rows(m.audit.drop("actionTime")), m.affectedCount())
  }

  private val strategyCases: Seq[(String, () => (DataFrame, DataFrame, MergeOptions))] = Seq(
    "NULL keys pair up (A7)" -> { () =>
      (Seq((Option(1), "a"), (Option.empty[Int], "nullrow-t"), (Option(2), "gone")).toDF("k", "v"),
        Seq((Option(1), "a"), (Option.empty[Int], "nullrow-s"), (Option(3), "new")).toDF("k", "v"),
        MergeOptions(keys = Seq("k")))
    },
    "badKey duplicates (A5, A8)" -> { () =>
      (Seq((1, "t1"), (1, "t2"), (2, "t3")).toDF("k", "v"),
        Seq((1, "s1"), (1, "s2"), (1, "s3"), (3, "s4")).toDF("k", "v"),
        MergeOptions(keys = Seq("k"), badKey = true))
    },
    "soft delete (A15)" -> { () =>
      (vendorTarget, vendorSource,
        MergeOptions(keys = Seq("Vendor"), delete = DeleteMode.parse("set Name = 'GONE', Zip = null")))
    },
    "targetFilter (A3)" -> { () =>
      (Seq((1, 10, "old-in"), (2, 99, "out"), (3, 10, "in-del")).toDF("k", "d", "v"),
        Seq((1, 10, "new"), (2, 10, "dup-insert")).toDF("k", "d", "v"),
        MergeOptions(keys = Seq("k"), targetFilter = Some("d < 50")))
    },
    "all-key table (A12)" -> { () =>
      (Seq((1, "a"), (2, "b")).toDF("k1", "k2"), Seq((1, "a"), (3, "c")).toDF("k1", "k2"),
        MergeOptions(keys = Seq("k1", "k2")))
    },
    "target-only columns" -> { () =>
      (Seq((1, "a", "extra1"), (2, "b", "extra2")).toDF("k", "v", "x"),
        Seq((1, "a2"), (3, "c")).toDF("k", "v"), MergeOptions(keys = Seq("k")))
    },
    "audit images (A17)" -> { () => (vendorTarget, vendorSource, MergeOptions(keys = Seq("Vendor"))) })

  for ((name, mk) <- strategyCases)
    test(s"join strategies agree: $name — shuffled hash join by default, sort-merge without the size rule") {
      val (t, s, opts) = mk()
      val hashed = outcome(t, s, opts)
      val sorted = withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(outcome(t, s, opts))
      assert(hashed._1.contains("ShuffledHashJoin"), hashed._1)
      assert(sorted._1.contains("SortMergeJoin"), sorted._1)
      assert(hashed._2 === sorted._2, "merged rows")
      assert(hashed._3 === sorted._3, "audit rows")
      assert(hashed._4 === sorted._4, "affected count")
    }

  test("scale guard: a build side above autoBroadcastJoinThreshold x shuffle partitions plans SortMergeJoin") {
    val t = (1 to 2000).map(i => (i, s"v$i")).toDF("k", "v")
    val s = (1000 to 3000).map(i => (i, s"w$i")).toDF("k", "v")
    val smaller = Seq(t, s).map(_.queryExecution.optimizedPlan.stats.sizeInBytes).min
    val parts = spark.sessionState.conf.numShufflePartitions
    def planned(threshold: BigInt) =
      withConf("spark.sql.autoBroadcastJoinThreshold" -> threshold.toString)(
        joinOf(merge(MergeOptions(keys = Seq("k")), t, s).merged))
    // Four times the smaller side's estimate under the bound: hash join;
    // a quarter of it: the build side would not fit, so sort-merge.
    assert(planned(smaller * 4 / parts).contains("ShuffledHashJoin"))
    assert(planned(smaller / 4 / parts).contains("SortMergeJoin"))
  }
}
