package graft.merge

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualNullSafe}
import org.apache.spark.sql.functions.{col, struct}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, forAllNoShrink, propBoolean}

/** Property families from SURVEY §5.3, over random small tables:
  * (a) merge(T,S,delete=YES) ≡ S on distinct keys (incl. NULL keys),
  * (b) idempotence — a second merge is all no-op,
  * (c) audit rows == affected count,
  * (d) badKey — result multiset ≡ source multiset under duplicate keys,
  * (e) NULL keys pair up (A7),
  * (f) the column-wise change predicate (A10) agrees row for row with the
  *     struct `<=>` form on NULL, NaN, ±0.0, decimal, string, binary, array
  *     and nested-struct payloads, and the plan compares each payload
  *     column once.
  */
object MergeProps extends Properties("SimpleMerge") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5).withWorkers(1)

  private lazy val spark = graft.SparkTestBase.spark

  type R = (Option[Long], String, Double)

  private val rowGen: Gen[R] = for {
    k <- Gen.frequency(9 -> Gen.choose(0L, 15L).map(Some(_)), 1 -> Gen.const(None))
    s <- Gen.oneOf("x", "y", "z")
    d <- Gen.choose(0, 99).map(_.toDouble)
  } yield (k, s, d)

  private def tableGen(distinctKeys: Boolean): Gen[Seq[R]] =
    Gen.listOfN(25, rowGen).map(rows => if (distinctKeys) rows.distinctBy(_._1) else rows)

  private def toDF(rows: Seq[R]) = {
    val s = spark
    import s.implicits._
    rows.toDF("k", "s", "d")
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[R] = {
    val s = spark
    import s.implicits._
    df.as[R].collect().toSeq
  }

  private def merge(t: Seq[R], src: Seq[R]) =
    SimpleMerge.into(toDF(t)).using(toDF(src)).keys("k")

  property("delete=YES on distinct keys: result set == source set") =
    forAll(tableGen(true), tableGen(true)) { (t, src) =>
      rowsOf(merge(t, src).delete("YES").merged).toSet == src.toSet
    }

  property("idempotence: re-merging the result is all no-op") =
    forAll(tableGen(true), tableGen(true)) { (t, src) =>
      val once = rowsOf(merge(t, src).delete("YES").merged)
      merge(once, src).delete("YES").affectedCount() == 0L
    }

  property("audit row count == affected count") =
    forAll(tableGen(true), tableGen(true)) { (t, src) =>
      val m = merge(t, src).delete("YES")
      m.audit.count() == m.affectedCount()
    }

  property("badKey: result multiset == source multiset under duplicate keys") =
    forAll(tableGen(false), tableGen(false)) { (t, src) =>
      val got = rowsOf(merge(t, src).badKey(true).delete("YES").merged)
      got.sortBy(_.toString) == src.sortBy(_.toString)
    }

  property("NULL keys pair up: the null-key row takes the source value (A7)") =
    forAll(Gen.oneOf("x", "y", "z"), Gen.choose(0, 99)) { (s0, d0) =>
      val t = Seq((None: Option[Long], "old", 0.0), (Some(1L), "a", 1.0))
      val src = Seq((None: Option[Long], s0, d0.toDouble), (Some(1L), "a", 1.0))
      rowsOf(merge(t, src).delete("YES").merged).toSet == src.toSet
    }

  /** Payload columns with the values where null-safe equality is subtle:
    * NULL, NaN, -0.0 against 0.0, decimals of one value written at two
    * scales, empty strings and byte arrays, and the same inside an array
    * and a nested struct.
    */
  private val payloadSchema = StructType(Seq(
    StructField("d", DoubleType),
    StructField("dec", DecimalType(10, 2)),
    StructField("s", StringType),
    StructField("b", BinaryType),
    StructField("arr", ArrayType(DoubleType)),
    StructField("st", StructType(Seq(
      StructField("x", DoubleType), StructField("y", StringType))))))

  private val cellGens: Seq[Gen[Any]] = {
    val dbl = Gen.oneOf[Any](null, Double.NaN, -0.0, 0.0, 1.5)
    Seq(
      dbl,
      Gen.oneOf[Any](null, new java.math.BigDecimal("1.1"), new java.math.BigDecimal("1.10"),
        new java.math.BigDecimal("2.00")),
      Gen.oneOf[Any](null, "", "a", "b"),
      Gen.oneOf[Any](null, Array.emptyByteArray, Array[Byte](1), Array[Byte](1, 2)),
      Gen.oneOf[Any](null, Seq(), Seq(Double.NaN), Seq(-0.0), Seq(0.0), Seq(null, 1.5)),
      Gen.oneOf[Any](null, Row(null, null), Row(Double.NaN, "a"), Row(-0.0, ""), Row(0.0, "")))
  }

  /** (target payload, source payload) pairs: each source cell repeats the
    * target's with probability 3/4, else is drawn afresh — so unchanged,
    * one-column and many-column changes all occur.
    */
  private val payloadPairs: Gen[Seq[(Seq[Any], Seq[Any])]] = Gen.listOfN(30,
    Gen.sequence[Seq[(Any, Any)], (Any, Any)](cellGens.map(g =>
      for { tv <- g; sv <- Gen.frequency(3 -> Gen.const(tv), 1 -> g) } yield (tv, sv)))
      .map(cells => (cells.map(_._1), cells.map(_._2))))

  private def payloadDF(rows: Seq[Seq[Any]]): DataFrame = {
    val schema = StructType(StructField("k", IntegerType) +: payloadSchema.fields)
    val data = rows.zipWithIndex.map { case (cells, i) => Row.fromSeq(i +: cells) }
    spark.createDataFrame(java.util.Arrays.asList(data: _*), schema)
  }

  private val payloadNames = payloadSchema.fieldNames.toSeq

  property("change predicate: column-wise <=> agrees row for row with struct <=> (A10)") =
    forAllNoShrink(payloadPairs) { pairs =>
      val t = payloadDF(pairs.map(_._1))
      val s = payloadDF(pairs.map(_._2))
      val joined = t.as("t").join(s.as("s"), "k")
      val both = joined.select(
        col("k"),
        MergeFrame.changedOf(payloadNames.map(c => col(s"s.$c") -> col(s"t.$c"))).as("columnwise"),
        (!(struct(payloadNames.map(c => col(s"s.$c")): _*) <=>
          struct(payloadNames.map(c => col(s"t.$c")): _*))).as("structwise"))
        .collect()
      val byStruct = both.filter(_.getBoolean(2)).map(_.getInt(0)).toSet
      val updated = {
        val sp = spark
        import sp.implicits._
        SimpleMerge.into(t).using(s).keys("k").delete("YES").audit
          .filter(col("action") === "UPDATE").select("k").as[Int].collect().toSet
      }
      both.length == pairs.length && both.forall(r => r.getBoolean(1) == r.getBoolean(2)) &&
        updated == byStruct
    }

  property("change predicate: the optimized plan compares each payload column exactly once") = {
    val t = payloadDF(Seq(payloadSchema.fields.map(_ => null).toSeq))
    val plan = SimpleMerge.into(t).using(t).keys("k").delete("YES").merged.queryExecution.optimizedPlan
    def named(e: org.apache.spark.sql.catalyst.expressions.Expression) = e match {
      case a: AttributeReference => a.name
      case other => other.sql
    }
    val compared = plan.flatMap(_.expressions.flatMap(_.collect {
      case EqualNullSafe(l, r) => Seq(named(l), named(r)).sorted.mkString(" <=> ")
    }))
    val counts = compared.groupBy(identity).view.mapValues(_.size).toMap
    payloadNames.forall(c => counts.get(Seq(MergeFrame.SrcPrefix + c, c).sorted.mkString(" <=> ")).contains(1)) :|
      s"payload <=> counts: $counts"
  }
}
