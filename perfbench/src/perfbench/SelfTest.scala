package perfbench

/** Exercises the benchmark's JVM-side checks on a tiny target: an
  * identical copy passes, one flipped row is caught, a clean target has no
  * leftovers and a planted staging directory is caught. Prints one JSON
  * line with the outcomes.
  *
  * Usage: perfbench.SelfTest <scratchDir>
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = args(0)
    val spark = Main.session(work, 2)
    try {
      import spark.implicits._
      val ctx = new Ctx(spark, work, 0, traced = false, cores = 2)
      val rows = (0 until 200).map(i => (i % 8, i.toLong, i * 10L, s"s${i % 3}"))
      val target = s"$work/target"
      rows.toDF("region", "account", "balance", "status").write.mode("overwrite").parquet(target)
      val want = rows.toDF("region", "account", "balance", "status")
      val flipped = rows.updated(17, rows(17).copy(_3 = rows(17)._3 + 1))
        .toDF("region", "account", "balance", "status")
      val got = spark.read.parquet(target)
      val identical = Checks.sameRows(got, want).isEmpty
      val flipCaught = Checks.sameRows(got, flipped).nonEmpty
      val clean = ctx.leftovers(target).isEmpty
      new java.io.File(s"$work/.target.staging-0badf00d").mkdirs()
      val planted = ctx.leftovers(target) == Seq(".target.staging-0badf00d")
      println(Json.obj("identical_passes" -> identical.toString, "flipped_row_caught" -> flipCaught.toString,
        "clean_target_passes" -> clean.toString, "planted_staging_caught" -> planted.toString))
    } finally spark.stop()
  }
}
