package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit dump for the optimization rounds: write each named query's
  * `.explain("formatted")` output to `<outDir>/<name>_<suffix>.txt`, so
  * plan-shape claims (Exchange count, join strategy, PushedFilters,
  * ReadSchema) are checkable without running Spark.
  *
  * Usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|all>
  *
  * The session mirrors graft.Verify's (same master, shuffle partitions,
  * extensions) so the captured plan is the one the bench executes.
  * Constructing a query's frame may itself run driver-side jobs (trainer
  * collects, fixture writes) — that is the declared query's own shape.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, which) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.LocalFs.install(spark)
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (which == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else which.split(',').map(_.trim).filter(_.nonEmpty).toSeq
    names.foreach { name =>
      try {
        val df = graft.SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(Paths.get(s"$outDir/${name}_$suffix.txt"),
          plan.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
