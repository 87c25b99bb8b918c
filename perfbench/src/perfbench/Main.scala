package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of the benchmark: runs one workload against the engine's public
  * calls on inputs the generator wrote, checks the results outside the
  * timed regions, and writes a JSON report for the launcher (`run.py`).
  *
  * Usage: perfbench.Main <workload> <workDir> <seconds> <trace 0|1> <reportPath>
  */
object Main {

  def main(args: Array[String]): Unit = {
    val Array(workload, work, seconds, trace, report) = args
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(work, cores)
    val ctx = new Ctx(spark, work, seconds.toDouble, trace == "1", cores)
    try {
      ctx.sessionReadyMs = Clock.nowMs
      workload match {
        case "snapshot_sync" => Snapshot.run(ctx)
        case "cdc_trickle" => Cdc.run(ctx)
        case "crawl_corpus" => graft.queries.CrawlWorkload.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (ctx.traced) Json.write(s"$work/spans.jsonl", Spans.toJsonLines(ctx.spans.withJobs(ctx.listeners.get.jobs)))
      Json.write(report, ctx.report(workload))
    } finally spark.stop()
  }

  /** `local[cores]` with one shuffle partition per core; every directory
    * Spark writes to lives under the work dir.
    */
  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Wall window of one measured call and, in traced runs, its Spark work. */
final case class Window(startMs: Double, endMs: Double, d: Totals) {
  def seconds: Double = (endMs - startMs) / 1000.0
}

/** A timed operation's record. `seconds` is the timed region only. */
final case class Op(kind: String, seconds: Double, rows: Long, affected: Long, written: Long)

/** Per-run state shared by the workloads: timing, checks, tracing. */
final class Ctx(val spark: SparkSession, val work: String, val seconds: Double,
    val traced: Boolean, val cores: Int) {
  val spans = new Spans(traced)
  val listeners: Option[Listeners] =
    if (!traced) None
    else {
      val l = new Listeners(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      spark.listenerManager.register(l)
      Some(l)
    }
  val fs: FileSystem = new Path(work).getFileSystem(spark.sparkContext.hadoopConfiguration)

  var sessionReadyMs = 0.0
  val loadSeconds = ArrayBuffer.empty[Double]
  var warmupSeconds = 0.0
  val ops = ArrayBuffer.empty[Op]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  /** Per-layer figures of each main op (traced runs only). */
  val layers = ArrayBuffer.empty[Map[String, Double]]
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private var loopStartMs = 0.0

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** The closed loop: true while the measuring window is open. */
  def more: Boolean = {
    if (loopStartMs == 0.0) loopStartMs = Clock.nowMs
    Clock.nowMs - loopStartMs < seconds * 1000
  }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) checks += ((name, false, detail))
    else if (!checks.exists(_._1 == name)) checks += ((name, true, ""))

  // ----------------------------------------------------------- measuring

  /** Run `body` as span `name`; in traced runs also return the Spark
    * counters of exactly that interval.
    */
  def measure[A](name: String)(body: => A): (A, Window) = {
    val before = listeners.map(_.totals()).getOrElse(Totals())
    val start = Clock.nowMs
    val r = spans(name)(body)
    val end = Clock.nowMs
    val after = listeners.map(_.totals()).getOrElse(Totals())
    (r, Window(start, end, after - before))
  }

  /** The spark.* layer figures of one measured window. */
  def sparkLayer(w: Window): Map[String, Double] = {
    val tasks = listeners.get.tasksIn(w.startMs, w.endMs)
    val wallMs = math.max(w.endMs - w.startMs, 1e-6)
    val taskMs = tasks.map { case (s, e) => math.min(e, w.endMs) - math.max(s, w.startMs) }.filter(_ > 0).sum
    Map(
      "spark.jobs" -> w.d.jobs.toDouble,
      "spark.stages" -> w.d.stages.toDouble,
      "spark.tasks" -> w.d.tasks.toDouble,
      "spark.task_run_s" -> w.d.taskRunMs / 1e3,
      "spark.task_cpu_s" -> w.d.taskCpuNs / 1e9,
      "spark.gc_s" -> w.d.gcMs / 1e3,
      "spark.shuffle_read_bytes" -> w.d.shuffleReadBytes.toDouble,
      "spark.shuffle_write_bytes" -> w.d.shuffleWriteBytes.toDouble,
      "spark.spill_bytes" -> w.d.spillBytes.toDouble,
      "spark.input_bytes" -> w.d.inputBytes.toDouble,
      "spark.output_bytes" -> w.d.outputBytes.toDouble,
      "spark.core_busy_ratio" -> taskMs / (wallMs * cores),
      "spark.driver_gap_s" -> (wallMs - Spans.covered(tasks, w.startMs, w.endMs)) / 1e3,
      "merge.plan.catalyst_s" -> w.d.planMs / 1e3)
  }

  /** Self time of the span a window belongs to: its wall minus the Spark
    * jobs it ran (jobs are the span's children in the trace).
    */
  def selfSeconds(w: Window): Double = {
    val jobs = listeners.get.jobs.filter(j => j.startMs >= w.startMs && j.startMs <= w.endMs)
    (w.endMs - w.startMs - Spans.covered(jobs.map(j => (j.startMs, j.endMs)), w.startMs, w.endMs)) / 1e3
  }

  // ------------------------------------------------------------ lineage

  def persistentRdds: Int = spark.sparkContext.getPersistentRDDs.size
  def storageBytes: Long = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** The lineage.* figures: persistent RDDs and block-manager bytes left by
    * an op (taken right after it, before any GC).
    */
  def lineageLayer(rddsBefore: Int, bytesBefore: Long): Map[String, Double] = Map(
    "lineage.rdds_left" -> (persistentRdds - rddsBefore).toDouble,
    "lineage.storage_bytes_left" -> (storageBytes - bytesBefore).toDouble)

  /** Check: the persistent RDD count is back at `baseline`. An RDD nobody
    * references any more is the ContextCleaner's to drop, so GC is given a
    * few chances to let it do so first.
    */
  def checkRddBaseline(what: String, baseline: Int): Unit = {
    var tries = 0
    while (persistentRdds > baseline && tries < 4) {
      System.gc()
      Thread.sleep(250)
      tries += 1
    }
    val left = spark.sparkContext.getPersistentRDDs.values.toSeq
    check("persistent_rdds_at_baseline", left.size == baseline,
      s"$what: ${left.size} persistent RDDs, baseline $baseline: " +
        left.map(r => s"${r.id}:${r.getStorageLevel.description}").mkString(", "))
  }

  // -------------------------------------------------------------- files

  /** Leftovers of the engine's staged-write protocol beside `target`. */
  def leftovers(target: String): Seq[String] = {
    val t = new Path(target)
    if (!fs.exists(t.getParent)) Nil
    else fs.listStatus(t.getParent).map(_.getPath.getName).toSeq.filter { n =>
      n.startsWith(s".${t.getName}.") &&
        (n.contains(".staging-") || n.contains(".work-") || n.contains(".retired-") ||
          (n.contains(".swap-") && n.endsWith(".json")))
    }
  }

  def checkLeftovers(what: String, target: String): Unit = {
    val left = leftovers(target)
    check("no_staging_leftovers", left.isEmpty, s"$what: ${left.mkString(", ")}")
  }

  /** Data files under `dir` (recursive): path -> (size, modification
    * time). Walked with java.nio: Hadoop's recursive listing of the local
    * filesystem costs seconds on a few hundred bucket directories.
    */
  def dataFiles(dir: String): Map[String, (Long, Long)] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val walk = java.nio.file.Files.walk(root)
      try {
        val out = Map.newBuilder[String, (Long, Long)]
        walk.iterator().forEachRemaining { p =>
          val n = p.getFileName.toString
          if (!n.startsWith("_") && !n.startsWith(".") && java.nio.file.Files.isRegularFile(p))
            out += p.toString -> ((java.nio.file.Files.size(p), java.nio.file.Files.getLastModifiedTime(p).toMillis))
        }
        out.result()
      } finally walk.close()
    }
  }

  // ------------------------------------------------------------ report

  def report(workload: String): String = {
    val failed = checks.filterNot(_._2)
    val layerMedians = if (layers.isEmpty) Map.empty[String, Double] else
      layers.flatMap(_.keys).distinct.map(k => k -> Stats.median(layers.flatMap(_.get(k)).toSeq)).toMap
    Json.obj(
      "workload" -> Json.str(workload),
      "spark_version" -> Json.str(org.apache.spark.SPARK_VERSION),
      "cores" -> cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "session_ready_ms" -> f"$sessionReadyMs%.3f",
      "load_s" -> Json.arr(loadSeconds.map(Json.num).toSeq),
      "warmup_s" -> Json.num(warmupSeconds),
      "peak_rss_mb" -> Json.num(Stats.peakRssMb),
      "ops" -> Json.arr(ops.map(o => Json.obj(
        "kind" -> Json.str(o.kind), "s" -> Json.num(o.seconds), "rows" -> o.rows.toString,
        "affected" -> o.affected.toString, "written" -> o.written.toString)).toSeq),
      "failed_checks" -> Json.arr(failed.map(c => Json.str(s"${c._1}: ${c._3}".take(400))).toSeq),
      "layers" -> Json.obj(layerMedians.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }: _*),
      "extra" -> Json.obj(extra.toSeq.map { case (k, v) => k -> v }: _*))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** VmHWM of this process (peak resident set), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }
}

/** Minimal JSON helpers: the writers take values already encoded. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def write(path: String, text: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(text) finally w.close()
  }
  /** The generator's `truth.json`. */
  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
}

/** Checks shared by the workloads and the self-test. */
object Checks {

  /** Order-insensitive content fingerprint: row count and the sum of a
    * 64-bit hash over every column.
    */
  def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(count(lit(1)), sum(xxhash64(df.columns.map(df(_)).toIndexedSeq: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** None when `got` holds the same rows as `want`, else what differs. */
  def sameRows(got: DataFrame, want: DataFrame): Option[String] = {
    val cols = want.columns.toSeq
    if (got.columns.toSeq.sorted != cols.sorted) Some(s"columns ${got.columns.mkString(",")} vs ${cols.mkString(",")}")
    else {
      val g = fingerprint(got.select(cols.map(col): _*))
      val w = fingerprint(want)
      if (g == w) None else Some(s"rows/hash ${g._1}/${g._2} vs ${w._1}/${w._2}")
    }
  }
}
