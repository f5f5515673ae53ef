package perfbench

import graft.warehouse.SparkWarehouse
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.immutable.ListMap

trait Workload {
  /** Seconds per named set-up phase, for the report. */
  val setupPhases = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  protected def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body finally setupPhases(name) = (System.nanoTime() - t0) / 1e9
  }

  /** Build tables and warm up; counts in `setup_s`. */
  def setup(): Unit
  /** The timed closed loop. */
  def loop(run: Run): Unit
  /** Correctness checks after the loop; the mismatches found. */
  def check(): Seq[String]
  /** SHA-256 of the generated inputs, so two runs can be shown identical. */
  def inputFingerprint: String
  /** The workload's own end-to-end figures (reported per workload). */
  def metrics(run: Run): Map[String, Double]
  /** Per-layer figures from the traced run. */
  def layers(run: Run): Map[String, Double]
}

object Workload {
  /** Parquet data files under a warehouse table's directory. */
  def dataFiles(wh: SparkWarehouse, table: String): Long = {
    val p = new org.apache.hadoop.fs.Path(wh.warehouseDir, table)
    val fs = p.getFileSystem(wh.spark.sparkContext.hadoopConfiguration)
    var n = 0L
    if (fs.exists(p)) {
      val it = fs.listFiles(p, true)
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** Feed a file's bytes to an input digest. */
  def digestFile(d: java.security.MessageDigest, path: String): Unit =
    d.update(Files.readAllBytes(new File(path).toPath))

  /** Hex SHA-256 of what the digest has seen so far; the digest stays usable. */
  def hex(d: java.security.MessageDigest): String =
    d.clone().asInstanceOf[java.security.MessageDigest].digest().map("%02x".format(_)).mkString
}

/** Benchmark entry point. Prints a human summary, then as its last line
  * one JSON object: `{"correct", "attempted", "failed", "metrics"}` with
  * the end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`). The full report, with raw samples, goes to `--report`.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --run-dir <fresh dir> --data <sf0.1 dir> --golden <file> --report <file>`
  * and optionally `--update-golden 1` and `--commit <id>`.
  */
object Main {
  val Workloads = Seq("ingest_api", "serve_reads", "analytics_gates")

  /** End-to-end metrics every workload reports: name → unit. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "ops_per_s" -> "1/s")

  /** Per-workload figures; gated per workload in the report, and carried
    * as per-layer metrics in the traced run.
    */
  val WorkloadFigures: Seq[(String, String)] = Seq(
    "ops_failed_share" -> "share", "ingest_records_per_s" -> "1/s", "load_p50_s" -> "s",
    "lookup_p50_s" -> "s", "lookup_p90_s" -> "s", "fetch_p50_s" -> "s", "sql_p50_s" -> "s",
    "gates_total_s" -> "s")

  val PerLayer: Seq[(String, String)] = WorkloadFigures ++ Seq(
    "schema.infer_s" -> "s", "schema.jobs_per_infer" -> "count",
    "ingest.canonicalize_s" -> "s", "ingest.chunk_s" -> "s", "ingest.chunks_per_load" -> "count",
    "ingest.json_bytes_per_record" -> "B",
    "warehouse.load_s" -> "s", "warehouse.jobs_per_load" -> "count",
    "warehouse.tasks_per_load" -> "count", "warehouse.files_written_per_load" -> "count",
    "warehouse.bytes_written_per_input_byte" -> "ratio",
    "warehouse.get_s" -> "s", "warehouse.lookup_exec_s" -> "s",
    "warehouse.files_read_per_lookup" -> "count", "warehouse.files_skipped_share" -> "share",
    "warehouse.rows_scanned_per_row_returned" -> "ratio", "warehouse.jobs_per_lookup" -> "count",
    "warehouse.tasks_per_lookup" -> "count", "warehouse.fetch_s" -> "s",
    "warehouse.sql_plan_s" -> "s", "warehouse.sql_exec_s" -> "s",
    "warehouse.manifest_cache_files" -> "count", "warehouse.stats_cache_bytes" -> "B") ++
    AnalyticsGates.Gates.flatMap { case (m, g) => Seq(s"$m.${g}_s" -> "s", s"$m.${g}_shuffle_bytes" -> "B") } ++
    Seq("spark.task_busy_share" -> "share", "spark.gc_s" -> "s", "spark.jobs" -> "count")

  def main(args: Array[String]): Unit = {
    val mainNs = System.nanoTime()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val mainMs = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Workloads.contains(workload) || workload == "train",
      s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val runDir = new File(opt("run-dir"))
    val cores = Runtime.getRuntime.availableProcessors

    val spark = graft.Tables.sessionBuilder(s"local[$cores]", cores)
      .config("spark.local.dir", new File(runDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(runDir, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - mainNs) / 1e9
    val whDir = new File(runDir, "warehouse")
    val isolation = checkIsolation(spark, whDir)
    val isolationS = (System.nanoTime() - mainNs) / 1e9 - sessionS
    def workloadOf(name: String, wh: SparkWarehouse): Workload = name match {
      case "ingest_api" => new IngestApi(spark, wh, seed)
      case "serve_reads" => new ServeReads(spark, wh, opt("data"), seed)
      case "analytics_gates" =>
        new AnalyticsGates(spark, opt("data"), opt.getOrElse("golden", ""), opt.get("update-golden").contains("1"))
    }
    if (workload == "train") {
      // class-loading run for the build's class-data-sharing archive: every
      // workload's set-up and one short loop, nothing checked or reported
      Workloads.foreach { name =>
        val w = workloadOf(name, new SparkWarehouse(spark, new File(runDir, s"train-$name").getPath))
        w.setup()
        w.loop(new Run(new Tracer(spark, false), 0))
      }
      spark.stop()
      return
    }
    val w = workloadOf(workload, new SparkWarehouse(spark, whDir.getPath))
    val tracer = new Tracer(spark, traced)
    val run = new Run(tracer, seconds)

    w.setup()
    run.start()
    val setupS = (mainMs - jvmStartMs) / 1e3 + (run.startedAtNs - mainNs) / 1e9
    w.loop(run)
    run.stop()
    tracer.finish()
    val mismatches = isolation ++ w.check() ++ run.errors.map("op failed: " + _)

    val e2e = Map("setup_s" -> setupS, "ops_per_s" -> run.opsPerSecond)
    val figures = w.metrics(run) + ("ops_failed_share" -> Stats.ratio(run.failed, run.attempted))
    val layers = if (traced) w.layers(run) ++ sparkLayers(run, cores) else Map.empty[String, Double]
    val reported = if (traced) PerLayer.map { case (n, u) => n -> (figures ++ layers).getOrElse(n, 0.0) -> u }
      else EndToEnd.map { case (n, u) => n -> e2e(n) -> u }

    val report = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "input_sha256" -> w.inputFingerprint,
      "commit" -> opt.getOrElse("commit", "unknown"),
      "nproc" -> cores, "heap_bytes" -> Runtime.getRuntime.maxMemory,
      "spark" -> spark.version, "java" -> System.getProperty("java.version"),
      "client" -> "one thread, closed loop",
      "window_s" -> run.elapsed, "host_steal_share" -> run.stealShare,
      "setup_phases_s" -> (Map("jvm_to_main" -> (mainMs - jvmStartMs) / 1e3, "session" -> sessionS,
        "isolation_check" -> isolationS) ++ w.setupPhases),
      "correct" -> mismatches.isEmpty, "mismatches" -> mismatches,
      "attempted" -> run.attempted, "failed" -> run.failed,
      "end_to_end" -> e2e, "workload_figures" -> figures, "per_layer" -> layers,
      "samples" -> run.samples.map { case (k, xs) =>
        k -> Map("n" -> xs.size, "p25" -> Stats.quantile(xs.toSeq, 0.25),
          "p50" -> Stats.median(xs.toSeq), "p75" -> Stats.quantile(xs.toSeq, 0.75),
          "p90" -> Stats.quantile(xs.toSeq, 0.9), "raw_s" -> xs)
      },
      "spans" -> (if (traced) tracer.summary else Nil))
    opt.get("report").foreach(p => Files.write(new File(p).toPath, Json(report).getBytes(UTF_8)))

    println(s"perfbench $workload seed=$seed trace=${if (traced) 1 else 0} nproc=$cores " +
      s"spark=${spark.version} input_sha256=${w.inputFingerprint.take(16)}")
    (EndToEnd.map { case (n, u) => (n, e2e(n), u) } ++
      WorkloadFigures.flatMap { case (n, u) => figures.get(n).map(v => (n, v, u)) })
      .foreach { case (n, v, u) => println(f"  $n%-24s $v%.6f $u") }
    mismatches.foreach(m => println(s"  MISMATCH $m"))
    spark.stop()
    println(Json(ListMap(
      "correct" -> mismatches.isEmpty, "attempted" -> run.attempted, "failed" -> run.failed,
      "metrics" -> ListMap(reported.map { case ((n, v), u) => n -> ListMap("value" -> v, "unit" -> u) }: _*))))
  }

  /** A fresh run must see no tables, no temp views, and no staging
    * directories left by an earlier run.
    */
  private def checkIsolation(spark: SparkSession, whDir: File): Seq[String] = {
    val leftovers = Option(whDir.listFiles()).toSeq.flatten.map(_.getName)
    val views = spark.catalog.listTables().collect().map(_.name).toSeq
    (if (leftovers.nonEmpty) Seq(s"warehouse not fresh: ${leftovers.mkString(", ")}") else Nil) ++
      (if (views.nonEmpty) Seq(s"catalog not empty: ${views.mkString(", ")}") else Nil) ++
      leftovers.filter(_.contains("__append_tmp_")).map(d => s"leftover staging directory $d")
  }

  private def sparkLayers(run: Run, cores: Int): Map[String, Double] = {
    val tr = run.tracer
    val ops = tr.spans.filter(_.name.startsWith("op."))
    val work = tr.work(ops ++ ops.flatMap(tr.descendants))
    Map(
      "spark.task_busy_share" -> work.taskRunMs / 1e3 / (run.elapsed * cores),
      "spark.gc_s" -> work.gcMs / 1e3,
      "spark.jobs" -> work.jobs.toDouble)
  }
}
