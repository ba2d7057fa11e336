package bpbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Benchmark entry point. Runs one workload in one JVM and prints, as the
  * last line of stdout, `{"correct", "attempted", "failed", "metrics"}`:
  * the end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. The line before it is a `{"context": ...}` object with the
  * contention probe, the failure ratio and the workload's own breakdown of
  * its timings.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> [--sf-dir <dir>] [--corrupt-one 1]`; `--sf-dir` holds the
  * tables `llm_operator_mix` reads. */
object Main {

  /** Blueprint workloads and the namespace each one generates. */
  val Shapes: Map[String, Shape] = Map(
    // listing, per-file metadata calls and per-call Spark jobs set the
    // time here, not bytes
    "blueprint_small_files" -> Shape(16, 16, 16, 1024, 16384),
    // copy bandwidth sets the time; listing is negligible
    "blueprint_large_files" -> Shape(4, 4, 4, (8 << 20) - (64 << 10),
      (8 << 20) + (64 << 10)))

  /** Writes the result line, the context line and the trace dumps. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Namespace generations per run; `setup_s` counts their median. */
  val SetupRounds = 3
  /** Folder lifecycles run untimed after the namespace is generated. */
  val WarmFolders = 1

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val work = Paths.get(opts("work")).toAbsolutePath
    if (!Shapes.contains(workload) && workload != Mix.Name) {
      System.err.println(s"unknown workload $workload")
      sys.exit(2)
    }
    Files.createDirectories(work)
    val spark = session(work, workload)
    try {
      val out =
        if (workload == Mix.Name)
          Mix.run(spark, Paths.get(opts("sf-dir")), work, seconds, trace)
        else blueprint(spark, workload, seed, seconds, trace, work,
          opts.get("corrupt-one").contains("1"))
      val probe = contentionProbe(spark)
      println(json.writeValueAsString(Map("context" -> ListMap(
        (out.context ++ Seq(
          "workload" -> workload, "seed" -> seed, "trace" -> trace,
          "master" -> spark.sparkContext.master,
          "contention_probe_s" -> probe,
          "failed_ratio" -> out.failed.toDouble / out.attempted)): _*))))
      println(json.writeValueAsString(ListMap(
        "correct" -> (out.failed == 0),
        "attempted" -> out.attempted,
        "failed" -> out.failed,
        "metrics" -> ListMap(out.metrics.map { case (k, (v, unit)) =>
          k -> ListMap("value" -> v, "unit" -> unit) }: _*))))
    } finally spark.stop()
  }

  /** A metric's name, value and unit. */
  type Metric = (String, (Double, String))

  /** What a workload hands back to be printed. */
  final case class Outcome(attempted: Int, failed: Int,
      metrics: Seq[Metric], context: Seq[(String, Any)])

  /** The calls a blueprint run made and what it measured from them. */
  final case class Measured(calls: Seq[Call], metrics: Seq[Metric],
      context: Seq[(String, Any)])

  /** The blueprint workloads get the session `graft.cli.BlueprintCli`
    * builds: the engine's extensions and Spark's defaults. The mix gets
    * `graft.Bench`'s settings, which its timings are comparable with. Both
    * run on `local[nproc]`, keep their files inside the run's work
    * directory, start no web UI, and bound the status store's history so
    * the heap after GC does not grow with the number of calls a run gets
    * through. */
  private def session(work: Path, workload: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"bpbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "50")
    val s = (if (workload == Mix.Name) b
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "4096")
      else b.withExtensions(new graft.GraftExtensions)).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The fixed CPU-bound probe `graft.Bench` times between passes: 64M
    * rows in 32 partitions through one hash aggregate. Context only: it
    * tells a run on a contended machine apart. It runs in the workload's
    * session, whose shuffle partitions differ, so its figures compare only
    * between runs of one workload. */
  private def contentionProbe(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 64000000L, 1L, 32)
        .selectExpr("id % 4096 AS k", "(id % 97) AS v")
        .groupBy("k")
        .agg(org.apache.spark.sql.functions.expr("sum(v*v)").as("s"))
        .selectExpr("sum(s)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    once() // warms the probe's own codegen
    once()
  }

  private def blueprint(spark: SparkSession, workload: String, seed: Long,
      seconds: Double, trace: Boolean, work: Path,
      corrupt: Boolean): Outcome = {
    val shape = Shapes(workload)
    val dir = work.resolve(s"ns-$workload")
    val all = mutable.ArrayBuffer.empty[Call]
    // Set-up: generate the namespace several times (the last one stays),
    // then warm the JVM, codegen and Spark on untimed folder lifecycles.
    // setup_s is the median generation time plus the warm-up time.
    var lc: Lifecycle = null
    val gens = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      lc = new Lifecycle(spark, dir, shape, seed)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    (0 until WarmFolders).foreach(i => all ++= lc.runFolder(i))
    val warmS = (System.nanoTime() - w0) / 1e9
    try {
      val result =
        if (trace) Layers.traced(spark, lc, seed, seconds, work, workload)
        else timed(lc, seconds, corrupt, Stats.median(gens) + warmS)
      all ++= result.calls
      val failed = all.count(_.errors.nonEmpty)
      all.flatMap(_.errors).foreach(e =>
        System.err.println(s"[bpbench] MISMATCH $e"))
      Outcome(all.size, failed, result.metrics, result.context ++ Seq(
        "generate_s" -> gens, "warm_s" -> warmS))
    } finally lc.cleanup()
  }

  /** Folder lifecycles, in turn over the folders, for `seconds` of wall
    * time. Only the blueprint calls are timed; output checks and the
    * heap sample after each lifecycle are not. */
  private def timed(lc: Lifecycle, seconds: Double, corrupt: Boolean,
      setupS: Double): Measured = {
    val calls = mutable.ArrayBuffer.empty[Call]
    var heapPeak = 0.0
    lc.corruptNext = corrupt
    val t0 = System.nanoTime()
    var i = WarmFolders
    val lifecycles = mutable.ArrayBuffer.empty[Double]
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      val cs = lc.runFolder(i)
      calls ++= cs
      lifecycles += cs.map(_.seconds).sum
      heapPeak = math.max(heapPeak, Counters.heapAfterGcMb)
      i += 1
    }
    val ok = calls.toSeq.filter(c => !c.seconds.isNaN)
    val (metrics, context) = endToEnd(setupS, lifecycles.toSeq,
      ok.map(c => c.action -> c.seconds), heapPeak)
    Measured(calls.toSeq, metrics, context ++ Seq(
      "lifecycle_s" -> lifecycles.toSeq) ++
      Lifecycle.breakdown(ok).map { case (k, (v, _)) => k -> v })
  }

  /** The end-to-end metrics every workload reports. A round is a folder
    * lifecycle or a pass of the operator mix; an operation is one
    * blueprint call or one query. Operations come in kinds (the four
    * actions, or the queries), and `op_geomean_s` is the geometric mean of
    * the kinds' median latencies, so no kind outweighs another by how
    * often it ran. */
  def endToEnd(setupS: Double, rounds: Seq[Double],
      ops: Seq[(String, Double)], heapPeakMb: Double)
      : (Seq[Metric], Seq[(String, Any)]) = {
    val medians = ops.groupBy(_._1).values.map(o => Stats.median(o.map(_._2)))
    (Seq(
      "setup_s" -> (setupS, "s"),
      "round_s" -> (Stats.median(rounds), "s"),
      "op_geomean_s" -> (math.exp(medians.map(math.log).sum / medians.size), "s"),
      "heap_peak_mb" -> (heapPeakMb, "MiB")),
      Seq("rounds" -> rounds.size, "ops" -> ops.size,
        "op_max_s" -> ops.map(_._2).max))
  }
}

/** The order of rounds in a traced run: traced and untraced rounds
  * alternate, starting and ending with a traced one, at least three, so
  * that a steady warm-up trend cancels out of the tracing overhead. */
object Alternating {
  def traced(round: Int): Boolean = round % 2 == 0
  def more(round: Int, startNs: Long, seconds: Double): Boolean =
    round < 3 || round % 2 == 0 || (System.nanoTime() - startNs) / 1e9 < seconds
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
