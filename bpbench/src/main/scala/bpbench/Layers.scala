package bpbench

import graft.catalog.FileCatalog
import graft.ops.RegexMatch
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** The traced run of a blueprint workload. Folder lifecycles alternate
  * between traced and untraced in [[Alternating]] order; the difference
  * of their medians is the tracing overhead. Each traced lifecycle is preceded by a direct
  * `FileCatalog.list` probe of the folder it is about to upload. Counts
  * and times are per traced folder lifecycle unless the name says
  * otherwise. */
object Layers {
  import Main.{Measured, Metric}

  def traced(spark: SparkSession, lc: Lifecycle, seed: Long,
      seconds: Double, work: Path, workload: String): Measured = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc, s"$workload-$seed")
    val calls = mutable.ArrayBuffer.empty[Call]
    val tracedCalls = mutable.ArrayBuffer.empty[Call]
    val plainCalls = mutable.ArrayBuffer.empty[Call]
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val probes = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    var fsRead, fsWritten, codegen = 0L
    val t0 = System.nanoTime()
    var i = Main.WarmFolders
    while (Alternating.more(i - Main.WarmFolders, t0, seconds)) {
      val on = Alternating.traced(i - Main.WarmFolders)
      if (on) {
        val f = lc.folders(i % lc.folders.size)
        val sp = tracer.allSpans.size
        val (n, m) = tracer.span("catalog.list") {
          val r = FileCatalog.list(spark, lc.srcDir.toUri.toString,
            prefix = f + "/")
            .agg(count(lit(1)), sum(when(
              RegexMatch(Namespace.DownloadRegex).predicate(col("name")), 1)
              .otherwise(0)))
            .head()
          (r.getLong(0), r.getLong(1))
        }
        probes += ((sp, n, m))
      }
      lc.tracer = if (on) Some(tracer) else None
      val (r0, w0) = Counters.fsBytes
      val c0 = Counters.codegenCompiles
      val cs = lc.runFolder(i)
      if (on) {
        val (r1, w1) = Counters.fsBytes
        fsRead += r1 - r0; fsWritten += w1 - w0
        codegen += Counters.codegenCompiles - c0
      }
      calls ++= cs
      (if (on) tracedCalls else plainCalls) ++= cs
      (if (on) traced else plain) += cs.map(_.seconds).sum
      i += 1
    }
    lc.tracer = None
    tracer.drain()
    tracer.stop()
    val storageMb = Counters.storageMb(sc)

    val spans = tracer.allSpans
    val stages = tracer.allStages
    val n = traced.size.toDouble
    val callSpans = spans.filter(_.name.startsWith("blueprints."))
    val inCalls = stages.filter(st => callSpans.exists(_.id == st.span))
    def spanName(st: StageRec) = spans(st.span).name
    def ms(sts: Seq[StageRec]) = sts.map(st => st.endMs - st.startMs).sum
    def jobsOf(sts: Seq[StageRec]) = sts.flatMap(_.jobs).distinct.size
    def per(x: Double) = x / n
    val probeSpans = probes.map(p => spans(p._1)).toSeq
    val probeStages = stages.filter(st => probeSpans.exists(_.id == st.span))
    val entries = probes.map(_._2).sum.toDouble
    val matched = probes.map(_._3).sum.toDouble
    val listS = probeSpans.map(_.ms).sum / 1000
    val rename = inCalls.filter(_.layer == "rename")
    val transfer = inCalls.filter(_.layer == "transfer")
    def transferMs(actions: String*) = ms(transfer.filter(st =>
      actions.exists(a => spanName(st) == s"blueprints.$a"))) / 1000
    val skew = transfer.filter(_.taskMs.size >= 2).map { st =>
      st.taskMs.max.toDouble / math.max(1.0, Stats.median(st.taskMs.map(_.toDouble)))
    }

    val perAction = Lifecycle.Actions.map { a =>
      val ss = callSpans.filter(_.name == s"blueprints.$a")
      s"blueprints.jobs_per_call.$a" ->
        (ss.map(s => tracer.jobsOf(s.id)).sum.toDouble / math.max(1, ss.size),
          "count")
    }
    // latencies and rates from the untraced lifecycles
    val plainBreakdown = Lifecycle.breakdown(plainCalls.toSeq
      .filter(!_.seconds.isNaN)).map { case (k, m) => s"blueprints.$k" -> m }
    val metrics: Seq[Metric] = perAction ++ plainBreakdown ++ Seq(
      "blueprints.self_s" -> (callSpans.map(tracer.selfMs).sum / 1000 /
        math.max(1, callSpans.size), "s"),
      "catalog.list_s" -> (per(listS), "s"),
      "catalog.entries" -> (per(entries), "count"),
      "catalog.matched" -> (per(matched), "count"),
      "catalog.match_ratio" -> (matched / math.max(1.0, entries), "ratio"),
      "catalog.ms_per_entry" -> (listS * 1000 / math.max(1.0, entries), "ms"),
      "catalog.tasks" -> (per(probeStages.map(_.tasks).sum), "count"),
      "catalog.listings_per_call" -> (inCalls.count(_.listsCatalog).toDouble /
        math.max(1, callSpans.size), "count"),
      "rename.plan_s" -> (per(ms(rename) / 1000), "s"),
      "rename.jobs" -> (per(jobsOf(rename)), "count"),
      "rename.shuffle_mb" -> (per(rename.map(_.shuffleWriteBytes).sum / Counters.MiB), "MiB"),
      "transfer.copy_s" -> (per(transferMs("upload", "download")), "s"),
      "transfer.move_s" -> (per(transferMs("move")), "s"),
      "transfer.delete_s" -> (per(transferMs("delete")), "s"),
      "transfer.mb" -> (per(tracedCalls.filter(c => c.action == "upload" ||
        c.action == "download").map(_.bytes).sum / Counters.MiB), "MiB"),
      "transfer.files" -> (per(tracedCalls.map(_.files).sum.toDouble), "count"),
      "transfer.fs_bytes_read_mb" -> (per(fsRead / Counters.MiB), "MiB"),
      "transfer.fs_bytes_written_mb" -> (per(fsWritten / Counters.MiB), "MiB"),
      "transfer.failed" -> (transfer.map(_.failedTasks).sum.toDouble, "count"),
      "transfer.tasks" -> (per(transfer.map(_.tasks).sum), "count"),
      "transfer.task_skew" -> (if (skew.isEmpty) 1.0 else Stats.median(skew), "ratio"),
      "spark.jobs" -> (per(callSpans.map(s => tracer.jobsOf(s.id)).sum), "count"),
      "spark.stages" -> (per(inCalls.size), "count"),
      "spark.tasks" -> (per(inCalls.map(_.tasks).sum), "count"),
      "spark.shuffle_write_mb" -> (per(inCalls.map(_.shuffleWriteBytes).sum / Counters.MiB), "MiB"),
      "spark.spill_mb" -> (per(inCalls.map(_.spillBytes).sum / Counters.MiB), "MiB"),
      "spark.task_gc_ms" -> (per(inCalls.map(_.gcMs).sum.toDouble), "ms"),
      "spark.codegen_compiles" -> (per(codegen.toDouble), "count"),
      "spark.storage_mb_after" -> (storageMb, "MiB"),
      "trace.overhead_s" -> (Stats.median(traced.toSeq) - Stats.median(plain.toSeq), "s"))

    val dump = work.resolve("traces").resolve(s"$workload-seed$seed.json")
    Files.createDirectories(dump.getParent)
    Files.write(dump, Main.json.writeValueAsBytes(tracer.dump))
    Measured(calls.toSeq, metrics, Seq("traced_lifecycles" -> traced.size,
      "untraced_lifecycles" -> plain.size, "spans_file" -> dump.toString))
  }
}
