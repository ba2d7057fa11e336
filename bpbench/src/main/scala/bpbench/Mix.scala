package bpbench

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** A fixed list of `SparkEntry.queries` over a directory of sf tables,
  * grouped by operator family, each timed through a `noop` write as
  * `graft.Bench` does. The list takes one query per operator family, the
  * one the ROADMAP's open items name where there is one, and a plain
  * aggregate as the control. One untimed pass warms the JIT and codegen
  * caches and writes every query's result as parquet, for the DuckDB
  * comparison with its `oracleSql` (`setup_s`); the timed passes follow for
  * `seconds` of wall time, at least one. */
object Mix {
  val Name = "llm_operator_mix"

  val Families: Seq[(String, Seq[String])] = Seq(
    "dedup" -> Seq("dedup_band_store"),
    "graph" -> Seq("graph_triangles"),
    "tokenize" -> Seq("pipeline_bpe_tokenize"),
    "text" -> Seq("pipeline_html_curate"),
    "ann" -> Seq("ann_ivfpq_multi"),
    "controls" -> Seq("q1_pricing_agg"))

  /** One query execution: time inside the query function, time of the
    * write (`noop`, or parquet in the set-up pass), and the counters
    * sampled around it. */
  final case class Sample(eagerS: Double, execS: Double, codegen: Long,
      storageMb: Double)

  def run(spark: SparkSession, sf: Path, work: Path, seconds: Double,
      trace: Boolean): Main.Outcome = {
    val queries = SparkEntry.queries
    val names = Families.flatMap(_._2)
    var attempted = 0
    val errors = mutable.ArrayBuffer.empty[String]

    def once(name: String, tracer: Option[Tracer],
        out: Option[Path]): Option[Sample] = {
      attempted += 1
      def body(): Sample = {
        val c0 = Counters.codegenCompiles
        val t0 = System.nanoTime()
        val df = tracer.fold(queries(name)(spark, sf.toString))(
          _.span(s"query.$name.eager")(queries(name)(spark, sf.toString)))
        val t1 = System.nanoTime()
        def write(): Unit = out.fold(
          df.write.format("noop").mode("overwrite").save())(
          d => df.write.parquet(d.resolve(name).toString))
        tracer.fold(write())(_.span(s"query.$name.exec")(write()))
        val t2 = System.nanoTime()
        val s = Sample((t1 - t0) / 1e9, (t2 - t1) / 1e9,
          Counters.codegenCompiles - c0, Counters.storageMb(spark.sparkContext))
        // the harness owns whatever a query left cached, as graft.Bench does
        spark.catalog.clearCache()
        s
      }
      try Some(tracer.fold(body())(_.span(s"query.$name")(body())))
      catch { case e: Exception =>
        errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        spark.catalog.clearCache()
        None
      }
    }
    def pass(tracer: Option[Tracer], out: Option[Path] = None)
        : (Double, Map[String, Sample]) = {
      val t0 = System.nanoTime()
      val m = names.flatMap(n => once(n, tracer, out).map(n -> _)).toMap
      ((System.nanoTime() - t0) / 1e9, m)
    }

    // Set-up: one untimed pass warms the JIT and codegen caches. It writes
    // each result as parquet instead of to `noop`, for the comparison with
    // the query's oracleSql once the run is over.
    val out = work.resolve("mix_out")
    Namespace.deleteTree(out)
    Files.createDirectories(out)
    val (setupS, _) = pass(None, Some(out))
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.write(out.resolve("oracle_sql.json"),
      Main.json.writeValueAsBytes(oracles))

    val (metrics, context) =
      if (trace) traced(spark, names, work, seconds, t => pass(t))
      else {
        val passes = mutable.ArrayBuffer.empty[(Double, Map[String, Sample])]
        var heapPeak = 0.0
        val t0 = System.nanoTime()
        while (passes.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
          passes += pass(None)
          heapPeak = math.max(heapPeak, Counters.heapAfterGcMb)
        }
        val ops = passes.toSeq.flatMap(_._2.toSeq.map { case (n, s) =>
          n -> (s.eagerS + s.execS) })
        def queryS(n: String) = Stats.median(ops.filter(_._1 == n).map(_._2))
        val fam = Families.filter(_._1 != "controls").map { case (f, qs) =>
          s"${f}_s" -> qs.map(queryS).filterNot(_.isNaN).sum }
        val (m, c) = Main.endToEnd(setupS, passes.toSeq.map(_._1), ops, heapPeak)
        (m, c ++ fam)
      }

    errors.foreach(e => System.err.println(s"[bpbench] FAILED $e"))
    Main.Outcome(attempted, errors.size, metrics,
      context :+ ("errors" -> errors.toSeq))
  }

  /** Traced and untraced passes in [[Alternating]] order for `seconds`; the
    * per-query and per-family layer metrics are per traced pass. */
  private def traced(spark: SparkSession, names: Seq[String], work: Path,
      seconds: Double, pass: Option[Tracer] => (Double, Map[String, Sample]))
      : (Seq[Main.Metric], Seq[(String, Any)]) = {
    val tracer = new Tracer(spark.sparkContext, Name)
    val plain = mutable.ArrayBuffer.empty[Double]
    val tracedS = mutable.ArrayBuffer.empty[Double]
    val samples = mutable.ArrayBuffer.empty[Map[String, Sample]]
    val t0 = System.nanoTime()
    var j = 0
    while (Alternating.more(j, t0, seconds)) {
      if (Alternating.traced(j)) {
        val (s, m) = pass(Some(tracer))
        tracedS += s
        samples += m
      } else plain += pass(None)._1
      j += 1
    }
    tracer.drain()
    tracer.stop()
    val n = tracedS.size.toDouble
    val spans = tracer.allSpans
    val stages = tracer.allStages
    // every span under query.<name>, the query span itself included
    def under(name: String): Set[Int] = {
      val root = spans.filter(_.name == s"query.$name").map(_.id).toSet
      root ++ spans.filter(s => root.contains(s.parent)).map(_.id)
    }
    val perQuery = names.flatMap { q =>
      val ids = under(q)
      val s = samples.toSeq.flatMap(_.get(q))
      Seq(
        s"query.$q.eager_s" -> (Stats.median(s.map(_.eagerS)), "s"),
        s"query.$q.exec_s" -> (Stats.median(s.map(_.execS)), "s"),
        s"query.$q.jobs" -> (ids.toSeq.map(tracer.jobsOf).sum / n, "count"))
    }
    val perFamily = Families.filter(_._1 != "controls").flatMap { case (f, qs) =>
      val ids = qs.flatMap(under).toSet
      val sts = stages.filter(st => ids.contains(st.span))
      val ss = samples.toSeq.flatMap(m => qs.flatMap(m.get))
      Seq(
        s"ext.$f.shuffle_write_mb" -> (sts.map(_.shuffleWriteBytes).sum / Counters.MiB / n, "MiB"),
        s"ext.$f.spill_mb" -> (sts.map(_.spillBytes).sum / Counters.MiB / n, "MiB"),
        s"ext.$f.codegen_compiles" -> (ss.map(_.codegen).sum / n, "count"),
        s"ext.$f.storage_mb_after" -> (ss.map(_.storageMb).sum / n, "MiB"))
    }
    val all = stages
    val engine = Seq(
      "spark.jobs" -> (spans.map(s => tracer.jobsOf(s.id)).sum / n, "count"),
      "spark.stages" -> (all.size / n, "count"),
      "spark.tasks" -> (all.map(_.tasks).sum / n, "count"),
      "spark.shuffle_write_mb" -> (all.map(_.shuffleWriteBytes).sum / Counters.MiB / n, "MiB"),
      "spark.spill_mb" -> (all.map(_.spillBytes).sum / Counters.MiB / n, "MiB"),
      "spark.task_gc_ms" -> (all.map(_.gcMs).sum / n, "ms"),
      "spark.codegen_compiles" -> (samples.flatMap(_.values).map(_.codegen).sum / n, "count"),
      "spark.storage_mb_after" -> (Counters.storageMb(spark.sparkContext), "MiB"),
      "trace.overhead_s" -> (Stats.median(tracedS.toSeq) - Stats.median(plain.toSeq), "s"))
    val dump = work.resolve("traces").resolve(s"$Name.json")
    Files.createDirectories(dump.getParent)
    Files.write(dump, Main.json.writeValueAsBytes(tracer.dump))
    (perQuery ++ perFamily ++ engine, Seq("untraced_pass_s" -> plain.toSeq,
      "traced_pass_s" -> tracedS.toSeq, "spans_file" -> dump.toString))
  }
}
