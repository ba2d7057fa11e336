package bpbench

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A span around one call into a layer of the engine. Times are epoch
  * milliseconds, so they share a clock with Spark's stage times. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    var endMs: Double = Double.NaN) {
  def ms: Double = endMs - startMs
}

/** What one completed stage did, attributed to the span that was open
  * when its job was submitted. */
final case class StageRec(stageId: Int, span: Int, jobs: Set[Int],
    name: String, layer: String, listsCatalog: Boolean, startMs: Double,
    endMs: Double, tasks: Int, failedTasks: Int, taskMs: Seq[Long],
    gcMs: Long, shuffleWriteBytes: Long, spillBytes: Long)

/** Spans opened by the benchmark around each call it makes into the
  * engine, plus a SparkListener that attributes jobs, stages and task
  * metrics to the open span through the Spark job group.
  *
  * Inside a blueprint call the stages are split by the source file of
  * their call sites: `Transfer.scala` -> transfer, `ZipIndex.scala` or
  * `Rename.scala` -> rename, `FileCatalog.scala` -> catalog. Everything is
  * kept in memory; [[dump]] is written out at the end of the run. */
final class Tracer(sc: SparkContext, val runId: String) extends SparkListener {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val groupPrefix = s"bpbench-$runId-"

  // listener state, written on the listener-bus thread
  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageJobs = mutable.HashMap.empty[Int, Set[Int]]
  private val taskAgg = mutable.HashMap.empty[Int, TaskAgg]
  private val stages = mutable.ArrayBuffer.empty[StageRec]

  private final class TaskAgg {
    var tasks = 0; var failed = 0; var gcMs = 0L
    var shuffleWrite = 0L; var spill = 0L
    val durations = mutable.ArrayBuffer.empty[Long]
  }

  sc.addSparkListener(this)

  /** Runs `body` inside a new span, child of the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val s = synchronized {
      val sp = Span(spans.size, open.headOption.map(_.id).getOrElse(-1),
        name, nowMs)
      spans += sp
      open = sp :: open
      sp
    }
    sc.setJobGroup(groupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally synchronized {
      s.endMs = nowMs
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(groupPrefix + p.id, p.name, false)
        case None => sc.clearJobGroup()
      }
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    group.filter(_.startsWith(groupPrefix)).foreach { g =>
      val id = g.substring(groupPrefix.length).toInt
      jobSpan(e.jobId) = id
      e.stageIds.foreach { st =>
        stageSpan(st) = id
        stageJobs(st) = stageJobs.getOrElse(st, Set.empty) + e.jobId
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageSpan.contains(e.stageId)) {
      val a = taskAgg.getOrElseUpdate(e.stageId, new TaskAgg)
      a.tasks += 1
      if (!e.taskInfo.successful) a.failed += 1
      a.durations += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val info = e.stageInfo
      stageSpan.get(info.stageId).foreach { sp =>
        val sites = info.name +: info.rddInfos.map(_.callSite)
        def at(file: String) = sites.exists(_.contains(file))
        val layer =
          if (info.name.contains("Transfer.scala")) "transfer"
          else if (at("ZipIndex.scala") || at("Rename.scala")) "rename"
          else if (at("FileCatalog.scala")) "catalog"
          else "other"
        val a = taskAgg.remove(info.stageId).getOrElse(new TaskAgg)
        stages += StageRec(info.stageId, sp, stageJobs.getOrElse(
            info.stageId, Set.empty), info.name, layer,
          at("FileCatalog.scala"),
          info.submissionTime.getOrElse(0L).toDouble,
          info.completionTime.getOrElse(0L).toDouble,
          a.tasks, a.failed, a.durations.toSeq, a.gcMs, a.shuffleWrite,
          a.spill)
      }
    }

  /** Waits until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.bpbench.Bus.drain(sc)

  def allSpans: Seq[Span] = synchronized(spans.toSeq)
  def allStages: Seq[StageRec] = synchronized(stages.toSeq)
  def jobsOf(span: Int): Int = synchronized(jobSpan.count(_._2 == span))

  /** Span duration minus the part of it covered by child spans and by
    * the stages attributed to it. */
  def selfMs(s: Span): Double = {
    val children = allSpans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)) ++
      allStages.filter(_.span == s.id).map(st => (st.startMs, st.endMs))
    val clipped = children.map { case (a, b) =>
      (math.max(a, s.startMs), math.min(b, s.endMs)) }.filter(c => c._2 > c._1)
      .sortBy(_._1)
    var covered = 0.0; var reach = s.startMs
    clipped.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    s.ms - covered
  }

  /** Spans and per-stage records, for the JSON dump. Stages appear as
    * spans named `stage:<layer>` under the span that submitted them. */
  def dump: Map[String, Any] = {
    val ss = allSpans.map { s =>
      ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "run" -> runId, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> selfMs(s))
    }
    val st = allStages.map { r =>
      ListMap("stage" -> r.stageId, "parent" -> r.span,
        "name" -> s"stage:${r.layer}", "call_site" -> r.name,
        "run" -> runId, "start_ms" -> r.startMs, "end_ms" -> r.endMs,
        "jobs" -> r.jobs.toSeq.sorted, "tasks" -> r.tasks,
        "failed_tasks" -> r.failedTasks, "gc_ms" -> r.gcMs,
        "shuffle_write_bytes" -> r.shuffleWriteBytes,
        "spill_bytes" -> r.spillBytes)
    }
    ListMap("run" -> runId, "spans" -> ss, "stages" -> st)
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

/** Process-wide counters sampled at span boundaries. */
object Counters {
  def codegenCompiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Bytes read and written through Hadoop's `file` scheme. */
  @annotation.nowarn("cat=deprecation")
  def fsBytes: (Long, Long) = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    (st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** Heap in use after a full collection, from the heap pools'
    * collection-usage figures. */
  def heapAfterGcMb: Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / MiB
  }

  /** Persisted blocks still held by the block manager. */
  def storageMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / MiB

  val MiB: Double = 1024.0 * 1024.0
}
