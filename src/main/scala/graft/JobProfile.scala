package graft

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** What each Spark job a block of code submitted ran. */
object JobProfile {

  /** @param site   where the job was submitted: the call site of its SQL
    *               execution, else of its result stage, else the
    *               description Spark gives a job with no partitions. A
    *               call site is `<action> at <file>:<line>` and the two
    *               frames that called it (`<- <file>:<line>`), which tell
    *               apart the calls of one helper.
    * @param wallMs scheduler time from job start to job end
    * Stages, tasks and shuffle bytes count only the stages the job ran:
    * a stage another job already computed is skipped. */
  final case class Job(id: Int, site: String, wallMs: Long,
      stages: Int, tasks: Int, shuffleRead: Long, shuffleWrite: Long)

  /** `body`'s result and the jobs it submitted, in submission order. The
    * listener bus is drained before the listener is attached and before
    * it is removed, so every event of exactly those jobs is counted. */
  def record[A](sc: SparkContext)(body: => A): (A, Seq[Job]) = {
    val recorder = new Recorder
    ListenerBusDrain(sc)
    sc.addSparkListener(recorder)
    val result =
      try { val r = body; ListenerBusDrain(sc); r }
      finally sc.removeSparkListener(recorder)
    (result, recorder.jobs)
  }

  private final class Recorder extends SparkListener {
    private val started = mutable.LinkedHashMap.empty[Int, Job]
    private val startTime = mutable.Map.empty[Int, Long]
    // a stage is credited to the latest job that submitted it
    private val stageJob = mutable.Map.empty[Int, Int]
    private val executionSite = mutable.Map.empty[String, String]

    def jobs: Seq[Job] = synchronized(started.values.toSeq)

    private def update(jobId: Int)(f: Job => Job): Unit =
      started.get(jobId).foreach(j => started(jobId) = f(j))

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => synchronized {
        executionSite(x.executionId.toString) = site(x.description, x.details)
      }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def property(key: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(key)))
      val where = property("spark.sql.execution.id").flatMap(executionSite.get)
        .orElse(e.stageInfos.maxByOption(_.stageId)
          .map(st => site(st.name, st.details)))
        .orElse(property("spark.job.description")).getOrElse("")
      started(e.jobId) = Job(e.jobId, where, 0, 0, 0, 0, 0)
      startTime(e.jobId) = e.time
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      update(e.jobId)(_.copy(wallMs = e.time - startTime(e.jobId)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val st = e.stageInfo
        val m = Option(st.taskMetrics)
        stageJob.get(st.stageId).foreach(update(_) { j =>
          j.copy(stages = j.stages + 1, tasks = j.tasks + st.numTasks,
            shuffleRead = j.shuffleRead +
              m.fold(0L)(_.shuffleReadMetrics.totalBytesRead),
            shuffleWrite = j.shuffleWrite +
              m.fold(0L)(_.shuffleWriteMetrics.bytesWritten))
        })
      }
  }

  /** A call site's short form and the two frames below its user frame in
    * the long form, whose lines are the last Spark frame, the user frame,
    * then its callers. */
  private def site(short: String, long: String): String =
    (short +: Option(long).toSeq.flatMap(_.linesIterator.slice(2, 4))
      .map(_.replaceAll(".*\\((.*)\\)$", "$1")))
      .mkString(" <- ")
}
