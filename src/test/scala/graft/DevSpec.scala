package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{lit, raise_error}

import java.io.ByteArrayOutputStream

/** The dev CLI's shared pieces: the job profile's counts, failure
  * reporting, argument checks and the plan mode. */
class DevSpec extends SparkSpec {

  private def stdout(body: => Unit): String = {
    val out = new ByteArrayOutputStream
    Console.withOut(out)(body)
    out.toString("UTF-8")
  }

  test("the job profile counts one job, its two stages, six tasks and " +
      "the shuffle of a fixed RDD plan") {
    val sc = spark.sparkContext
    val (groups, jobs) = JobProfile.record(sc) {
      sc.parallelize(1 to 1000, 4).map(x => (x % 2, x))
        .reduceByKey(_ + _, 2).count()
    }
    assert(groups == 2)
    assert(jobs.size == 1, jobs)
    val j = jobs.head
    assert(j.stages == 2 && j.tasks == 6, j)
    assert(j.shuffleRead > 0 && j.shuffleWrite > 0, j)
    assert(j.site.startsWith("count at DevSpec.scala"), j)
  }

  test("a query that throws is reported as failed and gets no time") {
    var results: Seq[(String, scala.util.Try[Seq[Dev.Pass]])] = Nil
    val text = stdout {
      results = Dev.profile(spark, sfDir, reps = 1, Seq(
        "boom" -> ((s: SparkSession, _: String) =>
          s.range(1).select(raise_error(lit("boom")))),
        "fine" -> ((s: SparkSession, _: String) => s.range(10).toDF())))
    }
    val byName = results.toMap
    assert(byName("boom").isFailure)
    assert(byName("fine").get.size == 1)
    val boomLines = text.linesIterator.filter(_.contains("boom ")).toSeq
    assert(boomLines.nonEmpty && boomLines.forall(_.contains("failed")), text)
    assert(!boomLines.exists(_.matches(""".*\d+\.\d\d s.*""")), text)
    assert(text.linesIterator.exists(l =>
      l.contains("fine") && l.matches(""".*\d+\.\d\d s.*""")), text)
  }

  test("an unknown mode or query name is a usage error naming the valid " +
      "ones") {
    val mode = intercept[Dev.UsageError](Dev.parse(Seq("bench")))
    Seq("profile", "plan", "probe bpe", "probe tok", "probe sa", "probe ppj")
      .foreach(m => assert(mode.getMessage.contains(m), mode.getMessage))
    for (args <- Seq(Seq("profile", "--reps", "2", "no_such_query"),
        Seq("plan", "-", "q1_pricing_agg", "no_such_query"))) {
      val q = intercept[Dev.UsageError](Dev.parse(args))
      assert(q.getMessage.contains("no_such_query"), q.getMessage)
      assert(q.getMessage.contains("q1_pricing_agg"), q.getMessage)
    }
    intercept[Dev.UsageError](Dev.parse(Seq("profile", "--reps", "0")))
  }

  test("plan - prints the formatted plan") {
    val text = stdout {
      Dev.parse(Seq("plan", "-", "q1_pricing_agg"))(spark, sfDir)
    }
    assert(text.contains("q1_pricing_agg"), text)
    assert(text.contains("== Physical Plan =="), text)
    assert(text.linesIterator.size > 5, text)
  }
}
