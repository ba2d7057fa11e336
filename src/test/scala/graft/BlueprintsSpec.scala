package graft

import graft.ops.{BlueprintError, ExactMatch, RegexMatch, Transfer}

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** End-to-end lifecycle tests of the four blueprints against `file://`
  * containers — the switch-over surface for a reference user
  * (SURVEY.md §3 lifecycles, including exit-code behavior).
  */
class BlueprintsSpec extends SparkSpec {

  private def write(root: Path, rel: String): Unit = {
    val p = root.resolve(rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, s"data:$rel")
  }

  private def mkSrc(): Path = {
    val root = specTempDir("bp-src")
    Seq("in/a.csv", "in/b.csv", "in/deep/c.log", "other/d.csv")
      .foreach(write(root, _))
    root
  }

  private def ls(root: Path): Set[String] =
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString).toSet

  test("upload: regex multi-match with explicit dest name enumerates 1..n") {
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    val r = Blueprints.upload(spark, src.toUri.toString, "in",
      RegexMatch("\\.csv$"), dst.toUri.toString,
      destinationFolderName = "up", destinationFileName = Some("f.csv"))
    assert(r.matched == 2)
    assert(ls(dst) == Set("up/f_1.csv", "up/f_2.csv"))
  }

  test("upload: zero matches is a no-op, not an error (ref behavior)") {
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    val r = Blueprints.upload(spark, src.toUri.toString, "in",
      RegexMatch("zzz"), dst.toUri.toString)
    assert(r.matched == 0 && ls(dst).isEmpty)
  }

  test("download: exact match addresses the file without listing") {
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    val r = Blueprints.download(spark, src.toUri.toString, "in",
      ExactMatch("a.csv"), dst.toUri.toString)
    assert(r.matched == 1)
    assert(ls(dst) == Set("a.csv"))
    assert(Files.readString(dst.resolve("a.csv")) == "data:in/a.csv")
  }

  test("exact match names a file, never a directory") {
    val c = mkSrc()
    val e = intercept[BlueprintError.NoMatchesFound] {
      Blueprints.delete(spark, c.toUri.toString, "in", ExactMatch("deep"))
    }
    assert(e.exitCode == 200)
    val dst = specTempDir("bp-dst")
    val r = Blueprints.upload(spark, c.toUri.toString, "in",
      ExactMatch("deep"), dst.toUri.toString)
    assert(r.matched == 0 && ls(dst).isEmpty)
    assert(ls(c).contains("in/deep/c.log"))
  }

  test("move: single match not numbered; source removed") {
    val c = mkSrc()
    Blueprints.move(spark, c.toUri.toString, "in", RegexMatch("a\\.csv"),
      destinationFolderName = "archive", destinationFileName = Some("kept.csv"))
    val now = ls(c)
    assert(now.contains("archive/kept.csv"))
    assert(!now.contains("in/a.csv"))
  }

  test("move: multi-match numbered; zero matches raises 200") {
    val c = mkSrc()
    Blueprints.move(spark, c.toUri.toString, "in", RegexMatch("\\.csv$"),
      destinationFolderName = "arch", destinationFileName = Some("m.csv"))
    val now = ls(c)
    assert(now.contains("arch/m_1.csv") && now.contains("arch/m_2.csv"))
    val e = intercept[BlueprintError.NoMatchesFound] {
      Blueprints.move(spark, c.toUri.toString, "in", RegexMatch("nope$"))
    }
    assert(e.exitCode == 200)
  }

  test("delete: regex match deletes; zero matches raises 200") {
    val c = mkSrc()
    val r = Blueprints.delete(spark, c.toUri.toString, "in",
      RegexMatch("\\.csv$"))
    assert(r.matched == 2)
    assert(!ls(c).exists(p => p.startsWith("in/") && p.endsWith(".csv")))
    intercept[BlueprintError.NoMatchesFound] {
      Blueprints.delete(spark, c.toUri.toString, "in", RegexMatch("\\.csv$"))
    }
  }

  test("manifest-only mode (execute=false) plans without side effects") {
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    val r = Blueprints.upload(spark, src.toUri.toString, "in",
      RegexMatch("\\.csv$"), dst.toUri.toString, execute = false)
    assert(r.matched == 2 && ls(dst).isEmpty)
    assert(r.manifest.columns.toSeq == Seq("src_path", "dest_path"))
  }

  /** Call sites of the jobs `body` submits (see [[JobProfile.Job]]). */
  private def jobsOf(body: => Unit): Seq[String] =
    JobProfile.record(spark.sparkContext)(body)._2.map(_.site)

  test("delete: the manifest acts on the snapshot it counted") {
    val c = mkSrc()
    val r = Blueprints.delete(spark, c.toUri.toString, "in",
      RegexMatch("\\.csv$"), execute = false)
    // below the first level, which is listed lazily on executors
    write(c, "in/deep/z.csv")
    val before = ls(c)
    Transfer.deleteFiles(r.manifest)
    assert(before.size - ls(c).size == r.matched)
    assert(ls(c) == before -- Set("in/a.csv", "in/b.csv"))
  }

  test("move: numbering follows the planned count, not a later listing") {
    val c = mkSrc()
    val r = Blueprints.move(spark, c.toUri.toString, "in",
      RegexMatch("a\\.csv"), destinationFolderName = "archive",
      destinationFileName = Some("kept.csv"), execute = false)
    assert(r.matched == 1)
    write(c, "in/deep/ba.csv")
    Transfer.moveFiles(r.manifest)
    val now = ls(c)
    assert(now.contains("archive/kept.csv") && now.contains("in/deep/ba.csv"))
    assert(!now.exists(_.startsWith("archive/kept_")))
  }

  test("upload: more matches than task slots are numbered 1..n in path " +
      "order across min(n, defaultParallelism) partitions") {
    val src = specTempDir("bp-src")
    val rels = (1 to 11).map(k => f"many/d${k % 3}/f$k%02d.csv")
    rels.foreach(write(src, _))
    val dst = specTempDir("bp-dst")
    val r = Blueprints.upload(spark, src.toUri.toString, "many",
      RegexMatch("\\.csv$"), dst.toUri.toString,
      destinationFolderName = "up", destinationFileName = Some("n.csv"))
    assert(r.matched == 11)
    val slots = spark.sparkContext.defaultParallelism
    assert(r.manifest.rdd.getNumPartitions == math.min(11, slots))
    assert(ls(dst) == (1 to 11).map(k => s"up/n_$k.csv").toSet)
    rels.sorted.zipWithIndex.foreach { case (rel, i) =>
      assert(Files.readString(dst.resolve(s"up/n_${i + 1}.csv")) ==
        s"data:$rel")
    }
  }

  test("upload: zero matches lists once and submits no transfer job") {
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    var r: Blueprints.Report = null
    val jobs = jobsOf {
      r = Blueprints.upload(spark, src.toUri.toString, "in",
        RegexMatch("zzz"), dst.toUri.toString)
    }
    assert(r.matched == 0 && r.manifest.isEmpty)
    assert(r.manifest.columns.toSeq == Seq("src_path", "dest_path"))
    assert(!jobs.exists(_.contains("Transfer.scala")), jobs)
    assert(jobs.size == 1, jobs)
  }

  test("upload without a destination name lists once and copies once") {
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    var r: Blueprints.Report = null
    // the basename is kept, so no match is ranked
    val jobs = jobsOf {
      r = Blueprints.upload(spark, src.toUri.toString, "in",
        RegexMatch("\\.csv$"), dst.toUri.toString,
        destinationFolderName = "up")
    }
    assert(r.matched == 2 && ls(dst) == Set("up/a.csv", "up/b.csv"))
    assert(jobs.size == 2, jobs)
  }

  test("a numbered call releases its catalog snapshot; an unnumbered " +
      "call keeps it for its manifest") {
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    val src = mkSrc()
    val dst = specTempDir("bp-dst")
    val before = persisted
    val up = Blueprints.upload(spark, src.toUri.toString, "in",
      RegexMatch("\\.csv$"), dst.toUri.toString,
      destinationFileName = Some("f.csv"), execute = false)
    // only ZipIndex's enumeration checkpoint is left
    assert((persisted -- before).size == 1)
    assert(up.manifest.count() == 2)
    val mid = persisted
    val del = Blueprints.delete(spark, src.toUri.toString, "in",
      RegexMatch("\\.csv$"), execute = false)
    assert((persisted -- mid).size == 1)
    assert(del.manifest.count() == 2)
  }
}
