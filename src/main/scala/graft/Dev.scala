package graft

import graft.ext.{Bpe, Dedup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.util.{Failure, Success, Try}

/** The dev entry point, apart from the `Bench` and `Verify` mains:
  * profiles, plans and scale probes under one [[session]], on the
  * fixtures in `$SPARK_GRAFT_SF_DIR`. [[Usage]] lists the modes. */
object Dev {

  final class UsageError(msg: String) extends IllegalArgumentException(msg)

  val Usage: String =
    """usage: graft.Dev <mode>, one of (no query names means all queries)
      |  profile [--reps n] [query ...]  1 cold + n warm passes (n = 3)
      |  plan <outDir|-> [query ...]     formatted plans, to files or stdout
      |  probe bpe [k]                   BPE trainLocal, encode time in k
      |  probe tok [depth ...]           WordPiece and unigram-LM depths
      |  probe sa [copies]               suffix array, salted src0 copies
      |  probe ppj                       prefix vs plain Jaccard""".stripMargin

  private def usage(msg: String): Nothing =
    throw new UsageError(s"$msg\n$Usage")

  /** The session the dev modes and [[ScaleCurve]] time under: Bench's
    * shape (local[$SPARK_GRAFT_CPUS] with as many shuffle partitions,
    * UTC, the codegen cache sized past the suite, a per-JVM warehouse),
    * warmed by one small job. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.warehouse.dir", Warehouse.dir)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark
  }

  /** `f`'s result and its wall seconds. */
  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** `names` checked against [[SparkEntry.queries]]; none means all. */
  def queryNames(names: Seq[String]): Seq[String] = {
    val all = SparkEntry.queries.keys.toSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) usage(s"unknown queries: ${unknown.mkString(", ")}" +
      s"\nvalid queries: ${all.mkString(", ")}")
    if (names.isEmpty) all else names
  }

  private def int(s: String): Int =
    s.toIntOption.filter(_ >= 1).getOrElse(usage(s"not a positive number: $s"))

  private def profileCmd(reps: Int, names: Seq[String])
      : (SparkSession, String) => Unit =
    (s, dir) => profile(s, dir, reps, names.map(n => n -> SparkEntry.queries(n)))

  /** Checks `args` and returns the command, to run on a session and a
    * fixture directory. */
  def parse(args: Seq[String]): (SparkSession, String) => Unit = args match {
    case Seq("profile", "--reps", n, names @ _*) =>
      profileCmd(int(n), queryNames(names))
    case Seq("profile", names @ _*) => profileCmd(3, queryNames(names))
    case Seq("plan", out, names @ _*) =>
      val ns = queryNames(names)
      (s, dir) => plan(s, dir, out, ns)
    case Seq("probe", "bpe", rest @ _*) if rest.size <= 1 =>
      val k = rest.headOption.fold(8192)(int)
      (s, dir) => probeBpe(s, dir, k)
    case Seq("probe", "tok", depths @ _*) =>
      val ks = if (depths.isEmpty) Seq(1024, 4096, 8192) else depths.map(int)
      (s, dir) => {
        // frozen once, so each depth times the trainer alone
        val words = ScaleCurve.saltedWords(s, dir).localCheckpoint(true)
        for ((family, train) <- Seq("wordpiece" -> ScaleCurve.wordPiece _,
            "unigram" -> ScaleCurve.unigram _); k <- ks)
          show(s"tok $family depth=$k",
            ScaleCurve.tokenizerProbe(words)(train(k)))
      }
    case Seq("probe", "sa", rest @ _*) if rest.size <= 1 =>
      val copies = rest.headOption.fold(16)(int)
      (s, dir) => show(s"sa copies=$copies",
        ScaleCurve.suffixChars(s, dir, copies))
    case Seq("probe", "ppj") => (s, _) => probePpj(s)
    case _ => usage(s"unknown mode: ${args.mkString(" ")}")
  }

  def main(args: Array[String]): Unit = {
    val (cmd, dir) =
      try (parse(args.toSeq), sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
        usage("SPARK_GRAFT_SF_DIR must name a fixture directory")))
      catch { case e: UsageError =>
        System.err.println(e.getMessage)
        sys.exit(2)
      }
    val spark = session()
    try cmd(spark, dir) finally spark.stop()
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  private def secs(xs: Seq[Double]): String = xs.map(t => f"$t%.2f").mkString(" ")

  private def counts(jobs: Seq[JobProfile.Job]): String =
    f"st=${jobs.map(_.stages).sum}%-4d " +
      f"tk=${jobs.map(_.tasks).sum}%-5d " +
      f"shR=${jobs.map(_.shuffleRead).sum / 1024}%7d KiB " +
      f"shW=${jobs.map(_.shuffleWrite).sum / 1024}%7d KiB"

  /** One timed pass and the jobs it ran. */
  final case class Pass(sec: Double, jobs: Seq[JobProfile.Job])

  /** One cold pass of `query` to the noop sink, then `reps` warm ones,
    * each followed by a cache clear: the warm passes, or the error of the
    * first pass that threw. */
  def warmPasses(spark: SparkSession, reps: Int)(query: => DataFrame)
      : Try[Seq[Pass]] = {
    def pass(): Pass =
      try {
        val ((_, sec), jobs) =
          JobProfile.record(spark.sparkContext)(time(noop(query)))
        Pass(sec, jobs)
      } finally spark.catalog.clearCache()
    Try { pass(); (1 to reps).map(_ => pass()) }
  }

  /** Profiles each query with [[warmPasses]], printing the warm times and
    * the last pass's jobs as it goes, then one line per query sorted by
    * median warm seconds. A query whose pass throws is listed as failed,
    * with no time. */
  def profile(spark: SparkSession, dir: String, reps: Int,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, Try[Seq[Pass]])] = {
    val results = queries.map { case (name, fn) =>
      val passes = warmPasses(spark, reps)(fn(spark, dir))
      passes match {
        case Success(ps) =>
          println(f"[dev] $name%-34s warm ${secs(ps.map(_.sec))} s")
          ps.last.jobs.foreach { j =>
            println(f"[dev]   job ${j.id}%5d ${j.wallMs}%7d ms  " +
              s"${counts(Seq(j))}  ${j.site}")
          }
        case Failure(e) =>
          println(f"[dev] $name%-34s failed: ${e.toString.takeWhile(_ != '\n')}")
      }
      name -> passes
    }
    println("[dev] ==== per query, by median warm seconds; counts of " +
      "the last pass ====")
    results.collect { case (n, Success(ps)) => (n, median(ps.map(_.sec)), ps) }
      .sortBy(-_._2)
      .foreach { case (n, sec, ps) =>
        println(f"[dev] $n%-34s $sec%6.2f s  j=${ps.last.jobs.size}%-3d " +
          counts(ps.last.jobs))
      }
    results.collect { case (n, Failure(_)) => n }
      .foreach(n => println(f"[dev] $n%-34s failed"))
    results
  }

  /** `explain("formatted")` of each query, to `<out>/<query>.txt` or, for
    * `-`, to stdout. */
  def plan(spark: SparkSession, dir: String, out: String,
      names: Seq[String]): Unit = names.foreach { n =>
    val txt = SparkEntry.queries(n)(spark, dir).queryExecution
      .explainString(FormattedMode)
    if (out == "-") println(s"[dev] ==== $n ====\n$txt")
    else {
      val f = Paths.get(out, s"$n.txt")
      Files.createDirectories(f.getParent)
      Files.write(f, txt.getBytes(UTF_8))
      println(s"[dev] wrote $f")
    }
    spark.catalog.clearCache()
  }

  /** Trains `k` merges with `Bpe.trainLocal` over the salted corpus, then
    * times `Bpe.encodeScalable` (3 runs each) over the same corpus under
    * the first 12 merges, all of them, and a same-work control: the table
    * doubled with merges whose pairs never occur. An encoder whose cost is
    * flat in table size takes the same time on the last two. */
  private def probeBpe(spark: SparkSession, dir: String, k: Int): Unit = {
    // the merge-forest exhaustion bound grows ~linearly in buckets; 96
    // tops out near 11k merges
    val buckets = if (k > 11000) 384 else 96
    val (words, docsRaw) =
      queries.BpeQueries.saltedCorpus(spark, dir, buckets)
    // every encode reads the same frozen corpus
    val docs = docsRaw.localCheckpoint(true)
    val nDocs = docs.count()
    val (big, trainSec) = time(Bpe.trainLocal(words, k))
    println(f"[dev] bpe trainLocal: ${big.size} merges (asked $k, " +
      f"$buckets salt buckets) over ${words.count()} vocab rows in " +
      f"$trainSec%.2f s")
    def encode(merges: Seq[Bpe.Merge]): Seq[Double] = (1 to 3).map(_ =>
      time(noop(Bpe.encodeScalable(docs, "doc_id", "text", merges)))._2)
    val padded = big ++ (1 to big.size).map(i =>
      Bpe.Merge(big.size + i, s"☃$i", s"☄$i", 1L))
    encode(big.take(12)) // warm-up, not reported
    Seq(big.take(12), big, padded).foreach { m =>
      val ts = encode(m)
      println(f"[dev] bpe encodeScalable over $nDocs docs, k=${m.size}: " +
        f"${secs(ts)} s (median ${median(ts)}%.2f s)")
    }
  }

  /** Prints the one row of a [[ScaleCurve]] probe body and its seconds. */
  private def show(label: String, probe: => DataFrame): Unit = {
    val (row, sec) = time(probe.head())
    val fields = row.schema.fieldNames.zip(row.toSeq)
      .map { case (f, v) => s"$f=$v" }.mkString(" ")
    println(f"[dev] $label: $fields in $sec%.2f s")
  }

  /** Prefix (PPJoin) vs plain Jaccard self-join on a synthetic corpus in
    * the regime the fixtures cannot reach: 4000 docs x 40 tokens over a
    * 20k vocabulary, 10 stopwords in every doc, 200 planted near-dups. */
  private def probePpj(spark: SparkSession): Unit = {
    import spark.implicits._
    def doc(seed: Int): String = {
      val r = new scala.util.Random(seed)
      ((0 until 30).map(_ => s"w${10 + r.nextInt(20000)}") ++
        (0 until 10).map(_ => s"w${r.nextInt(10)}")).mkString(" ")
    }
    val base = (0 until 4000).map(i => (i.toLong, doc(i)))
    val dups = base.take(200).map { case (id, t) =>
      val w = t.split(" ")
      (10000L + id, (w.tail :+ w.head).mkString(" "))
    }
    val docs = (base ++ dups).toDF("doc_id", "text").cache()
    docs.count()
    for (pass <- 1 to 2; (label, pairs) <- Seq[(String, DataFrame => DataFrame)](
        "plain" -> (Dedup.jaccardPairs(_, "doc_id", "text", 1, 0.9)),
        "prefix" -> (Dedup.jaccardPairsPrefix(_, "doc_id", "text", 1, 0.9)))) {
      val (n, sec) = time(pairs(docs).count())
      println(f"[dev] ppj $label pass $pass: $sec%.2f s, $n pairs")
    }
  }
}
