package bpbench

import graft.Blueprints
import graft.ops.RegexMatch
import org.apache.spark.sql.SparkSession

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Path, StandardOpenOption}

/** One timed blueprint call and what its output check found. */
final case class Call(action: String, seconds: Double, files: Long,
    bytes: Long, errors: Seq[String])

/** The per-folder blueprint lifecycle over a generated namespace, driven
  * only through `graft.Blueprints`: upload every file of a top-level
  * folder into the container, download a regex subset under an explicit
  * enumerated name, move another regex subset to a sub-folder, then
  * delete everything left. One client makes the calls back to back (a
  * closed loop). After each call the destination tree is compared with
  * the one the namespace predicts: names, sizes and CRC32.
  *
  * Layout under `work`: `src/` (the local source folder), `container/`
  * (a local directory standing in for the blob container) and `dl/` (the
  * download destination). */
final class Lifecycle(spark: SparkSession, work: Path, shape: Shape,
    seed: Long) {
  import Namespace._

  val srcDir: Path = work.resolve("src")
  private val containerDir = work.resolve("container")
  private val dlDir = work.resolve("dl")
  private def uri(p: Path) = p.toUri.toString

  Namespace.deleteTree(work)
  Files.createDirectories(containerDir)
  Files.createDirectories(dlDir)
  val entries: Map[String, IndexedSeq[Entry]] =
    Namespace.generate(shape, seed, srcDir)
  val folders: IndexedSeq[String] = Namespace.folders(shape)

  /** When set, the next upload's first destination file is corrupted
    * before the output check runs (the check's own test). */
  var corruptNext = false

  /** When set, each blueprint call runs inside a span of this tracer. */
  var tracer: Option[Tracer] = None

  private def timed(action: String)(
      body: => Blueprints.Report): (Double, Long) = {
    val t0 = System.nanoTime()
    val r = tracer.fold(body)(_.span(s"blueprints.$action")(body))
    ((System.nanoTime() - t0) / 1e9, r.matched)
  }

  /** Runs the four calls on top-level folder number `i`. An exception
    * ends the folder's lifecycle and counts as a failed call. */
  def runFolder(i: Int): Seq[Call] = {
    val f = folders(i % folders.size)
    val es = entries(f)
    val up = s"up/$f"
    val upDir = containerDir.resolve(up)
    val calls = Seq.newBuilder[Call]
    def step(action: String, files: Long, bytes: Long)(
        call: => Blueprints.Report)(expect: => Seq[String]): Boolean = {
      try {
        val (s, matched) = timed(action)(call)
        val errs =
          (if (matched != files) Seq(s"$action $f: matched $matched, expected $files")
           else Nil) ++ expect.map(e => s"$action $f: $e")
        calls += Call(action, s, files, bytes, errs)
        true
      } catch { case e: Exception =>
        calls += Call(action, Double.NaN, files, bytes,
          Seq(s"$action $f: ${e.getClass.getSimpleName}: ${e.getMessage}"))
        false
      }
    }
    def sig(e: Entry) = (e.size, e.crc)

    val dlName = DownloadNames(i % DownloadNames.length)
    // download numbers its matches 1..n in source-path order
    val dl = es.filter(e => downloads(e.base)).sortBy(_.base)
    val mv = es.filter(e => moves(e.base))
    step("upload", es.size, es.map(_.size).sum)(
      Blueprints.upload(spark, uri(srcDir), f, RegexMatch("."),
        uri(containerDir), destinationFolderName = up)) {
      if (corruptNext) { corruptNext = false; corruptOne(upDir) }
      diff(scan(upDir), es.map(e => e.base -> sig(e)).toMap)
    } &&
    step("download", dl.size, dl.map(_.size).sum)(
      Blueprints.download(spark, uri(containerDir), up, RegexMatch(DownloadRegex),
        uri(dlDir), destinationFolderName = f, destinationFileName = Some(dlName))) {
      diff(scan(dlDir.resolve(f)), dl.zipWithIndex.map { case (e, n) =>
        enumerate(dlName, n + 1) -> sig(e) }.toMap)
    } &&
    step("move", mv.size, mv.map(_.size).sum)(
      Blueprints.move(spark, uri(containerDir), up, RegexMatch(MoveRegex),
        destinationFolderName = s"$up/mv")) {
      diff(scan(upDir), es.map(e =>
        (if (moves(e.base)) s"mv/${e.base}" else e.base) -> sig(e)).toMap)
    } &&
    step("delete", es.size, es.map(_.size).sum)(
      Blueprints.delete(spark, uri(containerDir), up, RegexMatch("."))) {
      // the whole container, not just this folder, must now be empty
      diff(scan(containerDir), Map.empty)
    }
    // reset for the next lifecycle of this folder; not a blueprint action
    Namespace.deleteTree(containerDir.resolve("up"))
    Namespace.deleteTree(dlDir.resolve(f))
    calls.result()
  }

  private def corruptOne(dir: Path): Unit = {
    val s = Files.list(dir)
    try s.filter(Files.isRegularFile(_)).findFirst().ifPresent { p =>
      val ch = FileChannel.open(p, StandardOpenOption.READ,
        StandardOpenOption.WRITE)
      try {
        val b = ByteBuffer.allocate(1)
        ch.read(b, 0)
        b.put(0, (b.get(0) ^ 0x5a).toByte)
        ch.write(b.rewind(), 0)
      } finally ch.close()
    } finally s.close()
  }

  def cleanup(): Unit = Namespace.deleteTree(work)
}

object Lifecycle {
  val Actions: Seq[String] = Seq("upload", "download", "move", "delete")

  /** Per-action median latency, files acted on per second of call time,
    * and MiB copied by upload and download per second of their time. */
  def breakdown(calls: Seq[Call]): Seq[Main.Metric] = {
    def p50(a: String) = Stats.median(calls.filter(_.action == a).map(_.seconds))
    val copies = calls.filter(c => c.action == "upload" || c.action == "download")
    Actions.map(a => s"${a}_p50_s" -> (p50(a), "s")) ++ Seq(
      "files_per_s" -> (calls.map(_.files).sum / calls.map(_.seconds).sum,
        "files/s"),
      "copy_mb_per_s" -> (copies.map(_.bytes).sum / Counters.MiB /
        copies.map(_.seconds).sum, "MiB/s"))
  }
}
