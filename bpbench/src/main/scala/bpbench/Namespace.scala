package bpbench

import java.io.{File, FileOutputStream}
import java.nio.ByteBuffer
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.zip.CRC32
import scala.jdk.CollectionConverters._

/** Shape of a generated blueprint namespace: `top` top-level folders, each
  * with `sub` sub-folders of `perLeaf` files whose sizes are drawn
  * uniformly from `[minBytes, maxBytes]`. */
final case class Shape(top: Int, sub: Int, perLeaf: Int, minBytes: Int,
    maxBytes: Int)

/** One generated source file. `rel` is relative to the source root. */
final case class Entry(rel: String, size: Long, crc: Long) {
  def base: String = rel.substring(rel.lastIndexOf('/') + 1)
}

/** A seeded file namespace, written under a source root, and the exact
  * trees each blueprint call must leave behind.
  *
  * Names cover the path algebra's edge cases: plain (`x.csv`), multi-dot
  * (`x.tar.gz`, `x.log.1`) and no extension. Each name ends in a tag letter
  * `a`-`d` before its first dot, which the download and move regexes select
  * on. Basenames are unique within a top-level folder, because upload
  * flattens a folder into its basenames; they repeat across folders. */
object Namespace {
  def folders(shape: Shape): IndexedSeq[String] =
    (0 until shape.top).map(t => f"f$t%02d")

  /** Writes the namespace for `seed` under `root` and returns its entries
    * by top-level folder. Content is a seeded byte stream, distinct per
    * file; the same seed gives the same names, sizes and bytes. */
  def generate(shape: Shape, seed: Long, root: Path)
      : Map[String, IndexedSeq[Entry]] = {
    val rnd = new SplittableRandom(seed)
    val buf = ByteBuffer.allocate(1 << 16)
    folders(shape).map { f =>
      // tags rotate from a seeded offset, so every folder of four or more
      // files has matches for both regexes and the subsets are exact halves
      val tagOffset = rnd.nextInt(4)
      f -> (for (s <- 0 until shape.sub; k <- 0 until shape.perLeaf) yield {
        val stem = Stems(rnd.nextInt(Stems.length))
        val tag = "abcd".charAt((tagOffset + s * shape.perLeaf + k) % 4)
        val ext = Exts(rnd.nextInt(Exts.length))
        val size = shape.minBytes.toLong +
          rnd.nextInt(shape.maxBytes - shape.minBytes + 1)
        val rel = f"$f/s$s%02d/$stem-$s%02d$k%03d$tag$ext"
        val content = rnd.split()
        val out = root.resolve(rel)
        Files.createDirectories(out.getParent)
        val crc = new CRC32
        val os = new FileOutputStream(out.toFile)
        try {
          var left = size
          while (left > 0) {
            val n = math.min(left, buf.capacity().toLong).toInt
            var i = 0
            while (i < n) { buf.putLong(i, content.nextLong()); i += 8 }
            crc.update(buf.array(), 0, n)
            os.write(buf.array(), 0, n)
            left -= n
          }
        } finally os.close()
        Entry(rel, size, crc.getValue)
      })
    }.toMap
  }

  private val Stems = Array("data", "report", "img", "log", "shard")
  private val Exts = Array(".csv", ".tar.gz", "", ".log.1", ".json")

  /** Selects tags `a`,`b`: the download subset. */
  val DownloadRegex = "[0-9][ab](\\.|$)"
  /** Selects tags `a`,`c`: the move subset. */
  val MoveRegex = "[0-9][ac](\\.|$)"
  /** Explicit download names, rotated per folder: multi-dot, no dot, one dot. */
  val DownloadNames = Array("part.tar.gz", "blob", "rows.csv")

  private val DownloadPattern = java.util.regex.Pattern.compile(DownloadRegex)
  private val MovePattern = java.util.regex.Pattern.compile(MoveRegex)
  def downloads(base: String): Boolean = DownloadPattern.matcher(base).find()
  def moves(base: String): Boolean = MovePattern.matcher(base).find()

  /** The reference's `_<n>` enumeration: before the first dot, or
    * appended when there is none. */
  def enumerate(name: String, n: Int): String = {
    val i = name.indexOf('.')
    if (i >= 0) s"${name.substring(0, i)}_$n.${name.substring(i + 1)}"
    else s"${name}_$n"
  }

  /** Files under `dir` as relative name -> (size, CRC32). */
  def scan(dir: Path): Map[String, (Long, Long)] = {
    if (!Files.isDirectory(dir)) return Map.empty
    val stream = Files.walk(dir)
    try stream.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      dir.relativize(p).toString -> (Files.size(p), crc32(p))
    }.toMap
    finally stream.close()
  }

  def crc32(p: Path): Long = {
    val crc = new CRC32
    val in = Files.newInputStream(p)
    try {
      val b = new Array[Byte](1 << 16)
      var n = in.read(b)
      while (n >= 0) { crc.update(b, 0, n); n = in.read(b) }
    } finally in.close()
    crc.getValue
  }

  /** Every difference between the files found and those expected. */
  def diff(found: Map[String, (Long, Long)],
      expected: Map[String, (Long, Long)]): Seq[String] = {
    val missing = (expected.keySet -- found.keySet).toSeq.sorted
      .map(n => s"missing $n")
    val extra = (found.keySet -- expected.keySet).toSeq.sorted
      .map(n => s"unexpected $n")
    val wrong = (found.keySet intersect expected.keySet).toSeq.sorted
      .filter(n => found(n) != expected(n))
      .map(n => s"content $n: size/crc ${found(n)} != ${expected(n)}")
    missing ++ extra ++ wrong
  }

  def deleteTree(p: Path): Unit = {
    def rm(f: File): Unit = {
      val cs = f.listFiles()
      if (cs != null) cs.foreach(rm)
      f.delete(); ()
    }
    rm(p.toFile)
  }
}
