package graft.ops

import graft.functions.PathFunctions._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The rename-mapping projection (SURVEY.md §2.3 X6 + §2.5 A2): given a
  * matched file catalog, compute each file's destination path.
  *
  * Numbering semantics differ per reference entry point:
  *  - upload/download regex branch: every match is numbered 1..n
  *    (`upload_file.py:215-220`, `download_file.py:215-219`) —
  *    [[Numbering.Always]];
  *  - move regex branch: `None` when exactly one match, else 1..n
  *    (`move_file.py:130-136`) — [[Numbering.UnlessSingle]];
  *  - exact branch anywhere: no numbering — [[Numbering.Never]].
  *
  * Numbering only ever AFFECTS an explicitly provided destination name
  * (`upload_file.py:94-102`: without one, the basename is used and the
  * number ignored).
  *
  * Ordering: the reference numbers files in listing order (glob/REST
  * order). The engine defines the spec as order-by-`path` so results are
  * deterministic under any partitioning (SURVEY.md §2.5 A3).
  *
  * Scale note: the global ordinal is a total order, but it is NOT computed
  * with a single-partition window — [[ZipIndex.withOrdinal]] range-partitions
  * on the sort key and adds per-partition offsets, so enumeration of a
  * 100M-file manifest stays parallel. `numParts` sets that partition count;
  * [[graft.Blueprints]] passes min(matches, defaultParallelism) from its
  * snapshot's count and settles `UnlessSingle` from the same count on the
  * driver, so it never plans that branch. Here `UnlessSingle` counts the
  * catalog with a scalar aggregate broadcast back (no `count() OVER ()`
  * global window), which re-reads the catalog on every action.
  */
object RenamePlan {

  sealed trait Numbering
  object Numbering {
    case object Always extends Numbering
    case object UnlessSingle extends Numbering
    case object Never extends Numbering
  }

  /** Adds `file_number` and `dest_path` to a catalog DataFrame.
    *
    * @param catalog   must contain `pathCol` (source full path / name)
    * @param destFolder raw destination folder (cleaned here, X1)
    * @param destName   optional explicit destination file name
    * @param numParts   range partitions of the numbered output; 0 keeps
    *                   [[ZipIndex.withOrdinal]]'s default
    */
  def planify(
      catalog: DataFrame,
      destFolder: String,
      destName: Option[String],
      numbering: Numbering,
      pathCol: String = "path",
      numParts: Int = 0): DataFrame = {
    val p = col(pathCol)
    val numbered = numbering match {
      case Numbering.Never =>
        catalog.withColumn("file_number", lit(null).cast("int"))
      case Numbering.Always =>
        ZipIndex.withOrdinal(catalog, "file_number", Seq(p), numParts)
          .withColumn("file_number", col("file_number").cast("int"))
      case Numbering.UnlessSingle =>
        val total = catalog.agg(count(lit(1)).as("__total"))
        ZipIndex.withOrdinal(catalog, "__ord", Seq(p), numParts)
          .crossJoin(broadcast(total))
          .withColumn("file_number",
            when(col("__total") === 1, lit(null).cast("int"))
              .otherwise(col("__ord").cast("int")))
          .drop("__ord", "__total")
    }
    numbered
      .withColumn("dest_path",
        destFullPathCol(
          lit(destFolder),
          destName.map(lit).getOrElse(lit(null).cast("string")),
          p,
          col("file_number")))
  }
}
