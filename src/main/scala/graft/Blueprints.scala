package graft

import graft.catalog.FileCatalog
import graft.ops._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** The user-facing surface of the engine: one entry point per reference
  * blueprint (upload / download / move / delete — SURVEY.md §3), with the
  * reference's exact lifecycle (scan -> match -> rename -> act) and
  * numbering/exit-code quirks, executed as distributed Spark actions.
  *
  * A reference user switches by replacing each
  * `python -m azurestorage_blueprints.<x>_file` invocation with the
  * matching method; `file://`, `hdfs://`, `abfss://`, `s3a://` URIs all
  * work (Hadoop FileSystem API).
  *
  * A call lists its source once, like the reference's one loop over one
  * listing: the matched paths are local-checkpointed and counted in one
  * job, and that snapshot, taken before any side effect, is all the call
  * plans and acts on. The driver sizes the rest from the count:
  *  - zero matches plan nothing and act on nothing;
  *  - move's single-match rule is decided from it, and matches are
  *    ranked only when an explicit destination name carries the number;
  *  - a manifest has min(matches, defaultParallelism) partitions when
  *    numbered (at most that many otherwise), whatever
  *    `spark.sql.shuffle.partitions` is.
  *
  * Differences from the reference, all deliberate (SURVEY.md §2):
  *  - transfers run cluster-parallel, not one-file-per-HTTPS-round-trip;
  *  - match numbering is by path order (deterministic), not listing order;
  *  - move's missing `EXIT_CODE_AZURE_MOVE_ERROR` is defined (203).
  */
object Blueprints {

  /** What a run did: the number of matches and the manifest that WOULD
    * be/was executed. The manifest reads the call's snapshot, not the
    * store, so executing it later acts on exactly `matched` files. */
  final case class Report(matched: Long, manifest: DataFrame)

  /** upload_file.py:196-237 — local folder -> container. Zero matches do
    * NOT raise (the reference prints "0 files found" and exits 0). */
  def upload(
      spark: SparkSession,
      sourceRoot: String,
      sourceFolderName: String,
      sourceFileName: MatchType,
      containerUri: String,
      destinationFolderName: String = "",
      destinationFileName: Option[String] = None,
      execute: Boolean = true): Report =
    transferLike(spark, sourceRoot, sourceFolderName, sourceFileName,
      containerUri, destinationFolderName, destinationFileName,
      // upload numbers every regex match 1..n (upload_file.py:215-220)
      RenamePlan.Numbering.Always, execute, Transfer.copyFiles(_))

  /** download_file.py:190-237 — container -> local folder. */
  def download(
      spark: SparkSession,
      containerUri: String,
      sourceFolderName: String,
      sourceFileName: MatchType,
      destinationRoot: String,
      destinationFolderName: String = "",
      destinationFileName: Option[String] = None,
      execute: Boolean = true): Report =
    transferLike(spark, containerUri, sourceFolderName, sourceFileName,
      destinationRoot, destinationFolderName, destinationFileName,
      RenamePlan.Numbering.Always, execute, Transfer.copyFiles(_))

  /** move_file.py:110-156 — blob -> blob within a container. Zero matches
    * raise NoMatchesFound (exit 200); single match is NOT numbered
    * (move_file.py:135). */
  def move(
      spark: SparkSession,
      containerUri: String,
      sourceFolderName: String,
      sourceFileName: MatchType,
      destinationFolderName: String = "",
      destinationFileName: Option[String] = None,
      execute: Boolean = true): Report = {
    val r = transferLike(spark, containerUri, sourceFolderName,
      sourceFileName, containerUri, destinationFolderName,
      destinationFileName, RenamePlan.Numbering.UnlessSingle,
      execute = false, Transfer.moveFiles(_))
    if (r.matched == 0) sourceFileName match {
      case RegexMatch(p) => throw BlueprintError.NoMatchesFound(p)
      case ExactMatch(p) => throw BlueprintError.NoMatchesFound(p)
    }
    if (execute) Transfer.moveFiles(r.manifest)
    r
  }

  /** delete_file.py:264-299 — delete blobs. Zero matches raise (200). */
  def delete(
      spark: SparkSession,
      containerUri: String,
      sourceFolderName: String,
      sourceFileName: MatchType,
      execute: Boolean = true): Report = {
    val folder = functions.PathAlg.cleanFolderName(sourceFolderName)
    val snap = snapshot(spark, containerUri, folder, sourceFileName)
    if (snap.n == 0) {
      snap.release()
      sourceFileName match {
        case RegexMatch(p) => throw BlueprintError.NoMatchesFound(p)
        case ExactMatch(p) => throw BlueprintError.NoMatchesFound(p)
      }
    }
    val manifest = snap.sized
    if (execute) Transfer.deleteFiles(manifest)
    Report(snap.n, manifest)
  }

  // ---- shared lifecycle (SURVEY.md §3.4) ----

  /** One call's matched paths, listed once and held as a local
    * checkpoint: counting, planning and the action all read these paths,
    * so a file created or removed during the call changes nothing. */
  private final case class Snapshot(paths: RDD[String], frame: DataFrame,
      n: Long) {
    /** One partition per match, at most one per task slot. */
    val parts: Int = math.max(1L, math.min(n,
      frame.sparkSession.sparkContext.defaultParallelism.toLong)).toInt

    /** The snapshot itself, in at most [[parts]] partitions. */
    def sized: DataFrame = frame.coalesce(parts)

    /** Drops the checkpointed blocks; nothing may read [[frame]] after. */
    def release(): Unit = paths.unpersist(blocking = false)
  }

  /** Lists and matches once, materializing and counting in one job. The
    * manifests need only the path, and an unnumbered one reads the
    * snapshot for as long as its Report lives, so the paths are held
    * serialized: about half the memory of row objects. */
  private def snapshot(
      spark: SparkSession, rootUri: String, folder: String,
      matchType: MatchType): Snapshot = {
    val paths = scanAndMatch(spark, rootUri, folder, matchType)
      .select(col("path")).as(Encoders.STRING).rdd
      .persist(StorageLevel.MEMORY_AND_DISK_SER).localCheckpoint()
    val n = paths.count()
    Snapshot(paths, spark.createDataset(paths)(Encoders.STRING).toDF("path"),
      n)
  }

  private val manifestSchema = StructType(Seq(
    StructField("src_path", StringType), StructField("dest_path", StringType)))

  private def scanAndMatch(
      spark: SparkSession, rootUri: String, folder: String,
      matchType: MatchType): DataFrame =
    matchType match {
      case ExactMatch(name) =>
        // F2: point lookup — no listing at all (download_file.py:227-237)
        FileCatalog.stat(spark, rootUri,
          functions.PathAlg.combineFolderAndFileName(folder, name))
      case RegexMatch(pattern) =>
        // S1/S2 with prefix pushdown + F1 residual regex on the name
        FileCatalog.list(spark, rootUri,
            prefix = if (folder.isEmpty) "" else folder + "/")
          .filter(RegexMatch(pattern).predicate(col("name")))
    }

  private def transferLike(
      spark: SparkSession,
      sourceRoot: String, sourceFolderName: String, matchType: MatchType,
      destRoot: String, destFolderName: String, destFileName: Option[String],
      numbering: RenamePlan.Numbering,
      execute: Boolean,
      action: DataFrame => Unit): Report = {
    val folder = functions.PathAlg.cleanFolderName(sourceFolderName)
    val snap = snapshot(spark, sourceRoot, folder, matchType)
    if (snap.n == 0) {
      snap.release()
      return Report(0, spark.createDataFrame(
        java.util.Collections.emptyList[Row](), manifestSchema))
    }
    val effectiveNumbering = (matchType, numbering) match {
      case (_: ExactMatch, _) => RenamePlan.Numbering.Never
      // only an explicit destination name carries the number
      // (upload_file.py:94-102), so without one there is nothing to rank
      case _ if !destFileName.exists(_.nonEmpty) => RenamePlan.Numbering.Never
      // move_file.py:135, decided from the snapshot's count
      case (_, RenamePlan.Numbering.UnlessSingle) =>
        if (snap.n == 1) RenamePlan.Numbering.Never
        else RenamePlan.Numbering.Always
      case _ => numbering
    }
    val numbered = effectiveNumbering != RenamePlan.Numbering.Never
    val planned = RenamePlan.planify(
      if (numbered) snap.frame else snap.sized,
      destFolder = destFolderName, destName = destFileName,
      numbering = effectiveNumbering, numParts = snap.parts)
    // the numbered plan reads ZipIndex's own checkpoint, not the snapshot
    if (numbered) snap.release()
    val root = if (destRoot.endsWith("/")) destRoot else destRoot + "/"
    val manifest = planned.select(
      col("path").as("src_path"),
      concat(lit(root), col("dest_path")).as("dest_path"))
    if (execute) action(manifest)
    Report(snap.n, manifest)
  }
}
