package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.operators.TableStore

/** Looks at a `TableStore` root from outside the program. A bucket file
  * that is hard-linked into the next version keeps its inode, so comparing
  * two walks separates files a step wrote from files it only linked. Table
  * versions and per-bucket file counts come from the store's own API. */
object StoreWalker {

  /** A hard link shares its inode's size and modification time; a file
    * written into a freed inode number does not, so all three identify a
    * file across two walks. */
  final case class FileInfo(inode: Long, size: Long, mtimeMs: Long)

  /** Part files by path, table versions, and bucket file counts. */
  final case class Snapshot(
      files: Map[String, FileInfo],
      bytesOnDisk: Long,
      liveFiles: Int,
      versions: Map[String, Int],
      bucketCounts: Map[String, Map[Int, Int]])

  /** What one step did to the store. Bucket counts cover the bucket
    * directories of versions the step created. */
  final case class Delta(
      commits: Int,
      filesWritten: Int,
      filesLinked: Int,
      bytesWritten: Long,
      bucketsRewritten: Int,
      bucketsTotal: Int,
      compactions: Int,
      newVersions: Map[String, Int])

  private def regularFiles(root: Path): Seq[Path] =
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(p => Files.isRegularFile(p)).toVector
      finally s.close()
    }

  def inode(p: Path): Long = Files.getAttribute(p, "unix:ino").asInstanceOf[Long]

  /** Part files only (data), keyed by path relative to `root`. */
  def files(root: Path): Map[String, FileInfo] =
    regularFiles(root).filter(_.getFileName.toString.startsWith("part-")).flatMap { p =>
      try Some(root.relativize(p).toString ->
        FileInfo(inode(p), Files.size(p), Files.getLastModifiedTime(p).toMillis))
      catch { case _: java.io.IOException => None } // pruned mid-walk
    }.toMap

  /** Tables are the directories directly under the root holding a manifest. */
  def tables(root: Path): Seq[String] =
    if (!Files.isDirectory(root)) Nil
    else {
      val s = Files.list(root)
      try s.iterator().asScala.filter(d => Files.exists(d.resolve("_current")))
        .map(_.getFileName.toString).toVector.sorted
      finally s.close()
    }

  def snapshot(root: Path): Snapshot = {
    val store = new TableStore(root.toString)
    val all = regularFiles(root)
    val names = tables(root)
    val versions = names.flatMap(t => store.currentVersion(t).map(t -> _)).toMap
    val buckets = names.filter(t => store.bucketSpec(t).isDefined).flatMap { t =>
      try Some(t -> store.bucketFileCounts(t)) catch { case _: Exception => None }
    }.toMap
    val bytes = all.map(p => try Files.size(p) catch { case _: java.io.IOException => 0L }).sum
    Snapshot(files(root), bytes, all.size, versions, buckets)
  }

  /** Everything `after` holds that `before` did not: new part files whose
    * inode existed before were linked, the rest were written. */
  def diff(before: Snapshot, after: Snapshot): Delta = {
    val beforeFiles = before.files.values.toSet
    val fresh = after.files.filter { case (p, _) => !before.files.contains(p) }
    val (linked, written) = fresh.partition { case (_, f) => beforeFiles.contains(f) }
    // bucket dirs of new versions: <table>/v<N>/_bucket=<b>/part-*
    val bucketDirs = fresh.keys.flatMap { p =>
      val parent = Paths.get(p).getParent
      if (parent != null && parent.getFileName.toString.startsWith("_bucket=")) Some(parent.toString)
      else None
    }.toSet
    val rewritten = written.keys.flatMap(p => Option(Paths.get(p).getParent).map(_.toString))
      .toSet.intersect(bucketDirs)
    val linkedTables = linked.keys.map(p => Paths.get(p).getName(0).toString).toSet
    val newVersions = after.versions.map { case (t, v) =>
      t -> (v - before.versions.getOrElse(t, 0))
    }.filter(_._2 > 0)
    // a compaction: a table stepped forward, carried some files over, and
    // some bucket now holds fewer files than before
    val compactions = newVersions.keys.count { t =>
      linkedTables.contains(t) && before.bucketCounts.contains(t) &&
        after.bucketCounts.get(t).exists(a => a.exists { case (b, n) =>
          before.bucketCounts(t).get(b).exists(n < _)
        })
    }
    Delta(newVersions.values.sum, written.size, linked.size, written.values.map(_.size).sum,
      rewritten.size, bucketDirs.size, compactions, newVersions)
  }
}
