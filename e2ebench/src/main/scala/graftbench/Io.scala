package graftbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Filesystem helpers: tree copy/delete, sizes and before/after
  * snapshots of a directory (the per-operation write diff). */
object Io {

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.toVector finally s.close()
    }

  def deleteTree(p: Path): Unit =
    walk(p).reverse.foreach(Files.deleteIfExists(_))

  def copyTree(from: Path, to: Path): Unit =
    walk(from).foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    }

  def bytes(p: Path): Long =
    walk(p).filter(Files.isRegularFile(_)).map(Files.size).sum

  /** relative path -> (size, mtime) of every regular file under `root`. */
  def snapshot(root: Path): Map[String, (Long, Long)] =
    walk(root).filter(Files.isRegularFile(_)).map { f =>
      root.relativize(f).toString ->
        ((Files.size(f), Files.getLastModifiedTime(f).toMillis))
    }.toMap

  /** Files that are new or changed between two snapshots: (count, bytes,
    * distinct top-level entries touched — one per warehouse table). */
  def diff(before: Map[String, (Long, Long)],
           after: Map[String, (Long, Long)]): (Long, Long, Long) = {
    val written = after.filter { case (k, v) => !before.get(k).contains(v) }
    val tables = written.keys.map(_.takeWhile(c => c != '/' && c != '\\')).toSet
    (written.size.toLong, written.values.map(_._1).sum, tables.size.toLong)
  }
}
