package perfbench

import java.io.File

import org.apache.hadoop.fs.{FileStatus, LocalFileSystem, Path,
  RawLocalFileSystem}

/** The local file system with one directory served from another place.
  *
  * The catalog's fixture-backed queries read their frozen parquet
  * fixtures from one fixed absolute directory. The benchmark runs in a
  * checkout that may live anywhere, so it installs this file system for
  * the `file` scheme (see `perfbench/conf/core-site.xml`) and maps that
  * directory onto the checkout's own `fixtures/`. Files are read from the
  * mapped place, while every status keeps the path the caller asked for:
  * Spark matches listed files against its input paths. Both ends come
  * from system properties; with either unset, no path is mapped.
  */
final class RebasedRawLocalFs extends RawLocalFileSystem {
  import RebasedLocalFs.{from, to}

  override def pathToFile(path: Path): File = {
    val f = super.pathToFile(path)
    new File(swap(f.getPath, from, to))
  }

  override def getFileStatus(f: Path): FileStatus =
    restore(super.getFileStatus(f))

  override def getFileLinkStatus(f: Path): FileStatus =
    restore(super.getFileLinkStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(restore)

  private def restore(s: FileStatus): FileStatus = {
    val path = s.getPath.toUri.getPath
    val restored = swap(path, to, from)
    if (restored != path) s.setPath(makeQualified(new Path(restored)))
    s
  }

  /** `path` with the directory `a` replaced by `b`, when it lies in `a`. */
  private def swap(path: String, a: Option[String], b: Option[String]) =
    (a, b) match {
      case (Some(x), Some(y)) if path == x || path.startsWith(x + "/") =>
        y + path.substring(x.length)
      case _ => path
    }
}

final class RebasedLocalFs extends LocalFileSystem(new RebasedRawLocalFs)

object RebasedLocalFs {
  val FromKey = "perfbench.rebase.from"
  val ToKey = "perfbench.rebase.to"
  private[perfbench] def from = sys.props.get(FromKey)
  private[perfbench] def to = sys.props.get(ToKey)
}
