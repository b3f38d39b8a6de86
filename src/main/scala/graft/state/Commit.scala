package graft.state

import java.io.{FileNotFoundException, IOException}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileStatus, FileSystem, Path}

/** The one commit protocol for state at rest: the pipeline stages
  * ([[graft.pipeline.Pipeline.stage]]), the CC round checkpoints
  * ([[graft.er.Clustering.connectedComponentsCheckpointed]]) and the
  * streaming state versions (`Streaming.VersionedState`).
  *
  * A unit of state is committed by its commit record, published LAST,
  * after every data file it describes has landed. The record is written
  * once, to `path.tmp`, then renamed to `path`, a name that does not exist
  * yet; nothing is deleted before the rename. A crash at any step
  * therefore leaves either no record (the unit is uncommitted, and is
  * recomputed) or the whole record. Only `FileNotFoundException` means
  * "absent": every other I/O error propagates, so a transient failure is
  * never mistaken for missing state. Works on any Hadoop `FileSystem`. */
object Commit {

  /** Publish `text` as the commit record `path`, which must not exist. */
  def publish(fs: FileSystem, path: Path, text: String): Unit = {
    if (fs.exists(path))
      throw new FileAlreadyExistsException(s"commit record $path already exists")
    val tmp = path.suffix(".tmp")
    val out = fs.create(tmp, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
    if (!fs.rename(tmp, path)) throw new IOException(s"rename failed for $path")
  }

  /** The commit record at `path`, or None when it does not exist. */
  def read(fs: FileSystem, path: Path): Option[String] =
    try {
      val in = fs.open(path)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8)) finally in.close()
    } catch { case _: FileNotFoundException => None }

  /** The child directories of `dir` named `prefix` + suffix, as
    * (suffix, path); a missing `dir` has none. */
  def dirs(fs: FileSystem, dir: Path, prefix: String): Seq[(String, Path)] = {
    val all =
      try fs.listStatus(dir) catch { case _: FileNotFoundException => Array.empty[FileStatus] }
    all.toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith(prefix) =>
        st.getPath.getName.stripPrefix(prefix) -> st.getPath
    }
  }
}
