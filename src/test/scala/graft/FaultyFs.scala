package graft

import java.io.IOException
import java.net.URI
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, FSDataInputStream, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system under the `faulty://` scheme, with injected
  * faults. Register it with `fs.faulty.impl`.
  *   - Read errors: `open` (`listStatus`) throws a plain IOException (the
  *     transient error class a remote store raises, NOT
  *     FileNotFoundException) for every path ending in one of
  *     [[FaultyFs.failOpen]]'s ([[FaultyFs.failList]]'s) suffixes.
  *   - Crashes: after [[FaultyFs.armCrash]]`(k)`, the k-th
  *     create/rename/delete/mkdirs throws, and so does every mutation after
  *     it, as if the process had died there. Mutations under Spark's
  *     `_temporary` staging dirs are not counted: a crash there is the same
  *     case as a crash before the commit record. */
class FaultyFs extends RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: URI = URI.create("faulty:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    if (FaultyFs.failOpen.exists(f.toUri.getPath.endsWith))
      throw new IOException(s"injected read failure: $f")
    super.open(f, bufferSize)
  }

  override def listStatus(f: Path): Array[FileStatus] = {
    if (FaultyFs.failList.exists(f.toUri.getPath.endsWith))
      throw new IOException(s"injected list failure: $f")
    super.listStatus(f)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultyFs.mutation(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    FaultyFs.mutation(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    FaultyFs.mutation(src, dst)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    FaultyFs.mutation(f)
    super.delete(f, recursive)
  }

  override def mkdirs(f: Path): Boolean = {
    FaultyFs.mutation(f)
    super.mkdirs(f)
  }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    FaultyFs.mutation(f)
    super.mkdirs(f, permission)
  }
}

object FaultyFs {
  @volatile var failOpen: Set[String] = Set.empty
  @volatile var failList: Set[String] = Set.empty

  @volatile private var crashAt = 0L
  @volatile private var down = false
  private val mutations = new AtomicLong

  /** Crash at the k-th counted mutation from now on (k >= 1). */
  def armCrash(k: Long): Unit = { mutations.set(0); down = false; crashAt = k }

  /** Stop injecting crashes; returns whether the armed one fired. */
  def disarm(): Boolean = { val fired = down; crashAt = 0; down = false; fired }

  private def mutation(paths: Path*): Unit = if (crashAt > 0) {
    if (down) throw new IOException("injected crash: the process is down")
    if (!paths.exists(_.toUri.getPath.contains("/_temporary")) &&
        mutations.incrementAndGet() == crashAt) {
      down = true
      throw new IOException(s"injected crash at mutation $crashAt: ${paths.mkString(" -> ")}")
    }
  }
}
