package graft

import java.net.URI

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** The local file system under the `faulty://` scheme, with injected read
  * errors: `open` throws a plain IOException (the transient error class a
  * remote store raises, NOT FileNotFoundException) for every path ending
  * in one of [[FaultyFs.failOpen]]'s suffixes. Register it with
  * `fs.faulty.impl`. */
class FaultyFs extends RawLocalFileSystem {
  override def getScheme: String = "faulty"
  override def getUri: URI = URI.create("faulty:///")

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val p = f.toUri.getPath
    if (FaultyFs.failOpen.exists(p.endsWith))
      throw new java.io.IOException(s"injected read failure: $f")
    super.open(f, bufferSize)
  }
}

object FaultyFs {
  @volatile var failOpen: Set[String] = Set.empty
}
