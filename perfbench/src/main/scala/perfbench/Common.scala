package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.storage.StorageLevel

object Common {

  /** Timed operations until `seconds` have passed, and at least `minOps`.
    * The first operation runs in a JIT-cold JVM; it is reported on its own
    * (`cold_wall_s`) and left out of the medians. After it, a traced run
    * orders its operations traced, plain, plain, traced, ... (at least
    * four), so JIT warm-up weighs on both sides of the tracing overhead it
    * measures. */
  def loop(h: Harness, minOps: Int, maxOps: Int = Int.MaxValue)(f: Boolean => Unit): Unit = {
    val min = if (h.args.trace) math.max(minOps, 5) else minOps
    val t0 = System.nanoTime()
    var i = 0
    while (i < maxOps && (i < min || (System.nanoTime() - t0) / 1e9 < h.args.seconds)) {
      f(h.args.trace && i > 0 && ((i - 1) % 4 == 0 || (i - 1) % 4 == 3))
      i += 1
    }
  }

  /** Set-up repeated three times, each into its own directory and timed
    * (`setup_s` takes the median, so the one JIT-cold generation does not
    * decide it). Returns the first directory; the others are deleted. */
  def setupRepeated(h: Harness, name: String)(write: String => Unit): String = {
    val dirs = (0 until 3).map { k =>
      val d = h.dir(s"${name}_$k")
      h.timeSetup(write(d))
      d
    }
    dirs.tail.foreach(deleteTree)
    dirs.head
  }

  /** Eager layer boundary: persist and materialise every column. */
  def materialise[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  def digest(parts: Any*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(parts.map(String.valueOf).mkString("|").getBytes(StandardCharsets.UTF_8))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  def rowsDigest(rows: Seq[Row]): String = digest(rows.map(_.toString).sorted: _*)

  def deleteTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val it = java.nio.file.Files.walk(src).iterator()
    while (it.hasNext) {
      val p = it.next()
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    }
  }

  def f1(tp: Long, fp: Long, fn: Long): Double = {
    val p = if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp)
    val r = if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn)
    if (p + r == 0) 0.0 else 2 * p * r / (p + r)
  }
}
