package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Task-metric totals of one Spark job group. */
final class GroupStats {
  var jobs = 0L
  var cpuNs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskRunMs = mutable.ArrayBuffer.empty[Long]

  def add(o: GroupStats): Unit = {
    jobs += o.jobs; cpuNs += o.cpuNs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; taskRunMs ++= o.taskRunMs
  }

  def cpuS: Double = cpuNs / 1e9
  def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1048576.0
  def spillMb: Double = spillBytes / 1048576.0
  /** max ÷ median task run time (1.0 for one task, 0 when no task ran). */
  def taskSkew: Double =
    if (taskRunMs.isEmpty) 0.0
    else {
      val s = taskRunMs.sorted
      s.last.toDouble / math.max(1.0, Stats.median(s.map(_.toDouble).toSeq))
    }
}

/** One listener for the whole run: aggregates task metrics per job group
  * (every layer call runs under its own group) and tracks the bytes of
  * persisted RDD blocks, memory plus disk, with their peak. */
final class BenchListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = mutable.HashMap.empty[String, GroupStats]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L
  private var peakBytes = 0L

  private def stats(g: String): GroupStats = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    synchronized {
      stats(g).jobs += 1
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    synchronized {
      val s = stats(g)
      s.cpuNs += m.executorCpuTime
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      s.taskRunMs += m.executorRunTime
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val i = e.blockUpdatedInfo
    if (!i.blockId.isRDD) return
    val key = i.blockManagerId.executorId + "/" + i.blockId.name
    val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
    synchronized {
      cachedBytes += size - blocks.getOrElse(key, 0L)
      if (size == 0L) blocks.remove(key) else blocks.put(key, size)
      peakBytes = math.max(peakBytes, cachedBytes)
    }
  }

  /** Sum of the stats of every group whose name satisfies `p`. */
  def collect(p: String => Boolean): GroupStats = synchronized {
    val out = new GroupStats
    groups.foreach { case (g, s) => if (p(g)) out.add(s) }
    out
  }

  def cached: Long = synchronized(cachedBytes)

  /** Starts a new peak window at the current cached level. */
  def resetPeak(): Unit = synchronized { peakBytes = cachedBytes }
  def peak: Long = synchronized(peakBytes)
}

/** One traced interval: a layer call inside a timed operation. */
final case class Span(
    id: Int, name: String, parent: Int, startNs: Long, endNs: Long,
    workload: String, runId: String, op: Int) {
  def seconds: Double = (endNs - startNs) / 1e9
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
    }

  /** The highest percentile that still has at least `beyond` samples above
    * it, as (percentile, value); None when there are too few samples. */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Double, Double)] = {
    val s = xs.sorted
    val r = s.length - beyond
    if (r < 1) None else Some((100.0 * r / s.length, s(r - 1)))
  }
}
