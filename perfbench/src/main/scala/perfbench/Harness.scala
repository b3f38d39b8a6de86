package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

final case class Args(
    workload: String, seed: Long, seconds: Int, trace: Boolean,
    scale: Double, corrupt: Boolean, work: String)

/** One timed operation (a cold pass, or one crawl increment). `part` is
  * the workload it belongs to: the run's own, or the workload of a phase
  * another workload's traced run hosts (`elevant_eval` passes in a traced
  * `er_resolve` run, `maint` increments in a traced `curate` run). */
final case class OpSample(
    op: Int, traced: Boolean, wallS: Double, cpuS: Double, peakMb: Double, part: String)

/** The per-layer metric names, units and directions; BENCHMARK.json's
  * `per_layer` list is this list. */
object Layers {
  val names: Seq[String] = Seq(
    "text.extract", "er.mentions", "er.blocking", "er.scoring", "er.cc", "pipeline.commit",
    "kb.link_freq", "linker.baseline", "eval.assemble", "eval.cases", "eval.counts",
    "curate.gopher", "curate.decontam", "dedup.minhash", "dedup.containment",
    "dedup.survivors", "curate.source_cap", "curate.verdict",
    "streaming.fold_clusters", "streaming.fold_dup_ngrams", "streaming.fold_source_cap",
    "streaming.fold_ivf", "dedup.survivors_incr")
  val skewed: Seq[String] = Seq(
    "er.blocking", "er.scoring", "er.cc", "dedup.minhash", "dedup.survivors", "eval.cases")
  val utilised: Seq[String] = Seq(
    "curate.gopher", "curate.decontam", "dedup.minhash", "dedup.containment",
    "dedup.survivors", "curate.source_cap",
    "streaming.fold_clusters", "streaming.fold_dup_ngrams", "streaming.fold_source_cap",
    "streaming.fold_ivf", "dedup.survivors_incr")
  val written: Seq[String] = Seq(
    "streaming.fold_clusters", "streaming.fold_dup_ngrams", "streaming.fold_source_cap",
    "streaming.fold_ivf", "pipeline.commit")
  val ratios: Seq[(String, String, String)] = Seq(
    ("er.blocking.pair_completeness", "ratio", "higher"),
    ("er.blocking.reduction_ratio", "ratio", "higher"),
    ("er.scoring.match_ratio", "ratio", "higher"),
    ("er.scoring.pairs_per_cpu_s", "1/s", "higher"),
    ("dedup.survivors_incr.changed_frac", "ratio", "lower"))

  /** (name, unit, better) for every per-layer metric, in output order. */
  val spec: Seq[(String, String, String)] =
    names.flatMap(l => Seq(
      (s"$l.wall_s", "s", "lower"), (s"$l.cpu_s", "s", "lower"),
      (s"$l.shuffle_mb", "MB", "lower"), (s"$l.jobs", "count", "lower"))) ++
      skewed.flatMap(l => Seq((s"$l.task_skew", "ratio", "lower"), (s"$l.spill_mb", "MB", "lower"))) ++
      utilised.map(l => (s"$l.core_util", "ratio", "higher")) ++
      ratios ++
      written.map(l => (s"$l.bytes_written", "bytes", "lower")) ++
      Seq(("unattributed_s", "s", "lower"), ("trace_overhead_frac", "ratio", "lower"))
}

/** Run context shared by the workloads: the session, the listener, the
  * timed-operation and layer-span helpers, and the collected samples. */
final class Harness(
    val spark: SparkSession,
    val args: Args,
    val listener: BenchListener,
    val cores: Int,
    val sessionS: Double) {

  val sc = spark.sparkContext
  val runId: String = f"${args.workload}-${args.seed}-${System.currentTimeMillis()}%x"

  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.ArrayBuffer.empty[OpSample]
  val setupSamples = mutable.ArrayBuffer.empty[Double]
  /** One-time set-up seconds added to the median of `setupSamples`. */
  var setupOnceS = 0.0
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0
  val digests = mutable.ArrayBuffer.empty[String]
  /** Workload-specific end-to-end metrics for the report line. */
  val extra = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, String]

  private val layerWall = mutable.HashMap.empty[(Int, String), Double]
  private val layerBytes = mutable.HashMap.empty[(Int, String), Long]
  private val ratioSamples = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var opId = -1
  private var tracing = false
  private var opSpanId = -1
  private var opPart = args.workload

  private def opGroup(op: Int) = s"op$op"
  private def drain(): Unit = org.apache.spark.BenchBridge.drainListenerBus(sc)

  def dir(name: String): String = new File(args.work, name).getAbsolutePath

  /** Runs one timed operation under its own job group. A traced op records
    * a span per [[layer]] call inside it. */
  def op[T](traced: Boolean, part: String = args.workload)(body: => T): (T, OpSample) = {
    opId += 1
    tracing = traced
    System.gc()
    drain()
    listener.resetPeak()
    val base = listener.cached
    opSpanId = spans.length
    opPart = part
    sc.setJobGroup(opGroup(opId), s"op $opId", interruptOnCancel = false)
    val t0 = System.nanoTime()
    val r = try body finally sc.clearJobGroup()
    val t1 = System.nanoTime()
    drain()
    tracing = false
    val g = opGroup(opId)
    val st = listener.collect(n => n == g || n.startsWith(g + "|"))
    if (traced) spans += Span(opSpanId, "op", -1, t0, t1, part, runId, opId)
    val s = OpSample(opId, traced, (t1 - t0) / 1e9, st.cpuS,
      math.max(0L, listener.peak - base) / 1048576.0, part)
    ops += s
    (r, s)
  }

  /** One layer call inside a traced op: its own job group and span. */
  def layer[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      require(Layers.names.contains(name), s"unknown layer $name")
      sc.setJobGroup(s"${opGroup(opId)}|$name", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        spans += Span(spans.length + 1, name, opSpanId, t0, t1, opPart, runId, opId)
        layerWall((opId, name)) = layerWall.getOrElse((opId, name), 0.0) + (t1 - t0) / 1e9
        sc.setJobGroup(opGroup(opId), s"op $opId", interruptOnCancel = false)
      }
    }

  def layerStats(op: Int, l: String): GroupStats = listener.collect(_ == s"${opGroup(op)}|$l")

  def addBytes(layerName: String, bytes: Long): Unit =
    if (tracing) layerBytes((opId, layerName)) = layerBytes.getOrElse((opId, layerName), 0L) + bytes

  def ratio(name: String, v: Double): Unit =
    ratioSamples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  /** Output checks run outside the timed region, under their own group. */
  def check[T](body: => T): T = {
    sc.setJobGroup("check", "check", interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  def timeSetup[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupSamples += (System.nanoTime() - t0) / 1e9
    r
  }

  def setupOnce[T](body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    setupOnceS += (System.nanoTime() - t0) / 1e9
    r
  }

  /** Records an operation's result digest. False when it differs from the
    * first operation's: every pass of a workload reads the same input, so a
    * traced pass must reproduce the plain pass's result. */
  def sameDigest(d: String): Boolean = {
    digests += d
    d == digests.head
  }

  /** Records the outcome of one attempted operation. */
  def outcome(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what }
  }

  def setupS: Double = sessionS + Stats.median(setupSamples.toSeq) + setupOnceS
  /** The first, JIT-cold operation. */
  def coldOp: Option[OpSample] = ops.headOption
  private def own(o: OpSample) = o.part == args.workload
  /** Plain operations after the cold one: the end-to-end samples. */
  def plainOps: Seq[OpSample] = ops.drop(1).filter(o => !o.traced && own(o)).toSeq
  def tracedOps: Seq[OpSample] = ops.filter(o => o.traced && own(o)).toSeq

  /** Every per-layer metric: per traced op that called the layer, then the
    * median over those ops. A layer the run never calls reads 0. */
  def layerMetrics(): Seq[(String, Double, String)] = {
    val traced = ops.filter(_.traced).toSeq
    val st = traced.map { o =>
      o.op -> Layers.names.map(l => l -> listener.collect(_ == s"${opGroup(o.op)}|$l")).toMap
    }.toMap
    def wall(o: OpSample, l: String) = layerWall.getOrElse((o.op, l), 0.0)
    // a layer the run's own operations call is measured on those alone;
    // otherwise on the operations of the phase hosted in the traced run
    def med(l: String)(f: OpSample => Double): Double = {
      val callers = traced.filter(o => layerWall.contains((o.op, l)))
      Stats.median((if (callers.exists(own)) callers.filter(own) else callers).map(f))
    }
    val values = mutable.LinkedHashMap.empty[String, Double]
    Layers.names.foreach { l =>
      values(s"$l.wall_s") = med(l)(wall(_, l))
      values(s"$l.cpu_s") = med(l)(o => st(o.op)(l).cpuS)
      values(s"$l.shuffle_mb") = med(l)(o => st(o.op)(l).shuffleMb)
      values(s"$l.jobs") = med(l)(o => st(o.op)(l).jobs.toDouble)
    }
    Layers.skewed.foreach { l =>
      values(s"$l.task_skew") = med(l)(o => st(o.op)(l).taskSkew)
      values(s"$l.spill_mb") = med(l)(o => st(o.op)(l).spillMb)
    }
    Layers.utilised.foreach { l =>
      values(s"$l.core_util") = med(l) { o =>
        val w = wall(o, l)
        if (w <= 0) 0.0 else st(o.op)(l).cpuS / (w * cores)
      }
    }
    Layers.ratios.foreach { case (n, _, _) =>
      values(n) = Stats.median(ratioSamples.getOrElse(n, mutable.ArrayBuffer.empty).toSeq)
    }
    Layers.written.foreach { l =>
      values(s"$l.bytes_written") = med(l)(o => layerBytes.getOrElse((o.op, l), 0L).toDouble)
    }
    values("unattributed_s") = Stats.median(tracedOps.map(o => o.wallS - Layers.names.map(wall(o, _)).sum))
    values("trace_overhead_frac") = traceOverhead.getOrElse(0.0)
    Layers.spec.map { case (n, unit, _) => (n, values(n), unit) }
  }

  def traceOverhead: Option[Double] = {
    val p = Stats.median(plainOps.map(_.wallS))
    val t = Stats.median(tracedOps.map(_.wallS))
    if (plainOps.isEmpty || tracedOps.isEmpty || p <= 0) None else Some(t / p - 1.0)
  }
}

/** Bytes of the regular files under a directory, for state-at-rest
  * accounting by listing before and after a write. */
object DirBytes {
  type Listing = Map[String, (Long, Long)]

  def list(root: String): Listing = {
    val out = Map.newBuilder[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) out += f.getPath -> ((f.length(), f.lastModified()))
    walk(new File(root))
    out.result()
  }

  def total(root: String): Long = list(root).valuesIterator.map(_._1).sum

  /** Bytes of files that are new or changed between two listings. */
  def written(before: Listing, after: Listing): Long =
    after.iterator.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum

  /** Runs `body` and returns the bytes it wrote under `root`. */
  def around[T](root: String)(body: => T): (T, Long) = {
    val b = list(root)
    val r = body
    (r, written(b, list(root)))
  }
}
