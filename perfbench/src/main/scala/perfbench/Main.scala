package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, launched by `perfbench/run.py`:
  *   --workload er_resolve|elevant_eval|curate|maint --seed N --seconds S
  *   --trace 0|1 --work DIR [--trace-out FILE] [--scale X] [--corrupt 0|1]
  * Prints a report line with every end-to-end metric that applies to the
  * workload, then the result line (the last line of stdout). Exits 1 when
  * any output check fails. */
object Main {

  val Workloads: Map[String, Harness => Unit] = Map(
    "er_resolve" -> ErResolve.run,
    "elevant_eval" -> ElevantEval.run,
    "curate" -> Curate.run,
    "maint" -> Maint.run)

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)
  private def str(s: String): String = graft.util.Json.esc(s)
  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""${str(n)}":{"value":${num(v)},"unit":"${str(u)}"}""" }
      .mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val args = Args(
      workload = kv.getOrElse("workload", ""),
      seed = kv.getOrElse("seed", "1").toLong,
      seconds = kv.getOrElse("seconds", "10").toInt,
      trace = kv.getOrElse("trace", "0") == "1",
      scale = kv.getOrElse("scale", "1").toDouble,
      corrupt = kv.getOrElse("corrupt", "0") == "1",
      work = new File(kv.getOrElse("work", "perfbench-work")).getAbsolutePath)
    val workload = Workloads.getOrElse(args.workload, {
      System.err.println(s"unknown workload '${args.workload}'; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    new File(args.work).mkdirs()

    val cores = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors()))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.local.dir", new File(args.work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(args.work, "warehouse").getPath)
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val h = new Harness(spark, args, listener, cores, sessionS)

    val crashed = try { workload(h); None } catch {
      case e: Throwable =>
        e.printStackTrace()
        h.outcome(ok = false, s"exception: $e")
        Some(e.toString)
    }

    kv.get("trace-out").filter(_ => args.trace).foreach { path =>
      new File(path).getAbsoluteFile.getParentFile.mkdirs()
      val w = new PrintWriter(path, "UTF-8")
      try w.write(h.spans.map { s =>
        s"""{"id":${s.id},"name":"${str(s.name)}","parent":${s.parent},"start_ns":${s.startNs},""" +
          s""""end_ns":${s.endNs},"workload":"${str(s.workload)}","run_id":"${str(s.runId)}","op":${s.op}}"""
      }.mkString("[\n", ",\n", "\n]\n"))
      finally w.close()
    }

    val plain = h.plainOps
    val wall = Stats.median(plain.map(_.wallS))
    // the metrics BENCHMARK.json gates; wall time is in the report line only
    val endToEnd = Seq(
      ("setup_s", h.setupS, "s"),
      ("cpu_s", Stats.median(plain.map(_.cpuS)), "s"),
      ("peak_cached_mb", Stats.median(plain.map(_.peakMb)), "MB"))
    val failedFrac = if (h.attempted == 0) 1.0 else h.failed.toDouble / h.attempted
    val reportMetrics = endToEnd ++
      Seq(("wall_s", wall, "s")) ++
      h.coldOp.map(o => ("cold_wall_s", o.wallS, "s")).toSeq ++
      Seq(("failed_frac", failedFrac, "ratio")) ++
      h.extra.toSeq.map { case (n, (v, u)) => (n, v, u) } ++
      (if (args.workload == "maint") Seq(("increment_p50_s", wall, "s")) else Nil) ++
      h.traceOverhead.map(v => ("trace_overhead_frac", v, "ratio")).toSeq
    val tail = Stats.tail(plain.map(_.wallS)) match {
      case Some((p, v)) => s"""{"value":${num(v)},"unit":"s","percentile":${num(p)},"count":${plain.size}}"""
      case None => s"""{"value":null,"unit":"s","percentile":null,"count":${plain.size}}"""
    }
    val info = h.info.toSeq.map { case (k, v) => s""""${str(k)}":"${str(v)}"""" }
    println(
      s"""{"report":{"workload":"${args.workload}","seed":${args.seed},"cores":$cores,""" +
        s""""run_id":"${h.runId}","trace":${args.trace},${info.mkString(",")},""" +
        s""""ops":${h.ops.size},"op_wall_s":[${h.ops.map(o => num(o.wallS)).mkString(",")}],""" +
        s""""op_cpu_s":[${h.ops.map(o => num(o.cpuS)).mkString(",")}],""" +
        s""""setup_samples_s":[${h.setupSamples.map(num).mkString(",")}],""" +
        s""""session_s":${num(sessionS)},"setup_once_s":${num(h.setupOnceS)},""" +
        s""""metrics":${metricsJson(reportMetrics)},""" +
        (if (args.workload == "maint") s""""increment_tail_s":$tail,""" else "") +
        s""""digest":"${h.digests.headOption.getOrElse("")}",""" +
        s""""digests":[${h.digests.map(d => "\"" + d + "\"").mkString(",")}],""" +
        s""""failures":[${h.failures.map(f => "\"" + str(f) + "\"").mkString(",")}]}}""")

    val metrics = if (args.trace) h.layerMetrics() else endToEnd
    val correct = h.failed == 0 && crashed.isEmpty
    println(s"""{"correct":$correct,"attempted":${math.max(1, h.attempted)},""" +
      s""""failed":${if (h.attempted == 0) 1 else h.failed},"metrics":${metricsJson(metrics)}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }
}
