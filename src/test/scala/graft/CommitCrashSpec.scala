package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.er.Clustering
import graft.pipeline.Pipeline
import graft.streaming.Streaming

/** Crash consistency of every commit of state at rest: the four streaming
  * sinks, a pipeline stage and a checkpointed CC run. Each commit is
  * crashed at every file-system mutation in turn (FaultyFs); after every
  * crash a fresh reader must see exactly the previous or the next state,
  * and re-running the same step must reach the next state. */
class CommitCrashSpec extends AnyFunSuite {
  lazy val spark = SparkSessions.spark

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  private def local(dir: String): File = new File(dir.stripPrefix("faulty://"))

  /** A fresh `faulty://` copy of a template state dir. */
  private def copyOf(template: File): String = {
    val d = Files.createTempDirectory("crash_copy").toFile
    FileUtils.copyDirectory(template, d)
    "faulty://" + d
  }

  /** Crash `step` on a copy of `template` at its k-th mutation, for
    * k = 1, 2, ... until it runs through; returns the number of crash
    * points. The state `read` sees after a crash must be the state before
    * the step, the state after it, or one that `alsoVisible` admits. */
  private def everyCrash[S](template: File, step: String => Unit, read: String => S,
      alsoVisible: S => Boolean = (_: S) => false): Int = {
    def fresh[T](f: String => T): T = {
      val dir = copyOf(template)
      try f(dir) finally FileUtils.deleteDirectory(local(dir))
    }
    val before = fresh(read)
    val after = fresh { d => step(d); read(d) }
    assert(before != after, "the step under test changed nothing")
    spark.sparkContext.setLogLevel("OFF") // every crash logs an aborted Spark job
    try {
      var k = 0
      var crashed = true
      while (crashed) {
        k += 1
        fresh { dir =>
          FaultyFs.armCrash(k)
          val err = try { step(dir); None } catch { case e: Exception => Some(e) }
          crashed = FaultyFs.disarm()
          if (!crashed) err.foreach(e => throw e)
          else {
            val seen = read(dir)
            assert(seen == before || seen == after || alsoVisible(seen),
              s"a crash at mutation $k left a state that is neither before nor after: $seen")
            step(dir)
          }
          assert(read(dir) == after, s"re-running the step after a crash at mutation $k")
        }
      }
      k - 1
    } finally spark.sparkContext.setLogLevel("WARN")
  }

  /** A template state dir built by `build` on the faulty file system. */
  private def template(build: String => Unit): File = {
    spark.sparkContext.hadoopConfiguration.set("fs.faulty.impl", classOf[FaultyFs].getName)
    val d = Files.createTempDirectory("crash_template").toFile
    build("faulty://" + d)
    d
  }

  /** The latest committed version of a streaming state dir with its parts. */
  private def sinkState(parts: String*)(dir: String): Option[(Long, Seq[Seq[String]])] = {
    val vs = new Streaming.VersionedState(spark, dir)
    vs.readLatest().map(v => v -> parts.map(p => rows(vs.readPart(v, p))))
  }

  test("every streaming sink commit survives a crash at any mutation") {
    import spark.implicits._
    spark.conf.set("spark.graft.streaming.stateRanges", "2")
    try {
      val edges = Seq(
        Seq((1L, 2L), (3L, 4L), (10L, 11L), (20L, 21L)), Seq((2L, 3L)), Seq((4L, 10L), (30L, 31L)))
      def docs(w: Int) = (0 until 4).map(i => (w * 10L + i,
        (0 until 6).map(t => s"t${(w + i + t) % 5}").mkString(" "), s"s${i % 2}"))
        .toDF("doc_id", "text", "source")
      def vecs(w: Int) = (0 until 12).map(i => (w * 100L + i,
        Seq.tabulate(4)(d => ((w * 12 + i) * (d + 3) % 17).toDouble))).toDF("vec_id", "embedding")
      val sinks = Seq[(String, (String, Long) => Unit, String => Any)](
        ("clusters", (dir, b) => Streaming.foldClusterBatch(edges(b.toInt).toDF("a", "b"), dir, b),
          sinkState("assign")),
        ("dup-ngrams", (dir, b) => Streaming.foldDupNgramBatch(
          docs(b.toInt).select("doc_id", "text"), 3, dir, b),
          sinkState("grams", "freq", "stats", "meta")),
        ("source cap", (dir, b) => Streaming.foldSourceCapBatch(
          docs(b.toInt).select("doc_id", "source"), 2, dir, b),
          sinkState("kept")),
        ("ivf", (dir, b) => Streaming.foldIvfBatch(vecs(b.toInt), dir, b),
          sinkState("assigned", "centroids")))
      sinks.foreach { case (name, fold, read) =>
        // two committed folds, so the crashed third one also prunes
        val t = template(dir => Seq(0L, 1L).foreach(fold(dir, _)))
        val points = everyCrash(t, fold(_, 2L), read)
        info(s"$name: $points crash points")
        assert(points > 0)
      }
    } finally spark.conf.unset("spark.graft.streaming.stateRanges")
  }

  test("a pipeline stage commit survives a crash at any mutation") {
    // stage_b is committed against a stage_a that has since been
    // republished, so its commit starts by invalidating the stale manifest
    val t = template { root =>
      Pipeline.stage(spark, root, "stage_a")(spark.range(0, 1000).toDF("id"))
      Pipeline.stage(spark, root, "stage_b", Seq("stage_a"))(spark.range(0, 3).toDF("id"))
      assert(local(Pipeline.manifestPath(root, "stage_a")).delete())
      Pipeline.stage(spark, root, "stage_a")(spark.range(0, 1001).toDF("id"))
    }
    final class Uncommitted extends Exception
    def stageB(root: String)(compute: => DataFrame) =
      Pipeline.stage(spark, root, "stage_b", Seq("stage_a"))(compute)
    def read(root: String): Option[Seq[String]] =
      try Some(rows(stageB(root)(throw new Uncommitted).df))
      catch { case _: Uncommitted => None }
    val points = everyCrash(t, root => stageB(root) {
      spark.read.parquet(Pipeline.dataPath(root, "stage_a")).withColumn("x", col("id") * 2)
    }, read)
    info(s"$points crash points")
    assert(points > 0)
  }

  test("a checkpointed CC run survives a crash at any mutation") {
    // the star loop commits one round per step; within the driver
    // threshold a run would commit round 0 alone and finish by union-find
    spark.conf.set("spark.graft.cc.driverMaxEdges", "0")
    try {
      import spark.implicits._
      val edges = ((0L until 8L).map(i => (i, (i + 3) % 8)) :+ ((100L, 101L))).toDF("a", "b")
      /** The highest round with a manifest: (round, manifest, edge rows). */
      def read(dir: String): Option[(String, String, Seq[String])] =
        Option(local(dir).listFiles()).toSeq.flatten.filter(_.getName.startsWith("cc_"))
          .flatMap(ns => ns.listFiles().filter(r =>
            r.getName.startsWith("round_") && new File(r, "_MANIFEST").exists()))
          .sortBy(_.getName).lastOption.map { r =>
            (r.getName, Files.readString(new File(r, "_MANIFEST").toPath),
              rows(spark.read.parquet(s"$dir/${r.getParentFile.getName}/${r.getName}")))
          }
      // the committed rounds of a clean run, one more round per call
      val ref = Files.createTempDirectory("cc_ref").toString
      val chain = Iterator.from(0).map { i =>
        val run = Clustering.connectedComponentsCheckpointed(spark, edges, ref, maxIter = i)
        (run.converged, read(ref))
      }.takeWhile(!_._1).map(_._2).toSet
      assert(chain.size > 2, s"the graph converged in ${chain.size} rounds")
      val t = template(_ => ())
      val points = everyCrash(t,
        dir => assert(Clustering.connectedComponentsCheckpointed(spark, edges, dir).converged),
        read, chain.contains)
      info(s"$points crash points over ${chain.size + 1} rounds")
      assert(points > 0)
    } finally spark.conf.unset("spark.graft.cc.driverMaxEdges")
  }
}
