package graft.pipeline

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.state.Commit

/** Checkpoint-resumable stage orchestration with per-partition lineage +
  * metrics (BASELINE.json north_rule).
  *
  * Each stage materializes to `<root>/<stage>/data` (Parquet) plus a
  * `manifest.json` published LAST through [[graft.state.Commit]]: the
  * manifest is the commit record — a stage directory without one (or
  * with a corrupt one) is garbage from a killed run and is recomputed.
  * `root` may live on any Hadoop file system. This emulates the Iceberg
  * snapshot+manifest layout (no Iceberg runtime jar ships in this
  * sandbox — SURVEY §4.3); the directory naming stays swappable for a real
  * catalog.
  *
  * Manifest contents: stage name, row count, partition count, per-partition
  * row counts (the partition lineage), upstream stage names, wall-clock,
  * and a fingerprint of the input manifests so a changed upstream
  * invalidates downstream snapshots.
  */
object Pipeline {

  final case class StageResult(name: String, df: DataFrame, fromSnapshot: Boolean)

  private def esc(s: String): String = graft.util.Json.esc(s)

  def manifestPath(root: String, stage: String) = s"$root/$stage/manifest.json"
  def dataPath(root: String, stage: String) = s"$root/$stage/data"

  /** The stage's committed manifest; None when it is absent or fails its
    * checksum — either way the stage is uncommitted. */
  private def readManifest(fs: FileSystem, root: String, stage: String): Option[String] =
    try Commit.read(fs, new Path(manifestPath(root, stage)))
    catch { case _: ChecksumException => None }

  private def fingerprint(manifest: Option[String]): String =
    manifest.fold("absent")(m => java.lang.Long.toHexString(
      m.getBytes(StandardCharsets.UTF_8)
        .foldLeft(0xCBF29CE484222325L)((h, b) => (h ^ (b & 0xFF)) * 0x100000001B3L)))

  /** Run (or resume) one stage: if a committed snapshot exists whose
    * recorded upstream fingerprints still match, read it back; otherwise
    * drop the stale manifest, compute, write data, then publish the
    * manifest. */
  def stage(
      spark: SparkSession,
      root: String,
      name: String,
      upstream: Seq[String] = Nil)(compute: => DataFrame): StageResult = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mPath = new Path(manifestPath(root, name))
    val dPath = dataPath(root, name)
    val upstreamJson = upstream
      .map(u => s""""${esc(u)}":"${fingerprint(readManifest(fs, root, u))}"""")
      .mkString("{", ",", "}")

    readManifest(fs, root, name) match {
      case Some(m) if m.contains(s""""upstream":$upstreamJson""") =>
        return StageResult(name, spark.read.parquet(dPath), fromSnapshot = true)
      case _ => fs.delete(mPath, false) // stale or corrupt: uncommitted either way
    }

    val t0 = System.nanoTime()
    val df = compute
    df.write.mode("overwrite").parquet(dPath)
    val written = spark.read.parquet(dPath)
    // per-partition lineage: row count per output file/partition
    val perPart = written
      .groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("rows"))
      .orderBy(col("pid"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
    val sec = (System.nanoTime() - t0) / 1e9
    val partitionRows =
      perPart.map { case (pid, n) => s"""{"pid":$pid,"rows":$n}""" }.mkString(",")
    val manifest =
      s"""{"stage":"${esc(name)}","rows":${perPart.map(_._2).sum},""" +
        s""""partitions":${perPart.length},"partition_rows":[$partitionRows],""" +
        f""""wall_sec":$sec%.3f,"upstream":$upstreamJson}"""
    Commit.publish(fs, mPath, manifest)
    StageResult(name, written, fromSnapshot = false)
  }
}
