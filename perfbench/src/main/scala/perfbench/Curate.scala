package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.curate.{GopherFilter, SourceCap}
import graft.dedup.Dedup
import graft.queries.{Queries, TrainingDataQueries}

/** The 5-stage curation chain (`curatePipelineFull`) over a seeded
  * documents table with planted exact, near and contained copies and the
  * `doc_id % 20 == 7` eval slice. Each pass reads a fresh copy of the
  * table, so the engine's session memos are built inside the timed pass.
  * Exercises the curation and batch dedup layers and no ER layer. */
object Curate {

  def docs(h: Harness): Long = math.max(200L, (2000 * h.args.scale).toLong)

  /** The catalog's curation parameters, as `curatePipelineFull` passes
    * them (the traced pass must reproduce its verdicts exactly). */
  private val ShingleK = 5
  private val NHashes = 64
  private val RowsPerBand = 8
  private val MinJaccard = 0.35
  private val CapN = 8

  val Verdicts = Set("eval", "gopher", "decontam", "dedup", "cap", "keep")

  def run(h: Harness): Unit = {
    val spark = h.spark
    val n = docs(h)
    val input = Common.setupRepeated(h, "curate_docs")(d =>
      Gen.documents(spark, n, h.args.seed).write.parquet(s"$d/documents.parquet"))
    h.info("input_rows") = n.toString
    h.info("input_bytes") = DirBytes.total(input).toString
    Common.loop(h, minOps = 3) { traced =>
      val dir = h.dir(s"curate_pass_${h.ops.length}")
      Common.copyTree(input, dir)
      val (rows0, s) = h.op(traced) {
        if (traced) tracedPass(h, dir)
        else TrainingDataQueries.curatePipelineFull(spark, dir).collect()
      }
      spark.catalog.clearCache()
      Common.deleteTree(dir)
      val rows = if (h.args.corrupt) rows0 :+ rows0.head else rows0
      val ids = rows.map(_.getLong(0))
      val verdicts = rows.map(_.getString(1))
      val hist = verdicts.groupBy(identity).view.mapValues(_.length).toSeq.sorted
      val dg = Common.digest(hist.mkString(","),
        rows.map(r => (r.getLong(0) * 31 + r.getString(1).hashCode) % 1000003L).sum)
      val ok = rows.length == n && ids.distinct.length == n && verdicts.forall(Verdicts.contains)
      val same = h.sameDigest(dg)
      h.outcome(ok && same, s"op ${s.op}: ${rows.length} verdict rows, ${ids.distinct.length} distinct ids, " +
        s"$n docs, verdicts ${hist.mkString(",")}, result digest $dg vs ${h.digests.head}")
    }
    if (h.args.trace) Maint.tracedPhase(h, increments = 2)
  }

  /** `curatePipelineFull`'s composition with an eager boundary after each
    * stage. */
  private def tracedPass(h: Harness, dir: String): Array[Row] = {
    val spark = h.spark
    val dall = spark.read.parquet(s"$dir/documents.parquet")
    val isEval = pmod(col("doc_id"), lit(20L)) === lit(7L)
    val g = h.layer("curate.gopher") {
      GopherFilter.gopherFilter(dall).select(col("doc_id"), col("keep").as("gopher_keep"))
        .localCheckpoint(true)
    }
    val dc = h.layer("curate.decontam") {
      TrainingDataQueries.dcDecontam(spark, dir).select(col("doc_id"), col("contaminated"))
        .localCheckpoint(true)
    }
    val mh = h.layer("dedup.minhash") {
      val p = TrainingDataQueries.ddMinhashPairs(spark, dir); p.count(); p
    }
    val ct = h.layer("dedup.containment") {
      val p = Queries.ddContainmentPairs(spark, dir); p.count(); p
    }
    val s1 = dall.where(!isEval).select("doc_id")
      .join(g, Seq("doc_id")).where(col("gopher_keep"))
      .join(dc, Seq("doc_id")).where(!col("contaminated"))
      .select("doc_id")
    val docs1 = dall.join(s1, Seq("doc_id"), "left_semi")
    val pairs1 = mh
      .join(s1.select(col("doc_id").as("id_a")), Seq("id_a"), "left_semi")
      .join(s1.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
    val cont1 = ct
      .join(s1.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_semi")
      .join(s1.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_semi")
    val surv = h.layer("dedup.survivors") {
      Dedup.survivors(docs1, "doc_id", "text",
        shingleK = ShingleK, nHashes = NHashes, rowsPerBand = RowsPerBand, minJaccard = MinJaccard,
        nearPairs = Some(Dedup.NearPairTable(pairs1,
          ShingleK, NHashes, RowsPerBand, MinJaccard, Dedup.DefaultMaxBucket)),
        containmentPairs = Some(cont1))
        .localCheckpoint(true)
    }
    val s2 = surv.where(col("tier") === "keep").select(col("id").as("doc_id"))
    val cap = h.layer("curate.source_cap") {
      SourceCap.sourceCap(dall.join(s2, Seq("doc_id"), "left_semi"), n = CapN)
        .select(col("doc_id"), col("kept").as("cap_kept"))
        .localCheckpoint(true)
    }
    h.layer("curate.verdict") {
      dall.select("doc_id")
        .join(g, Seq("doc_id"), "left")
        .join(dc, Seq("doc_id"), "left")
        .join(surv.select(col("id").as("doc_id"), (col("tier") === "keep").as("dedup_keep")),
          Seq("doc_id"), "left")
        .join(cap, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(isEval, lit("eval"))
            .when(!coalesce(col("gopher_keep"), lit(false)), lit("gopher"))
            .when(col("contaminated"), lit("decontam"))
            .when(!col("dedup_keep"), lit("dedup"))
            .when(!col("cap_kept"), lit("cap"))
            .otherwise(lit("keep")).as("verdict"))
        .collect()
    }
  }
}
