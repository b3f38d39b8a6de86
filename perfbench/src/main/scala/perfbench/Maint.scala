package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.curate.{Decontam, SourceCap}
import graft.dedup.Dedup
import graft.er.{Blocking, Clustering, Mentions, Scoring}
import graft.sim.Ann
import graft.streaming.Streaming
import graft.synth.Synth

/** Writes beside reads: standing state bootstrapped from 3/4 of a seeded
  * corpus (match edges from seeded pages, seeded documents, seeded
  * vectors), then crawl increments, each folded into the four streaming
  * sinks with state at rest, plus the containment-aware survivor fold
  * against the standing index. */
object Maint {

  def pages(h: Harness): Long = math.max(60L, (150 * h.args.scale).toLong)
  def docs(h: Harness): Long = math.max(400L, (1500 * h.args.scale).toLong)
  def vecs(h: Harness): Long = math.max(800L, (5000 * h.args.scale).toLong)

  private val NGram = 8
  private val CapN = 8

  private final case class Inputs(edges: String, docs: String, vecs: String) {
    def slice(path: String, k: Int)(implicit h: Harness): DataFrame =
      h.spark.read.parquet(path).where(col("part") === k).drop("part")
    def sliceBytes(k: Int): Long =
      Seq(edges, docs, vecs).map(p => DirBytes.total(s"$p/part=$k")).sum
  }

  private def inputs(dir: String) = Inputs(s"$dir/edges", s"$dir/docs", s"$dir/vecs")

  private def generate(h: Harness, dir: String): Unit = {
    val spark = h.spark
    val seed = h.args.seed
    val in = inputs(dir)
    val ms = Mentions.fromPages(Synth.pages(spark, pages(h), seed))
    Scoring.scoreFused(Blocking.keyedWithAttrs(ms, Blocking.Config()))
      .where(col("is_match")).select(col("a"), col("b")).distinct()
      .withColumn("part", Gen.slot(seed, col("a"), col("b")))
      .write.partitionBy("part").parquet(in.edges)
    Gen.documents(spark, docs(h), seed).withColumn("part", Gen.slot(seed, col("doc_id")))
      .write.partitionBy("part").parquet(in.docs)
    Gen.vectors(spark, vecs(h), seed).withColumn("part", Gen.slot(seed, col("vec_id")))
      .write.partitionBy("part").parquet(in.vecs)
  }

  /** The four sinks' state directories and the standing survivor index,
    * bootstrapped from slice 0. */
  private final class Standing(h: Harness, val in: Inputs) {
    private implicit val hh: Harness = h
    val cc = h.dir("state_clusters")
    val dng = h.dir("state_dup_ngrams")
    val cap = h.dir("state_source_cap")
    val ivf = h.dir("state_ivf")
    val fidx: Dedup.FullSurvivorIndex = {
      val d0 = in.slice(in.docs, 0)
      Streaming.foldClusterBatch(in.slice(in.edges, 0), cc, 0L)
      Streaming.foldDupNgramBatch(d0.select("doc_id", "text"), NGram, dng, 0L)
      Streaming.foldSourceCapBatch(d0.select("doc_id", "source"), CapN, cap, 0L)
      Streaming.foldIvfBatch(in.slice(in.vecs, 0), ivf, 0L)
      val idx = Dedup.buildFullSurvivorIndex(d0, "doc_id", "text",
        shingleK = 5, nHashes = 64, rowsPerBand = 8, minJaccard = 0.35,
        cache = _.persist(StorageLevel.MEMORY_AND_DISK))
      idx.frames.foreach(_.count())
      idx
    }
    val folded = scala.collection.mutable.ArrayBuffer.empty[Int]
    var written = 0L

    private def fold(layer: String, state: String)(body: => Unit): Unit = {
      val (_, b) = DirBytes.around(state)(h.layer(layer)(body))
      h.addBytes(layer, b)
      written += b
    }

    /** One timed crawl increment: the next slice into every sink. */
    def increment(traced: Boolean, part: String): Unit = {
      val k = folded.length + 1
      val edges = in.slice(in.edges, k)
      val dk = in.slice(in.docs, k)
      val (delta, _) = h.op(traced, part) {
        fold("streaming.fold_clusters", cc)(Streaming.foldClusterBatch(edges, cc, k.toLong))
        fold("streaming.fold_dup_ngrams", dng)(
          Streaming.foldDupNgramBatch(dk.select("doc_id", "text"), NGram, dng, k.toLong))
        fold("streaming.fold_source_cap", cap)(
          Streaming.foldSourceCapBatch(dk.select("doc_id", "source"), CapN, cap, k.toLong))
        fold("streaming.fold_ivf", ivf)(Streaming.foldIvfBatch(in.slice(in.vecs, k), ivf, k.toLong))
        h.layer("dedup.survivors_incr") {
          val d = Dedup.survivorsFullIncrementalDelta(fidx, dk, "doc_id", "text")
          val r = d.changed.agg(count(lit(1)),
            coalesce(sum(pmod(xxhash64(d.changed.columns.map(col): _*), lit(1000003L))), lit(0L))).head()
          (d, r.getLong(0), r.getLong(1))
        }
      }
      folded += k
      if (part == h.args.workload) h.digests += Common.digest(k, delta._2, delta._3)
      if (traced) h.check {
        val full = delta._1.full.count()
        if (full > 0) h.ratio("dedup.survivors_incr.changed_frac", delta._2.toDouble / full)
      }
    }

    /** Checks the sinks against the batch answer; one outcome per increment. */
    def check(): Unit = {
      val (ok, why) = h.check(verify(h, in, folded.toSeq, cc, dng, cap, ivf))
      folded.foreach(k => h.outcome(ok, s"increment $k: $why"))
    }
  }

  def run(h0: Harness): Unit = {
    implicit val h: Harness = h0
    val spark = h.spark
    val in = inputs(Common.setupRepeated(h, "maint_in")(d => generate(h, d)))
    h.info("input_rows") = Seq(in.edges, in.docs, in.vecs).map(spark.read.parquet(_).count()).sum.toString
    h.info("input_bytes") = Seq(in.edges, in.docs, in.vecs).map(DirBytes.total).sum.toString
    val st = h.setupOnce(new Standing(h, in))
    Common.loop(h, minOps = 4, maxOps = Gen.Increments)(st.increment(_, "maint"))
    st.check()
    val inBytes = st.folded.map(in.sliceBytes).sum
    if (inBytes > 0) h.extra("state_write_amp") = (st.written.toDouble / inBytes, "ratio")
  }

  /** The maintenance layers inside another workload's traced run, so they
    * are measured where only that workload is run: untimed set-up and
    * bootstrap, `increments` traced increments, and the same sink check.
    * These increments stay out of the host workload's end-to-end metrics. */
  def tracedPhase(h: Harness, increments: Int): Unit = {
    val dir = h.dir("maint_in")
    generate(h, dir)
    val st = new Standing(h, inputs(dir))
    (1 to increments).foreach(_ => st.increment(traced = true, "maint"))
    st.check()
  }

  /** Every sink's state after the last increment equals the batch answer
    * over everything folded. */
  private def verify(h: Harness, in: Inputs, folded: Seq[Int],
      cc: String, dng: String, cap: String, ivf: String): (Boolean, String) = {
    implicit val hh: Harness = h
    val spark = h.spark
    val parts = 0 +: folded
    def upTo(path: String) = spark.read.parquet(path).where(col("part").isin(parts: _*)).drop("part")
    def corrupt(df: DataFrame, key: String) =
      if (h.args.corrupt) df.where(pmod(xxhash64(col(key)), lit(97L)) =!= 0L) else df

    val allEdges = upTo(in.edges)
    val ids = allEdges.select(explode(array(col("a"), col("b"))).as("id")).distinct()
    val wantC = Clustering.assign(spark, ids, allEdges)
    val gotC = corrupt(Streaming.currentClusters(spark, cc).select("id", "cluster"), "id")
    val diffC = gotC.unionAll(wantC.select("id", "cluster")).groupBy("id", "cluster").count()
      .where(col("count") =!= 2).count()

    val allDocs = upTo(in.docs)
    val wantD = Decontam.dupNgramStats(allDocs, "doc_id", "text", n = NGram)
      .select("doc_id", "n_grams", "n_dup_grams")
    val gotD = Streaming.currentDupNgrams(spark, dng).select("doc_id", "n_grams", "n_dup_grams")
    val diffD = gotD.unionAll(wantD).groupBy("doc_id", "n_grams", "n_dup_grams").count()
      .where(col("count") =!= 2).count()

    val gotK = Streaming.currentSourceCap(spark, cap).select("id").collect().map(_.getLong(0)).toSet
    val wantK = SourceCap.sourceCap(allDocs.select("doc_id", "source"), CapN)
      .where(col("kept")).select("doc_id").collect().map(_.getLong(0)).toSet

    val queries = in.slice(in.vecs, 0).orderBy("vec_id").limit(20)
    def ranks(df: DataFrame) = df.select("query_id", "rank", "nbr_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val gotV = ranks(Ann.ivfSearchIndex(spark, Streaming.currentIvfIndex(spark, ivf).get,
      queries, "vec_id", "embedding", k = 5, nProbe = 24))
    val batchIdx = folded.foldLeft(Ann.buildIvfIndex(spark, in.slice(in.vecs, 0), "vec_id", "embedding")) {
      (ix, k) => Ann.ivfAppend(spark, ix, in.slice(in.vecs, k), "vec_id", "embedding")
    }
    val wantV = ranks(Ann.ivfSearchIndex(spark, batchIdx, queries, "vec_id", "embedding", k = 5, nProbe = 24))
    Dedup.releaseSignatures()

    val ok = diffC == 0 && diffD == 0 && gotK == wantK && gotV == wantV && gotV.nonEmpty
    (ok, s"clusters diff $diffC, dup-ngram diff $diffD, source-cap ${gotK.size}/${wantK.size} " +
      s"equal=${gotK == wantK}, ivf ${gotV.size}/${wantV.size} equal=${gotV == wantV}")
  }
}
