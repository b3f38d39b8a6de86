package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.er.Mentions
import graft.eval.{CaseLogic, Evaluation, OracleLinker}
import graft.eval.CaseModel._
import graft.kb.KbBuild
import graft.linker.BaselineLinker
import graft.model.{Mention, Page}
import graft.synth.Synth
import graft.text.Extract

/** ELEVANT's evaluation semantics over seeded pages: extraction →
  * mentions → link frequencies / most-popular candidates → baseline
  * linker → evaluation docs → cases → counters. Per-document work with no
  * pair explosion, so scoring and CC are bypassed. */
object ElevantEval {

  def pages(h: Harness): Long = math.max(100L, (12000 * h.args.scale).toLong)

  /** Evaluation docs from the gold hyperlinks, assembled as
    * `EvalQueries.benchmarkDocs` does, over the given inputs. */
  def benchmarkDocs(pages: Dataset[Page], mentions: Dataset[Mention]): Dataset[EvalDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val docsNoText = mentions
      .groupByKey(_.url)
      .mapGroups { (url, it) =>
        val ms = it.toSeq.sortBy(m => (m.begin, m.end))
        val labels = ms.zipWithIndex.map { case (m, i) =>
          val entNum = m.gold_entity.stripPrefix("E").toIntOption.getOrElse(0)
          GtLabel(i, m.begin, m.end, m.gold_entity, Synth.canonicalName(entNum),
            None, Nil, optionalFlag = false, Nil, None, desc = false)
        }
        EvalDoc(url, "", 0, Int.MaxValue, labels, Nil,
          hyperlinks = ms.map(m => graft.model.Span(m.begin, m.end)))
      }
    docsNoText
      .joinWith(pages, docsNoText("url") === pages("url"))
      .map { case (doc, page) =>
        doc.copy(text = page.text, evalBegin = 0, evalEnd = page.text.length)
      }
  }

  /** Evaluation docs carrying the baseline linker's predictions, as
    * `EvalQueries.baselineDocsPlan` assembles them. */
  def baselineDocs(pages: Dataset[Page], mentions: Dataset[Mention], linked: DataFrame): Dataset[EvalDoc] = {
    val spark = pages.sparkSession
    import spark.implicits._
    val predsByUrl: Dataset[(String, Seq[PredSpan])] = linked
      .select(col("url"), col("begin"), col("end"), col("entity_id"), col("candidates"))
      .as[(String, Int, Int, String, Seq[String])]
      .groupByKey(_._1)
      .mapGroups { (url, it) =>
        url -> it.map(p => PredSpan(p._2, p._3, p._4, p._5, "Baseline")).toSeq
      }
    val bench = benchmarkDocs(pages, mentions)
    bench
      .joinWith(predsByUrl, bench("url") === predsByUrl("_1"), "left")
      .map { case (doc, preds) =>
        doc.copy(predictions = Option(preds).map(_._2).getOrElse(Nil))
      }
  }

  private def extract(spark: SparkSession, pages: Dataset[Page]): Dataset[(String, graft.model.Extracted)] = {
    import spark.implicits._
    pages.map(p => (p.url, Extract.processExtractorText(new String(p.html, StandardCharsets.UTF_8))))
  }

  private final case class Out(counts: Array[Row], errors: Array[Row])

  /** The eval chain with the persist points of the catalog's session memos
    * (extraction, mentions, cases). */
  private def plainPass(h: Harness, dir: String): Out = {
    val spark = h.spark
    import spark.implicits._
    val pages = spark.read.parquet(dir).as[Page]
    val extracted = extract(spark, pages).persist(StorageLevel.MEMORY_AND_DISK)
    val mentions = Mentions.fromExtracted(extracted).persist(StorageLevel.MEMORY_AND_DISK)
    val mp = KbBuild.mostPopularCandidates(KbBuild.linkFrequencies(pages))
    val linked = BaselineLinker.linkMostPopular(mentions, mp)
    val cases = Evaluation.cases(baselineDocs(pages, mentions, linked), EntityMeta.empty)
      .persist(StorageLevel.MEMORY_AND_DISK)
    Out(Evaluation.counts(cases, EntityMeta.empty).collect(), Evaluation.errorCounts(cases).collect())
  }

  private def tracedPass(h: Harness, dir: String): Out = {
    val spark = h.spark
    import spark.implicits._
    val pages = spark.read.parquet(dir).as[Page]
    val extracted = h.layer("text.extract")(Common.materialise(extract(spark, pages)))
    val mentions = h.layer("er.mentions")(Common.materialise(Mentions.fromExtracted(extracted)))
    val mp = h.layer("kb.link_freq") {
      Common.materialise(KbBuild.mostPopularCandidates(KbBuild.linkFrequencies(pages)))
    }
    val linked = h.layer("linker.baseline")(Common.materialise(BaselineLinker.linkMostPopular(mentions, mp)))
    val docs = h.layer("eval.assemble")(Common.materialise(baselineDocs(pages, mentions, linked)))
    val cases = h.layer("eval.cases")(Common.materialise(Evaluation.cases(docs, EntityMeta.empty)))
    h.layer("eval.counts") {
      Out(Evaluation.counts(cases, EntityMeta.empty).collect(), Evaluation.errorCounts(cases).collect())
    }
  }

  /** (mode, category) → (tp, fp, fn) */
  private def table(rows: Array[Row]): Map[(String, String), (Long, Long, Long)] =
    rows.map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

  /** (labels, oracle identity holds): the ground-truth label count, and
    * whether the oracle linker's counts on the same docs are fp = fn = 0. */
  private def oracleCheck(h: Harness, dir: String): (Long, Boolean) = h.check {
    val spark = h.spark
    import spark.implicits._
    val pg = spark.read.parquet(dir).as[Page]
    val ms = Mentions.fromPages(pg).persist(StorageLevel.MEMORY_AND_DISK)
    val nl = ms.count()
    // the oracle linker's identity: every label a TP, no FP, no FN
    val oracleDocs = benchmarkDocs(pg, ms).map(d => d.copy(predictions = OracleLinker.predictions(d.labels)))
    val t = table(Evaluation.counts(Evaluation.cases(oracleDocs, EntityMeta.empty), EntityMeta.empty).collect())
    ms.unpersist()
    (nl, CaseLogic.Modes.forall(m => t.get((m, "all")).contains((nl, 0L, 0L))))
  }

  /** One timed pass and its check. `same` records the result digest and
    * says whether it equals the first pass's. */
  private def pass(h: Harness, dir: String, oracle: (Long, Boolean), traced: Boolean, part: String)(
      same: String => Boolean): Unit = {
    val (nLabels, oracleOk) = oracle
    val (out, s) = h.op(traced, part)(if (traced) tracedPass(h, dir) else plainPass(h, dir))
    h.spark.catalog.clearCache()
    val t0 = table(out.counts)
    val t = if (!h.args.corrupt) t0 else t0.map {
      case (k @ (_, "all"), (tp, fp, fn)) => k -> ((tp + 1, fp, fn))
      case kv => kv
    }
    val sums = CaseLogic.Modes.map(m => t.get((m, "all")).map { case (tp, _, fn) => tp + fn }.getOrElse(-1L))
    val ok = sums.forall(_ == nLabels) && oracleOk
    if (part == h.args.workload) {
      val all = t.getOrElse((CaseLogic.Ignored, "all"), (0L, 0L, 0L))
      h.extra("micro_f1") = (Common.f1(all._1, all._2, all._3), "ratio")
    }
    val dg = Common.digest(Common.rowsDigest(out.counts.toSeq), Common.rowsDigest(out.errors.toSeq))
    val sameOk = same(dg)
    h.outcome(ok && sameOk, s"$part op ${s.op}: tp+fn per mode ${sums.mkString(",")} vs $nLabels labels, " +
      s"oracle identity $oracleOk, result digest $dg, same as the first pass: $sameOk")
  }

  def run(h: Harness): Unit = {
    val spark = h.spark
    val n = pages(h)
    val dir = Common.setupRepeated(h, "eval_pages")(d => Synth.pages(spark, n, h.args.seed).write.parquet(d))
    h.info("input_rows") = n.toString
    h.info("input_bytes") = DirBytes.total(dir).toString
    val oracle = oracleCheck(h, dir)
    Common.loop(h, minOps = 3)(traced => pass(h, dir, oracle, traced, "elevant_eval")(h.sameDigest))
  }

  /** The evaluation layers inside another workload's traced run, so they
    * are measured where only that workload is run: untimed input
    * generation, the oracle check, and `passes` traced passes with the same
    * checks. These passes stay out of the host workload's end-to-end
    * metrics. */
  def tracedPhase(h: Harness, passes: Int): Unit = {
    val dir = h.dir("eval_pages")
    Synth.pages(h.spark, pages(h), h.args.seed).write.parquet(dir)
    val oracle = oracleCheck(h, dir)
    val digests = scala.collection.mutable.ArrayBuffer.empty[String]
    (1 to passes).foreach { _ =>
      pass(h, dir, oracle, traced = true, "elevant_eval") { d => digests += d; d == digests.head }
    }
  }
}
