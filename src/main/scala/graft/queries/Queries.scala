package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Oracle-checked relational query catalog (SURVEY.md §2 operator classes
  * A/J/T/U re-expressed over the driver's test tables).
  *
  * Conventions for DuckDB parity (driver sorts columns by name and hashes
  * values):
  *   - money aggregates as exact BIGINT cents (sum of doubles is
  *     order-dependent; sums of integers are not);
  *   - every computed column aliased identically here and in the SQL;
  *   - no raw double outputs except where values are integral.
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // Q1 — partial+final hash aggregation (reference analog: link-frequency
  // aggregation, scripts/get_link_frequencies.py → SURVEY A1).
  def q1AggPricing(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("bigint")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("bigint")).as("price_cents"),
        count(lit(1)).as("n"))

  // NOTE (round-2 fix): DuckDB's sum() over integer types returns
  // HUGEINT/DECIMAL(38,0) regardless of the *input* cast, which the driver's
  // value canonicalization renders differently than Spark's BIGINT — so every
  // oracle sum() must be wrapped in an OUTER CAST(... AS BIGINT).
  val q1Sql: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
      |       count(*) AS n
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  // Q2 — multi-way dimension join (reference analog: QID→name/type
  // enrichment joins, SURVEY J7). Small dims are broadcast.
  def q2RegionRevenue(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val n = broadcast(t(spark, dir, "nation"))
    val r = broadcast(t(spark, dir, "region"))
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(
        count(lit(1)).as("n_customers"),
        sum(round(col("c_acctbal") * 100).cast("bigint")).as("acctbal_cents"))
  }

  val q2Sql: String =
    """SELECT r_name, count(*) AS n_customers,
      |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS acctbal_cents
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name""".stripMargin

  // Q3 — top-k per group with explicit total tie-break order (reference
  // analog: candidate argmax with deterministic tie-breaks, SURVEY T1/T2).
  def q3TopCustomers(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_mktsegment"))
      .orderBy(col("c_acctbal").desc, col("c_custkey").asc)
    t(spark, dir, "customer")
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
      .select(col("c_mktsegment"), col("rnk"), col("c_custkey"))
  }

  val q3Sql: String =
    """SELECT c_mktsegment, rnk, c_custkey FROM (
      |  SELECT c_mktsegment, c_custkey,
      |         row_number() OVER (PARTITION BY c_mktsegment
      |                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
      |  FROM customer) WHERE rnk <= 3""".stripMargin

  // Q4 — left-semi join (reference analog: "span in ground_truth_spans").
  def q4OrdersWithItems(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
    val li = t(spark, dir, "lineitem").select(col("l_orderkey"))
    o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"))
  }

  val q4Sql: String =
    """SELECT o_orderstatus, count(*) AS n_orders FROM orders
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)
      |GROUP BY o_orderstatus""".stripMargin

  // Q5 — left-anti join (reference analog: potential-false-detection set
  // minus, case_generator.py:148-153 → SURVEY U2). Filter pushed below the
  // anti-join build side so the result is non-trivial on the test data.
  def q5CustomersNoOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer")
    val o = t(spark, dir, "orders")
      .where(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
  }

  val q5Sql: String =
    """SELECT c_custkey, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')""".stripMargin

  // Q6 — exact distinct entity universe (SURVEY A13).
  def q6DistinctParts(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"))

  val q6Sql: String =
    "SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps FROM lineitem"

  // Q7 — argmin over a window: each user's first event type (reference
  // analog: nearest-preceding-case window logic, SURVEY G5).
  def q7FirstEvent(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    t(spark, dir, "events")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
  }

  val q7Sql: String =
    """SELECT event_type, count(*) AS n_users FROM (
      |  SELECT event_type,
      |         row_number() OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rn
      |  FROM events) WHERE rn = 1 GROUP BY event_type""".stripMargin

  // Q8 — corpus unigram counts (reference: scripts/count_unigrams.py →
  // SURVEY A3). documents.text is single-space separated.
  def q8Unigrams(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"))

  val q8Sql: String =
    """SELECT token, count(*) AS freq FROM (
      |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |WHERE token <> '' GROUP BY token""".stripMargin

  // Q9 — per-document token statistics (reference analog: word-count
  // denominators, evaluator.py:134-148 → SURVEY A11).
  def q9DocTokenStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("bigint").as("n_distinct"))

  val q9Sql: String =
    """SELECT doc_id,
      |       CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |       CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct
      |FROM documents""".stripMargin

  // Q10 — exact dedup assignment by content hash (training-data dedup,
  // exact tier): every hash group with its canonical survivor doc_id — the
  // standard keep-min dedup decision table (non-trivial even when the test
  // corpus has no exact dups; real corpora have many).
  def q10ExactDupDocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(md5(col("text").cast("binary")).as("text_md5"))
      .agg(count(lit(1)).as("dup_count"), min(col("doc_id")).as("keep_doc_id"))

  val q10Sql: String =
    """SELECT md5(text) AS text_md5, count(*) AS dup_count, min(doc_id) AS keep_doc_id
      |FROM documents GROUP BY md5(text)""".stripMargin

  // Q11 — quality scoring counters: stopword and short-token counts
  // (training-data quality tier; reference analog: lowercase word-class
  // counters, evaluator.py:151-158).
  private val StopList = Seq("the", "a", "and", "of", "in", "to", "is", "was")
  def q11QualityCounters(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(filter(split(col("text"), " "),
          x => x.isInCollection(StopList))).cast("bigint").as("n_stop"),
        size(filter(split(col("text"), " "),
          x => length(x) <= 3)).cast("bigint").as("n_short"))

  val q11Sql: String = {
    val inList = StopList.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id,
       |       CAST(len(list_filter(string_split(text, ' '), x -> x IN ($inList))) AS BIGINT) AS n_stop,
       |       CAST(len(list_filter(string_split(text, ' '), x -> length(x) <= 3)) AS BIGINT) AS n_short
       |FROM documents""".stripMargin
  }

  // Q12 — language × source histogram (partition-pruning-shaped scan).
  def q12LangDist(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))

  val q12Sql: String =
    """SELECT lang, source, count(*) AS n_docs,
      |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents GROUP BY lang, source""".stripMargin

  // Q13 — sessionization: 30-minute-gap session counts per user (window +
  // lag; the reference's per-document sequential sweeps are this shape,
  // SURVEY T4/G5).
  def q13Sessions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    t(spark, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn(
        "new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("timestamp").cast("long") -
            col("prev_ts").cast("timestamp").cast("long") > 1800, 1L).otherwise(0L))
      .groupBy(col("user_id"))
      .agg(sum(col("new_session")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  val q13Sql: String =
    """SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions, count(*) AS n_events FROM (
      |  SELECT user_id,
      |         CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM (SELECT user_id, ts,
      |               lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_ts,
      |               event_id
      |        FROM events))
      |GROUP BY user_id""".stripMargin

  // Q14 — daily order rollup with date output.
  def q14OrdersDaily(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .groupBy(to_date(col("o_orderdate")).as("order_day"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("bigint")).as("total_cents"))

  val q14Sql: String =
    """SELECT CAST(o_orderdate AS DATE) AS order_day, count(*) AS n_orders,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders GROUP BY CAST(o_orderdate AS DATE)""".stripMargin

  // Q15 — within-block exact token-Jaccard near-duplicate pairs
  // (training-data dedup, n-gram/token tier), J >= 0.5 on distinct tokens.
  //
  // EXACT PREFIX-FILTER PLAN (AllPairs/PPJoin family — Bayardo et al.,
  // WWW'07; replaces the round-4 all-pairs self-join, the one quadratic
  // plan left in the repo): order every doc's tokens by global
  // (frequency, token) — ANY total order is lossless, rare-first
  // minimizes candidates — and explode only the first
  // n - ceil(0.5*n) + 1 tokens (the PREFIX). Two docs with J >= 0.5
  // share >= ceil(0.5 * max(|a|,|b|)) tokens, so if either doc had no
  // shared token in its prefix, its >= n - ceil(0.5*n) + 1 unshared
  // prefix tokens would leave fewer than ceil(0.5*n) shared ones —
  // contradiction; hence the candidate join on (block, prefix token)
  // loses nothing. Verification then computes exact Jaccard on the
  // candidate pairs only. Result-identical to the naive self-join, but
  // candidate volume tracks near-pair volume, not pair volume: every
  // stage shuffles linear data (token explode, pair-id dedup, two id
  // joins), so the plan survives blocks that grow with the corpus.

  /** Per-doc globally-sorted distinct-token table:
    * (doc_id, lang, source, n, stoks) with stoks rare-first. */
  private[graft] def q15SortedToks(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"), col("source"),
      array_distinct(split(col("text"), " ")).as("toks"))
    // token frequency via aggregate + equi-join, NOT a window partitioned
    // by tok: the aggregate is map-side partial (tiny shuffle) and AQE can
    // broadcast the vocab-sized dim or split a skewed join partition,
    // whereas a per-token window would pin every occurrence of a hot
    // token ("the") into one task with no skew remedy
    val tokFreq = d.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("tf"))
    d.select(col("doc_id"), col("lang"), col("source"),
        size(col("toks")).as("n"), explode(col("toks")).as("tok"))
      .join(tokFreq, Seq("tok"))
      .groupBy("doc_id", "lang", "source", "n")
      .agg(expr("transform(array_sort(collect_list(struct(tf, tok))), s -> s.tok)")
        .as("stoks"))
  }

  /** Candidate pair ids from the prefix-token join, with the J>=0.5
    * length-ratio filter (max(|a|,|b|) <= 2*min(|a|,|b|) — a necessary
    * condition) applied before the dedup shuffle. Exposed for the
    * scale-shape spec (candidate count << pair count on skewed
    * fixtures). */
  private[graft] def q15Candidates(sorted: DataFrame): DataFrame = {
    val pref = sorted
      .withColumn("prefix",
        slice(col("stoks"), lit(1),
          (col("n") - ceil(col("n") * lit(0.5)) + lit(1)).cast("int")))
      .select(col("lang"), col("source"), col("doc_id"), col("n"),
        explode(col("prefix")).as("tok"))
    val a = pref.select(col("lang"), col("source"), col("tok"),
      col("doc_id").as("doc_a"), col("n").as("n_a"))
    val b = pref.select(col("lang"), col("source"), col("tok"),
      col("doc_id").as("doc_b"), col("n").as("n_b"))
    a.join(b, Seq("lang", "source", "tok"))
      .where(col("doc_a") < col("doc_b") &&
        col("n_b") <= col("n_a") * 2 && col("n_a") <= col("n_b") * 2)
      .select("doc_a", "doc_b").distinct()
  }

  private[graft] def q15Pairs(docs: DataFrame): DataFrame =
    // localCheckpoint: the sorted-token table feeds THREE consumers
    // (candidate generation + both verification fetch joins) and Spark
    // does not reuse the exchange across them; blocks are reclaimed by
    // the ContextCleaner once the result goes out of scope (the
    // EvalParagraphs pattern).
    q15PairsFrom(q15SortedToks(docs).localCheckpoint(true))

  private[graft] def q15PairsFrom(sorted: DataFrame): DataFrame = {
    val toksA = sorted.select(col("doc_id").as("doc_a"), col("stoks").as("toks_a"))
    val toksB = sorted.select(col("doc_id").as("doc_b"), col("stoks").as("toks_b"))
    q15Candidates(sorted)
      .join(toksA, Seq("doc_a"))
      .join(toksB, Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("toks_a"), col("toks_b"))).cast("bigint"))
      .withColumn("uni", size(array_union(col("toks_a"), col("toks_b"))).cast("bigint"))
      .where(col("inter") * 2 >= col("uni")) // jaccard >= 0.5 without float math
      .select(col("doc_a"), col("doc_b"), col("inter"), col("uni"))
  }

  /** Session memo of the rare-first sorted-token table shared by
    * q15_jaccard_pairs and dd_containment_pairs — one token-frequency
    * aggregation + sort per session instead of one per query (persisted,
    * doc-scale but narrow: (ids, n, stoks)). */
  private def sortedToks(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionMemo.frame(spark, s"q15.sortedToks|$dir")(
      q15SortedToks(t(spark, dir, "documents")))

  def q15JaccardPairs(spark: SparkSession, dir: String): DataFrame =
    q15PairsFrom(sortedToks(spark, dir))

  /** Asymmetric containment near-dup pairs: ordered (doc_a, doc_b) where
    * |A∩B| / |A| ≥ 0.8 over distinct-token sets within a (lang, source)
    * block — the boilerplate-expansion case symmetric Jaccard misses (a
    * short doc fully quoted inside a longer one scores low Jaccard but
    * high containment). Verified with integer cross-multiplication
    * (5·inter ≥ 4·n_a), no float.
    *
    * Scale shape: prefix filter on the CONTAINED side only — if
    * |A∩B| ≥ ⌈0.8·n_A⌉ then at least one of A's rarest
    * n_A − ⌈0.8·n_A⌉ + 1 tokens (global rare-first order, any subset
    * argument) is in B, so A explodes just its short prefix while the
    * container side is the full inverted index: LINEAR token volume, not
    * pairwise — there is no size-ratio bound for containment, so the
    * container side cannot be prefix-trimmed, and the candidate count
    * per prefix token tracks that token's corpus frequency (rare by
    * construction of the rare-first order). */
  private[graft] def containmentPairs(docs: DataFrame): DataFrame =
    containmentPairsFrom(q15SortedToks(docs).localCheckpoint(true))

  /** [[q15SortedToks]] under a CALLER-SUPPLIED (frozen) token-frequency
    * table instead of frequencies recomputed from `docs` — the
    * incremental-containment shape (Dedup.FullSurvivorIndex): the standing
    * index freezes its corpus order at bootstrap and sorts every later
    * batch's tokens under the SAME order, so the prefix-filter argument
    * (any consistent total order is lossless) keeps holding across folds.
    * Unseen tokens get tf = 0 (rarest tier — ties broken by the token
    * string, so (coalesce(tf,0), tok) stays a total order). */
  private[graft] def sortedToksFrozen(docs: DataFrame, tokFreq: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("lang"), col("source"),
      array_distinct(split(col("text"), " ")).as("toks"))
    d.select(col("doc_id"), col("lang"), col("source"),
        size(col("toks")).as("n"), explode(col("toks")).as("tok"))
      .join(tokFreq, Seq("tok"), "left")
      .groupBy("doc_id", "lang", "source", "n")
      .agg(expr("transform(array_sort(collect_list(named_struct(" +
        "'tf', coalesce(tf, cast(0 as bigint)), 'tok', tok))), s -> s.tok)")
        .as("stoks"))
  }

  /** The contained-side prefix explode: the first n − ⌈0.8n⌉ + 1 tokens
    * of each doc in the global order (required overlap o = ⌈4n/5⌉ in
    * INTEGER arithmetic ((4n+4) div 5) — no float ceil near an integer
    * boundary can ever shorten the prefix and drop a true pair). */
  private[graft] def contPrefixExplode(sorted: DataFrame): DataFrame =
    sorted
      .withColumn("prefix",
        slice(col("stoks"), lit(1),
          (col("n") - expr("(n * 4 + 4) div 5") + lit(1)).cast("int")))
      .select(col("lang"), col("source"), col("doc_id").as("doc_a"),
        col("n").as("na"), explode(col("prefix")).as("tok"))

  /** The container-side full explode — the inverted-index relation (the
    * containment index at rest in Dedup.FullSurvivorIndex; at deployment
    * stored partitioned by token so a fold's touched-token semi-join is a
    * pruned read). */
  private[graft] def contFullExplode(sorted: DataFrame): DataFrame =
    sorted.select(col("lang"), col("source"),
      col("doc_id").as("doc_b"), col("n").as("nb"),
      explode(col("stoks")).as("tok"))

  private[graft] def containmentCandidates(sorted: DataFrame): DataFrame = {
    val pref = contPrefixExplode(sorted)
    val full = contFullExplode(sorted)
    // container-size lower bound: inter ≤ n_b, so 5·n_b < 4·n_a can
    // never verify — prune impossible (big contained, tiny container)
    // candidates BEFORE the dedup shuffle and the two fetch joins
    // (q15Candidates' analogue of its length-ratio filter)
    pref.join(full, Seq("lang", "source", "tok"))
      .where(col("doc_a") =!= col("doc_b") &&
        col("nb") * lit(5) >= col("na") * lit(4))
      .select("doc_a", "doc_b").distinct()
  }

  private[graft] def containmentPairsFrom(sorted: DataFrame): DataFrame = {
    val cands = containmentCandidates(sorted)
    val toksA = sorted.select(col("doc_id").as("doc_a"),
      col("stoks").as("toks_a"), col("n").as("n_a"))
    val toksB = sorted.select(col("doc_id").as("doc_b"), col("stoks").as("toks_b"))
    cands.join(toksA, Seq("doc_a")).join(toksB, Seq("doc_b"))
      .withColumn("inter",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("bigint"))
      .where(col("inter") * lit(5) >= col("n_a") * lit(4))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("n_a").cast("bigint").as("n_a"))
  }

  /** Session memo of the containment PAIR table (round-6): three catalog
    * queries consume it (dd_containment_pairs, dd_survivors_full,
    * curate_pipeline) and the prefix-filter join costs ~2.5 s at sf0.1 —
    * one execution per session, like the minhash pair memo. The persisted
    * table is pair-scale. */
  def ddContainmentPairs(spark: SparkSession, dir: String): DataFrame =
    graft.util.SessionMemo.frame(spark, s"dd.containmentPairs|$dir")(
      containmentPairsFrom(sortedToks(spark, dir)))

  val ddContainmentSql: String =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(len(list_intersect(list_distinct(string_split(a.text,' ')),
      |                               list_distinct(string_split(b.text,' ')))) AS BIGINT) AS inter,
      |       CAST(len(list_distinct(string_split(a.text,' '))) AS BIGINT) AS n_a
      |FROM documents a JOIN documents b
      |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id <> b.doc_id
      |WHERE len(list_intersect(list_distinct(string_split(a.text,' ')),
      |                         list_distinct(string_split(b.text,' ')))) * 5 >=
      |      len(list_distinct(string_split(a.text,' '))) * 4""".stripMargin

  val q15Sql: String =
    """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(len(list_intersect(list_distinct(string_split(a.text,' ')),
      |                               list_distinct(string_split(b.text,' ')))) AS BIGINT) AS inter,
      |       CAST(len(list_distinct(list_concat(list_distinct(string_split(a.text,' ')),
      |                                          list_distinct(string_split(b.text,' '))))) AS BIGINT) AS uni
      |FROM documents a JOIN documents b
      |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      |WHERE len(list_intersect(list_distinct(string_split(a.text,' ')),
      |                         list_distinct(string_split(b.text,' ')))) * 2 >=
      |      len(list_distinct(list_concat(list_distinct(string_split(a.text,' ')),
      |                                    list_distinct(string_split(b.text,' ')))))""".stripMargin
}
