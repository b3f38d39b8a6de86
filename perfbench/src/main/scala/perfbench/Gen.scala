package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.synth.Synth.{rnd, unif}

/** Seeded input generators for the curation and maintenance workloads.
  * Every row is a pure function of (seed, row index), so the same seed
  * gives the same table at any parallelism. */
object Gen {

  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "be", "du")
  /** 400 three-syllable words (6 chars): mean word length stays inside the
    * Gopher bounds, and random documents share few char shingles. */
  private val Vocab: Array[String] = Array.tabulate(400) { i =>
    Syllables(i % 10) + Syllables((i / 10) % 10) + Syllables((i / 100 + i) % 10)
  }

  private def m(x: Long, n: Int): Int = java.lang.Math.floorMod(x, n.toLong).toInt

  /** Planted-copy kinds (percent of documents): exact 6, near 6,
    * contained 4; the rest are original. */
  private def kind(seed: Long, i: Long): Int = {
    val r = m(rnd(seed, 7L, i), 100)
    if (r < 6) 1 else if (r < 12) 2 else if (r < 16) 3 else 0
  }

  /** The nearest earlier original document a copy at `i` copies from. */
  private def original(seed: Long, i: Long): Long = {
    var j = i - 1 - m(rnd(seed, 9L, i), math.min(i, 200L).toInt.max(1))
    while (j > 0 && kind(seed, j) != 0) j -= 1
    math.max(j, 0L)
  }

  private def baseTokens(seed: Long, k: Long): Array[String] = {
    val len = 20 + m(rnd(seed, 11L, k), 50)
    if (m(rnd(seed, 12L, k), 25) == 0) {
      // repetitive boilerplate: fails the Gopher repetition rules
      val phrase = Array.tabulate(3)(t => Vocab(m(rnd(seed, 13L, k, t.toLong), Vocab.length)))
      Array.tabulate(len)(t => phrase(t % 3))
    } else Array.tabulate(len)(t => Vocab(m(rnd(seed, 14L, k, t.toLong), Vocab.length)))
  }

  private def lang(seed: Long, k: Long): String = if (m(rnd(seed, 15L, k), 10) == 0) "de" else "en"
  private def source(seed: Long, k: Long, nSources: Int): String = "src" + m(rnd(seed, 16L, k), nSources)

  /** (doc_id, text, lang, source, n_chars): the `documents` table schema. */
  def docRow(seed: Long, i: Long, nSources: Int): (Long, String, String, String, Long) = {
    val k = kind(seed, i)
    val j = if (k == 0) i else original(seed, i)
    val base = baseTokens(seed, j)
    val toks = k match {
      case 0 | 1 => base
      case 2 => base.zipWithIndex.map { case (t, p) =>
        if (m(rnd(seed, 17L, i, p.toLong), 100) < 8) Vocab(m(rnd(seed, 18L, i, p.toLong), Vocab.length)) else t
      }
      case _ =>
        val keep = math.max(1, base.length * 85 / 100)
        val off = m(rnd(seed, 19L, i), base.length - keep + 1)
        base.slice(off, off + keep)
    }
    val text = toks.mkString(" ")
    (i, text, lang(seed, j), source(seed, j, nSources), text.length.toLong)
  }

  def documents(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    import spark.implicits._
    val nSources = math.max(4L, n / 40).toInt
    spark.range(0, n, 1, 8).map(i => docRow(seed, i, nSources))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  val Dim = 32

  /** (vec_id, embedding): 24 seeded centres plus uniform noise. */
  def vectors(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, 8).map { id =>
      val c = m(rnd(seed, 21L, id), 24)
      val v = Array.tabulate(Dim) { d =>
        (unif(seed, 22L, c.toLong, d.toLong) * 2 - 1) + 0.25 * (unif(seed, 23L, id, d.toLong) * 2 - 1)
      }
      (id, v.toSeq)
    }.toDF("vec_id", "embedding")
  }

  /** Maintenance slice of a row key: 0 = the standing 3/4 the state is
    * bootstrapped from, 1..16 = the crawl increments, 1/64 each. */
  val Increments = 16
  def slot(seed: Long, key: org.apache.spark.sql.Column*): org.apache.spark.sql.Column = {
    val s = pmod(xxhash64((lit(seed) +: key): _*), lit(64L))
    when(s < 48, lit(0)).otherwise((s - 47).cast("int"))
  }
}
