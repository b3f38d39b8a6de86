package graft.er

import scala.collection.mutable.ArrayBuffer
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** The banded-pair operator: bucket → sub-bucket hot buckets → pair within
  * a bucket → verify, written once for every symmetric block / LSH pair
  * site (ER scoring and the MinHash, SimHash and embedding dedup tiers).
  * SparkER's scheme (EDBT 2019): each row carries its bucket list, and a
  * pair is compared only in its least common bucket.
  *
  *   1. [[census]]: one aggregation over the rows' exploded keys; keys
  *      with more than `cap` rows are collected to the driver as key → nb,
  *      nb = ceil(size / cap) (the skew tail, at most n_rows / cap keys);
  *   2. [[bucketed]], map-side in one pass: a hot key becomes
  *      [[subBucket]] `key#b` — salted by the key, so a pair split in one
  *      hot bucket can still meet in another — and each row's list is
  *      sorted by Mentions.CodePointOrdering (UTF-8 byte order);
  *   3. [[pairs]]: rows co-partitioned on the bucket (the one pair-scale
  *      shuffle) and sorted by (bkey, id). A task holds one bucket (~cap
  *      rows) at a time, decodes each member once and streams its i < j
  *      pairs, offering a pair to the caller's verify only in its least
  *      common bucket. No pair is verified twice; no pair-id dedupe follows.
  *
  * A pair whose shared keys are all hot and that lands in different
  * sub-buckets of each is never compared. Nothing counts those pairs yet
  * (ROADMAP item 5); at a cap no bucket exceeds, none are lost. The
  * two-sided sites (the incremental survivor probe, Ann.lshTopK) apply
  * the same formula through [[capped]] and [[fanOut]].
  */
object BlockPairs {

  /** A [[bucketed]] row as the kernel reads it, its payload in one column. */
  final case class Row[P](bkey: String, id: Long, bkeys: Array[String], payload: P)

  /** A bucket member: its id, its buckets that sort before the current
    * one, and its decoded payload. */
  final class Member[D](val id: Long, val before: Array[String], val payload: D)

  /** Sub-bucket count of a hot key with `size` rows. */
  def nb(size: Long, cap: Int): Int = ((size + cap - 1) / cap).toInt

  /** `key#b`, b = pmod(xxhash64(id, key), nb): byte-identical to the SQL
    * expression (XXH64 of the id from seed 42, then of the key). */
  def subBucket(key: String, id: Long, nb: Int): String = {
    val h = XXH64.hashUTF8String(UTF8String.fromString(key), XXH64.hashLong(id, 42L))
    key + "#" + java.lang.Math.floorMod(h, nb.toLong)
  }

  /** key → nb for the rows of `sizes` (key: string, size: long) above
    * `cap`; one job, run when called. */
  def hotKeys(sizes: DataFrame, cap: Int): Map[String, Int] =
    sizes.where(col(sizes.columns(1)) > cap).collect().iterator
      .map(r => r.getString(0) -> nb(r.getLong(1), cap)).toMap

  /** [[hotKeys]] over the exploded `keys` of rows (id, keys, payload…). */
  def census(rows: DataFrame, cap: Int): Map[String, Int] =
    hotKeys(rows.select(explode(col("keys")).as("key")).groupBy("key").count(), cap)

  /** Rows (id, keys, payload…) → (bkey, id, payload…, bkeys), one row per
    * (row, bucket); `bkeys` is the row's distinct keys, hot ones
    * sub-bucketed, sorted. One hashed lookup per key, however many are hot. */
  def bucketed(rows: DataFrame, hot: Map[String, Int]): DataFrame = {
    val lists = udf((id: Long, keys: Seq[String]) =>
      if (keys == null) Array.empty[String]
      else keys.distinct.map(k => hot.get(k).fold(k)(subBucket(k, id, _)))
        .sorted(Mentions.CodePointOrdering).toArray)
    val payload = rows.columns.toSeq.filter(_ != "keys").map(col)
    rows.select(payload :+ lists(col("id"), col("keys")).as("bkeys"): _*)
      .select(explode(col("bkeys")).as("bkey") +: payload :+ col("bkeys"): _*)
  }

  /** Two-sided sites: (bucket, id) → the row's bucket after sub-bucketing. */
  def capped(hot: Map[String, Int]): UserDefinedFunction =
    udf((key: String, id: Long) => hot.get(key).fold(key)(subBucket(key, id, _)))

  /** Two-sided sites: bucket → all its sub-buckets, so a probe row meets
    * the build rows of each and the candidate set equals the uncapped one. */
  def fanOut(hot: Map[String, Int]): UserDefinedFunction =
    udf((key: String) => hot.get(key).fold(Seq(key))(n => (0 until n).map(key + "#" + _)))

  /** The pair kernel over [[bucketed]] rows: `payload` (read as `P`) is
    * decoded once per member, and each pair (a.id < b.id) sharing a bucket
    * is offered to `verify` once, in its least common bucket.
    *
    * The co-partitioning has a FIXED width: the kernel's cost is its
    * OUTPUT (pairs), which AQE cannot see — left to adaptive coalescing,
    * the small bucketed input collapses into a couple of partitions and
    * the quadratic pair generation lands in one straggler task. A
    * user-specified repartition is exempt from AQE coalescing. */
  def pairs[P: TypeTag, D, O: Encoder](bucketed: DataFrame, payload: Column)(decode: P => D)(
      verify: (Member[D], Member[D]) => Option[O]): Dataset[O] = {
    val parts = bucketed.sparkSession.sessionState.conf.numShufflePartitions
    bucketed.select(col("bkey"), col("id"), col("bkeys"), payload.as("payload"))
      .repartition(parts, col("bkey"))
      .sortWithinPartitions("bkey", "id")
      .as(Encoders.product[Row[P]])
      .mapPartitions(rows => blocks(rows, decode).flatMap { b =>
        for {
          i <- b.indices.iterator
          j <- (i + 1 until b.length).iterator
          if b(i).id < b(j).id && leastCommon(b(i), b(j))
          o <- verify(b(i), b(j))
        } yield o
      })
  }

  /** The buckets of a (bkey, id)-sorted partition, one at a time, each
    * member decoded once. */
  private def blocks[P, D](rows: Iterator[Row[P]], decode: P => D): Iterator[ArrayBuffer[Member[D]]] = {
    val in = rows.buffered
    new Iterator[ArrayBuffer[Member[D]]] {
      def hasNext: Boolean = in.hasNext
      def next(): ArrayBuffer[Member[D]] = {
        val key = in.head.bkey
        val b = ArrayBuffer.empty[Member[D]]
        while (in.hasNext && in.head.bkey == key) {
          val r = in.next()
          b += new Member(r.id, r.bkeys.takeWhile(_ != r.bkey), decode(r.payload))
        }
        b
      }
    }
  }

  /** True iff x and y share no bucket ordered before the current one: a
    * merge walk over the two sorted prefixes. */
  private def leastCommon(x: Member[_], y: Member[_]): Boolean = {
    var i = 0
    var j = 0
    while (i < x.before.length && j < y.before.length) {
      val c = Mentions.CodePointOrdering.compare(x.before(i), y.before(j))
      if (c == 0) return false
      if (c < 0) i += 1 else j += 1
    }
    true
  }
}
