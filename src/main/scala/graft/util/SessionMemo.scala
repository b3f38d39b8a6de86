package graft.util

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The engine's one session memo: a registry of named entries keyed by
  * `applicationId|key`. An entry is built at most once per application;
  * on every access, entries of OTHER applications (stopped sessions) are
  * removed, and those that were built have their frames unpersisted.
  *
  * Builds nest (clusters need scored pairs, which need mentions), so the
  * map only ever stores a cheap holder and each build runs outside it,
  * under its holder's lock: a build may read any other entry. A build
  * that throws leaves its holder empty, and the next access builds again. */
object SessionMemo {

  private final class Holder {
    @volatile var built: Option[(Any, () => Seq[Dataset[_]])] = None
  }

  private val entries = new ConcurrentHashMap[String, Holder]()

  /** The value of entry `key` for this session's application, built on
    * first access; `frames` lists what to unpersist when it is evicted. */
  def entry[T](spark: SparkSession, key: String)(build: => T)(
      frames: T => Seq[Dataset[_]]): T =
    entry(spark.sparkContext.applicationId, key)(build)(frames)

  /** One persisted frame (MEMORY_AND_DISK), unpersisted on eviction. */
  def frame[T](spark: SparkSession, key: String)(build: => Dataset[T]): Dataset[T] =
    entry(spark, key)(build.persist(StorageLevel.MEMORY_AND_DISK))(Seq(_))

  private[util] def entry[T](app: String, key: String)(build: => T)(
      frames: T => Seq[Dataset[_]]): T = {
    evictOtherApps(app)
    val h = entries.computeIfAbsent(s"$app|$key", _ => new Holder)
    h.synchronized {
      h.built match {
        case Some((v, _)) => v.asInstanceOf[T]
        case None =>
          val v = build
          h.built = Some((v, () => frames(v)))
          v
      }
    }
  }

  private def evictOtherApps(app: String): Unit = {
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      // remove(k, v) succeeds for one caller only: each entry is released once
      if (!e.getKey.startsWith(app + "|") && entries.remove(e.getKey, e.getValue))
        e.getValue.built.foreach { case (_, frames) =>
          // a stopped application's frames may already be gone
          try frames().foreach(_.unpersist(false)) catch { case NonFatal(_) => () }
        }
    }
  }
}
