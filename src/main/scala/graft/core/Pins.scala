package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** The session pin registry: intermediates that several queries of one
  * session share (the side inputs of the Beam pipelines this engine
  * rebuilds) are built once per key and held until [[evict]].
  *
  * A key is (session, data dir, name). Pins keyed by a corpus plan
  * digest, probe results and loose pins carry no dir; every eviction of
  * their session releases them.
  *
  * Frames are `persist(MEMORY_AND_DISK)`, never `localCheckpoint`: the
  * lineage survives, so lost blocks recompute (PinRecoverySpec), and
  * `Dataset.unpersist` releases the blocks on eviction.
  *
  * The map only creates a holder; the build runs under that holder's own
  * monitor. Builders read other pins and run Spark jobs, so a build
  * inside the map's `computeIfAbsent` would throw `Recursive update` on
  * a nested pin and would stall every key hashing to its bin for the
  * length of a job. A build that throws leaves the holder empty, and the
  * next get retries it.
  */
object Pins {

  private final case class Key(session: SparkSession, dir: Option[String],
                               name: String)

  private final class Pin(isFrame: Boolean) {
    private[this] var value: Option[Any] = None

    def get(build: => Any): Any = synchronized {
      value.getOrElse { val v = build; value = Some(v); v }
    }

    /** Best effort: a stopped session throws, and its blocks are
      * unreachable then anyway.
      */
    def release(): Unit = synchronized {
      if (isFrame) value.foreach { v =>
        try v.asInstanceOf[DataFrame].unpersist(blocking = false)
        catch { case NonFatal(_) => () }
      }
      value = None
    }
  }

  private val pins = new ConcurrentHashMap[Key, Pin]()
  private val looseIds = new AtomicLong()

  private def pin(key: Key, isFrame: Boolean)(build: => Any): Any =
    pins.computeIfAbsent(key, _ => new Pin(isFrame)).get(build)

  /** `plan` persisted under the key, planned on the first call. */
  def frame(session: SparkSession, dir: Option[String], name: String)(
      plan: => DataFrame): DataFrame =
    pin(Key(session, dir, name), isFrame = true)(
      plan.persist(StorageLevel.MEMORY_AND_DISK)).asInstanceOf[DataFrame]

  /** `build`'s result memoized under the key: a probe result, a collected
    * total, or a frame derived from other pins. Eviction drops it and
    * releases nothing.
    */
  def value[V](session: SparkSession, dir: Option[String], name: String)(
      build: => V): V =
    pin(Key(session, dir, name), isFrame = false)(build).asInstanceOf[V]

  /** `df` persisted with no key of its own: a helper frame of one call,
    * released with its session's dir-less pins.
    */
  def loose(df: DataFrame): DataFrame =
    frame(df.sparkSession, None, "loose#" + looseIds.incrementAndGet())(df)

  /** Releases `session`'s pins for `dir`, or all of them when `dir` is
    * None. Pins without a dir go on every eviction of their session;
    * other sessions' pins stay.
    */
  def evict(session: SparkSession, dir: Option[String] = None): Unit = {
    val it = pins.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val k = e.getKey
      if ((k.session eq session) &&
          (dir.isEmpty || k.dir.isEmpty || k.dir == dir)) {
        it.remove()
        e.getValue.release()
      }
    }
  }
}
