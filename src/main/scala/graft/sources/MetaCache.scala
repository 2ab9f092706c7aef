package graft.sources

import java.util.concurrent.ExecutionException

import scala.jdk.CollectionConverters._

import com.google.common.cache.{Cache, CacheBuilder, CacheStats}
import com.google.common.util.concurrent.{ExecutionError, UncheckedExecutionException}

/** The sources layer's one metadata cache — parsed DDL, inferred schemas,
  * per-file zone ranges, verified footers and replayed Delta snapshots —
  * behind one weight bound that reports its own statistics, as the
  * reference keeps its file metadata (`range_cache.rs:62-82,120`).
  *
  * Keys are identities, never bare names. A data file is its (path,
  * length, modification time): a file rewritten in place is a NEW key,
  * so its old schema or zone range is never served for its new bytes and
  * the stale entry ages out. A Delta snapshot is its (table, version,
  * log-listing fingerprint); a DDL string is itself.
  *
  * Every value is recomputable from its key, so an eviction only costs
  * the work that built it. Values are soft (the collector may drop any
  * under heap pressure), and the summed weight — each entry's estimated
  * retained bytes — stays under an eighth of the driver's max heap. */
object MetaCache {

  /** The identity of one data file's bytes. */
  final case class FileId(path: String, length: Long, modificationTime: Long)

  sealed trait Key
  /** A declared schema string → its `StructType`. */
  final case class Ddl(ddl: String) extends Key
  /** A catalog's first file → (schema, nanos columns, NTZ columns). */
  final case class Inferred(format: String, file: FileId) extends Key
  /** A file → (min, max) per numeric column, from log stats or footer. */
  final case class Zones(file: FileId) extends Key
  /** A file that passed strict verification against a declaration. */
  final case class Verified(
      format: String, file: FileId, ddl: String, missingNullableOk: Boolean) extends Key
  /** A replayed Delta snapshot. */
  final case class Snapshot(tablePath: String, version: Long, fingerprint: Long) extends Key
  /** A table root whose `_zonemap` sidecar has been probed (hit or miss). */
  final case class SidecarProbed(dir: String) extends Key

  private final case class Entry(value: AnyRef, weight: Int)

  val DefaultBound: Long = Runtime.getRuntime.maxMemory / 8

  // one segment, so the whole bound is open to one large entry (a
  // 10^6-file Delta snapshot) instead of a quarter of it per segment
  private def build(bound: Long): Cache[Key, Entry] =
    CacheBuilder.newBuilder()
      .concurrencyLevel(1)
      .maximumWeight(bound)
      .weigher[Key, Entry]((_: Key, e: Entry) => e.weight)
      .softValues()
      .recordStats()
      .build[Key, Entry]()

  @volatile private var cache = build(DefaultBound)

  private def entry(value: AnyRef, weight: Long): Entry =
    Entry(value, math.min(64L + weight, Int.MaxValue.toLong).toInt)

  /** The value cached under `key`, loading it on a miss. Concurrent misses
    * on one key load once; a failed load caches nothing and rethrows its
    * own exception. `weight` estimates the value's retained bytes. */
  private[sources] def getOrLoad[V <: AnyRef](key: Key)(load: => V)(weight: V => Long): V =
    try cache.get(key, () => { val v = load; entry(v, weight(v)) }).value.asInstanceOf[V]
    catch {
      case e @ (_: ExecutionException | _: UncheckedExecutionException | _: ExecutionError)
          if e.getCause != null => throw e.getCause
    }

  /** The cached values among `keys`. */
  private[sources] def present[K <: Key, V](keys: Iterable[K]): Map[K, V] =
    cache.getAllPresent(keys.asJava).asScala.iterator
      .map { case (k, e) => k.asInstanceOf[K] -> e.value.asInstanceOf[V] }.toMap

  private[sources] def put(key: Key, value: AnyRef, weight: Long): Unit =
    cache.put(key, entry(value, weight))

  /** Hit, miss, load and eviction counts since the last [[reset]]. */
  def stats: CacheStats = cache.stats()

  /** Summed weight of the live entries. */
  def weightedSize: Long = cache.asMap().values().asScala.iterator.map(_.weight.toLong).sum

  /** Test seam: drop every entry (a fresh process's cold cache), and
    * optionally run under a smaller bound. */
  private[graft] def reset(bound: Long = DefaultBound): Unit = cache = build(bound)
}
