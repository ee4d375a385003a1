package graft.sql

import graft.core.{FlatGeom, GeomKind}
import graft.kernels.{Monotone, Planar}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeRow}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods

/** One cached geometry: the decoded polygon, the bytes it was decoded
  * from (null for a literal row, which is matched by identity) and its
  * y-slab edge index, built on the first point query. */
private[sql] final class CachedGeom(val geom: FlatGeom, val snap: Array[Byte]) {
  private[sql] var index: Monotone.Prepared = _
  private[sql] var indexTried = false
  // retained bytes, and the cache slot holding the entry (-1: none)
  private[sql] var bytes = 0L
  private[sql] var slot = -1
}

/**
 * Per-thread prepared-geometry cache: the "prepared polygons, built once
 * per executor" of a broadcast spatial join (reference
 * prepared_geometry.rs:28). The build side of a BroadcastHashJoin
 * re-surfaces the same few hundred polygons for every probe row, as
 * REUSED `UnsafeRow` buffers that identity can never match, so entries
 * are addressed by content:
 *
 *  - an `UnsafeRow` geometry of 128 B to 256 KB is looked up by a hash
 *    of its length and 17 to 32 of its 8-byte words, in one set of a
 *    set-associative table (256 sets of 8 ways, least recent way
 *    replaced). A hit is EXACT: the whole row is compared with the
 *    entry's byte snapshot, so a buffer rewritten in place never
 *    returns a stale geometry or index. Smaller geometries decode
 *    cheaper than the lookup, larger ones bypass the cache;
 *  - a `GenericInternalRow` (constant-folded literal, row built by
 *    another `st_*` call) is immutable and goes through a two-entry
 *    identity memo holding the same entry type;
 *  - an entry's y-slab edge index (`Monotone.Prepared`: 4 bytes per
 *    edge and slab it reaches, at most 8 slabs per edge on average) is
 *    built on its first `coordPos`, only for polygons of at least
 *    [[GeomCache.MonoThreshold]] vertices; a failed prepare is
 *    remembered and not retried.
 *
 * Entries are bounded by retained bytes (snapshot + decoded arrays +
 * index), [[GeomCache.BudgetBytes]] per thread, so a 300–400-polygon
 * build side stays resident across the tasks a thread runs. Over the
 * budget, the least recent of a few sampled entries goes first. A scan
 * of more distinct rows than the budget holds (an `st_*` statement over
 * a table) does flush it, and the next join re-prepares its polygons
 * once per thread. The 2,048 slots also cap how many small geometries
 * stay live: a larger table kept more of them and made every miss on a
 * scan of once-seen small rows dearer. A hit only stores a use stamp.
 * Per-thread, so a lookup takes no lock; the price is one copy of the
 * hot set per task thread.
 */
private[sql] final class GeomCache {
  import GeomCache._

  private val hashes = new Array[Int](Slots)
  private val stamps = new Array[Long](Slots) // last use; 0 = empty slot
  private val entries = new Array[CachedGeom](Slots)
  private var tick = 0L
  private var hand = 0
  private var lit1, lit2: AnyRef = _
  private var litE1, litE2: CachedGeom = _

  private var prepared = 0L
  private var retained = 0L

  /** Slab edge indexes built by this thread. */
  def prepares: Long = prepared
  def retainedBytes: Long = retained

  def geom(r: InternalRow): FlatGeom = {
    val e = entry(r)
    if (e == null) GeomSchema.fromRow(r) else e.geom
  }

  /** [[Planar.coordPos]] of (x, y) against the geometry of `r`. */
  def coordPos(r: InternalRow, x: Double, y: Double): Int = {
    val e = entry(r)
    if (e == null) return Planar.coordPos(GeomSchema.fromRow(r), x, y)
    val idx = index(e)
    if (idx == null) Planar.coordPos(e.geom, x, y) else idx.coordPos(x, y)
  }

  private def entry(r: InternalRow): CachedGeom = r match {
    case ur: UnsafeRow => cached(ur)
    case gr: GenericInternalRow => literal(gr)
    case _ => null
  }

  private def literal(gr: GenericInternalRow): CachedGeom =
    if (lit1 eq gr) litE1
    else if (lit2 eq gr) { // promote to front
      val hit = litE2
      lit2 = lit1; litE2 = litE1
      lit1 = gr; litE1 = hit
      hit
    } else {
      val e = new CachedGeom(GeomSchema.fromRow(gr), null)
      lit2 = lit1; litE2 = litE1
      lit1 = gr; litE1 = e
      e
    }

  private def cached(ur: UnsafeRow): CachedGeom = {
    val len = ur.getSizeInBytes
    if (len < MinBytes || len > MaxBytes) return null
    val base = ur.getBaseObject
    val off = ur.getBaseOffset
    val h = sampleHash(base, off, len)
    tick += 1
    val set = (h & (Slots / Ways - 1)) * Ways
    var victim = set
    var s = set
    while (s < set + Ways) {
      if (stamps(s) != 0 && hashes(s) == h) {
        val e = entries(s)
        if (e.snap.length == len &&
            ByteArrayMethods.arrayEquals(base, off, e.snap, Platform.BYTE_ARRAY_OFFSET, len)) {
          stamps(s) = tick
          return e
        }
      }
      if (stamps(s) < stamps(victim)) victim = s
      s += 1
    }
    if (stamps(victim) != 0) drop(victim)
    val snap = new Array[Byte](len)
    Platform.copyMemory(base, off, snap, Platform.BYTE_ARRAY_OFFSET, len)
    val fresh = new CachedGeom(GeomSchema.fromRow(ur), snap)
    val g = fresh.geom
    fresh.bytes = EntryBytes + len + 8L * g.coords.length + 4L * (g.rings.length + g.parts.length)
    fresh.slot = victim
    hashes(victim) = h
    stamps(victim) = tick
    entries(victim) = fresh
    retained += fresh.bytes
    evict(victim)
    fresh
  }

  private def index(e: CachedGeom): Monotone.Prepared = {
    if (!e.indexTried) {
      e.indexTried = true
      val g = e.geom
      if (g.numPoints >= MonoThreshold &&
          (g.kind == GeomKind.Polygon || g.kind == GeomKind.MultiPolygon)) {
        prepared += 1
        e.index = Monotone.prepare(g)
        if (e.index != null && e.slot >= 0) {
          e.bytes += e.index.retainedBytes
          retained += e.index.retainedBytes
          evict(e.slot)
        }
      }
    }
    e.index
  }

  private def drop(s: Int): Unit = {
    val e = entries(s)
    retained -= e.bytes
    e.slot = -1
    entries(s) = null
    stamps(s) = 0
  }

  /** Over the budget, drop the least recent of the next `Sample`
    * occupied slots from a rotating hand (never slot `keep`). */
  private def evict(keep: Int): Unit =
    while (retained > BudgetBytes) {
      var victim = -1
      var seen = 0
      var scanned = 0
      while (seen < Sample && scanned < Slots) {
        if (stamps(hand) != 0 && hand != keep) {
          if (victim < 0 || stamps(hand) < stamps(victim)) victim = hand
          seen += 1
        }
        hand = (hand + 1) & (Slots - 1)
        scanned += 1
      }
      if (victim < 0) return
      drop(victim)
    }
}

private[sql] object GeomCache {
  /** Retained bytes of one thread's cache, at most. */
  final val BudgetBytes = 8L << 20
  /** Encoded geometries outside [MinBytes, MaxBytes] are not cached. */
  final val MinBytes = 128
  final val MaxBytes = 256 << 10
  /** Polygons below this many vertices stay on the O(n) ray cast: the
    * slab edge index costs more than it saves on them. */
  final val MonoThreshold = 128
  private final val Slots = 2048
  private final val Ways = 8
  private final val Sample = 8
  // CachedGeom object, snapshot and decoded-array headers
  private final val EntryBytes = 144L

  private val local = ThreadLocal.withInitial[GeomCache](() => new GeomCache)
  def get: GeomCache = local.get()

  /** Hash of the length, the last word and 16 to 31 words evenly
    * spread over the row (every word of a row under 256 bytes): the
    * coordinates of two different polygons differ at nearly every
    * sampled word, and a hit is decided by the full byte compare, so
    * the sample only spreads the entries over the sets. */
  private def sampleHash(base: AnyRef, off: Long, len: Int): Int = {
    val step = math.max(8, (len >>> 4) & ~7)
    var h = len * 0x9E3779B97F4A7C15L
    var p = 0
    while (p + 8 <= len) {
      h = (h ^ Platform.getLong(base, off + p)) * 0xBF58476D1CE4E5B9L
      h ^= h >>> 31
      p += step
    }
    h = (h ^ Platform.getLong(base, off + len - 8)) * 0x94D049BB133111EBL
    (h ^ (h >>> 32)).toInt
  }
}
