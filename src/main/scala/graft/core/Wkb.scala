package graft.core

import java.nio.{BufferUnderflowException, ByteBuffer, ByteOrder}

/**
 * Well-Known Binary codec (OGC SFA part 1, §8.2.8) for the six
 * supported geometry kinds — the interchange format the reference
 * exposes through geo-postgis' EWKB conversions
 * (geo-postgis/src/from_postgis.rs:13). Little-endian on write; both
 * byte orders accepted on read. 2-D only.
 */
object Wkb {

  private final val TPoint = 1
  private final val TLineString = 2
  private final val TPolygon = 3
  private final val TMultiPoint = 4
  private final val TMultiLineString = 5
  private final val TMultiPolygon = 6

  def write(g: FlatGeom): Array[Byte] = {
    val buf = ByteBuffer.allocate(sizeOf(g)).order(ByteOrder.LITTLE_ENDIAN)
    put(g, buf)
    buf.array()
  }

  /** PostGIS extended WKB: the top-level type word carries the SRID
    * flag (0x20000000) and is followed by the 4-byte SRID — the wire
    * format of geo-postgis (to_postgis.rs:12) and every PostGIS
    * exchange. Nested geometries stay plain (PostGIS tags the top
    * level only). */
  def writeEwkb(g: FlatGeom, srid: Int): Array[Byte] = {
    val plain = write(g)
    val buf = ByteBuffer.allocate(plain.length + 4).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(plain(0))
    val t = ByteBuffer.wrap(plain, 1, 4).order(ByteOrder.LITTLE_ENDIAN).getInt()
    buf.putInt(t | 0x20000000)
    buf.putInt(srid)
    buf.put(plain, 5, plain.length - 5)
    buf.array()
  }

  /** SRID of an (E)WKB payload: the EWKB-tagged value, or 0 for plain
    * WKB (PostGIS' ST_Srid convention for unknown). */
  def readSrid(bytes: Array[Byte]): Int = {
    if (bytes.length < 9) return 0
    val order = if (bytes(0) == 0) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN
    val buf = ByteBuffer.wrap(bytes, 1, 8).order(order)
    val rawType = buf.getInt()
    if ((rawType & 0x20000000) != 0) buf.getInt() else 0
  }

  private def sizeOf(g: FlatGeom): Int = g.kind match {
    case GeomKind.Point => 1 + 4 + 16
    case GeomKind.LineString => 1 + 4 + 4 + 16 * g.numPoints
    case GeomKind.Polygon => 1 + 4 + 4 + 4 * g.rings.length + 16 * g.numPoints
    case GeomKind.MultiPoint => 1 + 4 + 4 + g.numPoints * (1 + 4 + 16)
    case GeomKind.MultiLineString =>
      1 + 4 + 4 + g.rings.length * (1 + 4 + 4) + 16 * g.numPoints
    case GeomKind.MultiPolygon =>
      1 + 4 + 4 + (0 until g.numParts).map { p =>
        val part = FlatGeom.part(g, p)
        1 + 4 + 4 + 4 * part.rings.length + 16 * part.numPoints
      }.sum
    case k => throw new IllegalArgumentException(s"wkb: unsupported kind $k")
  }

  private def put(g: FlatGeom, buf: ByteBuffer): Unit = {
    buf.put(1.toByte) // little endian
    g.kind match {
      case GeomKind.Point =>
        buf.putInt(TPoint)
        if (g.isEmpty) { buf.putDouble(Double.NaN); buf.putDouble(Double.NaN) }
        else { buf.putDouble(g.x(0)); buf.putDouble(g.y(0)) }
      case GeomKind.LineString =>
        buf.putInt(TLineString)
        buf.putInt(g.numPoints)
        var i = 0
        while (i < g.numPoints) { buf.putDouble(g.x(i)); buf.putDouble(g.y(i)); i += 1 }
      case GeomKind.Polygon =>
        buf.putInt(TPolygon)
        buf.putInt(g.rings.length)
        var r = 0
        while (r < g.rings.length) {
          val s = g.ringStart(r); val e = g.ringEnd(r)
          buf.putInt(e - s)
          var i = s
          while (i < e) { buf.putDouble(g.x(i)); buf.putDouble(g.y(i)); i += 1 }
          r += 1
        }
      case GeomKind.MultiPoint =>
        buf.putInt(TMultiPoint)
        buf.putInt(g.numPoints)
        var i = 0
        while (i < g.numPoints) { put(FlatGeom.point(g.x(i), g.y(i)), buf); i += 1 }
      case GeomKind.MultiLineString =>
        buf.putInt(TMultiLineString)
        buf.putInt(g.rings.length)
        var r = 0
        while (r < g.rings.length) {
          val s = g.ringStart(r); val e = g.ringEnd(r)
          put(FlatGeom.lineString(
            java.util.Arrays.copyOfRange(g.coords, s * 2, e * 2)), buf)
          r += 1
        }
      case GeomKind.MultiPolygon =>
        buf.putInt(TMultiPolygon)
        buf.putInt(g.numParts)
        var p = 0
        while (p < g.numParts) { put(FlatGeom.part(g, p), buf); p += 1 }
      case k => throw new IllegalArgumentException(s"wkb: unsupported kind $k")
    }
  }

  /** The geometry of `bytes`; IllegalArgumentException when they are
    * malformed, truncated or of an unsupported type. */
  def read(bytes: Array[Byte]): FlatGeom = parse(bytes, force2D = false)

  def readOpt(bytes: Array[Byte]): Option[FlatGeom] =
    try Some(read(bytes)) catch { case _: Exception => None }

  /** EXPLICITLY LOSSY 2-D projection of Z/M-bearing (E)WKB: EWKB
    * dimension flags and ISO-WKB Z/M/ZM type codes parse, with the
    * extra ordinate(s) read and DROPPED per point. The default reader
    * keeps the typed rejection contract — this is the opt-in escape
    * hatch for PostGIS-sourced corpora. */
  def readForce2D(bytes: Array[Byte]): FlatGeom = parse(bytes, force2D = true)

  def readForce2DOpt(bytes: Array[Byte]): Option[FlatGeom] =
    try Some(readForce2D(bytes)) catch { case _: Exception => None }

  private def parse(bytes: Array[Byte], force2D: Boolean): FlatGeom =
    try readGeom(ByteBuffer.wrap(bytes), force2D, member = 0)
    catch { case e: BufferUnderflowException => throw new IllegalArgumentException("wkb: truncated", e) }

  /** One geometry; `member` is the type a multi's member must have
    * (Point, LineString or Polygon), or 0 at the top level. Checking it
    * before reading the member caps the nesting depth at two. */
  private def readGeom(buf: ByteBuffer, force2D: Boolean, member: Int): FlatGeom = {
    val order = buf.get()
    buf.order(if (order == 0) ByteOrder.BIG_ENDIAN else ByteOrder.LITTLE_ENDIAN)
    val rawType = buf.getInt()
    // EWKB Z/M payloads carry 3-4 doubles per point; silently masking
    // the flags would consume Z values as the next point's X/Y. The
    // engine's contract is 2-D — reject cleanly (readOpt → None)
    // unless the caller opted into the lossy force-2D projection,
    // which reads and drops the extra ordinates instead.
    val ewkbExtra = (if ((rawType & 0x80000000) != 0) 1 else 0) +
      (if ((rawType & 0x40000000) != 0) 1 else 0)
    if (ewkbExtra > 0 && !force2D)
      throw new IllegalArgumentException("wkb: Z/M dimensions unsupported (2-D engine)")
    val tFull = rawType & 0x1FFFFFFF
    // ISO-WKB Z/M/ZM types are base + 1000/2000/3000 — same contract
    val isoExtra =
      if (tFull >= 1001 && tFull <= 1007) 1
      else if (tFull >= 2001 && tFull <= 2007) 1
      else if (tFull >= 3001 && tFull <= 3007) 2
      else 0
    if (tFull >= 1001 && tFull <= 3007 && isoExtra == 0)
      throw new IllegalArgumentException(s"wkb: unsupported type $tFull")
    if (isoExtra > 0 && !force2D)
      throw new IllegalArgumentException("wkb: Z/M dimensions unsupported (2-D engine)")
    val extra = ewkbExtra + isoExtra
    val t = if (isoExtra > 0) tFull % 1000 else tFull
    if (member != 0 && t != member)
      throw new IllegalArgumentException(s"wkb: member of type $t where type $member is required")
    if ((rawType & 0x20000000) != 0) buf.getInt() // skip EWKB SRID
    def skipExtra(): Unit = { var i = 0; while (i < extra) { buf.getDouble(); i += 1 } }
    t match {
      case TPoint =>
        val x = buf.getDouble(); val y = buf.getDouble()
        skipExtra()
        if (x.isNaN && y.isNaN) FlatGeom.empty else FlatGeom.point(x, y)
      case TLineString => FlatGeom.lineString(readCoords(buf, extra))
      case TPolygon =>
        val nRings = readCount(buf, 4)
        val rings = (0 until nRings).map(_ => readCoords(buf, extra))
        if (rings.isEmpty) FlatGeom.polygon(Array.emptyDoubleArray)
        else FlatGeom.polygon(rings.head, rings.tail)
      case TMultiPoint =>
        val n = readCount(buf, 21)
        val cs = new Array[Double](2 * n)
        var i = 0
        while (i < n) {
          val p = readGeom(buf, force2D, TPoint)
          if (p.isEmpty) throw new IllegalArgumentException("wkb: multipoint member is empty")
          cs(2 * i) = p.x(0); cs(2 * i + 1) = p.y(0)
          i += 1
        }
        FlatGeom.multiPoint(cs)
      case TMultiLineString =>
        val n = readCount(buf, 9)
        FlatGeom.multiLineString((0 until n).map(_ => readGeom(buf, force2D, TLineString).coords))
      case TMultiPolygon =>
        val n = readCount(buf, 9)
        FlatGeom.multiPolygon((0 until n).map(_ => readGeom(buf, force2D, TPolygon)))
      case other => throw new IllegalArgumentException(s"wkb: unsupported type $other")
    }
  }

  /** A count read from the buffer, checked against the bytes left
    * before anything is allocated for it: each counted item takes at
    * least `minBytes` (a point 16 + 8 per extra ordinate, a multipoint
    * member 21, a ring's count 4, a member's header and count 9). */
  private def readCount(buf: ByteBuffer, minBytes: Int): Int = {
    val n = buf.getInt()
    if (n < 0 || n > buf.remaining() / minBytes)
      throw new IllegalArgumentException(s"wkb: count $n exceeds the ${buf.remaining()} bytes left")
    n
  }

  private def readCoords(buf: ByteBuffer, extra: Int): Array[Double] = {
    val n = readCount(buf, 16 + 8 * extra)
    val cs = new Array[Double](2 * n)
    var i = 0
    while (i < n) {
      cs(2 * i) = buf.getDouble(); cs(2 * i + 1) = buf.getDouble()
      var j = 0
      while (j < extra) { buf.getDouble(); j += 1 }
      i += 1
    }
    cs
  }
}
