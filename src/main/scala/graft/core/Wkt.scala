package graft.core

import scala.collection.mutable.ArrayBuffer

/**
 * WKT reader/writer over the flat encoding. Grammar follows OGC SFA
 * well-known text (the same dialect the reference's `wkt!` macro and
 * geo-test-fixtures accept, geo-types/src/wkt_macro.rs:23). Z/M
 * dimensions are rejected (engine is 2-D, matching geo's default).
 */
object Wkt {

  def read(s: String): FlatGeom = {
    val p = new Parser(s)
    val g = p.geometry()
    p.skipWs()
    if (!p.eof) throw new IllegalArgumentException(s"trailing characters in WKT at ${p.pos}: $s")
    g
  }

  def readOpt(s: String): Option[FlatGeom] =
    try Some(read(s)) catch { case _: IllegalArgumentException => None }

  /** EXPLICITLY LOSSY 2-D projection of XYZ/XYM/XYZM WKT: the Z / M /
    * ZM dimension token and the ordinates it declares parse and DROP.
    * A `Z` or `M` tag requires exactly one ordinate after x y, `ZM`
    * exactly two; `POINT Z (1 2 3 4)` and `POINT ZM (1 2 3)` fail.
    * Untagged coordinates may carry zero, one or two extra ordinates:
    * PostGIS EWKT writes XYZ as `POINT(1 2 3)` and XYZM as
    * `POINT(1 2 3 4)`, with no tag. The default reader keeps the typed
    * rejection contract — this is the opt-in escape hatch for
    * PostGIS-sourced corpora. */
  def readForce2D(s: String): FlatGeom = {
    val p = new Parser(s, force2D = true)
    val g = p.geometry()
    p.skipWs()
    if (!p.eof) throw new IllegalArgumentException(s"trailing characters in WKT at ${p.pos}: $s")
    g
  }

  def readForce2DOpt(s: String): Option[FlatGeom] =
    try Some(readForce2D(s)) catch { case _: IllegalArgumentException => None }

  private final class Parser(s: String, force2D: Boolean = false) {
    var pos = 0
    def eof: Boolean = pos >= s.length
    def skipWs(): Unit = while (!eof && s.charAt(pos).isWhitespace) pos += 1
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"WKT parse error at $pos: $msg")

    def keyword(): String = {
      skipWs()
      val start = pos
      while (!eof && (s.charAt(pos).isLetter)) pos += 1
      if (pos == start) fail("expected keyword")
      s.substring(start, pos).toUpperCase
    }

    def expect(c: Char): Unit = {
      skipWs()
      if (eof || s.charAt(pos) != c) fail(s"expected '$c'")
      pos += 1
    }

    def peekIs(c: Char): Boolean = { skipWs(); !eof && s.charAt(pos) == c }

    def tryEmpty(): Boolean = {
      skipWs()
      if (s.regionMatches(true, pos, "EMPTY", 0, 5)) { pos += 5; true } else false
    }

    def number(): Double = {
      skipWs()
      val start = pos
      while (!eof && { val c = s.charAt(pos)
        c == '-' || c == '+' || c == '.' || c == 'e' || c == 'E' || (c >= '0' && c <= '9') }) pos += 1
      if (pos == start) fail("expected number")
      java.lang.Double.parseDouble(s.substring(start, pos))
    }

    def coordPair(buf: ArrayBuffer[Double]): Unit = {
      buf += number()
      buf += number()
      skipWs()
      if (force2D) {
        // lossy 2-D projection: the extra ordinates the tag allows drop
        var extra = 0
        var more = true
        while (more && extra < extraOrdinates) {
          skipWs()
          if (!eof && { val c = s.charAt(pos)
            c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9') }) {
            number(); extra += 1
          } else more = false
        }
        if (tagged && extra < extraOrdinates) fail(s"expected $extraOrdinates extra ordinate(s)")
      }
      // reject a third (Z) ordinate (2-D contract; readForce2D opts out)
      if (!eof) { val c = s.charAt(pos)
        if (c == '-' || c == '+' || c == '.' || (c >= '0' && c <= '9'))
          fail("3-D coordinates not supported") }
    }

    /** ( x y, x y, ... ) */
    def coordSeq(): Array[Double] = {
      val buf = new ArrayBuffer[Double]()
      expect('(')
      coordPair(buf)
      while (peekIs(',')) { pos += 1; coordPair(buf) }
      expect(')')
      buf.toArray
    }

    /** ( ring, ring, ... ) each ring a coordSeq */
    def ringSeq(): Seq[Array[Double]] = {
      val out = new ArrayBuffer[Array[Double]]()
      expect('(')
      out += coordSeq()
      while (peekIs(',')) { pos += 1; out += coordSeq() }
      expect(')')
      out.toSeq
    }

    // ordinates after x y that readForce2D drops: set by the dimension
    // tag (exactly 1 for Z or M, exactly 2 for ZM); untagged input may
    // carry 0, 1 or 2, the EWKT spellings of XY, XYZ and XYZM
    var extraOrdinates = 2
    var tagged = false

    /** Documented 2-D contract: a Z / M / ZM dimension token after the
      * geometry keyword (OGC WKT XYZ/XYM/XYZM forms) is rejected with a
      * typed error rather than misparsed; a bare third ordinate is
      * rejected in coordPair. */
    def rejectZm(): Unit = {
      skipWs()
      var p = pos
      while (p < s.length && s.charAt(p).isLetter) p += 1
      val tok = s.substring(pos, p).toUpperCase
      tagged = tok == "Z" || tok == "M" || tok == "ZM"
      extraOrdinates = if (tok == "ZM" || !tagged) 2 else 1
      if (tagged) {
        if (force2D) pos = p // lossy mode: consume the token, drop dims
        else fail("Z/M dimensions unsupported (2-D engine)")
      }
    }

    def geometry(): FlatGeom = { val k = keyword(); rejectZm(); k } match {
      case "POINT" =>
        if (tryEmpty()) FlatGeom.empty
        else {
          val buf = new ArrayBuffer[Double](2)
          expect('('); coordPair(buf); expect(')')
          FlatGeom.point(buf(0), buf(1))
        }
      case "LINESTRING" =>
        if (tryEmpty()) FlatGeom.lineString(Array.emptyDoubleArray)
        else FlatGeom.lineString(coordSeq())
      case "LINEARRING" =>
        // closed linework (JTS corpus WKT); maps to a closed LineString,
        // like the reference's LineString::close (line_string.rs)
        if (tryEmpty()) FlatGeom.lineString(Array.emptyDoubleArray)
        else FlatGeom.lineString(FlatGeom.closeRing(coordSeq()))
      case "POLYGON" =>
        if (tryEmpty()) FlatGeom.polygon(Array.emptyDoubleArray)
        else { val rs = ringSeq(); FlatGeom.polygon(rs.head, rs.tail) }
      case "MULTIPOINT" =>
        if (tryEmpty()) FlatGeom.multiPoint(Array.emptyDoubleArray)
        else {
          // both MULTIPOINT (1 2, 3 4) and MULTIPOINT ((1 2), (3 4))
          val buf = new ArrayBuffer[Double]()
          expect('(')
          def one(): Unit =
            if (tryEmpty()) () // EMPTY element (JTS corpus), contributes nothing
            else if (peekIs('(')) { pos += 1; coordPair(buf); expect(')') } else coordPair(buf)
          one()
          while (peekIs(',')) { pos += 1; one() }
          expect(')')
          FlatGeom.multiPoint(buf.toArray)
        }
      case "MULTILINESTRING" =>
        if (tryEmpty()) FlatGeom.multiLineString(Nil)
        else {
          // like ringSeq but an element may be EMPTY (JTS corpus)
          val out = new ArrayBuffer[Array[Double]]()
          expect('(')
          def one(): Unit = if (!tryEmpty()) out += coordSeq()
          one()
          while (peekIs(',')) { pos += 1; one() }
          expect(')')
          FlatGeom.multiLineString(out.toSeq)
        }
      case "MULTIPOLYGON" =>
        if (tryEmpty()) FlatGeom.multiPolygon(Nil)
        else {
          val polys = new ArrayBuffer[FlatGeom]()
          expect('(')
          def one(): Unit =
            if (!tryEmpty()) { val rs = ringSeq(); polys += FlatGeom.polygon(rs.head, rs.tail) }
          one()
          while (peekIs(',')) { pos += 1; one() }
          expect(')')
          FlatGeom.multiPolygon(polys.toSeq)
        }
      case "GEOMETRYCOLLECTION" =>
        // GEOMETRYCOLLECTION EMPTY is the canonical WKT spelling of
        // the empty geometry (what PostGIS prints for empty results) —
        // accept it as such; non-empty collections map to array<geom>
        if (tryEmpty()) FlatGeom.empty
        else fail("GEOMETRYCOLLECTION maps to array<geom> — use Wkt.readCollection")
      case k => fail(s"unknown geometry type $k")
    }

    /** GEOMETRYCOLLECTION ( geom, geom, ... ) — the Spark-native
      * mapping of the reference's heterogeneous collection is an
      * ARRAY of geometry structs, so the collection parses to a
      * sequence (nested collections flatten). */
    def collection(): Seq[FlatGeom] = {
      skipWs()
      val save = pos
      val kw = keyword()
      if (kw != "GEOMETRYCOLLECTION") { pos = save; return Seq(geometry()) }
      if (tryEmpty()) return Nil
      val out = new ArrayBuffer[FlatGeom]()
      expect('(')
      def one(): Unit = {
        skipWs()
        val s2 = pos
        val k2 = keyword()
        pos = s2
        if (k2 == "GEOMETRYCOLLECTION") out ++= collection()
        else out += geometry()
      }
      one()
      while (peekIs(',')) { pos += 1; one() }
      expect(')')
      out.toSeq
    }
  }

  /** Parse a WKT document that may be a GEOMETRYCOLLECTION (or any
    * single geometry) into the array-of-geometries representation. */
  def readCollection(s: String): Seq[FlatGeom] = {
    val p = new Parser(s)
    val gs = p.collection()
    p.skipWs()
    if (!p.eof) throw new IllegalArgumentException(s"trailing characters in WKT at ${p.pos}: $s")
    gs
  }

  def readCollectionOpt(s: String): Option[Seq[FlatGeom]] =
    try Some(readCollection(s)) catch { case _: IllegalArgumentException => None }

  /** Write an array-of-geometries as GEOMETRYCOLLECTION WKT. */
  def writeCollection(gs: Seq[FlatGeom]): String =
    if (gs.isEmpty) "GEOMETRYCOLLECTION EMPTY"
    else gs.map(write).mkString("GEOMETRYCOLLECTION(", ",", ")")

  // ---------------------------------------------------------------- writer

  private def fmt(d: Double, sb: java.lang.StringBuilder): Unit = {
    if (d == Math.rint(d) && Math.abs(d) < 1e15 && !d.isInfinite) {
      sb.append(d.toLong) // integral values print without trailing .0
    } else sb.append(java.lang.Double.toString(d)) // shortest round-trip repr
  }

  private def writeSeq(g: FlatGeom, from: Int, to: Int, sb: java.lang.StringBuilder): Unit = {
    sb.append('(')
    var i = from
    while (i < to) {
      if (i > from) sb.append(',')
      fmt(g.x(i), sb); sb.append(' '); fmt(g.y(i), sb)
      i += 1
    }
    sb.append(')')
  }

  def write(g: FlatGeom): String = {
    val sb = new java.lang.StringBuilder()
    g.kind match {
      case GeomKind.Point =>
        sb.append("POINT")
        if (g.isEmpty) sb.append(" EMPTY")
        else { sb.append('('); fmt(g.x(0), sb); sb.append(' '); fmt(g.y(0), sb); sb.append(')') }
      case GeomKind.LineString =>
        sb.append("LINESTRING")
        if (g.isEmpty) sb.append(" EMPTY") else writeSeq(g, 0, g.numPoints, sb)
      case GeomKind.Polygon =>
        sb.append("POLYGON")
        if (g.isEmpty) sb.append(" EMPTY")
        else {
          sb.append('(')
          var r = 0
          while (r < g.rings.length) {
            if (r > 0) sb.append(',')
            writeSeq(g, g.ringStart(r), g.ringEnd(r), sb)
            r += 1
          }
          sb.append(')')
        }
      case GeomKind.MultiPoint =>
        sb.append("MULTIPOINT")
        if (g.isEmpty) sb.append(" EMPTY")
        else {
          sb.append('(')
          var i = 0
          while (i < g.numPoints) {
            if (i > 0) sb.append(',')
            sb.append('('); fmt(g.x(i), sb); sb.append(' '); fmt(g.y(i), sb); sb.append(')')
            i += 1
          }
          sb.append(')')
        }
      case GeomKind.MultiLineString =>
        sb.append("MULTILINESTRING")
        if (g.isEmpty) sb.append(" EMPTY")
        else {
          sb.append('(')
          var r = 0
          while (r < g.rings.length) {
            if (r > 0) sb.append(',')
            writeSeq(g, g.ringStart(r), g.ringEnd(r), sb)
            r += 1
          }
          sb.append(')')
        }
      case GeomKind.MultiPolygon =>
        sb.append("MULTIPOLYGON")
        if (g.isEmpty) sb.append(" EMPTY")
        else {
          sb.append('(')
          var p = 0
          while (p < g.parts.length) {
            if (p > 0) sb.append(',')
            sb.append('(')
            var r = g.partStart(p)
            while (r < g.partEnd(p)) {
              if (r > g.partStart(p)) sb.append(',')
              writeSeq(g, g.ringStart(r), g.ringEnd(r), sb)
              r += 1
            }
            sb.append(')')
            p += 1
          }
          sb.append(')')
        }
      case k => throw new IllegalArgumentException(s"cannot write kind $k")
    }
    sb.toString
  }
}
