package graft.functions

import scala.collection.mutable.ArrayBuffer

/** HEALPix NESTED-scheme kernels (pure Scala, no Spark deps).
  *
  * Ports the well-published HEALPix algorithms (Górski et al. 2005; the
  * reference uses healpy wrappers: `ang2pix`/`pix2vec`/`vec2pix`/
  * `query_disc` in `hisscube/utils/astrometry.py:158-224`). Only the
  * NESTED scheme is implemented — it's all the reference uses
  * (`nest=True` throughout).
  *
  * Conventions: `theta` = colatitude [0,π], `phi` = longitude [0,2π);
  * lonlat helpers take degrees RA/Dec like healpy's `lonlat=True`.
  */
object Healpix {

  /** Max supported order (healpy supports 29 for long pixel ids). */
  val MaxOrder = 29

  @inline def nside(order: Int): Long = 1L << order

  @inline def nPix(order: Int): Long = 12L * (1L << (2 * order))

  // face row index (jr offset) and longitude offset per face, from the
  // HEALPix paper / healpix_base implementations
  private val jrll = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4)
  private val jpll = Array(1, 3, 5, 7, 0, 2, 4, 6, 1, 3, 5, 7)

  /** Interleave low 32 bits of x (even positions) and y (odd positions). */
  def interleave(x: Long, y: Long): Long = {
    var v = 0L
    var i = 0
    while (i < 32) {
      v |= ((x >> i) & 1L) << (2 * i)
      v |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    v
  }

  def deinterleave(p: Long): (Long, Long) = {
    var x = 0L
    var y = 0L
    var i = 0
    while (i < 32) {
      x |= ((p >> (2 * i)) & 1L) << i
      y |= ((p >> (2 * i + 1)) & 1L) << i
      i += 1
    }
    (x, y)
  }

  /** ang2pix for the NESTED scheme. */
  def ang2pixNest(order: Int, theta: Double, phi: Double): Long = {
    require(order >= 0 && order <= MaxOrder, s"bad order $order")
    val ns = nside(order).toDouble
    val z = math.cos(theta)
    val za = math.abs(z)
    val twoPi = 2 * math.Pi
    var ph = phi % twoPi
    if (ph < 0) ph += twoPi
    val tt = ph / (math.Pi / 2) // in [0,4)

    var face = 0
    var ix = 0L
    var iy = 0L
    if (za <= 2.0 / 3.0) {
      // equatorial region
      val temp1 = ns * (0.5 + tt)
      val temp2 = ns * (z * 0.75)
      val jp = (temp1 - temp2).toLong // ascending edge line index
      val jm = (temp1 + temp2).toLong // descending edge line index
      val ifp = jp >> order
      val ifm = jm >> order
      face =
        if (ifp == ifm) ((ifp & 3) + 4).toInt
        else if (ifp < ifm) (ifp & 3).toInt
        else ((ifm & 3) + 8).toInt
      ix = jm & (nside(order) - 1)
      iy = nside(order) - (jp & (nside(order) - 1)) - 1
    } else {
      // polar caps
      val ntt = math.min(3, tt.toInt)
      val tp = tt - ntt
      val tmp = ns * math.sqrt(3 * (1 - za))
      var jp = (tp * tmp).toLong
      var jm = ((1.0 - tp) * tmp).toLong
      if (jp >= nside(order)) jp = nside(order) - 1
      if (jm >= nside(order)) jm = nside(order) - 1
      if (z >= 0) {
        face = ntt
        ix = nside(order) - jm - 1
        iy = nside(order) - jp - 1
      } else {
        face = ntt + 8
        ix = jp
        iy = jm
      }
    }
    face.toLong * nside(order) * nside(order) + interleave(ix, iy)
  }

  /** Pixel-center direction for the NESTED scheme → (z, phi); also
    * returns sin(theta) hint (NaN = derive from z) like healpix_base. */
  def pix2angNest(order: Int, pix: Long): (Double, Double) = {
    val ns = nside(order)
    val npface = ns * ns
    val face = (pix / npface).toInt
    val (ix, iy) = deinterleave(pix % npface)
    val jr = jrll(face).toLong * ns - ix - iy - 1

    var z = 0.0
    var kshift = 0L
    var nr = 0L
    if (jr < ns) {
      // north polar cap
      nr = jr
      z = 1.0 - (nr * nr).toDouble * 4.0 / (12.0 * ns * ns)
      kshift = 0
    } else if (jr > 3 * ns) {
      // south polar cap
      nr = 4 * ns - jr
      z = (nr * nr).toDouble * 4.0 / (12.0 * ns * ns) - 1.0
      kshift = 0
    } else {
      // equatorial
      nr = ns
      z = (2 * ns - jr).toDouble * 2.0 / (3.0 * ns)
      kshift = (jr - ns) & 1
    }

    var jp = (jpll(face).toLong * nr + ix - iy + 1 + kshift) / 2
    if (jp > 4 * nr) jp -= 4 * nr
    if (jp < 1) jp += 4 * nr
    val phi = (jp - (kshift + 1) * 0.5) * (math.Pi / 2) / nr
    val theta = math.acos(math.max(-1.0, math.min(1.0, z)))
    (theta, phi)
  }

  /** healpy-style lonlat ang2pix: ra/dec in degrees. */
  def ang2pixLonLat(order: Int, raDeg: Double, decDeg: Double): Long = {
    val theta = math.Pi / 2 - math.toRadians(decDeg)
    val phi = math.toRadians(raDeg)
    ang2pixNest(order, theta, phi)
  }

  /** Pixel center as (raDeg, decDeg). */
  def pix2LonLat(order: Int, pix: Long): (Double, Double) = {
    val (theta, phi) = pix2angNest(order, pix)
    (math.toDegrees(phi), 90.0 - math.toDegrees(theta))
  }

  /** Unit vector of a direction. */
  def ang2vec(theta: Double, phi: Double): Array[Double] = {
    val st = math.sin(theta)
    Array(st * math.cos(phi), st * math.sin(phi), math.cos(theta))
  }

  def lonlat2vec(raDeg: Double, decDeg: Double): Array[Double] =
    ang2vec(math.Pi / 2 - math.toRadians(decDeg), math.toRadians(raDeg))

  def pix2vecNest(order: Int, pix: Long): Array[Double] = {
    val (theta, phi) = pix2angNest(order, pix)
    ang2vec(theta, phi)
  }

  def vec2pixNest(order: Int, v: Array[Double]): Long = {
    val r = math.sqrt(v(0) * v(0) + v(1) * v(1) + v(2) * v(2))
    val theta = math.acos(math.max(-1.0, math.min(1.0, v(2) / r)))
    val phi = math.atan2(v(1), v(0))
    ang2pixNest(order, theta, phi)
  }

  /** Parent pixel at a coarser order (nested ids share prefixes). */
  @inline def parent(pix: Long, order: Int, parentOrder: Int): Long =
    pix >> (2 * (order - parentOrder))

  @inline private def angDist(a: Array[Double], b: Array[Double]): Double = {
    val dot = a(0) * b(0) + a(1) * b(1) + a(2) * b(2)
    math.acos(math.max(-1.0, math.min(1.0, dot)))
  }

  /** Approximate pixel circumradius: distance from center to the 4 corner
    * directions (corners approximated by the deepest-child trick: the
    * corner of a nested pixel is the limit of its repeated corner-child;
    * 12 extra orders ≈ 2e-4 relative error), padded by 1% for safety. */
  def pixCircumradius(order: Int, pix: Long): Double = {
    val c = pix2vecNest(order, pix)
    val extra = math.min(12, MaxOrder - order)
    val deepOrder = order + extra
    val base = pix << (2 * extra)
    // children 0,1,2,3 repeated `extra` times head to the 4 corners
    var r = 0.0
    var corner = 0
    while (corner < 4) {
      var path = 0L
      var i = 0
      while (i < extra) { path = (path << 2) | corner; i += 1 }
      val v = pix2vecNest(deepOrder, base | path)
      val d = angDist(c, v)
      if (d > r) r = d
      corner += 1
    }
    r * 1.01
  }

  /** All pixels at `order` whose area may intersect the disc of `radius`
    * (radians) around unit vector `center` — a conservative superset, like
    * healpy `query_disc(inclusive=True)` (reference usage
    * `astrometry.py:158-165`; over-approximation is safe because the
    * cutout-bounds check re-filters exactly, SURVEY §2 I6).
    *
    * Recursive coarse-to-fine cover: a pixel is discarded iff its center
    * is provably outside radius+circumradius; a pixel is fully inside if
    * center within radius-circumradius (include subtree without descent).
    */
  def queryDiscNest(order: Int, center: Array[Double], radius: Double): Array[Long] = {
    val out = ArrayBuffer.empty[Long]

    def addSubtree(o: Int, pix: Long): Unit = {
      val shift = 2 * (order - o)
      val lo = pix << shift
      val hi = ((pix + 1) << shift) - 1
      var p = lo
      while (p <= hi) { out += p; p += 1 }
    }

    def visit(o: Int, pix: Long): Unit = {
      val d = angDist(center, pix2vecNest(o, pix))
      val cr = pixCircumradius(o, pix)
      if (d > radius + cr) () // fully outside
      else if (o == order) out += pix
      else if (d + cr <= radius) addSubtree(o, pix) // fully inside
      else {
        var c = 0
        while (c < 4) { visit(o + 1, (pix << 2) | c); c += 1 }
      }
    }

    var base = 0L
    while (base < 12) { visit(0, base); base += 1 }
    val arr = out.toArray
    java.util.Arrays.sort(arr)
    arr
  }

  def queryDiscLonLat(order: Int, raDeg: Double, decDeg: Double, radiusRad: Double): Array[Long] =
    queryDiscNest(order, lonlat2vec(raDeg, decDeg), radiusRad)
}
