package graft.index

/** From-scratch S2-style spherical cell index (clean-room; the S2 library is
  * unavailable offline and we deliberately re-derive, not port).
  *
  * Sphere -> 6 cube faces -> face-local Hilbert curve position. Cell id is the
  * canonical S2-like format: [ face:3 | hilbert-position:2*level | 1 | 0-pad ],
  * which makes every cell an *interval* of leaf ids — `rangeMin`/`rangeMax`
  * give the contiguous leaf range, so spatial predicates compile to sorted
  * range scans (the "range-join pushdown on cell ID intervals" of the north
  * rule: a polygon cover becomes a list of [lo, hi] ranges and the join
  * becomes cell BETWEEN lo AND hi).
  */
object S2Like {
  val MaxLevel = 30

  /** lon/lat (degrees) -> unit xyz. */
  def toXYZ(lat: Double, lon: Double): (Double, Double, Double) = {
    val phi = math.toRadians(lat); val theta = math.toRadians(lon)
    val c = math.cos(phi)
    (c * math.cos(theta), c * math.sin(theta), math.sin(phi))
  }

  /** xyz -> (face, u, v) with u,v in [-1,1]. Face order: +x,+y,+z,-x,-y,-z. */
  def xyzToFaceUV(x: Double, y: Double, z: Double): (Int, Double, Double) = {
    val ax = math.abs(x); val ay = math.abs(y); val az = math.abs(z)
    if (ax >= ay && ax >= az) {
      if (x > 0) (0, y / x, z / x) else (3, -z / x, -y / x)
    } else if (ay >= az) {
      if (y > 0) (1, -x / y, z / y) else (4, -z / y, -x / y)
    } else {
      if (z > 0) (2, -x / z, -y / z) else (5, -y / z, -x / z)
    }
  }

  /** Quadratic u->s reprojection for near-uniform cell areas (published S2
    * transform shape, re-stated). s in [0,1]. */
  def uvToST(u: Double): Double =
    if (u >= 0) 0.5 * math.sqrt(1.0 + 3.0 * u) else 1.0 - 0.5 * math.sqrt(1.0 - 3.0 * u)

  def stToUV(s: Double): Double =
    if (s >= 0.5) (1.0 / 3.0) * (4.0 * s * s - 1.0) else (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s))

  /** s in [0,1] -> integer cell coordinate at MaxLevel. */
  def stToIJ(s: Double): Int = {
    val n = 1L << MaxLevel
    math.max(0L, math.min(n - 1, (s * n).toLong)).toInt
  }

  /** Standard Hilbert curve xy -> d (iterative, level bits). */
  def hilbertD(level: Int, xIn: Int, yIn: Int): Long = {
    var rx = 0; var ry = 0
    var x = xIn; var y = yIn
    var d = 0L
    var s = 1 << (level - 1)
    while (s > 0) {
      rx = if ((x & s) > 0) 1 else 0
      ry = if ((y & s) > 0) 1 else 0
      d += s.toLong * s.toLong * ((3 * rx) ^ ry)
      // rotate
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }

  /** Hilbert d -> (x, y) at the given level. */
  def hilbertXY(level: Int, dIn: Long): (Int, Int) = {
    var x = 0; var y = 0
    var t = dIn
    var s = 1
    while (s < (1 << level)) {
      val rx = (1L & (t / 2)).toInt
      val ry = (1L & (t ^ rx)).toInt
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val tmp = x; x = y; y = tmp
      }
      x += s * rx; y += s * ry
      t /= 4
      s <<= 1
    }
    (x, y)
  }

  /** Leaf cell id (level 30) of a lat/lon. */
  def leafId(lat: Double, lon: Double): Long = {
    val (x, y, z) = toXYZ(lat, lon)
    val (face, u, v) = xyzToFaceUV(x, y, z)
    val i = stToIJ(uvToST(u)); val j = stToIJ(uvToST(v))
    val pos = hilbertD(MaxLevel, i, j)
    (face.toLong << (2 * MaxLevel + 1)) | (pos << 1) | 1L
  }

  /** Cell id at a level: truncate the Hilbert position, set the sentinel bit. */
  def cellIdAt(lat: Double, lon: Double, level: Int): Long =
    parent(leafId(lat, lon), level)

  def levelOf(cell: Long): Int = {
    // sentinel = lowest set bit at position 2*(MaxLevel-level)
    val lsb = java.lang.Long.numberOfTrailingZeros(cell)
    MaxLevel - lsb / 2
  }

  def parent(cell: Long, level: Int): Long = {
    require(level >= 0 && level <= MaxLevel)
    val shift = 2 * (MaxLevel - level)
    val sentinel = 1L << shift
    ((cell >> (shift + 1)) << (shift + 1)) | sentinel
  }

  /** Smallest leaf id contained in this cell. */
  def rangeMin(cell: Long): Long = cell - (java.lang.Long.lowestOneBit(cell) - 1)
  /** Largest leaf id contained in this cell. */
  def rangeMax(cell: Long): Long = cell + (java.lang.Long.lowestOneBit(cell) - 1)

  def contains(cell: Long, leaf: Long): Boolean =
    leaf >= rangeMin(cell) && leaf <= rangeMax(cell)

  /** Approximate lat/lon center of a cell (inverse of the projection). */
  def cellCenterLatLng(cell: Long): (Double, Double) = {
    val face = (cell >>> (2 * MaxLevel + 1)).toInt
    val level = levelOf(cell)
    val pos = (cell >>> (2 * (MaxLevel - level) + 1)) // hilbert pos at `level`
    val (i, j) = hilbertXY(level, pos)
    val n = (1 << level).toDouble
    val s = (i + 0.5) / n; val t = (j + 0.5) / n
    val u = stToUV(s); val v = stToUV(t)
    // exact inverses of xyzToFaceUV (face 3: u=-z/x, v=-y/x with x=-1 ⇒ z=u, y=v)
    val (x, y, z) = face match {
      case 0 => (1.0, u, v)
      case 1 => (-u, 1.0, v)
      case 2 => (-u, -v, 1.0)
      case 3 => (-1.0, v, u)
      case 4 => (v, -1.0, u)
      case 5 => (v, u, -1.0)
    }
    val r = math.sqrt(x * x + y * y + z * z)
    (math.toDegrees(math.asin(z / r)), math.toDegrees(math.atan2(y, x)))
  }
}
