package graft.index

/** From-scratch H3-style hexagonal index (res 7–12 supported; any 0–14 works).
  *
  * Clean-room design (NOT the H3 library, which is unavailable offline): a
  * pointy-top axial hex grid laid over an equirectangular lon/lat plane with a
  * per-latitude-invariant edge length that shrinks by sqrt(7) per resolution
  * step — mimicking H3's aperture-7 area scaling (each finer res ≈ 1/7 the
  * cell area). Gives the engine what the graft needs from H3: stable 64-bit
  * cell ids, `ring(k)` / `disk(k)` neighborhoods for kNN expansion, and
  * prefix-free parent derivation by re-encoding at a coarser res.
  *
  * Cell id layout (long): [ 0:1 | res:4 | q+2^29:30 zigzag-free offset... ]
  * concretely: (res << 60) | ((q + BIAS) << 30) | (r + BIAS), BIAS = 2^29.
  */
object Hex {
  private val BIAS = 1L << 29
  val MinRes = 0
  val MaxRes = 14

  // hot-path constants: edgeDeg was a math.pow PER ROW inside the feature
  // scan (latLngToQR runs once per feature at 10^8+ rows/s) — the cached
  // values are the identical doubles, so every cell id is bit-unchanged
  private val EdgeDeg: Array[Double] =
    Array.tabulate(MaxRes + 1)(r => 45.0 / math.pow(7.0, r / 2.0))
  private val Sqrt3 = math.sqrt(3.0)
  private val Sqrt3Third = math.sqrt(3.0) / 3.0

  /** Hex edge length in degrees at a resolution. Res 0 = 45°, each step
    * divides linear size by sqrt(7) (aperture-7-like). */
  def edgeDeg(res: Int): Double =
    if (res >= MinRes && res <= MaxRes) EdgeDeg(res) else 45.0 / math.pow(7.0, res / 2.0)

  /** lon/lat -> axial (q, r) at res. Pointy-top axial coordinates. */
  def latLngToQR(lat: Double, lon: Double, res: Int): (Int, Int) = {
    val size = edgeDeg(res)
    // pointy-top: x -> q basis (sqrt3*size, 0), r basis (sqrt3/2*size, 3/2*size)
    val qf = (Sqrt3Third * lon - 1.0 / 3.0 * lat) / size
    val rf = (2.0 / 3.0 * lat) / size
    cubeRound(qf, rf)
  }

  /** Standard cube rounding of fractional axial coords. */
  def cubeRound(qf: Double, rf: Double): (Int, Int) = {
    val sf = -qf - rf
    var q = math.round(qf).toInt
    var r = math.round(rf).toInt
    val s = math.round(sf).toInt
    val dq = math.abs(q - qf); val dr = math.abs(r - rf); val ds = math.abs(s - sf)
    if (dq > dr && dq > ds) q = -r - s
    else if (dr > ds) r = -q - s
    (q, r)
  }

  /** Axial (q,r) -> cell center (lat, lon). */
  def cellCenter(q: Int, r: Int, res: Int): (Double, Double) = {
    val size = edgeDeg(res)
    val lon = size * (Sqrt3 * q + Sqrt3 / 2.0 * r)
    val lat = size * (3.0 / 2.0 * r)
    (lat, lon)
  }

  def pack(q: Int, r: Int, res: Int): Long = {
    require(res >= MinRes && res <= MaxRes, s"res out of range: $res")
    (res.toLong << 60) | ((q.toLong + BIAS) << 30) | (r.toLong + BIAS)
  }
  def res(cell: Long): Int = ((cell >>> 60) & 0xF).toInt
  def q(cell: Long): Int = (((cell >>> 30) & 0x3FFFFFFFL) - BIAS).toInt
  def r(cell: Long): Int = ((cell & 0x3FFFFFFFL) - BIAS).toInt

  def latLngToCell(lat: Double, lon: Double, res: Int): Long = {
    val (qq, rr) = latLngToQR(lat, lon, res)
    pack(qq, rr, res)
  }

  def cellToLatLng(cell: Long): (Double, Double) =
    cellCenter(q(cell), r(cell), res(cell))

  /** Parent at a coarser resolution (re-encode the center). */
  def parent(cell: Long, parentRes: Int): Long = {
    val (lat, lon) = cellToLatLng(cell)
    latLngToCell(lat, lon, parentRes)
  }

  private val Directions: Array[(Int, Int)] =
    Array((1, 0), (1, -1), (0, -1), (-1, 0), (-1, 1), (0, 1))

  /** Hollow ring at distance k (standard axial ring walk). k=0 -> the cell. */
  def ring(cell: Long, k: Int): Array[Long] = {
    val rs = res(cell)
    if (k == 0) return Array(cell)
    val out = new Array[Long](6 * k)
    var cq = q(cell) + Directions(4)._1 * k
    var cr = r(cell) + Directions(4)._2 * k
    var idx = 0
    var side = 0
    while (side < 6) {
      var step = 0
      while (step < k) {
        out(idx) = pack(cq, cr, rs); idx += 1
        cq += Directions(side)._1; cr += Directions(side)._2
        step += 1
      }
      side += 1
    }
    out
  }

  /** Filled disk: all cells within distance k. */
  def disk(cell: Long, k: Int): Array[Long] = {
    val rs = res(cell); val cq = q(cell); val cr = r(cell)
    val buf = new scala.collection.mutable.ArrayBuffer[Long]((3 * k * (k + 1)) + 1)
    var dq = -k
    while (dq <= k) {
      var dr = math.max(-k, -dq - k)
      val hi = math.min(k, -dq + k)
      while (dr <= hi) {
        buf += pack(cq + dq, cr + dr, rs)
        dr += 1
      }
      dq += 1
    }
    buf.toArray
  }
}
