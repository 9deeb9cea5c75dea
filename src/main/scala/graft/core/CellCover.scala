package graft.core

/** Exact classification of a quadtree cell ([[CellId]]) against a polygon
  * (rings with holes, even-odd parity as in [[Planar.pointInPolygon]]) —
  * the filter step of every classified PIP cover. A FULL cell accepts each
  * point that bins into it without a ray cast, a DISJOINT cell rejects it,
  * and only PARTIAL cells need the exact kernel (*Raster Intervals*,
  * SIGMOD 2023). Builds the cover of the broadcast cell-cover join
  * ([[graft.operators.SpatialOps.pip]]), the one broadcast PIP strategy.
  */
object CellCover {
  val Full = 1
  val Partial = 0
  val Disjoint = -1

  type Rings = Array[(Array[Long], Array[Long])]

  /** Exact inclusive fix-coordinate rect (x0, y0, x1, y1) of `cell`:
    * lo(c) = ceil(c·span / 2^lvl) − half (the smallest coordinate binning
    * into c); the top cell absorbs the clamped domain edge. Mirrors the
    * distributed formulation in SpatialOps.segmentCellCover.
    */
  def rect(cell: Long): (Long, Long, Long, Long) = {
    val lvl = CellId.level(cell)
    val cx = CellId.x(cell); val cy = CellId.y(cell)
    val n = 1L << lvl
    def lo(c: Long, span: Long, half: Long): Long = ((c * span + n - 1) >> lvl) - half
    val x0 = lo(cx, 3600000000L, 1800000000L)
    val x1 = if (cx == n - 1) 1800000000L else lo(cx + 1, 3600000000L, 1800000000L) - 1
    val y0 = lo(cy, 1800000000L, 900000000L)
    val y1 = if (cy == n - 1) 900000000L else lo(cy + 1, 1800000000L, 900000000L) - 1
    (x0, y0, x1, y1)
  }

  /** Does ring segment (ax,ay)-(bx,by) intersect the closed rect? Exact:
    * bbox overlap AND the supporting line does not leave all four corners
    * strictly on one side (the SAT axis segmentCellCover uses, BigInt here
    * because driver-side cells can be continent-sized).
    */
  private def segHitsRect(ax: Long, ay: Long, bx: Long, by: Long,
                          x0: Long, y0: Long, x1: Long, y1: Long): Boolean = {
    if (math.max(ax, bx) < x0 || math.min(ax, bx) > x1 ||
        math.max(ay, by) < y0 || math.min(ay, by) > y1) return false
    val dx = BigInt(bx) - ax
    val dy = BigInt(by) - ay
    def side(px: Long, py: Long): BigInt = dx * (BigInt(py) - ay) - dy * (BigInt(px) - ax)
    val s = Array(side(x0, y0), side(x1, y0), side(x0, y1), side(x1, y1))
    s.min <= 0 && s.max >= 0
  }

  /** [[Full]] when every point binning into `cell` lies in the closed
    * polygon, [[Disjoint]] when none does, else [[Partial]]. A rect with no
    * boundary segment touching it is entirely on one side of the (closed)
    * boundary curve set: one corner decides which. A domain-edge cell is
    * always PARTIAL: cell-id binning clamps coordinates beyond ±180° / ±90°
    * into it, and those lie outside its rect.
    */
  def classify(cell: Long, rings: Rings): Int = {
    val edge = (1L << CellId.level(cell)) - 1
    val cx = CellId.x(cell); val cy = CellId.y(cell)
    if (cx == 0 || cy == 0 || cx == edge || cy == edge) return Partial
    val (x0, y0, x1, y1) = rect(cell)
    var i = 0
    while (i < rings.length) {
      val (xs, ys) = rings(i)
      val n = if (xs.length > 1 && xs.head == xs.last && ys.head == ys.last)
        xs.length - 1 else xs.length
      var j = 0
      while (j < n) {
        val k = (j + 1) % n
        if (segHitsRect(xs(j), ys(j), xs(k), ys(k), x0, y0, x1, y1)) return Partial
        // a ring wholly inside the rect never crosses its boundary: catch it
        // by vertex containment (checked per vertex, cheap at driver scale)
        if (xs(j) >= x0 && xs(j) <= x1 && ys(j) >= y0 && ys(j) <= y1) return Partial
        j += 1
      }
      i += 1
    }
    if (Planar.pointInPolygon(x0, y0, rings)) Full else Disjoint
  }

  /** The level-`lvl` cells of the rings' bbox that the polygon reaches,
    * each with whether it is FULL; disjoint cells are left out.
    */
  def classified(rings: Rings, lvl: Int): Array[(Long, Boolean)] = {
    val xs = rings.flatMap(_._1); val ys = rings.flatMap(_._2)
    CellId.coverBBox(xs.min, ys.min, xs.max, ys.max, lvl).flatMap { cell =>
      classify(cell, rings) match {
        case Full => Some((cell, true))
        case Partial => Some((cell, false))
        case _ => None
      }
    }
  }
}
