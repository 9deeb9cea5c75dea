package graft.core

/** Hierarchical quadtree cell ids over an equirectangular lon/lat grid —
  * an own S2-flavoured indexing scheme (public algorithm: Morton/Z-order
  * interleave with a sentinel bit encoding the level).
  *
  * Layout of a cell id (long):
  *   id = (1L << (2*level)) | morton(x, y)        for level in [0, 30]
  * The sentinel bit makes ids self-describing and gives the key property
  *   parentId = id >> 2
  * so all ancestors of a cell are plain right-shifts, and the numeric range
  * [rangeMin, rangeMax] of a cell covers exactly its descendants at any
  * deeper level — enabling sorted-interval-list containment joins
  * (north-rule: "broadcast sorted-interval cell lists").
  *
  * x grows east from lon=-180, y grows north from lat=-90:
  *   x = floor((lon_fix + 1.8e9) * 2^level / 3.6e9)   clamped to 2^level-1
  *   y = floor((lat_fix + 0.9e9) * 2^level / 1.8e9)   clamped
  */
object CellId {
  val MaxLevel = 30

  /** Interleave the low 32 bits of v with zeros (Morton spread). */
  def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8))  & 0x00FF00FF00FF00FFL
    x = (x | (x << 4))  & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2))  & 0x3333333333333333L
    x = (x | (x << 1))  & 0x5555555555555555L
    x
  }

  /** Inverse of spread: collect every other bit. */
  def compact(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >> 1))  & 0x3333333333333333L
    x = (x | (x >> 2))  & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x >> 4))  & 0x00FF00FF00FF00FFL
    x = (x | (x >> 8))  & 0x0000FFFF0000FFFFL
    x = (x | (x >> 16)) & 0x00000000FFFFFFFFL
    x
  }

  def morton(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)

  def fromXY(x: Long, y: Long, level: Int): Long =
    (1L << (2 * level)) | morton(x, y)

  def level(id: Long): Int = (63 - java.lang.Long.numberOfLeadingZeros(id)) / 2

  def x(id: Long): Long = compact(id & ~(1L << (2 * level(id))))
  def y(id: Long): Long = compact((id & ~(1L << (2 * level(id)))) >> 1)

  def parent(id: Long): Long = id >> 2
  def parentAt(id: Long, lvl: Int): Long = id >> (2 * (level(id) - lvl))
  def children(id: Long): Array[Long] =
    Array(id << 2, (id << 2) | 1, (id << 2) | 2, (id << 2) | 3)

  /** Smallest/largest descendant id at MaxLevel — the sorted-interval key. */
  def rangeMin(id: Long): Long = id << (2 * (MaxLevel - level(id)))
  def rangeMax(id: Long): Long = {
    val shift = 2 * (MaxLevel - level(id))
    (id << shift) | ((1L << shift) - 1)
  }
  def contains(ancestor: Long, cell: Long): Boolean = {
    val d = level(cell) - level(ancestor)
    d >= 0 && (cell >> (2 * d)) == ancestor
  }

  /** Grid x / y of a fix coordinate at `lvl`. Coordinates outside the
    * domain clamp into the edge cells on both sides; the offset is clamped
    * at 0 before the multiply, so truncating division is floor division.
    * An offset whose product with 2^lvl leaves int64 throws
    * ArithmeticException, as Spark's ANSI arithmetic does.
    */
  def cellX(lonFix: Long, lvl: Int): Long = bin(lonFix, 1800000000L, lvl)
  def cellY(latFix: Long, lvl: Int): Long = bin(latFix, 900000000L, lvl)

  private def bin(fix: Long, half: Long, lvl: Int): Long =
    math.min(Math.multiplyExact(math.max(Math.addExact(fix, half), 0L), 1L << lvl) / (2 * half),
      (1L << lvl) - 1)

  def fromFix(lonFix: Long, latFix: Long, lvl: Int): Long =
    fromXY(cellX(lonFix, lvl), cellY(latFix, lvl), lvl)

  /** All cells at `lvl` overlapping the fix-coordinate bbox (inclusive).
    * Used for polygon covers; callers pick lvl so the cover stays small.
    */
  def coverBBox(minLonFix: Long, minLatFix: Long,
                maxLonFix: Long, maxLatFix: Long, lvl: Int): Array[Long] = {
    val x0 = cellX(minLonFix, lvl); val x1 = cellX(maxLonFix, lvl)
    val y0 = cellY(minLatFix, lvl); val y1 = cellY(maxLatFix, lvl)
    val out = new scala.collection.mutable.ArrayBuffer[Long](((x1 - x0 + 1) * (y1 - y0 + 1)).toInt)
    var yy = y0
    while (yy <= y1) {
      var xx = x0
      while (xx <= x1) { out += fromXY(xx, yy, lvl); xx += 1 }
      yy += 1
    }
    out.toArray
  }

  /** The ring of cells at distance exactly `r` (Chebyshev) around a cell —
    * the kNN cell-ring expansion primitive. x wraps around the antimeridian,
    * y clamps at the poles.
    */
  def ring(id: Long, r: Int): Array[Long] = {
    val lvl = level(id)
    val n = 1L << lvl
    val cx = x(id); val cy = y(id)
    if (r == 0) return Array(id)
    val out = new scala.collection.mutable.ArrayBuffer[Long](8 * r)
    var dy = -r
    while (dy <= r) {
      val yy = cy + dy
      if (yy >= 0 && yy < n) {
        if (math.abs(dy) == r) {
          var dx = -r
          while (dx <= r) { out += fromXY(wrap(cx + dx, n), yy, lvl); dx += 1 }
        } else {
          out += fromXY(wrap(cx - r, n), yy, lvl)
          out += fromXY(wrap(cx + r, n), yy, lvl)
        }
      }
      dy += 1
    }
    out.distinct.toArray
  }

  private def wrap(v: Long, n: Long): Long = ((v % n) + n) % n

  /** Hilbert-curve index of grid cell (x, y) on the 2^order x 2^order
    * grid — the classic rotate-and-accumulate walk (d=0 at (0,0), first
    * step to (0,1)). Locality-preserving alternative to [[morton]] for
    * range-partitioned file layouts: consecutive indexes are ALWAYS
    * grid-adjacent, so a d-range scan touches a compact spatial blob with
    * no Z-curve jumps. Exact int64 throughout (order <= 31); the DuckDB
    * oracle twin unrolls the same loop as nested SELECT stages.
    */
  def hilbert(order: Int, x0: Long, y0: Long): Long = {
    var x = x0; var y = y0; var d = 0L
    var s = 1L << (order - 1)
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0) {
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}
