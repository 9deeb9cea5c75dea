package graft.core

/** Planar predicates over fixed-point int coordinates. All arithmetic is
  * exact int64 (inputs are 1e-7-degree fix ints, |lon_fix| ≤ 1.8e9, so
  * cross products fit in 63 bits when operand spans are < ~2^31 — callers
  * keep polygon extents well below that).
  *
  * These replace the GEOS predicates the reference uses in
  * reference/include/osmium/multipolygon/builder.hpp (isCCW :473, isSimple
  * :461, PreparedPolygon::contains :707-711) with an own implementation.
  */
object Planar {

  /** Twice the signed area of the ring (shoelace). Positive = CCW.
    * Ring may or may not repeat the first point at the end.
    */
  def signedArea2(xs: Array[Long], ys: Array[Long]): BigInt = {
    var sum = BigInt(0)
    val n = effLen(xs)
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      sum += BigInt(xs(i)) * ys(j) - BigInt(xs(j)) * ys(i)
      i += 1
    }
    sum
  }

  def isCCW(xs: Array[Long], ys: Array[Long]): Boolean = signedArea2(xs, ys) > 0

  /** Point strictly/boundary-inclusively inside ring via ray casting.
    * Even-odd rule; points exactly on an edge return true.
    * Ring closed or open (first==last tolerated).
    */
  /** Exact sign of the 2-D cross product dx1·dy2 − dy1·dx2. Long fast path
    * when every delta fits 31 bits (each product then < 2^62, so the
    * difference cannot wrap int64) — the common case for candidate-bounded
    * join refinements, where separations are a few cells wide; BigInt
    * fallback keeps world-spanning deltas (up to 3.6e9) exact.
    */
  @inline private def crossSign(dx1: Long, dy1: Long, dx2: Long, dy2: Long): Int = {
    val m = 1L << 31
    if (dx1 < m && dx1 > -m && dy1 < m && dy1 > -m &&
        dx2 < m && dx2 > -m && dy2 < m && dy2 > -m)
      java.lang.Long.signum(dx1 * dy2 - dy1 * dx2)
    else (BigInt(dx1) * dy2 - BigInt(dy1) * dx2).signum
  }

  def pointInRing(px: Long, py: Long, xs: Array[Long], ys: Array[Long]): Boolean = {
    val n = effLen(xs)
    var inside = false
    var i = 0
    var j = n - 1
    while (i < n) {
      val xi = xs(i); val yi = ys(i)
      val xj = xs(j); val yj = ys(j)
      // one exact cross sign serves both the on-edge check and the
      // scanline side test: cross = (xj-xi)(py-yi) - (yj-yi)(px-xi)
      val cs = crossSign(xj - xi, yj - yi, px - xi, py - yi)
      // on-edge check (exact): collinear and within bbox of segment
      if (cs == 0 &&
          px >= math.min(xi, xj) && px <= math.max(xi, xj) &&
          py >= math.min(yi, yj) && py <= math.max(yi, yj)) return true
      if ((yi > py) != (yj > py)) {
        // x of edge at scanline py vs px, exact integer comparison:
        // px < xi + (py-yi)*(xj-xi)/(yj-yi)  ⇔ sign-aware cross test
        val denomPos = yj > yi
        if ((cs > 0) == denomPos && cs != 0) inside = !inside
      }
      j = i
      i += 1
    }
    inside
  }

  /** Point in polygon with holes: inside outer ring and in no inner ring.
    * (Even-odd over all rings — matches parity semantics of
    * builder.hpp:722-738.)
    */
  def pointInPolygon(px: Long, py: Long,
                     rings: Array[(Array[Long], Array[Long])]): Boolean = {
    var parity = false
    var i = 0
    while (i < rings.length) {
      if (pointInRing(px, py, rings(i)._1, rings(i)._2)) parity = !parity
      i += 1
    }
    parity
  }

  /** Do proper segments (p1,p2) and (p3,p4) intersect (incl. touching)? */
  def segmentsIntersect(x1: Long, y1: Long, x2: Long, y2: Long,
                        x3: Long, y3: Long, x4: Long, y4: Long): Boolean = {
    val d1 = orient(x3, y3, x4, y4, x1, y1)
    val d2 = orient(x3, y3, x4, y4, x2, y2)
    val d3 = orient(x1, y1, x2, y2, x3, y3)
    val d4 = orient(x1, y1, x2, y2, x4, y4)
    if (((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
        ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))) true
    else if (d1 == 0 && onSeg(x3, y3, x4, y4, x1, y1)) true
    else if (d2 == 0 && onSeg(x3, y3, x4, y4, x2, y2)) true
    else if (d3 == 0 && onSeg(x1, y1, x2, y2, x3, y3)) true
    else if (d4 == 0 && onSeg(x1, y1, x2, y2, x4, y4)) true
    else false
  }

  /** Ring simplicity: no two non-adjacent edges intersect; adjacent edges
    * only share their common endpoint. O(n^2) — rings are small per group
    * (reference reserves 500-node ways; isSimple use builder.hpp:461).
    */
  def isSimpleRing(xs: Array[Long], ys: Array[Long]): Boolean = {
    val n = effLen(xs)
    if (n < 3) return false
    var i = 0
    while (i < n) {
      val i2 = (i + 1) % n
      var j = i + 1
      while (j < n) {
        val j2 = (j + 1) % n
        val adjacent = (i2 == j) || (j2 == i)
        if (!adjacent) {
          if (segmentsIntersect(xs(i), ys(i), xs(i2), ys(i2),
                                xs(j), ys(j), xs(j2), ys(j2))) return false
        } else {
          // adjacent edges must not overlap beyond the shared vertex:
          // check the far endpoints are not on the other segment interior
          if (i2 == j) {
            if (orient(xs(i), ys(i), xs(i2), ys(i2), xs(j2), ys(j2)) == 0 &&
                onSeg(xs(i), ys(i), xs(i2), ys(i2), xs(j2), ys(j2)) &&
                !(xs(j2) == xs(i2) && ys(j2) == ys(i2)) &&
                !(xs(j2) == xs(i) && ys(j2) == ys(i))) return false
          }
        }
        j += 1
      }
      i += 1
    }
    true
  }

  /** Open-polyline simplicity (GEOS LineString::isSimple semantics): no
    * two segments intersect except adjacent ones at their shared vertex,
    * with the endpoint exception for a closed input (first==last).
    * Consecutive duplicate points are dropped first (the reference builds
    * its coordinate sequences with allowRepeated=false).
    */
  def isSimplePath(xsIn: Array[Long], ysIn: Array[Long]): Boolean = {
    // drop consecutive duplicates
    val px = new scala.collection.mutable.ArrayBuffer[Long](xsIn.length)
    val py = new scala.collection.mutable.ArrayBuffer[Long](xsIn.length)
    var k = 0
    while (k < xsIn.length) {
      if (px.isEmpty || px.last != xsIn(k) || py.last != ysIn(k)) {
        px += xsIn(k); py += ysIn(k)
      }
      k += 1
    }
    val m = px.length
    if (m < 3) return true
    val closed = px(0) == px(m - 1) && py(0) == py(m - 1)
    var i = 0
    while (i < m - 1) {
      var j = i + 1
      while (j < m - 1) {
        val shareLeft = j == i + 1
        val shareWrap = closed && i == 0 && j == m - 2
        if (shareLeft || shareWrap) {
          if (!sharedEndpointOk(px(i), py(i), px(i + 1), py(i + 1),
            px(j), py(j), px(j + 1), py(j + 1))) return false
        } else {
          if (segmentsIntersect(px(i), py(i), px(i + 1), py(i + 1),
            px(j), py(j), px(j + 1), py(j + 1))) return false
        }
        j += 1
      }
      i += 1
    }
    true
  }

  /** Two segments sharing exactly one endpoint are simple unless they are
    * collinear and overlap in more than the shared point (or coincide).
    */
  private def sharedEndpointOk(ax: Long, ay: Long, bx: Long, by: Long,
                               cx: Long, cy: Long, dx: Long, dy: Long): Boolean = {
    val bothShared = (ax == cx && ay == cy && bx == dx && by == dy) ||
      (ax == dx && ay == dy && bx == cx && by == cy)
    if (bothShared) return false // zero-area spike
    if (orient(ax, ay, bx, by, cx, cy) != 0 || orient(ax, ay, bx, by, dx, dy) != 0)
      return true // not collinear: intersection can only be the shared point
    def strictlyOn(x1: Long, y1: Long, x2: Long, y2: Long, qx: Long, qy: Long) =
      onSeg(x1, y1, x2, y2, qx, qy) &&
        !(qx == x1 && qy == y1) && !(qx == x2 && qy == y2)
    !(strictlyOn(ax, ay, bx, by, cx, cy) || strictlyOn(ax, ay, bx, by, dx, dy) ||
      strictlyOn(cx, cy, dx, dy, ax, ay) || strictlyOn(cx, cy, dx, dy, bx, by))
  }

  /** Self-intersection salvage, mirroring the reference's binary-search
    * cut (multipolygon/builder.hpp:342-422): find the longest simple
    * prefix and suffix of the (closed) coordinate sequence, cut out the
    * overlap-complement — or keep the cut-out itself when it is longer
    * than half the ring. Returns the repaired CLOSED ring if it ends up a
    * simple valid ring; None otherwise. Handles one self-intersection,
    * like the original.
    */
  def salvageRing(xs: Array[Long], ys: Array[Long]): Option[(Array[Long], Array[Long])] = {
    val n = xs.length
    def prefixSimple(len: Int) = isSimplePath(xs.take(len), ys.take(len))
    def suffixSimple(from: Int) = isSimplePath(xs.drop(from), ys.drop(from))

    // longest simple prefix
    var inv = n; var va = 0
    var current = (inv + va) / 2
    var simple = true
    var loop = true
    while (loop) {
      simple = prefixSimple(current)
      if (!simple) inv = current else va = current
      if (current == (inv + va) / 2) loop = false
      else current = (inv + va) / 2
    }
    if (!simple) current -= 1
    var cutoutstart = current

    // longest simple suffix
    inv = 0; va = n
    current = (inv + va) / 2
    simple = true; loop = true
    while (loop) {
      simple = suffixSimple(current)
      if (!simple) inv = current else va = current
      if (current == (inv + va) / 2) loop = false
      else current = (inv + va) / 2
    }
    if (!simple) current += 1
    var cutoutend = current

    if (cutoutstart < cutoutend) {
      val t = cutoutstart; cutoutstart = cutoutend; cutoutend = t
    }
    val (rawX, rawY) =
      if (cutoutstart - cutoutend > n / 2) {
        val mx = xs.slice(cutoutend, cutoutstart)
        val my = ys.slice(cutoutend, cutoutstart)
        (mx :+ mx(0), my :+ my(0))
      } else {
        (xs.take(cutoutend) ++ xs.drop(cutoutstart),
          ys.take(cutoutend) ++ ys.drop(cutoutstart))
      }
    // the concatenation can leave a repeated vertex at the seam — collapse
    // consecutive duplicates (GEOS tolerates them; our exact kernel doesn't)
    val bx = new scala.collection.mutable.ArrayBuffer[Long](rawX.length)
    val by = new scala.collection.mutable.ArrayBuffer[Long](rawY.length)
    var q = 0
    while (q < rawX.length) {
      if (bx.isEmpty || bx.last != rawX(q) || by.last != rawY(q)) {
        bx += rawX(q); by += rawY(q)
      }
      q += 1
    }
    val rx = bx.toArray; val ry = by.toArray
    if (rx.length < 4 || rx(0) != rx(rx.length - 1) || ry(0) != ry(ry.length - 1))
      return None
    val (ox, oy) = open(rx, ry)
    if (ox.length >= 3 && isSimpleRing(ox, oy) && signedArea2(ox, oy) != 0)
      Some((rx, ry))
    else None
  }

  /** Proper crossing: segments intersect at a single interior point of
    * both (touching at endpoints or collinear overlap do NOT count).
    */
  def properCross(x1: Long, y1: Long, x2: Long, y2: Long,
                  x3: Long, y3: Long, x4: Long, y4: Long): Boolean = {
    val d1 = orient(x3, y3, x4, y4, x1, y1)
    val d2 = orient(x3, y3, x4, y4, x2, y2)
    val d3 = orient(x1, y1, x2, y2, x3, y3)
    val d4 = orient(x1, y1, x2, y2, x4, y4)
    ((d1 > 0 && d2 < 0) || (d1 < 0 && d2 > 0)) &&
      ((d3 > 0 && d4 < 0) || (d3 < 0 && d4 > 0))
  }

  /** Polygon-with-holes validity (GEOS isValid parity for vertex-exact
    * geometry): every hole vertex inside-or-on the outer ring, no proper
    * edge crossing hole↔outer or hole↔hole, no two rings sharing a
    * boundary SEGMENT, and a connected interior (rings may touch at
    * isolated points only as long as the touch graph is acyclic).
    */
  def polygonValid(outer: (Array[Long], Array[Long]),
                   holes: Seq[(Array[Long], Array[Long])]): Boolean = {
    def edges(r: (Array[Long], Array[Long])): IndexedSeq[(Long, Long, Long, Long)] = {
      val (xs, ys) = r
      xs.indices.map { i =>
        val j = (i + 1) % xs.length
        (xs(i), ys(i), xs(j), ys(j))
      }
    }
    val oe = edges(outer)
    holes.zipWithIndex.forall { case (h, hi) =>
      val (hx, hy) = h
      hx.indices.forall(i => pointInRing(hx(i), hy(i), outer._1, outer._2)) &&
      edges(h).forall { case (a, b, c, d) =>
        oe.forall { case (p, q, r, s) => !properCross(a, b, c, d, p, q, r, s) } &&
        holes.zipWithIndex.forall { case (h2, hj) =>
          hj <= hi || edges(h2).forall { case (p, q, r, s) =>
            !properCross(a, b, c, d, p, q, r, s)
          }
        }
      }
    } && interiorConnected(outer, holes)
  }

  /** Connected-interior test (the GEOS isValid clause enforced by
    * builder.hpp:912-931 via Polygon::isValid that was previously out of
    * scope): the interior is disconnected iff the bipartite graph
    * {rings} ∪ {touch points} with an edge per (ring, touch point)
    * incidence contains a cycle — a hole touching the shell at two points
    * pinches the interior apart, as does a chain of point-touching holes
    * closing back on the shell, while any number of rings meeting at ONE
    * common point stay valid. Distinct rings sharing a boundary segment
    * (collinear overlapping edges) are invalid outright (1-dimensional
    * boundary intersection). Touch points are shared vertices or a vertex
    * of one ring lying on an edge of the other — exact int64 tests.
    */
  def interiorConnected(outer: (Array[Long], Array[Long]),
                        holes: Seq[(Array[Long], Array[Long])]): Boolean = {
    val rings = (outer +: holes).toArray
    val nR = rings.length
    if (nR == 1) return true
    type P = (Long, Long)

    // hoisted once per ring — the pair loops below are allocation-free
    val xs = rings.map(_._1); val ys = rings.map(_._2)
    val vertSets: Array[Set[P]] =
      rings.indices.map(r => xs(r).indices.map(i => (xs(r)(i), ys(r)(i))).toSet).toArray

    /** vertex v of ring `a` lies on some edge of ring `b`? (exact) */
    def vertexOnRing(vx: Long, vy: Long, b: Int): Boolean = {
      val bx = xs(b); val by = ys(b)
      var i = 0
      while (i < bx.length) {
        val j = (i + 1) % bx.length
        if (orient(bx(i), by(i), bx(j), by(j), vx, vy) == 0 &&
            onSeg(bx(i), by(i), bx(j), by(j), vx, vy)) return true
        i += 1
      }
      false
    }

    val incidences = scala.collection.mutable.Set.empty[(Int, P)]
    var i = 0
    while (i < nR) {
      var j = i + 1
      while (j < nR) {
        // 1-dimensional boundary overlap between two rings → invalid
        val ax = xs(i); val ay = ys(i); val bx = xs(j); val by = ys(j)
        var p = 0
        while (p < ax.length) {
          val p2 = (p + 1) % ax.length
          var q = 0
          while (q < bx.length) {
            val q2 = (q + 1) % bx.length
            if (collinearOverlap(ax(p), ay(p), ax(p2), ay(p2),
                bx(q), by(q), bx(q2), by(q2))) return false
            q += 1
          }
          p += 1
        }
        // touch points: shared vertices + vertex-on-edge contacts
        val touches = scala.collection.mutable.Set.empty[P]
        var vi = 0
        while (vi < ax.length) {
          val v = (ax(vi), ay(vi))
          if (vertSets(j).contains(v) || vertexOnRing(v._1, v._2, j)) touches += v
          vi += 1
        }
        var vj = 0
        while (vj < bx.length) {
          val v = (bx(vj), by(vj))
          if (vertSets(i).contains(v) || vertexOnRing(v._1, v._2, i)) touches += v
          vj += 1
        }
        touches.foreach { pt => incidences += ((i, pt)); incidences += ((j, pt)) }
        j += 1
      }
      i += 1
    }

    // union-find over ring nodes 0 until nR and touch-point nodes after
    // them; an incidence joining two connected nodes closes a cycle =
    // disconnected interior (in any incidence order)
    val pointNode = scala.collection.mutable.HashMap.empty[P, Int]
    incidences.foreach { case (_, p) => pointNode.getOrElseUpdate(p, nR + pointNode.size) }
    val uf = new UnionFind(nR + pointNode.size)
    incidences.forall { case (r, p) => uf.union(r, pointNode(p)) }
  }

  /** Segments (a,b) and (c,d) collinear and overlapping in more than one
    * point (exact).
    */
  private def collinearOverlap(ax: Long, ay: Long, bx: Long, by: Long,
                               cx: Long, cy: Long, dx: Long, dy: Long): Boolean = {
    if (orient(ax, ay, bx, by, cx, cy) != 0 || orient(ax, ay, bx, by, dx, dy) != 0)
      return false
    val horiz = math.abs(bx - ax) >= math.abs(by - ay)
    val (a1, b1, c1, d1) = if (horiz) (ax, bx, cx, dx) else (ay, by, cy, dy)
    math.max(math.min(a1, b1), math.min(c1, d1)) <
      math.min(math.max(a1, b1), math.max(c1, d1))
  }

  /** Outcome of a touching-inner-rings merge attempt
    * (reference/include/osmium/multipolygon/builder.hpp:804-866).
    */
  sealed trait RingMerge
  /** Boundaries do not intersect in a single shared linestring (disjoint,
    * point touch, or multiple separate shared pieces) — rings are left
    * alone and the scan continues (the reference's non-LINESTRING branch).
    */
  case object NotTouching extends RingMerge
  /** Single-linestring touch; the symmetric difference polygonized into
    * exactly one ring, which replaces the pair.
    */
  case class Merged(xs: Array[Long], ys: Array[Long]) extends RingMerge
  /** Single-linestring touch but the symmetric difference did not
    * polygonize into one ring — the reference stops ALL further merging
    * for this ring list (its polygonizer-failure `return`).
    */
  case object Unmergeable extends RingMerge

  /** Touching-inner-rings merge (builder.hpp:804-866): GEOS asks whether
    * the two ring BOUNDARIES intersect in a LINESTRING, and if so replaces
    * ring a with polygonize(symDifference(boundary a, boundary b)) when
    * that yields exactly one polygon.
    *
    * Vertex-exact model (consistent with the node-REF ring builder), made
    * overlap-complete by a normalization step: each ring first gains the
    * other ring's vertices that lie exactly on its edges, so partial
    * collinear overlaps (a short edge lying on a longer one, with or
    * without shared node refs) decompose into whole shared edges — any
    * 1-dimensional overlap of lattice-point rings has its extremes among
    * the two vertex sets, so this normalization is exhaustive. After it,
    * the boundary intersection is the set of whole shared edges plus
    * shared vertices. "Intersection is one linestring" ⇔ the shared edges
    * form a single simple path (no branching, not a cycle, connected) and
    * every shared vertex lies on that path. Rings sharing only points
    * (GEOS (MULTI)POINT) or several separate runs (MULTILINESTRING) are
    * NOT merged, matching GEOS type dispatch.
    *
    * Inputs are OPEN rings; the result is an open ring.
    */
  def mergeTouchingRings(axsIn: Array[Long], aysIn: Array[Long],
                         bxsIn: Array[Long], bysIn: Array[Long]): RingMerge = {
    type P = (Long, Long)
    def edge(p: P, q: P): (P, P) = if (p._1 < q._1 || (p._1 == q._1 && p._2 <= q._2)) (p, q) else (q, p)
    def verts(xs: Array[Long], ys: Array[Long]): Set[P] =
      xs.indices.map(i => (xs(i), ys(i))).toSet

    // normalization: insert the other ring's vertices that lie strictly
    // inside this ring's edges, in along-edge order
    def insertOnEdges(xs: Array[Long], ys: Array[Long],
                      others: Set[P]): (Array[Long], Array[Long]) = {
      val ox = scala.collection.mutable.ArrayBuffer.empty[Long]
      val oy = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = 0
      while (i < xs.length) {
        val j = (i + 1) % xs.length
        val (px, py) = (xs(i), ys(i)); val (qx, qy) = (xs(j), ys(j))
        ox += px; oy += py
        val interior = others.filter { case (vx, vy) =>
          !(vx == px && vy == py) && !(vx == qx && vy == qy) &&
            orient(px, py, qx, qy, vx, vy) == 0 && onSeg(px, py, qx, qy, vx, vy)
        }.toSeq.sortBy { case (vx, vy) =>
          math.max(math.abs(vx - px), math.abs(vy - py))
        }
        interior.foreach { case (vx, vy) => ox += vx; oy += vy }
        i += 1
      }
      (ox.toArray, oy.toArray)
    }
    val vA0 = verts(axsIn, aysIn); val vB0 = verts(bxsIn, bysIn)
    val (axs, ays) = insertOnEdges(axsIn, aysIn, vB0)
    val (bxs, bys) = insertOnEdges(bxsIn, bysIn, vA0)

    def ringEdges(xs: Array[Long], ys: Array[Long]): Set[(P, P)] =
      xs.indices.map { i =>
        val j = (i + 1) % xs.length
        edge((xs(i), ys(i)), (xs(j), ys(j)))
      }.toSet

    val ea = ringEdges(axs, ays); val eb = ringEdges(bxs, bys)
    val shared = ea.intersect(eb)
    if (shared.isEmpty) return NotTouching

    // shared edges must form one simple path
    val deg = scala.collection.mutable.Map.empty[P, Int].withDefaultValue(0)
    shared.foreach { case (p, q) => deg(p) += 1; deg(q) += 1 }
    if (deg.valuesIterator.exists(_ > 2)) return NotTouching
    // iterator first: collect on a Map with tuple-valued results would
    // rebuild a Map and collapse endpoints sharing an x coordinate
    val ends = deg.iterator.collect { case (v, 1) => v }.toList
    if (ends.size != 2) return NotTouching // cycle (identical rings) or broken
    // connectivity of the shared set: walk from one endpoint
    val adjS = scala.collection.mutable.Map.empty[P, List[P]].withDefaultValue(Nil)
    shared.foreach { case (p, q) => adjS(p) ::= q; adjS(q) ::= p }
    var visited = Set(ends.head)
    var frontier = List(ends.head)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(adjS(_)).filterNot(visited)
      visited ++= next
      frontier = next
    }
    if (visited.size != deg.size) return NotTouching // several pieces
    // no shared vertex off the path (else GEOS sees a GEOMETRYCOLLECTION)
    if (verts(axs, ays).intersect(verts(bxs, bys)) != deg.keySet) return NotTouching

    // symmetric difference of the boundaries, polygonized
    val sym = ea.union(eb).diff(shared)
    val adj = scala.collection.mutable.Map.empty[P, List[P]].withDefaultValue(Nil)
    sym.foreach { case (p, q) => adj(p) ::= q; adj(q) ::= p }
    if (adj.valuesIterator.exists(_.size != 2)) return Unmergeable
    val start = adj.keysIterator.next()
    val loopX = scala.collection.mutable.ArrayBuffer.empty[Long]
    val loopY = scala.collection.mutable.ArrayBuffer.empty[Long]
    var prev: P = null
    var cur = start
    var steps = 0
    while ((prev == null || cur != start) && steps <= sym.size) {
      loopX += cur._1; loopY += cur._2
      val next = adj(cur).find(_ != prev).getOrElse(adj(cur).head)
      prev = cur; cur = next
      steps += 1
    }
    if (steps != sym.size) return Unmergeable // more than one loop
    val rx = loopX.toArray; val ry = loopY.toArray
    if (rx.length >= 3 && isSimpleRing(rx, ry) && signedArea2(rx, ry) != 0)
      Merged(rx, ry)
    else Unmergeable
  }

  /** Orientation of point (px,py) vs directed segment (x1,y1)->(x2,y2):
    * >0 left (CCW), <0 right, 0 collinear. Exact.
    */
  def orient(x1: Long, y1: Long, x2: Long, y2: Long, px: Long, py: Long): Int =
    crossSign(x2 - x1, y2 - y1, px - x1, py - y1)

  /** CLOSED intersection test between two CONVEX CCW rings — exact
    * separating-axis over the edge normals of both polygons (complete for
    * convex sets in 2D: disjoint closed convex polygons always admit an
    * edge of one with the other STRICTLY outside; boundary contact is
    * intersection). Each test is one exact [[orient]] call, so world-scale
    * coordinates never wrap. O(|A|·|B|) per pair — the refinement
    * predicate of a candidate-bounded join, never an all-pairs stage.
    */
  def convexIntersects(axs: Array[Long], ays: Array[Long],
                       bxs: Array[Long], bys: Array[Long]): Boolean =
    !hasSeparatingEdge(axs, ays, bxs, bys) &&
    !hasSeparatingEdge(bxs, bys, axs, ays)

  /** True iff some directed CCW edge of P has EVERY vertex of Q strictly
    * to its right (outside the closed polygon P).
    */
  private def hasSeparatingEdge(pxs: Array[Long], pys: Array[Long],
                                qxs: Array[Long], qys: Array[Long]): Boolean = {
    val n = pxs.length
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      var allOut = true
      var k = 0
      while (allOut && k < qxs.length) {
        if (orient(pxs(i), pys(i), pxs(j), pys(j), qxs(k), qys(k)) >= 0)
          allOut = false
        k += 1
      }
      if (allOut) return true
      i += 1
    }
    false
  }

  /** CLOSED segment-vs-ring intersection: true iff the segment shares at
    * least one point with the closed region bounded by the simple ring —
    * an endpoint inside (or on) the ring, or the segment touching/crossing
    * any boundary edge. Endpoint-on-boundary is caught by the edge test
    * regardless of [[pointInRing]]'s boundary convention, so the predicate
    * is exact under either. O(|ring|) exact [[orient]] tests per call —
    * the refinement of a candidate-bounded join (SpatialOps.wayPolyJoin),
    * never an all-pairs stage.
    */
  def segIntersectsRing(x0: Long, y0: Long, x1: Long, y1: Long,
                        xs: Array[Long], ys: Array[Long]): Boolean = {
    if (pointInRing(x0, y0, xs, ys) || pointInRing(x1, y1, xs, ys)) return true
    val n = effLen(xs)
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      if (segmentsIntersect(x0, y0, x1, y1, xs(i), ys(i), xs(j), ys(j))) return true
      i += 1
    }
    false
  }

  /** Exact intersection point of two segments as FLOOR fix coords — the
    * planarization kernel (noding a way network at its crossings, the
    * vector analog of GEOS noding; the reference reaches the same class
    * through GEOS when areas self-touch). A = (ax0,ay0)-(ax1,ay1),
    * B = (bx0,by0)-(bx1,by1), both endpoint-inclusive.
    *
    * Returns `[floor(px), floor(py)]` of the exact rational intersection
    * p + t·r (t = ((q−p)×s)/(r×s)), or an EMPTY array when the segments
    * are parallel/collinear (r×s = 0 — collinear overlap has no unique
    * point) or the rationals fall outside both unit ranges (no contact).
    * All arithmetic in BigInt: numerators reach coord·den ≈ 10^24, far
    * past int64; floor (not truncation) keeps negative coords exact.
    */
  def segIntersectionFix(ax0: Long, ay0: Long, ax1: Long, ay1: Long,
                         bx0: Long, by0: Long, bx1: Long, by1: Long): Array[Long] = {
    val rx = ax1 - ax0; val ry = ay1 - ay0
    val sx = bx1 - bx0; val sy = by1 - by0
    val qpx = bx0 - ax0; val qpy = by0 - ay0
    val den0 = BigInt(rx) * sy - BigInt(ry) * sx
    if (den0.signum == 0) return Array.emptyLongArray
    val sgn = BigInt(den0.signum)
    val den = den0 * sgn
    val tn = (BigInt(qpx) * sy - BigInt(qpy) * sx) * sgn
    val un = (BigInt(qpx) * ry - BigInt(qpy) * rx) * sgn
    if (tn.signum < 0 || tn > den || un.signum < 0 || un > den)
      return Array.emptyLongArray
    def fdiv(n: BigInt): Long = {
      val q = n / den
      (if (n.signum < 0 && (n % den).signum != 0) q - 1 else q).longValue
    }
    Array(fdiv(BigInt(ax0) * den + tn * rx), fdiv(BigInt(ay0) * den + tn * ry))
  }

  /** SQUARED discrete Fréchet distance between two ordered polylines —
    * the trajectory-similarity kernel (map conflation: is way B the same
    * road as way A?). Classic O(m·n) coupling DP with a rolling row:
    * dp(i,j) = max(d²(i,j), min(dp(i−1,j), dp(i,j−1), dp(i−1,j−1))).
    * Exact int64 on fix coords; a point pair further than 2e9 in either
    * axis saturates to Long.MaxValue (its true d² would overflow, and any
    * minimax through it exceeds every usable threshold — callers filter
    * df2 ≤ thr² where arithmetic is exact). Runs only per candidate pair
    * of a bbox-bounded join (SpatialOps.frechetJoin), never all-pairs.
    */
  def discreteFrechet2(axs: Array[Long], ays: Array[Long],
                       bxs: Array[Long], bys: Array[Long]): Long = {
    val m = axs.length; val n = bxs.length
    require(m > 0 && n > 0, "empty polyline")
    def d2(i: Int, j: Int): Long = {
      val dx = axs(i) - bxs(j); val dy = ays(i) - bys(j)
      if (math.abs(dx) > 2000000000L || math.abs(dy) > 2000000000L) Long.MaxValue
      else dx * dx + dy * dy
    }
    var prev = new Array[Long](n)
    var cur = new Array[Long](n)
    var j = 0
    while (j < n) {
      prev(j) = if (j == 0) d2(0, 0) else math.max(prev(j - 1), d2(0, j))
      j += 1
    }
    var i = 1
    while (i < m) {
      cur(0) = math.max(prev(0), d2(i, 0))
      j = 1
      while (j < n) {
        val reach = math.min(math.min(prev(j), cur(j - 1)), prev(j - 1))
        cur(j) = math.max(reach, d2(i, j))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(n - 1)
  }

  /** Squared-distance DTW cost between two polylines: the minimum over
    * monotone couplings of Σ d²(aᵢ, bⱼ) — the SUM sibling of
    * [[discreteFrechet2]]'s minimax (classic dynamic time warping with
    * unit step weights). Same rolling two-row DP, O(m·n) time / O(n)
    * space. Exact int64 for callers whose candidate pairs are
    * locality-bounded: with per-pair |Δ| ≤ 2^31 on both axes each cell
    * cost is < 2^63/(m+n) for any realistic track length; far pairs
    * saturate per-cell to Long.MaxValue/4 and the accumulator clamps, so
    * a world-spanning pair reports a huge cost instead of wrapping.
    */
  def dtw2(axs: Array[Long], ays: Array[Long],
           bxs: Array[Long], bys: Array[Long]): Long = {
    val m = axs.length; val n = bxs.length
    require(m > 0 && n > 0, "empty polyline")
    val cap = Long.MaxValue / 4
    def d2(i: Int, j: Int): Long = {
      val dx = axs(i) - bxs(j); val dy = ays(i) - bys(j)
      if (math.abs(dx) > 2000000000L || math.abs(dy) > 2000000000L) cap
      else math.min(dx * dx + dy * dy, cap)
    }
    def add(a: Long, b: Long): Long = math.min(a + b, cap)
    var prev = new Array[Long](n)
    var cur = new Array[Long](n)
    var j = 0
    while (j < n) {
      prev(j) = if (j == 0) d2(0, 0) else add(prev(j - 1), d2(0, j))
      j += 1
    }
    var i = 1
    while (i < m) {
      cur(0) = add(prev(0), d2(i, 0))
      j = 1
      while (j < n) {
        val reach = math.min(math.min(prev(j), cur(j - 1)), prev(j - 1))
        cur(j) = add(reach, d2(i, j))
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    prev(n - 1)
  }

  private def onSeg(x1: Long, y1: Long, x2: Long, y2: Long, px: Long, py: Long): Boolean =
    px >= math.min(x1, x2) && px <= math.max(x1, x2) &&
    py >= math.min(y1, y2) && py <= math.max(y1, y2)

  /** Ignore a repeated closing vertex. */
  private def effLen(xs: Array[Long]): Int = xs.length

  /** Strip the closing vertex if the ring repeats it. */
  def open(xs: Array[Long], ys: Array[Long]): (Array[Long], Array[Long]) =
    if (xs.length > 1 && xs(0) == xs(xs.length - 1) && ys(0) == ys(ys.length - 1))
      (xs.dropRight(1), ys.dropRight(1))
    else (xs, ys)
}
