package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** Tier-1 unit goldens mirroring the reference test suite:
  * reference/test/t/geometry (all .cpp files), test/t/osm/test_position.cpp.
  */
class KernelSpec extends AnyFunSuite {
  private def forSeeded(n: Int)(f: scala.util.Random => Unit): Unit = {
    val rnd = new scala.util.Random(42)
    (0 until n).foreach(_ => f(rnd))
  }

  // --- fixed point (test_position.cpp:12-70, position.hpp:35-45) ----------
  test("fixed-point conversion 1.2 -> 12000000") {
    assert(FixedPoint.doubleToFix(1.2) === 12000000)
    assert(FixedPoint.doubleToFix(-3.2) === -32000000)
    assert(FixedPoint.fixToDouble(12000000) === 1.2)
  }

  test("fix<->double round trip (7dp decimals survive)") {
    forSeeded(2000) { rnd =>
      val fix = rnd.between(-1800000000, 1800000001)
      assert(FixedPoint.doubleToFix(FixedPoint.fixToDouble(fix)) === fix)
    }
  }

  // --- haversine (test_haversine.cpp:17-20) -------------------------------
  test("haversine golden: Nashville->LA (test_haversine.cpp:17-20)") {
    val d = Haversine.distance(-86.67, 36.12, -118.4, 33.94)
    // The reference test's check is one-sided (d - 2887259.95060711 < 0.001)
    // and its own formula evaluates to 2887258.8455288424; we match the
    // formula (haversine.hpp:48-57) bit-for-bit and satisfy the same check.
    assert(math.abs(d - 2887258.8455288424) < 1e-6)
    assert(d - 2887259.95060711 < 0.001)
  }

  test("haversine way length = sum of pair distances") {
    val pts = Array((0.0, 0.0), (1.0, 0.0), (1.0, 1.0))
    val expect = Haversine.distance(0, 0, 1, 0) + Haversine.distance(1, 0, 1, 1)
    assert(math.abs(Haversine.length(pts) - expect) < 1e-9)
  }

  // --- WKT/WKB goldens (test_point/linestring/polygon_geometry.cpp) -------
  private def fx(d: Double) = FixedPoint.doubleToFix(d)

  test("POINT WKT/EWKT/WKB goldens") {
    assert(Wkt.point(fx(1.2), fx(3.4)) === "POINT(1.2 3.4)")
    assert(Wkt.point(fx(1.2), fx(3.4), ewkt = true) === "SRID=4326;POINT(1.2 3.4)")
    assert(Wkt.toHex(Wkt.pointWkb(fx(1.2), fx(3.4))) ===
      "0101000000333333333333F33F3333333333330B40")
  }

  test("LINESTRING WKT/WKB goldens (incl. reverse and EWKB)") {
    val lon = Array(fx(1.9), fx(1.9), fx(2.9))
    val lat = Array(fx(1.9), fx(2.9), fx(2.9))
    assert(Wkt.lineString(lon, lat) === "LINESTRING(1.9 1.9,1.9 2.9,2.9 2.9)")
    assert(Wkt.lineString(lon, lat, ewkt = true) ===
      "SRID=4326;LINESTRING(1.9 1.9,1.9 2.9,2.9 2.9)")
    assert(Wkt.toHex(Wkt.lineStringWkb(lon.reverse, lat.reverse)) ===
      "01020000000300000033333333333307403333333333330740666666666666FE3F3333333333330740666666666666FE3F666666666666FE3F")
    assert(Wkt.toHex(Wkt.lineStringWkb(lon.reverse, lat.reverse, ewkb = true)) ===
      "0102000020E61000000300000033333333333307403333333333330740666666666666FE3F3333333333330740666666666666FE3F666666666666FE3F")
    assert(Wkt.toHex(Wkt.lineStringWkb(lon, lat)) ===
      "010200000003000000666666666666FE3F666666666666FE3F666666666666FE3F333333333333074033333333333307403333333333330740")
  }

  test("POLYGON WKT/WKB goldens") {
    val lon = Array(fx(1.9), fx(1.9), fx(2.9), fx(1.9))
    val lat = Array(fx(1.9), fx(2.9), fx(2.9), fx(1.9))
    assert(Wkt.polygon(Seq((lon, lat))) ===
      "POLYGON((1.9 1.9,1.9 2.9,2.9 2.9,1.9 1.9))")
    assert(Wkt.toHex(Wkt.polygonWkb(Seq((lon, lat)))) ===
      "01030000000100000004000000666666666666FE3F666666666666FE3F666666666666FE3F333333333333074033333333333307403333333333330740666666666666FE3F666666666666FE3F")
    assert(Wkt.toHex(Wkt.polygonWkb(Seq((lon, lat)), ewkb = true)) ===
      "0103000020E61000000100000004000000666666666666FE3F666666666666FE3F666666666666FE3F333333333333074033333333333307403333333333330740666666666666FE3F666666666666FE3F")
  }

  // --- planar predicates ---------------------------------------------------
  test("shoelace orientation") {
    val ccwX = Array(0L, 10L, 10L, 0L); val ccwY = Array(0L, 0L, 10L, 10L)
    assert(Planar.isCCW(ccwX, ccwY))
    assert(!Planar.isCCW(ccwX.reverse, ccwY.reverse))
  }

  test("ray-cast point in ring: square, concave, boundary") {
    val sqX = Array(0L, 10L, 10L, 0L); val sqY = Array(0L, 0L, 10L, 10L)
    assert(Planar.pointInRing(5, 5, sqX, sqY))
    assert(!Planar.pointInRing(15, 5, sqX, sqY))
    assert(Planar.pointInRing(0, 5, sqX, sqY))  // on edge
    assert(Planar.pointInRing(10, 10, sqX, sqY)) // on vertex
    // concave "C" shape
    val cX = Array(0L, 10L, 10L, 2L, 2L, 10L, 10L, 0L)
    val cY = Array(0L, 0L, 3L, 3L, 7L, 7L, 10L, 10L)
    assert(Planar.pointInRing(1, 5, cX, cY))
    assert(!Planar.pointInRing(6, 5, cX, cY)) // in the notch
    assert(Planar.pointInRing(6, 1, cX, cY))
  }

  test("polygon with hole: parity semantics") {
    val outer = (Array(0L, 100L, 100L, 0L), Array(0L, 0L, 100L, 100L))
    val hole = (Array(40L, 60L, 60L, 40L), Array(40L, 40L, 60L, 60L))
    val rings = Array(outer, hole)
    assert(Planar.pointInPolygon(10, 10, rings))
    assert(!Planar.pointInPolygon(50, 50, rings))
    assert(!Planar.pointInPolygon(150, 50, rings))
  }

  test("segment intersection") {
    assert(Planar.segmentsIntersect(0, 0, 10, 10, 0, 10, 10, 0))
    assert(!Planar.segmentsIntersect(0, 0, 10, 0, 0, 5, 10, 5))
    assert(Planar.segmentsIntersect(0, 0, 10, 0, 5, 0, 15, 0)) // collinear overlap
    assert(Planar.segmentsIntersect(0, 0, 10, 0, 10, 0, 20, 5)) // touch at endpoint
  }

  test("ring simplicity") {
    assert(Planar.isSimpleRing(Array(0L, 10L, 10L, 0L), Array(0L, 0L, 10L, 10L)))
    // bow-tie
    assert(!Planar.isSimpleRing(Array(0L, 10L, 0L, 10L), Array(0L, 10L, 10L, 0L)))
  }

  // --- cell ids ------------------------------------------------------------
  test("cell id spread/compact round trip") {
    forSeeded(2000) { rnd =>
      val v = rnd.nextLong((1L << 30))
      assert(CellId.compact(CellId.spread(v)) === v)
    }
  }

  test("cell id level/parent/range invariants") {
    val id = CellId.fromFix(123456789L, -45678901L, 16)
    assert(CellId.level(id) === 16)
    assert(CellId.level(CellId.parent(id)) === 15)
    assert(CellId.contains(CellId.parent(id), id))
    assert(CellId.rangeMin(CellId.parent(id)) <= CellId.rangeMin(id))
    assert(CellId.rangeMax(CellId.parent(id)) >= CellId.rangeMax(id))
    val kids = CellId.children(id)
    assert(kids.forall(k => CellId.contains(id, k)))
    assert(kids.forall(k => CellId.parent(k) === id))
  }

  test("cell xy round trip and ring") {
    val id = CellId.fromXY(100, 200, 10)
    assert(CellId.x(id) === 100)
    assert(CellId.y(id) === 200)
    assert(CellId.ring(id, 0) === Array(id))
    val r1 = CellId.ring(id, 1)
    assert(r1.length === 8)
    assert(r1.forall(c => CellId.level(c) === 10))
    assert(!r1.contains(id))
    // antimeridian wrap
    val edge = CellId.fromXY(0, 200, 10)
    val re = CellId.ring(edge, 1)
    assert(re.contains(CellId.fromXY((1L << 10) - 1, 200, 10)))
  }

  test("bbox cover contains the point's cell") {
    val lvl = 8
    val id = CellId.fromFix(100000000L, 200000000L, lvl)
    val cover = CellId.coverBBox(90000000L, 190000000L, 110000000L, 210000000L, lvl)
    assert(cover.contains(id))
  }

  test("cell x/y: an offset whose product with 2^level overflows throws, kernel and Column alike") {
    import org.apache.spark.sql.{Column, GraftColumnBridge}
    import org.apache.spark.sql.functions.lit
    import graft.functions.Fns
    def eval(c: Column): Any = GraftColumnBridge.tree(c).eval()
    // (9e9 + 1.8e9) * 2^30 and (9e9 + 0.9e9) * 2^30 both exceed Long.MaxValue
    val fix = 9000000000L
    intercept[ArithmeticException](CellId.cellX(fix, 30))
    intercept[ArithmeticException](eval(Fns.cellX(lit(fix), 30)))
    intercept[ArithmeticException](CellId.cellY(fix, 30))
    intercept[ArithmeticException](eval(Fns.cellY(lit(fix), 30)))
    intercept[ArithmeticException](CellId.cellX(Long.MaxValue, 0))
    // one level lower the product fits, and the cell clamps to the edge
    assert(CellId.cellX(fix, 29) === (1L << 29) - 1)
    assert(eval(Fns.cellX(lit(fix), 29)) === (1L << 29) - 1)
  }

  // --- tiles ---------------------------------------------------------------
  test("web-mercator tile assignment") {
    assert(Tiles.tileX(0, 0.0) === 0)
    assert(Tiles.tileY(0, 0.0) === 0)
    assert(Tiles.tileX(1, 0.1) === 1)
    assert(Tiles.tileY(1, 0.1) === 0)
    // z=16 around Mainz: lon 8.2711, lat 50.0005
    assert(Tiles.tileX(16, 8.2711) === 34273)
    assert(Tiles.tileY(16, 50.0005) === 22226)
    // clamping at poles
    assert(Tiles.tileY(4, 89.9) === 0)
    assert(Tiles.tileY(4, -89.9) === 15)
  }

  test("equirect bin matches nodedensity.cpp semantics") {
    // factor = width/360 for a 360x180 raster: factor 1
    assert(Tiles.equirectBin(-180.0, 90.0, 1.0, 360, 180) === ((0, 0)))
    assert(Tiles.equirectBin(179.9, -89.9, 1.0, 360, 180) === ((359, 179)))
    assert(Tiles.equirectBin(0.5, 0.5, 1.0, 360, 180) === ((180, 89)))
  }

  test("mergeTouchingRings: shared edge -> symmetric-difference union outline") {
    // two 20x20 squares side by side sharing the vertical edge x=40
    val a = (Array(20L, 40L, 40L, 20L), Array(20L, 20L, 40L, 40L))
    val b = (Array(40L, 60L, 60L, 40L), Array(20L, 20L, 40L, 40L))
    Planar.mergeTouchingRings(a._1, a._2, b._1, b._2) match {
      case Planar.Merged(xs, ys) =>
        assert(xs.length === 6) // hexagon outline with collinear seam vertices
        // union area = sum of parts (interiors disjoint): 2*(400+400)
        assert(Planar.signedArea2(xs, ys).abs === BigInt(1600))
        assert(Planar.isSimpleRing(xs, ys))
      case other => fail(s"expected Merged, got $other")
    }
  }

  test("property: merging a chain of adjacent strips reassembles the full rectangle") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 30) {
      val k = 2 + rnd.nextInt(5) // strips
      val hgt = 10 + rnd.nextInt(50)
      // random strictly-increasing x cuts
      val xs = (Seq(0) ++ Seq.fill(k - 1)(1 + rnd.nextInt(98)).distinct.sorted ++ Seq(100))
        .distinct.sorted
      val strips = xs.sliding(2).map { case Seq(a, b) =>
        (Array(a.toLong, b.toLong, b.toLong, a.toLong),
         Array(0L, 0L, hgt.toLong, hgt.toLong))
      }.toSeq
      val merged = strips.reduceLeft { (acc, s) =>
        Planar.mergeTouchingRings(acc._1, acc._2, s._1, s._2) match {
          case Planar.Merged(mx, my) => (mx, my)
          case other => fail(s"trial $trial: adjacent strips did not merge: $other")
        }
      }
      assert(Planar.signedArea2(merged._1, merged._2).abs ===
        BigInt(2L * 100L * hgt), s"trial $trial")
      assert(Planar.isSimpleRing(merged._1, merged._2), s"trial $trial")
    }
  }

  test("mergeTouchingRings: partial edge overlap (no shared vertices) still merges") {
    // B's top edge (3,0)-(7,0) lies strictly inside A's bottom edge
    val a = (Array(0L, 10L, 10L, 0L), Array(0L, 0L, 10L, 10L))
    val b = (Array(3L, 3L, 7L, 7L), Array(0L, -5L, -5L, 0L))
    Planar.mergeTouchingRings(a._1, a._2, b._1, b._2) match {
      case Planar.Merged(xs, ys) =>
        assert(Planar.signedArea2(xs, ys).abs === BigInt(2 * (100 + 20)))
        assert(Planar.isSimpleRing(xs, ys))
      case other => fail(s"expected Merged, got $other")
    }
  }

  test("mergeTouchingRings: point touch and disjoint rings are NotTouching") {
    val a = (Array(0L, 10L, 10L, 0L), Array(0L, 0L, 10L, 10L))
    val pt = (Array(10L, 20L, 20L, 10L), Array(10L, 10L, 20L, 20L)) // corner touch
    assert(Planar.mergeTouchingRings(a._1, a._2, pt._1, pt._2) === Planar.NotTouching)
    val far = (Array(100L, 110L, 110L, 100L), Array(0L, 0L, 10L, 10L))
    assert(Planar.mergeTouchingRings(a._1, a._2, far._1, far._2) === Planar.NotTouching)
  }

  test("mergeTouchingRings: two separate shared runs (MULTILINESTRING) do not merge") {
    // ring B wraps around A's right side, sharing A's bottom AND top edges
    // but neither side -> two disjoint shared runs
    val a = (Array(0L, 30L, 30L, 0L), Array(0L, 0L, 10L, 10L))
    val b = (Array(0L, 30L, 40L, 40L, 30L, 0L, -10L, -10L),
             Array(0L, 0L, -5L, 15L, 10L, 10L, 15L, -5L))
    val r = Planar.mergeTouchingRings(a._1, a._2, b._1, b._2)
    assert(r === Planar.NotTouching)
  }

  test("mergeTouchingRings: overlapping rings give a non-simple outline -> Unmergeable") {
    // B shares A's bottom edge but its top edge crosses A's right edge
    val a = (Array(0L, 10L, 10L, 0L), Array(0L, 0L, 10L, 10L))
    val b = (Array(0L, 10L, 12L, 0L), Array(0L, 0L, 5L, 5L))
    assert(Planar.mergeTouchingRings(a._1, a._2, b._1, b._2) === Planar.Unmergeable)
  }

  // --- sliding n-gram hashes (decontamination key) ------------------------
  test("slidingNgramHashes: T-n+1 windows, shifted shared runs collide, chunks miss them") {
    val base = (1 to 20).map(i => s"tok$i").mkString(" ")
    val n = 8
    val hs = TextHash.slidingNgramHashes(base, n)
    assert(hs.length === 20 - n + 1)
    // a doc embedding the same 8-token run at a DIFFERENT alignment shares
    // a window hash with the original...
    val shifted = "x y z " + (5 to 12).map(i => s"tok$i").mkString(" ") + " w"
    val hs2 = TextHash.slidingNgramHashes(shifted, n)
    assert(hs.toSet.intersect(hs2.toSet).nonEmpty)
    // ...while the non-overlapping chunk hashes (boilerplate key) miss it —
    // the defect sliding windows exist to fix
    assert(TextHash.wordChunkHashes(base, n).toSet
      .intersect(TextHash.wordChunkHashes(shifted, n).toSet).isEmpty)
    // fewer than n tokens -> no window
    assert(TextHash.slidingNgramHashes("a b c", n).isEmpty)
    // window hash == chunk hash of the same n tokens (same chain)
    val run = (5 to 12).map(i => s"tok$i").mkString(" ")
    assert(TextHash.slidingNgramHashes(run, n).toSeq ===
      TextHash.wordChunkHashes(run, n).toSeq)
  }

  // --- Hilbert curve index -------------------------------------------------
  test("hilbert: order-1 orientation vector and full-curve properties") {
    // the classic orientation: (0,0)=0, (0,1)=1, (1,1)=2, (1,0)=3
    assert(CellId.hilbert(1, 0, 0) === 0)
    assert(CellId.hilbert(1, 0, 1) === 1)
    assert(CellId.hilbert(1, 1, 1) === 2)
    assert(CellId.hilbert(1, 1, 0) === 3)
    // order 4: bijective onto [0, 256) and consecutive indexes are
    // grid-adjacent (|dx|+|dy| == 1) — the defining locality property
    // the z-order curve lacks
    val byD = (for { x <- 0 until 16; y <- 0 until 16 }
      yield CellId.hilbert(4, x, y) -> (x, y)).toMap
    assert(byD.keySet === (0 until 256).map(_.toLong).toSet)
    (0 until 255).foreach { d =>
      val (x0, y0) = byD(d.toLong); val (x1, y1) = byD(d.toLong + 1)
      assert(math.abs(x0 - x1) + math.abs(y0 - y1) === 1,
        s"jump at d=$d: ($x0,$y0)->($x1,$y1)")
    }
    // hierarchical nesting: the order-k index div 4 is the order-(k-1)
    // index of the parent cell — what makes bucket = d >> shift a pyramid
    for { x <- 0 until 16; y <- 0 until 16 }
      assert(CellId.hilbert(4, x, y) / 4 === CellId.hilbert(3, x / 2, y / 2))
  }

  // --- hashed-token linear classifier score --------------------------------
  test("linearScore: tokenization contract and independent recomputation") {
    def expected(s: String): Long =
      s.split(" ").filter(_.nonEmpty).map { tok =>
        val cps = tok.codePoints().toArray
        var h = 0L
        (0 until 8).foreach(k => h = h * 31 + (if (k < cps.length) cps(k) else 0))
        TextHash.mixId(h % 1000000007L) % 2001L - 1000L
      }.sum
    val samples = Seq("", "   ", "one", "a b  c", "über café 東京",
      "the quick brown fox jumps over the lazy dog",
      "repeated repeated repeated")
    samples.foreach(s => assert(TextHash.linearScore(s) === expected(s), s))
    // weights land in [-1000, 1000]: a single token's score is bounded
    assert(math.abs(TextHash.linearScore("one")) <= 1000)
    // order-independent (bag of words): permutations score identically
    assert(TextHash.linearScore("a b c") === TextHash.linearScore("c a b"))
  }

  // --- product quantization: raw PQ is residual PQ against the zero centroid ---
  test("PQ: residual encode/dist table against the zero centroid equals the raw formulas") {
    import graft.plans.{CentroidKernel, PqKernel}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    // the raw formulas: squared L2 of float components widened to double,
    // rounded to 1e-6 per subspace; the code is the first argmin
    def rawSub(v: Array[Float], c: Array[Float], off: Int, subDim: Int): Long = {
      var s = 0.0
      var i = 0
      while (i < subDim) {
        val d = v(off + i).toDouble - c(off + i).toDouble
        s += d * d
        i += 1
      }
      CentroidKernel.roundE6(s)
    }
    def rawTable(v: Array[Float], cents: Array[Array[Float]], m: Int): Seq[Long] = {
      val subDim = v.length / m
      for (j <- 0 until m; c <- cents) yield rawSub(v, c, j * subDim, subDim)
    }
    def rawEncode(v: Array[Float], cents: Array[Array[Float]], m: Int): Seq[Int] = {
      val subDim = v.length / m
      (0 until m).map { j =>
        val d = cents.map(rawSub(v, _, j * subDim, subDim))
        d.indexOf(d.min)
      }
    }
    val special = Array(-0.0f, 0.0f, Float.MaxValue, -Float.MaxValue, Float.MaxValue / 3,
      Float.MinPositiveValue, -Float.MinPositiveValue, 1e-30f, -1e30f)
    forSeeded(300) { rnd =>
      val dim = 8
      val m = Seq(1, 2, 4, 8)(rnd.nextInt(4))
      def value(): Float =
        if (rnd.nextInt(4) == 0) special(rnd.nextInt(special.length))
        else (rnd.nextFloat() * 2 - 1) * math.pow(10, rnd.nextInt(7) - 3).toFloat
      def vec(): Array[Float] = Array.fill(dim)(value())
      val raw = Array.fill(1 + rnd.nextInt(16))(vec())
      // a repeated codeword forces a tie: the first index must win
      if (raw.length > 1 && rnd.nextBoolean()) raw(raw.length - 1) = raw(0).clone()
      val zero = PqKernel.zeroCentroid(dim)
      val book = PqKernel.ResBook(raw.map(PqKernel.residual(_, zero(0)._2)), m)
      val v = if (rnd.nextInt(5) == 0) raw(rnd.nextInt(raw.length)).clone() else vec()
      val codes = PqKernel.encodeRes(zero, book, new GenericArrayData(v), PqKernel.ZeroCid)
      assert(codes.toIntArray().toSeq === rawEncode(v, raw, m), v.mkString(","))
      val dtab = PqKernel.distTableRes(zero, book, new GenericArrayData(v), PqKernel.ZeroCid)
      assert(dtab.toLongArray().toSeq === rawTable(v, raw, m), v.mkString(","))
    }
  }

  // --- union-find: the one connected-components kernel --------------------
  test("UnionFind: min roots equal a brute-force BFS component minimum on seeded random graphs") {
    forSeeded(300) { rnd =>
      val n = 1 + rnd.nextInt(80)
      // disjoint node blocks for chains, stars and isolated pairs, then
      // self-loops, duplicate edges and a few edges across blocks
      val perm = rnd.shuffle((0 until n).toIndexedSeq)
      var next = 0
      def take(k: Int): IndexedSeq[Int] = {
        val b = perm.slice(next, next + k); next += b.length; b
      }
      val edges = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      (0 until rnd.nextInt(4)).foreach { _ =>
        val c = take(2 + rnd.nextInt(10))
        c.indices.drop(1).foreach(i => edges += ((c(i - 1), c(i))))
      }
      (0 until rnd.nextInt(3)).foreach { _ =>
        val s = take(2 + rnd.nextInt(8))
        s.drop(1).foreach(v => edges += ((s(0), v)))
      }
      (0 until rnd.nextInt(5)).foreach { _ =>
        val p = take(2)
        if (p.length == 2) edges += ((p(0), p(1)))
      }
      (0 until rnd.nextInt(4)).foreach { _ => val v = rnd.nextInt(n); edges += ((v, v)) }
      if (edges.nonEmpty)
        (0 until rnd.nextInt(5)).foreach(_ => edges += edges(rnd.nextInt(edges.length)))
      (0 until rnd.nextInt(3)).foreach(_ => edges += ((rnd.nextInt(n), rnd.nextInt(n))))
      val order = rnd.shuffle(edges.toSeq).map(e => if (rnd.nextBoolean()) e else e.swap)

      val uf = new UnionFind(n)
      val merges = order.count { case (a, b) => uf.union(a, b) }

      val adj = Array.fill(n)(List.empty[Int])
      order.foreach { case (a, b) => adj(a) ::= b; adj(b) ::= a }
      val want = Array.fill(n)(-1)
      var components = 0
      (0 until n).foreach { s =>
        if (want(s) < 0) {
          components += 1
          val seen = scala.collection.mutable.ArrayBuffer(s)
          want(s) = s
          var i = 0
          while (i < seen.length) {
            adj(seen(i)).foreach(v => if (want(v) < 0) { want(v) = s; seen += v })
            i += 1
          }
          val m = seen.min
          seen.foreach(want(_) = m)
        }
      }
      assert((0 until n).map(uf.find) === want.toSeq, order.mkString(" "))
      // union is true exactly for the edges that join two components
      assert(merges === n - components)
    }
  }

  test("interiorConnected: touch-graph verdicts (one touch valid, a touch cycle or shared segment not)") {
    def ring(pts: (Long, Long)*): (Array[Long], Array[Long]) =
      (pts.map(_._1).toArray, pts.map(_._2).toArray)
    val shell = ring((0, 0), (100, 0), (100, 100), (0, 100))
    val cases = Seq(
      ("no holes", Seq(), true),
      ("a free hole", Seq(ring((20, 20), (40, 20), (40, 40))), true),
      ("a hole touching the shell at one point",
        Seq(ring((0, 50), (20, 40), (20, 60))), true),
      ("a hole touching the shell at two points",
        Seq(ring((0, 50), (50, 0), (50, 50))), false),
      ("two holes sharing one vertex",
        Seq(ring((20, 20), (40, 20), (40, 40)), ring((40, 40), (60, 40), (60, 60))), true),
      ("a chain of holes closing on the shell",
        Seq(ring((0, 50), (30, 40), (30, 60)), ring((30, 60), (50, 100), (60, 60))), false),
      ("three rings meeting at one common point",
        Seq(ring((0, 50), (20, 30), (20, 45)), ring((0, 50), (20, 55), (20, 70))), true),
      ("a hole sharing a boundary segment with the shell",
        Seq(ring((0, 20), (0, 40), (20, 30))), false))
    cases.foreach { case (name, holes, valid) =>
      assert(Planar.interiorConnected(shell, holes) === valid, name)
    }
  }
}
