package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.core.UnionFind

/** A whole graph held by ONE task as primitive arrays: the single-shard
  * side of every graph operator's size dispatch ([[LocalGraph.dispatchBySize]]).
  *
  * Node ids are renumbered densely, in the manner of osmium's sorted-vector
  * id store: `ids` holds every edge endpoint and every seed id, sorted and
  * distinct, and a node's index is its position in `ids`. Index order is
  * therefore id order, so a "ties to the smallest id" rule holds unchanged
  * on indices. Edges are in CSR form: the out-edges of node `i` occupy
  * slots `off(i) until off(i + 1)`, slot `k` leading to `nbr(k)` with
  * weight `w(k)` (`w` is null for an unweighted graph).
  *
  * Seed rows ride in with the edges: row `r` names node `seeds(r)` and
  * carries two payload values `seedA(r)`, `seedB(r)` (zero unless the
  * seed frame has them).
  */
final class LocalGraph(val ids: Array[Long], val off: Array[Int],
    val nbr: Array[Int], val w: Array[Long], val seeds: Array[Int],
    val seedA: Array[Long], val seedB: Array[Long]) {

  def n: Int = ids.length
  def m: Int = nbr.length
  def degree(i: Int): Int = off(i + 1) - off(i)

  /** Source node of each edge slot, so edge `k` is `(src(k), nbr(k))`. */
  lazy val src: Array[Int] = {
    val s = new Array[Int](m)
    var i = 0
    while (i < n) { java.util.Arrays.fill(s, off(i), off(i + 1), i); i += 1 }
    s
  }

  /** Whether a node is an endpoint of some edge (a seed need not be). */
  lazy val onEdge: Array[Boolean] = {
    val b = new Array[Boolean](n)
    var k = 0
    while (k < m) { b(src(k)) = true; b(nbr(k)) = true; k += 1 }
    b
  }

  /** The same nodes and seeds over the edges `from(k) -> to(k)`. */
  def withEdges(from: Array[Int], to: Array[Int],
                w: Array[Long] = null): LocalGraph =
    LocalGraph.of(ids, from, to, w, seeds, seedA, seedB)

  /** The same graph with every edge reversed. */
  def reversed: LocalGraph = withEdges(nbr, src, w)

  /** The same graph with every edge present in both directions. */
  def undirected: LocalGraph =
    withEdges(src ++ nbr, nbr ++ src, if (w == null) null else w ++ w)

  /** Every node with the smallest id of its component, edges taken
    * undirected: one [[UnionFind]] pass over the edge slots.
    */
  def componentMins: Iterator[(Long, Long)] = {
    val uf = new UnionFind(n)
    var k = 0
    while (k < m) { uf.union(src(k), nbr(k)); k += 1 }
    Iterator.tabulate(n)(i => (ids(i), ids(uf.find(i))))
  }

  /** Level-synchronous BFS from the nodes `from` over out-edges, at most
    * `maxHops` levels. Every node reached gets its first-arrival level in
    * `dist`, which must hold −1 for every unvisited node on entry. When
    * `sigma` is given, it also gets the number of shortest paths from the
    * sources (sources count 1; a node sums its predecessors on the level
    * above). Returns the nodes reached, level by level, sources first.
    */
  def bfs(from: Array[Int], maxHops: Int, dist: Array[Int],
          sigma: Array[Long] = null): Array[Int] = {
    val order = new Array[Int](n)
    var end = 0
    from.foreach { s =>
      if (dist(s) < 0) {
        dist(s) = 0; order(end) = s; end += 1
        if (sigma != null) sigma(s) = 1L
      }
    }
    var lo = 0
    var h = 0
    while (lo < end && h < maxHops) {
      h += 1
      val hi = end
      while (lo < hi) {
        val u = order(lo)
        lo += 1
        var k = off(u)
        while (k < off(u + 1)) {
          val v = nbr(k)
          if (dist(v) < 0) {
            dist(v) = h; order(end) = v; end += 1
            if (sigma != null) sigma(v) = sigma(u)
          } else if (sigma != null && dist(v) == h) sigma(v) += sigma(u)
          k += 1
        }
      }
    }
    java.util.Arrays.copyOf(order, end)
  }
}

object LocalGraph {

  /** Size dispatch of a graph operator: `local` when the operator's
    * prepared `frame` has at most `budget` rows and its id columns
    * (`idTypes`) allow it, else `distributed`, which gets the row count.
    *
    * The single-shard twins load ids as Long, so every id column must be
    * integral: an operator called with string ids (e.g. TextRank's word
    * graph) stays on the distributed loop at any size. The id columns
    * must also share ONE type: twins cast output ids back to that type,
    * which would silently truncate ids from a WIDER column (src INT,
    * dst BIGINT), where the distributed loops widen via unionByName, so
    * mixed-width inputs stay distributed too. The count is the
    * operator's one documented probe; it runs on both branches.
    */
  def dispatchBySize[T](frame: DataFrame, budget: Long, idTypes: DataType*)(
      local: => T)(distributed: Long => T): T = {
    val n = frame.count()
    if (n <= budget && integralId(idTypes: _*)) local else distributed(n)
  }

  /** Whether every type is integral and all are the same type. */
  private[graft] def integralId(dts: DataType*): Boolean =
    dts.forall {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    } && dts.distinct.lengthCompare(1) <= 0

  /** Loads `edges` — columns (src, dst) or (src, dst, w), by position —
    * and the optional `seeds` — columns (id) or (id, a, b) — into one
    * [[LocalGraph]] inside a single task and runs `f` on it. One job: the
    * seeds ride a tagged union with the edges, never a driver collect.
    */
  def run[T <: Product : TypeTag](edges: DataFrame,
      seeds: Option[DataFrame] = None)(
      f: LocalGraph => Iterator[T]): Dataset[T] = {
    val sess = edges.sparkSession
    import sess.implicits._
    def longs(df: DataFrame, t: Int) = {
      val c = df.columns
      Seq("x", "y", "z").zipWithIndex.map { case (name, i) =>
        (if (i < c.length) col(c(i)).cast(LongType) else lit(0L)).as(name)
      } :+ lit(t).as("t")
    }
    val weighted = edges.columns.length > 2
    val es = edges.select(longs(edges, 1): _*)
    val tagged = seeds.fold(es)(s => es.unionByName(s.select(longs(s, 0): _*)))
    tagged.as[(Long, Long, Long, Int)].coalesce(1)
      .mapPartitions(it => f(load(it, weighted)))(Encoders.product[T])
  }

  /** Casts the columns `idCols` of a twin's output back to the caller's
    * id type (for use with `Dataset.transform`).
    */
  def castIds(idType: DataType, idCols: String*)(df: DataFrame): DataFrame =
    df.select(df.columns.toIndexedSeq.map(c =>
      if (idCols.contains(c)) col(c).cast(idType).as(c) else col(c)): _*)

  /** The graph of tagged rows (x, y, z, t): t = 1 is an edge x -> y of
    * weight z, t = 0 a seed x with payload (y, z).
    */
  private[graft] def load(rows: Iterator[(Long, Long, Long, Int)],
                          weighted: Boolean): LocalGraph = {
    import scala.collection.mutable.ArrayBuilder
    val from, to, w, seed, seedA, seedB = new ArrayBuilder.ofLong
    rows.foreach { case (x, y, z, t) =>
      if (t == 1) { from += x; to += y; if (weighted) w += z }
      else { seed += x; seedA += y; seedB += z }
    }
    val (f, d, s) = (from.result(), to.result(), seed.result())
    val all = f ++ d ++ s
    java.util.Arrays.sort(all)
    var nIds = 0
    var i = 0
    while (i < all.length) {
      if (nIds == 0 || all(i) != all(nIds - 1)) { all(nIds) = all(i); nIds += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(all, nIds)
    def index(a: Array[Long]) = a.map(java.util.Arrays.binarySearch(ids, _))
    of(ids, index(f), index(d), if (weighted) w.result() else null,
      index(s), seedA.result(), seedB.result())
  }

  /** CSR over edges `from(k) -> to(k)` (weights `w(k)`), slots of each
    * node in input order.
    */
  private def of(ids: Array[Long], from: Array[Int], to: Array[Int],
      w: Array[Long], seeds: Array[Int], seedA: Array[Long],
      seedB: Array[Long]): LocalGraph = {
    val n = ids.length
    val off = new Array[Int](n + 1)
    from.foreach(s => off(s + 1) += 1)
    var i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val next = java.util.Arrays.copyOf(off, n)
    val nbr = new Array[Int](from.length)
    val ww = if (w == null) null else new Array[Long](from.length)
    var k = 0
    while (k < from.length) {
      val p = next(from(k))
      next(from(k)) = p + 1
      nbr(p) = to(k)
      if (ww != null) ww(p) = w(k)
      k += 1
    }
    new LocalGraph(ids, off, nbr, ww, seeds, seedA, seedB)
  }
}
