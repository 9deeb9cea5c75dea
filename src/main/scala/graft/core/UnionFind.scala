package graft.core

/** Disjoint sets over the ints `0 until n`, united by MIN and found with
  * path compression. A set's root is always its smallest member, so
  * `find(x)` is the minimum of x's set: the min-label contract every
  * connected-components path in the engine shares.
  */
final class UnionFind(n: Int) {
  private[this] val parent = Array.range(0, n)

  /** The smallest member of x's set. */
  def find(x: Int): Int = {
    var r = x
    while (parent(r) != r) r = parent(r)
    var c = x
    while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
    r
  }

  /** Merges the sets of `a` and `b` under the smaller root; false when
    * they were one set already (the edge closes a cycle).
    */
  def union(a: Int, b: Int): Boolean = {
    val ra = find(a); val rb = find(b)
    if (ra == rb) false
    else {
      if (ra < rb) parent(rb) = ra else parent(ra) = rb
      true
    }
  }
}
