package graft.cluster

import org.apache.spark.sql.catalyst.expressions.XXH64

/**
 * The large-star/small-star loop of [[ConnectedComponents]] replayed in
 * one task, for its round count: the same two steps, the same set
 * (distinct) semantics and the same convergence test — (edge count,
 * xor of `xxhash64(u, v)`), hashed with Spark's own XXH64 at seed 42 —
 * so the count equals the distributed loop's by construction, `maxIter`
 * capping it and an empty graph reporting 1 round.
 *
 * Ids are rank-compressed (sorted distinct ids, so rank order is id
 * order) and a directed edge is one long `rank(u) << 32 | rank(v)`; a
 * step's distinct is a sort plus an adjacent-duplicate drop. Neither
 * step adds edges — large-star emits one edge per edge, small-star one
 * per non-minimal neighbor — so two m-long edge buffers suffice. Memory
 * ~40 B/edge: two buffers (16) + sorted ids (≤ 16) + one int per node
 * (≤ 8). Iterative throughout: `Arrays.sort` on primitives recurses to a
 * bounded depth, and nothing is boxed per edge.
 */
private[graft] object StarReplay {

  private def hi(x: Long): Int = (x >>> 32).toInt
  private def lo(x: Long): Int = x.toInt
  private def pack(a: Int, b: Int): Long = (a.toLong << 32) | b

  /** Rounds the loop runs on `m` edges (as the frame holds them). */
  def rounds(edges: Iterator[(Long, Long)], m: Int, maxIter: Int): Int = {
    val cur = new Array[Long](m)
    val nxt = new Array[Long](m)
    var k = 0
    edges.foreach { case (u, v) => cur(k) = u; nxt(k) = v; k += 1 }
    require(k == m, s"edge frame holds $k edges, expected $m")
    val ids = new Array[Long](2 * m)
    System.arraycopy(cur, 0, ids, 0, m)
    System.arraycopy(nxt, 0, ids, m, m)
    java.util.Arrays.sort(ids)
    val n = dedupe(ids, 2 * m)
    var i = 0
    while (i < m) {
      cur(i) = pack(java.util.Arrays.binarySearch(ids, 0, n, cur(i)),
        java.util.Arrays.binarySearch(ids, 0, n, nxt(i)))
      i += 1
    }
    val mn = new Array[Int](n)

    def signature(buf: Array[Long], len: Int): Long = {
      var h = 0L
      var j = 0
      while (j < len) {
        h ^= XXH64.hashLong(ids(lo(buf(j))), XXH64.hashLong(ids(hi(buf(j))), 42L))
        j += 1
      }
      h
    }

    var prev = (k.toLong, signature(cur, k))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val l = largeStar(cur, k, nxt, mn, n)
      k = smallStar(nxt, l, cur, mn, n)
      val sig = (k.toLong, signature(cur, k))
      converged = sig == prev
      prev = sig
      iter += 1
    }
    iter
  }

  /** Large-star of src[0, k) into dst: every neighbor v > u of u is
    * linked to u's min neighbor (u included). Returns the distinct
    * count; every emitted edge is (larger, smaller). */
  private def largeStar(src: Array[Long], k: Int, dst: Array[Long],
      mn: Array[Int], n: Int): Int = {
    var x = 0
    while (x < n) { mn(x) = x; x += 1 }
    var i = 0
    while (i < k) {
      val a = hi(src(i)); val b = lo(src(i))
      if (b < mn(a)) mn(a) = b
      if (a < mn(b)) mn(b) = a
      i += 1
    }
    var j = 0
    i = 0
    while (i < k) {
      val a = hi(src(i)); val b = lo(src(i))
      // mn(min) ≤ min < max, so no self-loop is emitted
      if (a != b) { dst(j) = pack(math.max(a, b), mn(math.min(a, b))); j += 1 }
      i += 1
    }
    java.util.Arrays.sort(dst, 0, j)
    dedupe(dst, j)
  }

  /** Small-star of src[0, k) into dst: u and its smaller neighbors are
    * linked to the smallest of them. Each u emits at most one edge per
    * input edge (its minimal neighbor's edge emits nothing, u's own link
    * takes its place), so at most k. Returns the distinct count. */
  private def smallStar(src: Array[Long], k: Int, dst: Array[Long],
      mn: Array[Int], n: Int): Int = {
    java.util.Arrays.fill(mn, 0, n, Int.MaxValue)
    var i = 0
    while (i < k) {
      val a = hi(src(i)); val b = lo(src(i))
      val u = math.max(a, b); val v = math.min(a, b)
      if (v < mn(u)) mn(u) = v
      i += 1
    }
    var j = 0
    i = 0
    while (i < k) {
      val a = hi(src(i)); val b = lo(src(i))
      val u = math.max(a, b); val v = math.min(a, b)
      if (v != mn(u)) { dst(j) = pack(v, mn(u)); j += 1 }
      i += 1
    }
    var x = 0
    while (x < n) {
      if (mn(x) != Int.MaxValue && mn(x) != x) { dst(j) = pack(x, mn(x)); j += 1 }
      x += 1
    }
    java.util.Arrays.sort(dst, 0, j)
    dedupe(dst, j)
  }

  /** Drop adjacent duplicates of sorted a[0, len); returns the new length. */
  private def dedupe(a: Array[Long], len: Int): Int = {
    var w = 0
    var r = 0
    while (r < len) {
      if (w == 0 || a(w - 1) != a(r)) { a(w) = a(r); w += 1 }
      r += 1
    }
    w
  }
}
