package perfbench

/** Driver-side reference answers over a plain edge list — no engine code.
  * Vertices are dense indices 0 until n; `e` holds (src, dst, label) over
  * them, parallel edges included. Every algorithm here is the textbook
  * sequential form of what the engine computes distributed. */
final class Ref(val n: Int, val e: EdgeList) {
  private val m = e.size

  /** Undirected multi-adjacency in CSR form (each edge in both directions). */
  private lazy val (adjStart, adj) = {
    val deg = new Array[Int](n + 1)
    for (i <- 0 until m) { deg(e.src(i)) += 1; deg(e.dst(i)) += 1 }
    val start = new Array[Int](n + 1)
    for (v <- 0 until n) start(v + 1) = start(v) + deg(v)
    val fill = java.util.Arrays.copyOf(start, n)
    val out = new Array[Int](start(n))
    for (i <- 0 until m) {
      val (s, d) = (e.src(i), e.dst(i))
      out(fill(s)) = d; fill(s) += 1
      out(fill(d)) = s; fill(d) += 1
    }
    (start, out)
  }

  /** Vertices within `hops` undirected hops of `v` (v included). */
  def ball(v: Int, hops: Int): java.util.BitSet = {
    val keep = new java.util.BitSet(n)
    keep.set(v)
    var frontier = Array(v)
    for (_ <- 1 to hops) {
      val next = scala.collection.mutable.ArrayBuffer.empty[Int]
      frontier.foreach { u =>
        var j = adjStart(u)
        while (j < adjStart(u + 1)) {
          val w = adj(j)
          if (!keep.get(w)) { keep.set(w); next += w }
          j += 1
        }
      }
      frontier = next.toArray
    }
    keep
  }

  /** Fingerprint of the ego network of `v`: every edge with both endpoints
    * inside the `hops`-ball, as (row count, order-free hash sum). */
  def egoPrint(v: Int, hops: Int, ids: Array[Long]): (Long, Long) = {
    val keep = ball(v, hops)
    var cnt = 0L
    var sum = 0L
    var i = 0
    while (i < m) {
      if (keep.get(e.src(i)) && keep.get(e.dst(i))) {
        cnt += 1
        sum += Ref.edgeHash(ids(e.src(i)), ids(e.dst(i)), Expected.EdgeLabels(e.lbl(i)))
      }
      i += 1
    }
    (cnt, sum)
  }

  /** Out-neighbours of `v` over edges labelled `l` (with multiplicity). */
  def out(v: Int, l: Byte): Seq[Int] =
    (0 until m).filter(i => e.src(i) == v && e.lbl(i) == l).map(e.dst(_))

  /** In-neighbours of `v` over edges labelled `l` (with multiplicity). */
  def in(v: Int, l: Byte): Seq[Int] =
    (0 until m).filter(i => e.dst(i) == v && e.lbl(i) == l).map(e.src(_))

  /** Neighbours over `l` edges in either direction (with multiplicity). */
  def both(v: Int, l: Byte): Seq[Int] = out(v, l) ++ in(v, l)

  /** Component label per vertex: the minimum vertex id in its component. */
  def components(ids: Array[Long]): Array[Long] = {
    val uf = new UnionFind(n)
    for (i <- 0 until m) uf.union(e.src(i), e.dst(i))
    uf.minLabels(ids)
  }

  /** Canonical simple undirected edges (low, high), self-loops dropped. */
  lazy val simple: Array[Long] = {
    val s = new scala.collection.mutable.LongMap[Unit]()
    for (i <- 0 until m if e.src(i) != e.dst(i)) {
      val (a, b) = (math.min(e.src(i), e.dst(i)), math.max(e.src(i), e.dst(i)))
      s.update(a.toLong << 32 | b, ())
    }
    s.keys.toArray.sorted
  }
  private def lo(p: Long): Int = (p >>> 32).toInt
  private def hi(p: Long): Int = p.toInt

  private lazy val simpleAdj: Array[Array[Int]] = {
    val b = Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[Int])
    simple.foreach { p => b(lo(p)) += hi(p); b(hi(p)) += lo(p) }
    b.map(_.toArray.sorted)
  }

  /** Triangles per vertex (vertices on at least one triangle only). */
  def triangles(): Map[Int, Long] = {
    val cnt = new Array[Long](n)
    simple.foreach { p =>
      val (a, b) = (lo(p), hi(p))
      val (na, nb) = (simpleAdj(a), simpleAdj(b))
      // common neighbours c > b close each triangle a < b < c exactly once
      var i = 0; var j = 0
      while (i < na.length && j < nb.length) {
        if (na(i) < nb(j)) i += 1
        else if (na(i) > nb(j)) j += 1
        else {
          val c = na(i)
          if (c > b) { cnt(a) += 1; cnt(b) += 1; cnt(c) += 1 }
          i += 1; j += 1
        }
      }
    }
    cnt.indices.filter(cnt(_) > 0).map(v => v -> cnt(v)).toMap
  }

  /** PageRank with uniform teleport and dropped dangling mass — the
    * formula `PropertyGraph.pageRank` documents — by power iteration, with
    * a per-vertex bound on how far the engine may differ: it sums each
    * vertex's contributions as DECIMAL(38,10), rounding every addend by at
    * most 5e-11, and the rounding of one iteration flows into the next.
    * Returns (scores, bounds). */
  def pageRank(iters: Int): (Array[Double], Array[Double]) = {
    val outdeg = new Array[Int](n)
    for (i <- 0 until m) outdeg(e.src(i)) += 1
    var pr = Array.fill(n)(1.0 / n)
    var err = new Array[Double](n)
    for (_ <- 1 to iters) {
      val s = new Array[Double](n)
      val es = new Array[Double](n)
      for (i <- 0 until m) {
        s(e.dst(i)) += pr(e.src(i)) / outdeg(e.src(i))
        es(e.dst(i)) += 5e-11 + err(e.src(i)) / outdeg(e.src(i))
      }
      pr = s.map(x => 0.15 / n + 0.85 * x)
      err = es.map(x => 0.85 * x + 1e-15)
    }
    (pr, err)
  }

  /** Bounded k-core peel with the engine's round semantics: round 1 keeps
    * vertices of simple degree ≥ k; each later round recounts degrees over
    * edges whose endpoints both survived and keeps those still ≥ k.
    * Returns survivor → final-round degree. */
  def kCore(k: Int, rounds: Int): Map[Int, Long] = {
    var live: Map[Int, Long] = {
      val d = new Array[Long](n)
      simple.foreach { p => d(lo(p)) += 1; d(hi(p)) += 1 }
      d.indices.filter(d(_) >= k).map(v => v -> d(v)).toMap
    }
    for (_ <- 2 to rounds) {
      val d = scala.collection.mutable.HashMap.empty[Int, Long]
      simple.foreach { p =>
        if (live.contains(lo(p)) && live.contains(hi(p))) {
          d(lo(p)) = d.getOrElse(lo(p), 0L) + 1; d(hi(p)) = d.getOrElse(hi(p), 0L) + 1
        }
      }
      live = d.filter(_._2 >= k).toMap
    }
    live
  }
}

object Ref {
  private def mix(x0: Long): Long = {
    var x = x0 * 0x9E3779B97F4A7C15L
    x ^= x >>> 32; x *= 0xD6E8FEB86659FD93L; x ^= x >>> 32
    x
  }
  def edgeHash(src: Long, dst: Long, label: String): Long =
    mix(mix(src) + 31 * dst + label.hashCode)
}

/** Union-find with path halving; `union` reports whether it merged. */
final class UnionFind(n: Int) {
  private val parent = Array.tabulate(n)(identity)
  def find(x0: Int): Int = {
    var x = x0
    while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
    x
  }
  def union(a: Int, b: Int): Boolean = {
    val (ra, rb) = (find(a), find(b))
    if (ra == rb) false else { parent(math.max(ra, rb)) = math.min(ra, rb); true }
  }
  /** Per vertex, the minimum of `ids` over its set. */
  def minLabels(ids: Array[Long]): Array[Long] = {
    val best = new scala.collection.mutable.LongMap[Long]()
    for (v <- 0 until n) {
      val r = find(v).toLong
      best.update(r, math.min(best.getOrElse(r, Long.MaxValue), ids(v)))
    }
    Array.tabulate(n)(v => best(find(v).toLong))
  }
}
