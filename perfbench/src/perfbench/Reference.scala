package perfbench

import java.util.Arrays

/** Array-based replays, outside Spark, of the recurrences the engine's
  * algorithms compute. `graft.ref.DenseMimic` states the same rules over
  * immutable Maps, which is too slow at benchmark scale (its triangle count is
  * O(|E|²)); [[selfCheck]] compares every replay with DenseMimic on small
  * seeded graphs so the replays inherit its authority.
  *
  * Vertices are dense indices into `ids`, which is sorted ascending, so
  * "smallest index" and "smallest id" agree and min-id rules can run on
  * indices.
  */
object Reference {

  /** Distinct directed pairs over dense vertex indices. */
  final class Graph(val ids: Array[Long], val src: Array[Int], val dst: Array[Int]) {
    def n: Int = ids.length
    def m: Int = src.length
    def index(id: Long): Int = {
      val i = Arrays.binarySearch(ids, id)
      if (i < 0) throw new IllegalStateException(s"vertex $id is not in the graph")
      i
    }
  }

  def graph(src: Array[Long], dst: Array[Long]): Graph = {
    val ids = (src ++ dst).distinct.sorted
    val pairs = new Array[Long](src.length)
    val n = ids.length.toLong
    var i = 0
    while (i < src.length) {
      pairs(i) = Arrays.binarySearch(ids, src(i)) * n + Arrays.binarySearch(ids, dst(i))
      i += 1
    }
    val uniq = pairs.distinct.sorted
    new Graph(ids, uniq.map(p => (p / n).toInt), uniq.map(p => (p % n).toInt))
  }

  /** Compressed rows: offsets(v) until offsets(v+1) index into targets. */
  private final class Csr(val offsets: Array[Int], val targets: Array[Int]) {
    def from(v: Int): Int = offsets(v)
    def until(v: Int): Int = offsets(v + 1)
  }

  private def csr(n: Int, from: Array[Int], to: Array[Int]): Csr = {
    val off = new Array[Int](n + 1)
    from.foreach(u => off(u + 1) += 1)
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val fill = off.clone()
    val tgt = new Array[Int](from.length)
    var i = 0
    while (i < from.length) { tgt(fill(from(i))) = to(i); fill(from(i)) += 1; i += 1 }
    v = 0
    while (v < n) { Arrays.sort(tgt, off(v), off(v + 1)); v += 1 }
    new Csr(off, tgt)
  }

  /** Symmetrized simple graph (both directions, self-loops dropped, deduped). */
  private def undirected(g: Graph): Csr = {
    val keep = g.src.indices.filter(i => g.src(i) != g.dst(i))
    val n = g.n.toLong
    val both = (keep.map(i => g.src(i) * n + g.dst(i)) ++
      keep.map(i => g.dst(i) * n + g.src(i))).toArray.distinct
    csr(g.n, both.map(p => (p / n).toInt), both.map(p => (p % n).toInt))
  }

  /** Canonical lo<hi simple undirected edges, rows sorted, as a forward CSR. */
  private def forward(g: Graph): Csr = {
    val n = g.n.toLong
    val canon = g.src.indices.filter(i => g.src(i) != g.dst(i)).map { i =>
      val a = math.min(g.src(i), g.dst(i)); val b = math.max(g.src(i), g.dst(i))
      a * n + b
    }.toArray.distinct
    csr(g.n, canon.map(p => (p / n).toInt), canon.map(p => (p % n).toInt))
  }

  /** `DenseMimic.pagerank`: +.2nd over the unweighted pattern, sinks' mass
    * spread uniformly, stop when the inf-norm step is below `tol`.
    * Returns (ranks by index, iterations).
    */
  def pagerank(g: Graph, damp: Double = 0.85, tol: Double = 1e-6,
               maxIter: Int = 100): (Array[Double], Int) = {
    val n = g.n
    val outDeg = new Array[Double](n)
    g.src.foreach(u => outDeg(u) += 1.0)
    var r = Array.fill(n)(1.0 / n)
    var iter = 0
    var delta = Double.PositiveInfinity
    while (iter < maxIter && delta >= tol) {
      var sinkMass = 0.0
      var v = 0
      while (v < n) { if (outDeg(v) == 0.0) sinkMass += r(v); v += 1 }
      val base = (1.0 - damp) / n + damp * sinkMass / n
      val acc = new Array[Double](n)
      var e = 0
      while (e < g.m) { acc(g.dst(e)) += r(g.src(e)) / outDeg(g.src(e)); e += 1 }
      delta = 0.0
      v = 0
      while (v < n) {
        val nv = base + damp * acc(v)
        delta = math.max(delta, math.abs(nv - r(v)))
        acc(v) = nv
        v += 1
      }
      r = acc
      iter += 1
    }
    (r, iter)
  }

  /** Min-label propagation on the symmetrized graph for at most `rounds`
    * synchronous rounds, as the engine's CC loop runs it; returns (label index
    * per vertex, rounds run including the final one that changed nothing).
    */
  def minLabelRounds(g: Graph, rounds: Int): (Array[Int], Int) = {
    val und = undirected(g)
    var labels = Array.tabulate(g.n)(identity)
    var iter = 0
    var changed = true
    while (changed && iter < rounds) {
      changed = false
      val next = labels.clone()
      var v = 0
      while (v < g.n) {
        var k = und.from(v)
        while (k < und.until(v)) {
          val l = labels(und.targets(k))
          if (l < next(v)) { next(v) = l; changed = true }
          k += 1
        }
        v += 1
      }
      labels = next
      iter += 1
    }
    (labels, iter)
  }

  /** `DenseMimic.components` by union-find: each vertex's component is the
    * smallest vertex index (= smallest id) reachable from it.
    */
  def components(g: Graph): Array[Int] = {
    val parent = Array.tabulate(g.n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    var e = 0
    while (e < g.m) {
      val a = find(g.src(e)); val b = find(g.dst(e))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      e += 1
    }
    Array.tabulate(g.n)(find)
  }

  /** `DenseMimic.labelProp`: synchronous rounds, each vertex takes the most
    * frequent neighbour label, ties to the smallest label.
    */
  def labelProp(g: Graph, maxIter: Int = 20): Array[Int] = {
    val und = undirected(g)
    var labels = Array.tabulate(g.n)(identity)
    val buf = new Array[Int](und.targets.length max 1)
    var iter = 0
    var changed = true
    while (changed && iter < maxIter) {
      changed = false
      val next = labels.clone()
      var v = 0
      while (v < g.n) {
        val lo = und.from(v); val hi = und.until(v)
        if (hi > lo) {
          var k = lo
          while (k < hi) { buf(k - lo) = labels(und.targets(k)); k += 1 }
          Arrays.sort(buf, 0, hi - lo)
          var best = buf(0); var bestCnt = 0
          var i = 0
          while (i < hi - lo) {
            var j = i
            while (j < hi - lo && buf(j) == buf(i)) j += 1
            if (j - i > bestCnt) { bestCnt = j - i; best = buf(i) }
            i = j
          }
          if (best != labels(v)) { next(v) = best; changed = true }
        }
        v += 1
      }
      labels = next
      iter += 1
    }
    labels
  }

  /** Triangles of the simple undirected graph (`DenseMimic.triangles`), each
    * counted once at its lowest vertex.
    */
  def triangles(g: Graph): Long = {
    val f = forward(g)
    val mark = Array.fill(g.n)(-1)
    var count = 0L
    var u = 0
    while (u < g.n) {
      var k = f.from(u)
      while (k < f.until(u)) { mark(f.targets(k)) = u; k += 1 }
      k = f.from(u)
      while (k < f.until(u)) {
        val v = f.targets(k)
        var j = f.from(v)
        while (j < f.until(v)) { if (mark(f.targets(j)) == u) count += 1; j += 1 }
        k += 1
      }
      u += 1
    }
    count
  }

  /** k-truss by the engine's synchronous rule: each round keeps the edges in
    * at least k-2 triangles of the current edge set, until a round removes
    * nothing. Returns the surviving canonical edges as sorted `lo * n + hi`
    * index keys.
    */
  def ktruss(g: Graph, k: Int): Array[Long] = {
    val n = g.n.toLong
    val f0 = forward(g)
    var edges = (0 until g.n).flatMap(u =>
      (f0.from(u) until f0.until(u)).map(i => u * n + f0.targets(i))).toArray
    var stable = false
    var rounds = 0
    while (!stable && edges.nonEmpty && rounds < 100) {
      val f = csr(g.n, edges.map(p => (p / n).toInt), edges.map(p => (p % n).toInt))
      val support = new Array[Int](edges.length) // aligned with f's slots
      val mark = Array.fill(g.n)(-1)
      var u = 0
      while (u < g.n) {
        var a = f.from(u)
        while (a < f.until(u)) { mark(f.targets(a)) = a; a += 1 }
        a = f.from(u)
        while (a < f.until(u)) {
          val v = f.targets(a)
          var b = f.from(v)
          while (b < f.until(v)) {
            val closing = mark(f.targets(b)) // slot of (u, w) when it exists
            if (closing >= 0) {
              support(a) += 1; support(b) += 1; support(closing) += 1
            }
            b += 1
          }
          a += 1
        }
        a = f.from(u)
        while (a < f.until(u)) { mark(f.targets(a)) = -1; a += 1 }
        u += 1
      }
      val kept = (0 until g.n).flatMap(u =>
        (f.from(u) until f.until(u)).filter(i => support(i) >= k - 2)
          .map(i => u * n + f.targets(i))).toArray
      stable = kept.length == edges.length
      edges = kept
      rounds += 1
    }
    edges.sorted
  }

  /** Compares every replay with `graft.ref.DenseMimic` (and k-truss with a
    * literal set-based peel) on small graphs drawn from `seed`; throws on the
    * first disagreement.
    */
  def selfCheck(seed: Long): Unit = {
    import graft.ref.DenseMimic
    val rnd = new java.util.SplittableRandom(seed)
    for (trial <- 0 until 6) {
      val nv = 12 + trial * 6
      val ids = Array.fill(nv)(rnd.nextLong(1L << 40))
      val edges = (0 until nv * 3).map { _ =>
        // a few hubs, as in the corpus graph
        val a = if (rnd.nextInt(4) == 0) rnd.nextInt(3) else rnd.nextInt(nv)
        (ids(a), ids(rnd.nextInt(nv)))
      }.filter(e => e._1 != e._2).toSet
      val pairs = edges.toArray
      val g = graph(pairs.map(_._1), pairs.map(_._2))
      def fail(what: String) =
        throw new IllegalStateException(s"reference $what disagrees with DenseMimic (trial $trial)")

      val (mr, mi) = DenseMimic.pagerank(edges)
      val (rr, ri) = pagerank(g)
      if (mi != ri || g.ids.indices.exists(i => math.abs(rr(i) - mr(g.ids(i))) > 1e-12)) fail("pagerank")

      val mc = DenseMimic.components(edges)
      val rc = components(g)
      if (g.ids.indices.exists(i => g.ids(rc(i)) != mc(g.ids(i)))) fail("components")
      val (rm, _) = minLabelRounds(g, Int.MaxValue)
      if (!rm.sameElements(rc)) fail("min-label rounds")

      val ml = DenseMimic.labelProp(edges)
      val rl = labelProp(g)
      if (g.ids.indices.exists(i => g.ids(rl(i)) != ml(g.ids(i)))) fail("labelProp")

      if (DenseMimic.triangles(edges) != triangles(g)) fail("triangles")

      for (k <- 3 to 4) {
        val und = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        var cur = und
        var stable = false
        while (!stable && cur.nonEmpty) {
          val kept = cur.filter { case (a, b) =>
            cur.count { case (x, y) => (x == a || y == a) && (x != b && y != b) &&
              cur.contains((math.min(b, if (x == a) y else x), math.max(b, if (x == a) y else x))) } >= k - 2
          }
          stable = kept.size == cur.size
          cur = kept
        }
        val want = cur.toArray.map { case (a, b) => g.index(a) * g.n.toLong + g.index(b) }.sorted
        if (!want.sameElements(ktruss(g, k))) fail(s"ktruss k=$k")
      }
    }
  }
}
