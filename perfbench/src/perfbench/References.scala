package perfbench

import scala.collection.mutable

/** Plain single-threaded references the engine's outputs are checked
  * against. They share no code with the engine. Edges are (src, dst) pairs
  * of a clean graph: no self-loops, no duplicates. */
object References {

  /** Pull-topological PageRank with the engine's semantics: start at 1/N,
    * new(v) = (1-α)/N + α Σ_{u→v} old(u)/outdeg(u), no dangling mass
    * redistribution. Runs until the L1 change between consecutive rounds
    * is ≤ tol, or `iters` rounds. Returns the ranks and the number of
    * rounds run. */
  def pageRank(vertices: Array[Long], edges: Array[(Long, Long)],
      alpha: Double, tol: Double, iters: Int): (Map[Long, Double], Int) = {
    val n = vertices.length
    val index = vertices.zipWithIndex.toMap
    val src = edges.map(e => index(e._1))
    val dst = edges.map(e => index(e._2))
    val outdeg = new Array[Int](n)
    src.foreach(s => outdeg(s) += 1)
    val base = (1.0 - alpha) / n
    var cur = Array.fill(n)(1.0 / n)
    var round = 0
    var done = false
    while (!done && round < iters) {
      val sums = new Array[Double](n)
      var i = 0
      while (i < src.length) {
        sums(dst(i)) += cur(src(i)) / outdeg(src(i))
        i += 1
      }
      val next = sums.map(s => base + alpha * s)
      round += 1
      done = next.indices.map(v => math.abs(next(v) - cur(v))).sum <= tol
      cur = next
    }
    (vertices.indices.map(v => vertices(v) -> cur(v)).toMap, round)
  }

  /** Connected components of the undirected graph: each vertex mapped to
    * the smallest id in its component (union-find). */
  def components(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val p = parent(y); parent(y) = r; y = p }
      r
    }
    for ((a, b) <- edges) {
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Triangles of the undirected graph the edges span, each counted once:
    * at its edge (u, v) with u < v < w. */
  def triangles(edges: Array[(Long, Long)]): Long = {
    val nbrs = mutable.HashMap.empty[Long, mutable.HashSet[Long]]
    for ((a, b) <- edges) {
      nbrs.getOrElseUpdate(a, mutable.HashSet.empty) += b
      nbrs.getOrElseUpdate(b, mutable.HashSet.empty) += a
    }
    var n = 0L
    for ((u, us) <- nbrs; v <- us if u < v; w <- nbrs(v) if v < w && us.contains(w)) n += 1
    n
  }

  /** Directed min-label fixpoint by synchronous rounds, as the engine
    * runs it: each round a vertex takes the smallest of its own label and
    * its in-neighbours' labels, until a round changes nothing. Returns each
    * vertex's label: the smallest id that reaches it. */
  def minLabels(edges: Array[(Long, Long)]): Map[Long, Long] = {
    val label = mutable.HashMap.empty[Long, Long]
    for ((a, b) <- edges) { label(a) = a; label(b) = b }
    var changed = true
    while (changed) {
      val next = label.clone()
      for ((a, b) <- edges) if (label(a) < next(b)) next(b) = label(a)
      changed = next != label
      label ++= next
    }
    label.toMap
  }
}
