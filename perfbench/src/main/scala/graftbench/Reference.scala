package graftbench

import scala.collection.mutable

/** The benchmark's own copy of a graph and the answers the engine must
  * return for it, computed without Spark: min-hop levels, reach set,
  * sinks, lexicographic DFS preorder and union-find components.
  */
final class RefGraph(val edges: Set[(Long, Long)]) {
  lazy val adj: Map[Long, Array[Long]] = {
    val b = mutable.HashMap.empty[Long, mutable.ArrayBuilder.ofLong]
    edges.foreach { case (s, d) => b.getOrElseUpdate(s, new mutable.ArrayBuilder.ofLong) += d }
    b.iterator.map { case (s, ab) => val a = ab.result(); java.util.Arrays.sort(a); s -> a }.toMap
  }

  /** Vertices with at least one out-edge, ascending. */
  lazy val sources: Array[Long] = adj.keys.toArray.sorted

  def out(v: Long): Array[Long] = adj.getOrElse(v, RefGraph.NoEdges)

  def levels(source: Long): Map[Long, Int] = {
    val level = mutable.HashMap(source -> 0)
    var frontier = Seq(source)
    var l = 0
    while (frontier.nonEmpty) {
      l += 1
      frontier = frontier.flatMap(out).filter { w =>
        if (level.contains(w)) false else { level(w) = l; true }
      }
    }
    level.toMap
  }

  def reach(source: Long): Set[Long] = levels(source).keySet

  def leaves(source: Long): Set[Long] = reach(source).filter(v => out(v).isEmpty)

  /** Recursive lexicographic preorder, run on an explicit stack of
    * neighbour cursors.
    */
  def preorder(source: Long): Seq[Long] = {
    val seen = mutable.HashSet(source)
    val order = mutable.ArrayBuffer(source)
    val stack = mutable.Stack((source, 0))
    while (stack.nonEmpty) {
      val (v, i) = stack.pop()
      val ns = out(v)
      if (i < ns.length) {
        stack.push((v, i + 1))
        val w = ns(i)
        if (seen.add(w)) { order += w; stack.push((w, 0)) }
      }
    }
    order.toSeq
  }

  /** Undirected components labelled by their minimum vertex id. */
  def components: Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (c != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  /** Edges a traversal from `source` scans: the out-degrees of every vertex it reaches. */
  def edgesTouched(source: Long): Long = reach(source).iterator.map(out(_).length.toLong).sum

  def union(more: Iterable[(Long, Long)]): RefGraph = new RefGraph(edges ++ more)
}

object RefGraph {
  private val NoEdges = Array.empty[Long]

  /** A seeded random digraph on vertices 1..n with `m` distinct edges and no self-loops. */
  def random(rnd: scala.util.Random, n: Int, m: Int): RefGraph = {
    val es = mutable.HashSet.empty[(Long, Long)]
    while (es.size < m) {
      val s = rnd.nextInt(n) + 1L; val d = rnd.nextInt(n) + 1L
      if (s != d) es += ((s, d))
    }
    new RefGraph(es.toSet)
  }

  /** `k` seeded edges on vertices 1..n that `g` does not hold yet. */
  def newEdges(rnd: scala.util.Random, g: RefGraph, n: Int, k: Int): Seq[(Long, Long)] = {
    val es = mutable.LinkedHashSet.empty[(Long, Long)]
    while (es.size < k) {
      val s = rnd.nextInt(n) + 1L; val d = rnd.nextInt(n) + 1L
      if (s != d && !g.edges.contains((s, d))) es += ((s, d))
    }
    es.toSeq
  }
}
