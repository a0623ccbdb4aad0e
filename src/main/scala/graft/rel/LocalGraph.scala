package graft.rel

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** A directed multigraph held in one JVM on primitive arrays: the serial
  * finish of the "Multistep" scheme (Slota, Rajamanickam and Madduri,
  * IPDPS 2014). A graph that fits one heap is finished in one pass over
  * arrays instead of one distributed superstep (an eager checkpoint plus
  * an emptiness or count job) per round, where the wall of a
  * few-thousand-edge graph is almost all driver coordination.
  *
  * Layout: the sorted distinct vertex ids, so a vertex IS its index
  * (found by binary search) and a smaller index is a smaller id; and a
  * CSR (compressed sparse row) adjacency, where the out-edges of v are
  * `adj(off(v) until off(v + 1))`. Every input row is one CSR entry:
  * duplicate edges and self-loops are kept, exactly as a DataFrame join
  * over the edge rows counts them.
  *
  * Heap: 40 bytes per edge to build (endpoints, id sort, CSR) plus each
  * kernel's int/long state per vertex, at most ~110 bytes per edge when
  * every endpoint is distinct: ~20 MB for 183k edges, ~110 MB per
  * million. No kernel recurses, so path depth is bounded by the heap,
  * not the thread stack.
  */
final class LocalGraph private (ids: Array[Long], val n: Int,
    off: Array[Int], adj: Array[Int]) {

  /** The id of vertex `v`. */
  def id(v: Int): Long = ids(v)

  /** The first `count` vertices with an out-edge: the smallest `src`
    * ids, the deterministic landmark set of the BFS family. */
  def sources(count: Int): Array[Int] =
    Iterator.range(0, n).filter(v => off(v + 1) > off(v)).take(count).toArray

  /** Tarjan's SCC algorithm, recursion-free (explicit DFS frame arrays)
    * and on int/boolean state only. A component pops off the Tarjan
    * stack whole, so its minimum member is the minimum index popped.
    * Returns, per vertex, the minimum member of its SCC. */
  def sccMinLabels(): Array[Int] = {
    // Tarjan state; `order` = discovery index (-1 unvisited), the DFS
    // frames are (callV, callE = next out-edge to scan)
    val order = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = new Array[Int](n)
    val callV = new Array[Int](n)
    val callE = new Array[Int](n)
    val label = new Array[Int](n)
    var sp = 0
    var cp = 0
    var next = 0
    def visit(v: Int): Unit = {
      order(v) = next; low(v) = next; next += 1
      stack(sp) = v; sp += 1; onStack(v) = true
      callV(cp) = v; callE(cp) = off(v); cp += 1
    }
    var root = 0
    while (root < n) {
      if (order(root) < 0) visit(root)
      while (cp > 0) {
        val v = callV(cp - 1)
        val k = callE(cp - 1)
        if (k < off(v + 1)) {
          callE(cp - 1) = k + 1
          val w = adj(k)
          if (order(w) < 0) visit(w)
          else if (onStack(w)) low(v) = math.min(low(v), order(w))
        } else {
          cp -= 1
          if (low(v) == order(v)) {
            var top = sp
            var least = Int.MaxValue
            while ({ top -= 1; least = math.min(least, stack(top))
              stack(top) != v }) ()
            while (sp > top) {
              sp -= 1; label(stack(sp)) = least; onStack(stack(sp)) = false
            }
          }
          if (cp > 0) {
            val u = callV(cp - 1)
            low(u) = math.min(low(u), low(v))
          }
        }
      }
      root += 1
    }
    label
  }

  /** Breadth-first search from `s`, at most `maxDepth` levels deep:
    * first visit = minimum distance. With `countPaths`, sigma(v) counts
    * the shortest s → v paths, each edge row once: σ(w) = Σ σ(v) over
    * the edges v → w from the level above, in exact arithmetic (an
    * overflow throws, as Spark's ANSI `sum` does). */
  def bfs(s: Int, maxDepth: Int, countPaths: Boolean): LocalGraph.Bfs = {
    val dist = Array.fill(n)(-1)
    val sigma = new Array[Long](n)
    val order = new Array[Int](n)
    dist(s) = 0; sigma(s) = 1L; order(0) = s
    var head = 0
    var tail = 1
    while (head < tail) {
      val v = order(head); head += 1
      val d = dist(v)
      var k = off(v)
      while (d < maxDepth && k < off(v + 1)) {
        val w = adj(k)
        if (dist(w) < 0) { dist(w) = d + 1; order(tail) = w; tail += 1 }
        if (countPaths && dist(w) == d + 1)
          sigma(w) = Math.addExact(sigma(w), sigma(v))
        k += 1
      }
    }
    new LocalGraph.Bfs(java.util.Arrays.copyOf(order, tail), dist, sigma)
  }

  /** Brandes' backward pass over a BFS with path counts, in fixed point
    * (1.0 = `scale`): δ(v) = Σ σv·(scale + δw) div σw over the edges
    * v → w into the next level, each term truncated on non-negative
    * longs, deepest level first. Overflow throws, as Spark's ANSI `*`,
    * `+` and `sum` do. The source gets no dependency (δ = 0). */
  def dependencies(b: LocalGraph.Bfs, scale: Long): Array[Long] = {
    val delta = new Array[Long](n)
    var i = b.order.length - 1
    while (i > 0) {
      val v = b.order(i)
      var acc = 0L
      var k = off(v)
      while (k < off(v + 1)) {
        val w = adj(k)
        if (b.dist(w) == b.dist(v) + 1)
          acc = Math.addExact(acc, Math.multiplyExact(b.sigma(v),
            Math.addExact(scale, delta(w))) / b.sigma(w))
        k += 1
      }
      delta(v) = acc
      i -= 1
    }
    delta
  }

  /** k-core peel: delete every vertex with fewer than `k` (at least
    * one) out-edges into the surviving vertices until none is left to
    * delete. One queue pass, with an in-edge decrement per deleted
    * vertex, reaches the same fixpoint as synchronous peel rounds, with
    * no round bound. Returns each vertex's surviving out-degree; 0 means
    * peeled. */
  def coreDegrees(k: Long): Array[Int] = {
    val need = math.max(k, 1L)
    val m = off(n)
    // transpose CSR: the sources of the edges into v are
    // from(into(v) until into(v + 1))
    val into = new Array[Int](n + 1)
    var j = 0
    while (j < m) { into(adj(j) + 1) += 1; j += 1 }
    var v = 0
    while (v < n) { into(v + 1) += into(v); v += 1 }
    val fill = java.util.Arrays.copyOf(into, n)
    val from = new Array[Int](m)
    v = 0
    while (v < n) {
      j = off(v)
      while (j < off(v + 1)) { from(fill(adj(j))) = v; fill(adj(j)) += 1; j += 1 }
      v += 1
    }
    val deg = Array.tabulate(n)(v => off(v + 1) - off(v))
    val dead = new Array[Boolean](n)
    val queue = new Array[Int](n)
    var tail = 0
    def peel(u: Int): Unit =
      if (!dead(u) && deg(u) < need) { dead(u) = true; queue(tail) = u; tail += 1 }
    v = 0
    while (v < n) { peel(v); v += 1 }
    var head = 0
    while (head < tail) {
      val w = queue(head); head += 1
      j = into(w)
      while (j < into(w + 1)) {
        val u = from(j)
        if (!dead(u)) { deg(u) -= 1; peel(u) }
        j += 1
      }
    }
    Array.tabulate(n)(v => if (dead(v)) 0 else deg(v))
  }

  /** Connected components of the underlying undirected graph by
    * union-find with min roots and path halving: the root of a set is
    * always its smallest vertex, so each vertex's label is the minimum
    * member (and id) of its component. */
  def componentMinLabels(): Array[Int] = {
    val parent = Array.tabulate(n)(v => v)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    var v = 0
    while (v < n) {
      var k = off(v)
      while (k < off(v + 1)) {
        val a = find(v)
        val b = find(adj(k))
        if (a < b) parent(b) = a else if (b < a) parent(a) = b
        k += 1
      }
      v += 1
    }
    Array.tabulate(n)(find)
  }
}

object LocalGraph {

  /** One BFS: the reached vertices in visit order (`order(0)` is the
    * source, levels never decrease), and per vertex its distance (-1
    * unreached) and, if counted, its shortest-path count. */
  final class Bfs(val order: Array[Int], val dist: Array[Int],
      val sigma: Array[Long])

  /** The graph of the edges `src(i)` → `dst(i)`. */
  def apply(src: Array[Long], dst: Array[Long]): LocalGraph = {
    val m = src.length
    // sorted distinct vertex ids in ids(0 until n)
    val ids = java.util.Arrays.copyOf(src, 2 * m)
    System.arraycopy(dst, 0, ids, m, m)
    java.util.Arrays.sort(ids)
    var n = 0
    var i = 0
    while (i < ids.length) {
      if (n == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    def vertex(id: Long): Int = java.util.Arrays.binarySearch(ids, 0, n, id)
    // CSR adjacency: out-edges of v are adj(off(v) until off(v + 1))
    val from = new Array[Int](m)
    val off = new Array[Int](n + 1)
    i = 0
    while (i < m) { from(i) = vertex(src(i)); off(from(i) + 1) += 1; i += 1 }
    i = 0
    while (i < n) { off(i + 1) += off(i); i += 1 }
    val fill = java.util.Arrays.copyOf(off, n)
    val adj = new Array[Int](m)
    i = 0
    while (i < m) {
      adj(fill(from(i))) = vertex(dst(i)); fill(from(i)) += 1; i += 1
    }
    new LocalGraph(ids, n, off, adj)
  }

  /** Runs `kernel` over the `src` → `dst` edges (non-null integral ids)
    * inside ONE executor task: the edges are checkpointed at full width,
    * then coalesced into one partition whose rows build the graph. The
    * query is a fixed handful of jobs whatever the graph's depth; the
    * limit is one task's heap (see the class doc). `out` is the schema
    * of the rows `kernel` emits. */
  def inTask(edges: DataFrame, out: StructType)(
      kernel: LocalGraph => Iterator[Row]): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint(true)
      .coalesce(1)
      .mapPartitions { rows =>
        val srcB = new scala.collection.mutable.ArrayBuilder.ofLong
        val dstB = new scala.collection.mutable.ArrayBuilder.ofLong
        rows.foreach { r => srcB += r.getLong(0); dstB += r.getLong(1) }
        kernel(LocalGraph(srcB.result(), dstB.result()))
      }(Encoders.row(out))
}
