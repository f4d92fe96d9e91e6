package graft.router

/** Edge-expanded Dijkstra/A* over a CompactGraph — the engine's G1
  * (reference: EDijkstra via /root/reference/src/pfaedle/router/Router.h:26,
  * call shapes /root/reference/src/pfaedle/router/Router.tpp:253-526).
  * States are DIRECTED edges, so turn costs/restrictions between
  * (fromEdge, viaNode, toEdge) are expressible. Deterministic total order
  * (cost, dirEdgeId) for reproducible tie-breaking (SURVEY §7.3).
  *
  * Costs are Long deciseconds (saturating, ceil-rounded at the source —
  * Geo.costToInt), matching the reference's u32 fixed point (4.10).
  *
  * State lives in an epoch-stamped [[RouterWorkspace]] reused across calls:
  * per-call allocation of graph-sized arrays (~100 KB x millions of hops)
  * caused GC contention that flattened 32-thread scaling.
  */
object Dijkstra {
  /** Global iteration counter analog of EDijkstra::ITERS (read by stats).
    * LongAdder: striped, no cross-core cache-line bouncing — a shared
    * AtomicLong here measurably ANTI-scaled the matcher at 32 threads. */
  val Iters = new java.util.concurrent.atomic.LongAdder()

  val Inf: Long = Long.MaxValue / 4

  /** 1->N / A*: from source directed edge (cost counted from its START) to
    * target directed edges (cost counted to their END). initCost10 is added
    * at the source (progr offsets). heur10 must be consistent + 0 at
    * targets; with that, terminating when the popped f exceeds cutoff10 is
    * exact (Router.tpp:96-148 cutoff semantics). Results are read from the
    * workspace (ws.costOf / path) BEFORE the next call. Returns #targets
    * settled. The one-seed case of [[manyToMany]]. */
  def oneToMany(g: CompactGraph, ws: RouterWorkspace, sourceDir: Int,
                initCost10: Long, targetList: Array[Int], cutoff10: Long,
                turnPen10: (Int, Int) => Long,
                heur10: Int => Long = null): Int =
    manyToMany(g, ws, Array(sourceDir), Array(initCost10), targetList,
      cutoff10, turnPen10, heur10)

  /** N->N multi-source variant — the reference's hopsFast
    * (/root/reference/src/pfaedle/router/Router.tpp:434-526): every source
    * is seeded with its own init offset (there: invWeight of the lattice
    * cost), ONE search settles every target at
    * min over sources of (init_s + pathCost). The winning source is
    * recovered by walking the workspace pred chain. seedDirs/seedInits are
    * parallel arrays; seeds must have distinct directed edges. */
  def manyToMany(g: CompactGraph, ws: RouterWorkspace,
                 seedDirs: Array[Int], seedInits: Array[Long],
                 targetList: Array[Int], cutoff10: Long,
                 turnPen10: (Int, Int) => Long,
                 heur10: Int => Long = null): Int = {
    ws.newEpoch()
    var remaining = 0
    var t = 0
    while (t < targetList.length) {
      if (!ws.isTarget(targetList(t))) { ws.markTarget(targetList(t)); remaining += 1 }
      t += 1
    }
    var reached = 0
    val pq = ws.pq
    pq.clear()
    // primitive long heap: a java.util.PriorityQueue[Long] boxes every
    // entry; tens of millions of boxed longs saturated GC at 32 threads
    @inline def h(de: Int): Long = if (heur10 == null) 0L else heur10(de)
    // entries with f >= Int.MaxValue are never enqueued (offer returns
    // false below): the pack clamp would otherwise desync the queued f
    // from the workspace cost and the entry would be skipped forever —
    // semantically such a cost exceeds any real cutoff anyway
    @inline def pack(c: Long, de: Int): Long = (c << 32) | de.toLong
    @inline def offer(f: Long, de: Int): Unit =
      if (f < Int.MaxValue.toLong) pq.add(pack(f, de))
    @inline def unpackCost(p: Long): Long = p >>> 32
    @inline def unpackDe(p: Long): Int = (p & 0xffffffffL).toInt

    var s = 0
    while (s < seedDirs.length) {
      val de = seedDirs(s)
      val start = seedInits(s) + g.dirCost10(de)
      if (start < ws.costOf(de)) {
        ws.setCost(de, start, -1)
        offer(start + h(de), de)
      }
      s += 1
    }

    var iters = 0L
    var exceeded = false
    while (!pq.isEmpty && remaining > 0 && !exceeded) {
      val top = pq.poll()
      val f = unpackCost(top); val de = unpackDe(top)
      val c = f - h(de)
      if (f > cutoff10) exceeded = true
      else if (!ws.isSettled(de) && c <= ws.costOf(de)) {
        ws.markSettled(de)
        iters += 1
        if (ws.isTarget(de)) { remaining -= 1; reached += 1 }
        if (remaining > 0) {
          val ni = g.dirToIdx(de)
          val lo = g.adjOffsets(ni); val hi = g.adjOffsets(ni + 1)
          var k = lo
          while (k < hi) {
            val nx = g.adjEdges(k)
            if (!ws.isSettled(nx)) {
              val tp = turnPen10(de, nx)
              if (tp >= 0) {
                val nc = c + g.dirCost10(nx) + tp
                val old = ws.costOf(nx)
                if (nc < old || (nc == old && de < ws.predOf(nx))) {
                  ws.setCost(nx, nc, de)
                  offer(nc + h(nx), nx)
                }
              }
            }
            k += 1
          }
        }
      }
    }
    Iters.add(iters)
    reached
  }

  /** Materialize the directed-edge path source..target from the workspace
    * predecessors (valid until the next search on this workspace). */
  def path(ws: RouterWorkspace, sourceDir: Int, targetDir: Int): Array[Int] = {
    if (ws.costOf(targetDir) >= Inf) return Array.empty
    val buf = scala.collection.mutable.ArrayBuffer[Int]()
    var cur = targetDir
    var guard = 0
    while (cur != -1 && guard < 1000000) {
      buf += cur
      if (cur == sourceDir) return buf.reverse.toArray
      cur = ws.predOf(cur)
      guard += 1
    }
    buf.reverse.toArray
  }
}

/** Thread-local workspace pool: one RouterWorkspace per (thread, graph
  * size). Allocating a workspace per solve (~750 KB on a metro-sized
  * graph) caused allocation-rate collapse at 32 threads. */
object WorkspacePool {
  private val tl = new ThreadLocal[java.util.HashMap[Int, RouterWorkspace]] {
    override def initialValue() = new java.util.HashMap[Int, RouterWorkspace]()
  }
  def get(nDirEdges: Int): RouterWorkspace = {
    val m = tl.get()
    var ws = m.get(nDirEdges)
    if (ws == null) { ws = new RouterWorkspace(nDirEdges); m.put(nDirEdges, ws) }
    ws
  }
}

/** Reusable per-solve Dijkstra state over 2*numEdges directed-edge slots.
  * Epoch stamps make "reset" O(1); arrays are allocated once per thread,
  * not once per hop Dijkstra. */
final class RouterWorkspace(nDirEdges: Int) {
  private val cost = new Array[Long](nDirEdges)
  private val pred = new Array[Int](nDirEdges)
  private val costStamp = new Array[Int](nDirEdges)
  private val settledStamp = new Array[Int](nDirEdges)
  private val targetStamp = new Array[Int](nDirEdges)
  private var epoch = 0
  val pq = new LongHeap()

  def newEpoch(): Unit = { epoch += 1 }
  @inline def costOf(de: Int): Long =
    if (costStamp(de) == epoch) cost(de) else Dijkstra.Inf
  @inline def predOf(de: Int): Int =
    if (costStamp(de) == epoch) pred(de) else -1
  @inline def setCost(de: Int, c: Long, p: Int): Unit = {
    cost(de) = c; pred(de) = p; costStamp(de) = epoch
  }
  @inline def isSettled(de: Int): Boolean = settledStamp(de) == epoch
  @inline def markSettled(de: Int): Unit = settledStamp(de) = epoch
  @inline def isTarget(de: Int): Boolean = targetStamp(de) == epoch
  @inline def markTarget(de: Int): Unit = targetStamp(de) = epoch
}

/** Minimal primitive long min-heap (no boxing). */
final class LongHeap(initialCapacity: Int = 1024) {
  private var arr = new Array[Long](initialCapacity)
  private var n = 0
  def isEmpty: Boolean = n == 0
  def clear(): Unit = n = 0
  def add(v: Long): Unit = {
    if (n == arr.length) arr = java.util.Arrays.copyOf(arr, n * 2)
    arr(n) = v
    var i = n; n += 1
    while (i > 0) {
      val p = (i - 1) >> 1
      if (arr(p) <= arr(i)) return
      val t = arr(p); arr(p) = arr(i); arr(i) = t
      i = p
    }
  }
  def poll(): Long = {
    val top = arr(0)
    n -= 1
    arr(0) = arr(n)
    var i = 0
    while (true) {
      val l = 2 * i + 1; val r = l + 1
      var m = i
      if (l < n && arr(l) < arr(m)) m = l
      if (r < n && arr(r) < arr(m)) m = r
      if (m == i) return top
      val t = arr(m); arr(m) = arr(i); arr(i) = t
      i = m
    }
    top
  }
}
