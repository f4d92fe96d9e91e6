package graft.router

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession

/** The road graph as the solver tasks find it: either ONE broadcast bin
  * holding the driver-built graph (`single`), or the file-backed
  * component bins that the distributed build (DistGraphBuild) writes from
  * executors (`fromFiles`) — the scale path, where no process ever holds
  * the whole graph. The reference routes inside one in-RAM graph
  * (/root/reference/src/pfaedle/trgraph/Graph.h:24-28) and skips
  * cross-component pairs via the per-node component pointer
  * (pfaedle, src/pfaedle/router/Router.tpp:329-331).
  *
  * A solver group resolves only the bins its candidates' bin tags name
  * (DistGraphBuild.tagCands): a task that only solves trips of one region
  * loads that region's subgraph.
  *
  * Routing parity: bins keep global ids and global edge-id ORDER
  * (CompactGraph.fromRows sorts by edge id), so solving a cluster against
  * its resolved bin (or the merged graph of several bins,
  * CompactGraph.concat) is bit-identical to solving it against the full
  * graph — components are closed under adjacency and the deterministic
  * (cost, dense-index) tie-break preserves relative order.
  * Matcher.BinBlockPlacement co-locates each bin's solver groups on few
  * executors; with lazy loads this is an optimization, not a correctness
  * requirement.
  */
/** How a bin's CompactGraph reaches a solver task. */
sealed trait BinHandle extends Serializable { def get: CompactGraph }

/** Driver-built bin shipped via torrent broadcast (blocks fetched lazily
  * on first .value). */
final case class BroadcastBin(bc: Broadcast[CompactGraph]) extends BinHandle {
  def get: CompactGraph = bc.value
}

/** Executor-built bin persisted to shared storage (DistGraphBuild): the
  * driver never holds the graph bytes — tasks lazily deserialize the file
  * once per JVM (cached by path). `epoch` is the partition set's cache
  * generation, stamped onto the loaded graph so every bin of one build
  * shares one HopCache generation like the broadcast path does. */
final case class FileBin(path: String, epoch: Long) extends BinHandle {
  def get: CompactGraph = FileBin.load(path, epoch)
}

object FileBin {
  /** per-JVM loaded-bin cache, LRU over MaxCached entries (a long-lived
    * executor serving many builds must not pin dead graphs) */
  private val MaxCached = 64
  private val cache =
    new java.util.LinkedHashMap[String, CompactGraph](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, CompactGraph]): Boolean =
        size() > MaxCached
    }

  /** in-flight loads, per path: concurrent tasks needing the SAME bin
    * share one deserialization; tasks needing DIFFERENT bins (or cache
    * hits) never wait behind it — the LRU lock is held only for map ops,
    * not for IO (the r4 memo-stampede lesson, applied here) */
  private val inflight =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.FutureTask[CompactGraph]]()

  def load(path: String, epoch: Long): CompactGraph = {
    val hit = cache.synchronized(cache.get(path))
    if (hit != null) return hit
    val ft = new java.util.concurrent.FutureTask(
      new java.util.concurrent.Callable[CompactGraph] {
        def call(): CompactGraph = doLoad(path, epoch)
      })
    val prev = inflight.putIfAbsent(path, ft)
    val task = if (prev == null) { ft.run(); ft } else prev
    try {
      val g = task.get()
      cache.synchronized(cache.put(path, g))
      g
    } finally inflight.remove(path, task)
  }

  private def doLoad(path: String, epoch: Long): CompactGraph = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), new org.apache.hadoop.conf.Configuration())
    val in = new java.io.ObjectInputStream(new java.io.BufferedInputStream(
      fs.open(new org.apache.hadoop.fs.Path(path)), 1 << 20))
    try in.readObject().asInstanceOf[CompactGraph].setEpoch(epoch)
    finally in.close()
  }

  def write(path: String, g: CompactGraph): Long = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), new org.apache.hadoop.conf.Configuration())
    val p = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "." + java.util.UUID.randomUUID())
    val out = new java.io.ObjectOutputStream(new java.io.BufferedOutputStream(
      fs.create(tmp, true), 1 << 20))
    try out.writeObject(g) finally out.close()
    // atomic-ish publish; a concurrent attempt's rename losing the race is
    // fine — contents are deterministic for a given bin
    if (!fs.rename(tmp, p)) fs.delete(tmp, false)
    fs.getFileStatus(p).getLen
  }
}

final class GraphPartitions(val bins: Array[BinHandle]) extends Serializable {

  /** The graph a cluster whose candidates carry these bin tags must route
    * over: the single touched bin in the common case, a memoized merge
    * when the candidates span bins (e.g. top-K snaps hitting a
    * disconnected island), bin 0 for the all-null-candidate cluster (any
    * graph works — only the fallback ladder runs). Negative tags
    * (untagged) are ignored. */
  def resolve(binIds: Array[Int]): CompactGraph = {
    if (bins.length == 1) return bins(0).get
    var multi: java.util.TreeSet[Integer] = null
    var only = -1
    var i = 0
    while (i < binIds.length) {
      val bi = binIds(i)
      if (bi >= 0) {
        if (only == -1) only = bi
        else if (bi != only && multi == null) {
          multi = new java.util.TreeSet[Integer]()
          multi.add(only); multi.add(bi)
        } else if (multi != null) multi.add(bi)
      }
      i += 1
    }
    if (multi == null) return bins(math.max(only, 0)).get
    GraphPartitions.merged(this, multi)
  }
}

object GraphPartitions {
  /** comps smaller than this share a bin with others (one file per
    * 100-edge island would drown the build in per-bin bookkeeping) */
  val MinBinEdges = 4096
  val MaxBins = 64

  /** Cross-bin merge memo (per executor JVM, generational on the build
    * epoch — HopCache.gen — so merged graphs die with their build instead
    * of pinning whole dead graphs on a long-lived executor): clusters
    * spanning the same bin set share one merged instance — also keeps
    * HopCache ctx (keyed on the graph token) consistent across those
    * clusters. Bounded; over capacity merges run uncached (deterministic,
    * like HopCache). */
  private val MaxMerged = 64

  private[router] def merged(parts: GraphPartitions,
                             touched: java.util.TreeSet[Integer]): CompactGraph = {
    import scala.jdk.CollectionConverters._
    val binIdx = touched.asScala.toArray.map(_.intValue())
    val mergeCache = HopCache.gen(parts.bins(0).get.epoch).merged
    val key = binIdx.map(b => parts.bins(b).get.token).mkString(",")
    val cached = mergeCache.get(key)
    if (cached != null) return cached
    val g = CompactGraph.concat(binIdx.toSeq.map(b => parts.bins(b).get))
    if (mergeCache.size < MaxMerged) mergeCache.putIfAbsent(key, g)
    val again = mergeCache.get(key)
    if (again != null) again else g
  }

  /** The driver-built graph as one broadcast bin. */
  def single(spark: SparkSession, graph: CompactGraph): GraphPartitions =
    new GraphPartitions(Array(BroadcastBin(spark.sparkContext.broadcast(graph))))

  /** File-backed partitioning over executor-built bins (DistGraphBuild):
    * the driver holds only paths. Candidates must carry bin tags. */
  def fromFiles(binPaths: Seq[String], epoch: Long): GraphPartitions =
    new GraphPartitions(binPaths.map(p => FileBin(p, epoch): BinHandle).toArray)

  /** The bin-packing policy of the distributed build:
    * components (label, edge count) ordered by (size desc, label); a comp
    * of at least minBinEdges opens a bin while fewer than maxBins exist
    * (the first comp always does), every other comp joins the currently
    * smallest bin (lowest index on ties). Returns comp -> bin and the bin
    * count. */
  def pack(sizes: Array[(Long, Long)], minBinEdges: Int,
           maxBins: Int): (Map[Long, Int], Int) = {
    val binSize = scala.collection.mutable.ArrayBuffer[Long]()
    val of = scala.collection.mutable.HashMap[Long, Int]()
    sizes.sortBy { case (label, n) => (-n, label) }.foreach { case (label, n) =>
      if (binSize.length < maxBins && (n >= minBinEdges || binSize.isEmpty)) {
        binSize += n; of(label) = binSize.length - 1
      } else {
        val b = binSize.indices.minBy(binSize(_))
        binSize(b) += n; of(label) = b
      }
    }
    (of.toMap, binSize.length)
  }
}
