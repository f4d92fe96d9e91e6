package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.router.GraphPartitions

/** The one component -> bin packing policy, on constructed (label, edge
  * count) sizes: (size desc, label) order, big components own a bin, the
  * rest join the smallest bin, at most maxBins bins. */
class BinPackSpec extends AnyFunSuite {
  private def pack(sizes: (Long, Long)*)(minBinEdges: Int, maxBins: Int) =
    GraphPartitions.pack(sizes.toArray, minBinEdges, maxBins)

  test("equal sizes open bins in label order, whatever the input order") {
    val want = (Map(3L -> 0, 5L -> 1, 9L -> 2), 3)
    assert(pack((5L, 100L), (3L, 100L), (9L, 100L))(50, 8) == want)
    assert(pack((9L, 100L), (5L, 100L), (3L, 100L))(50, 8) == want)
  }

  test("components below minBinEdges join the smallest bin") {
    assert(pack((1L, 1000L), (2L, 10L), (3L, 20L), (4L, 5000L))(100, 8) ==
      ((Map(4L -> 0, 1L -> 1, 3L -> 1, 2L -> 1), 2)))
    // the first component opens a bin even when it is small
    assert(pack((7L, 3L), (8L, 2L))(100, 8) == ((Map(7L -> 0, 8L -> 0), 1)))
  }

  test("past maxBins big components overflow into the smallest bin") {
    // bins 500 | 400; 300 -> bin 1 (700); 200 -> bin 0 (700); the tie at
    // 700 | 700 goes to the lower index
    assert(pack((1L, 500L), (2L, 400L), (3L, 300L), (4L, 200L), (5L, 100L))(100, 2) ==
      ((Map(1L -> 0, 2L -> 1, 3L -> 1, 4L -> 0, 5L -> 0), 2)))
  }
}
