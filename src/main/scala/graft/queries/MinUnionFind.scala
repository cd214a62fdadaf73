package graft.queries

/** Union-find over arbitrary Long ids that labels each set with its minimum
  * id. Union by rank with path halving keeps n unions near-linear; the set
  * minimum rides on each root. Ids map to dense indices through an
  * open-addressing table over primitive arrays, ~40 bytes per id and no
  * boxing. One instance serves one task. */
private[queries] final class MinUnionFind {
  private var slots = new Array[Int](16) // hash slot -> index + 1; 0 = empty
  private var ids = new Array[Long](8)
  private var parent = new Array[Int](8)
  private var rank = new Array[Byte](8)
  private var minId = new Array[Long](8) // valid at roots
  private var n = 0

  private def slotOf(id: Long, mask: Int): Int = {
    val h = id * 0x9E3779B97F4A7C15L
    (h ^ (h >>> 32)).toInt & mask
  }

  private def index(id: Long): Int = {
    val mask = slots.length - 1
    var s = slotOf(id, mask)
    while (slots(s) != 0) {
      if (ids(slots(s) - 1) == id) return slots(s) - 1
      s = (s + 1) & mask
    }
    if (n == ids.length) {
      val cap = n * 2
      ids = java.util.Arrays.copyOf(ids, cap)
      parent = java.util.Arrays.copyOf(parent, cap)
      rank = java.util.Arrays.copyOf(rank, cap)
      minId = java.util.Arrays.copyOf(minId, cap)
    }
    ids(n) = id; parent(n) = n; minId(n) = id
    slots(s) = n + 1
    n += 1
    if (2 * n > slots.length) rehash()
    n - 1
  }

  private def rehash(): Unit = {
    slots = new Array[Int](slots.length * 2)
    val mask = slots.length - 1
    var i = 0
    while (i < n) {
      var s = slotOf(ids(i), mask)
      while (slots(s) != 0) s = (s + 1) & mask
      slots(s) = i + 1
      i += 1
    }
  }

  private def find(i0: Int): Int = {
    var i = i0
    while (parent(i) != i) {
      parent(i) = parent(parent(i))
      i = parent(i)
    }
    i
  }

  /** Joins the sets of `a` and `b`, registering either id on first sight. */
  def union(a: Long, b: Long): Unit = {
    var ra = find(index(a))
    var rb = find(index(b))
    if (ra != rb) {
      if (rank(ra) < rank(rb)) { val t = ra; ra = rb; rb = t }
      parent(rb) = ra
      if (rank(ra) == rank(rb)) rank(ra) = (rank(ra) + 1).toByte
      if (minId(rb) < minId(ra)) minId(ra) = minId(rb)
    }
  }

  /** (id, minimum id of its set), once per id seen. */
  def labels: Iterator[(Long, Long)] =
    Iterator.range(0, n).map(i => (ids(i), minId(find(i))))
}
