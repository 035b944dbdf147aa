package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel

/** The driver-local graph path of [[Triangles.perNode]], [[KCore.peel]]
  * and [[Components.connected]]: a graph whose edge list fits the
  * driver is collected and solved in flat int arrays, a bigger one by
  * the operator's distributed loop. Each operator keeps its own rule
  * for whether to probe and its own size threshold; this object holds
  * what the three share, the size probe and the dense ingest of the
  * collected rows.
  */
private[operators] object LocalGraph {

  /** Persists `edges` (MEMORY_AND_DISK) and counts it. With at most
    * `maxRows` rows, collects them off that cache and releases it
    * (`Left`). Otherwise returns the persisted frame and its count
    * (`Right`): the caller owns the cache, and its distributed path
    * reads it instead of evaluating the edge plan a second time. */
  def probe(edges: DataFrame,
            maxRows: Long): Either[Array[Row], (DataFrame, Long)] = {
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    val n = e.count()
    if (n > maxRows) Right((e, n))
    else {
      val rows = e.collect()
      e.unpersist()
      Left(rows)
    }
  }

  /** A collected graph on dense ids: node `i` is the original id
    * `ids(i)`, edge `j < m` joins nodes `ea(j)` and `eb(j)`, and
    * `deg(i)` counts node `i`'s edges. */
  final case class Dense(ids: ArrayBuffer[Any], ea: Array[Int],
                         eb: Array[Int], m: Int, deg: Array[Long])

  /** Remaps the pairs in columns 0 and 1 of `rows` to dense ids
    * `0…n-1`, in first-seen order, and keeps each undirected pair once:
    * (u, v), (v, u) and their repeats are one edge. */
  def dense(rows: Array[Row]): Dense = {
    val idx = new java.util.HashMap[Any, Integer](rows.length * 2)
    val ids = new ArrayBuffer[Any]
    def ix(x: Any): Int = {
      var i = idx.get(x)
      if (i == null) { i = ids.length; idx.put(x, i); ids += x }
      i
    }
    val ea = new Array[Int](rows.length)
    val eb = new Array[Int](rows.length)
    val seen = new PackedPairSet(rows.length)
    var m = 0
    var i = 0
    while (i < rows.length) {
      val r = rows(i)
      val u = ix(r.get(0)); val v = ix(r.get(1))
      if (seen.add(((math.min(u, v).toLong << 32) | math.max(u, v)) + 1)) {
        ea(m) = u; eb(m) = v; m += 1
      }
      i += 1
    }
    val deg = new Array[Long](ids.length)
    i = 0
    while (i < m) { deg(ea(i)) += 1; deg(eb(i)) += 1; i += 1 }
    Dense(ids, ea, eb, m, deg)
  }

  /** Primitive open-addressing hash set over positive longs: the pair
    * dedup of [[dense]], where a pair of dense ids packs into one long
    * (`(min << 32 | max) + 1`, so a self-loop on node 0 is ≥ 1 too).
    *
    * A boxed `java.util.HashSet[java.lang.Long]` costs ~0.6 s per
    * million pairs (two allocations per add, the box and the node);
    * this table is a flat `Array[Long]` with linear probing and a
    * 64-bit finalizer hash, no allocation per add, ~20 ns/op. Load
    * factor ≤ 0.5 (capacity the next power of two ≥ 2·expected,
    * doubled as it fills); slot 0 is the empty sentinel.
    */
  private final class PackedPairSet(expected: Int) {
    private var cap =
      java.lang.Integer.highestOneBit(math.max(16, expected) - 1) << 2
    private var mask = cap - 1
    private var table = new Array[Long](cap)
    private var size = 0

    // Stafford variant 13 of the murmur64 finalizer — full-avalanche,
    // so linear probing stays clustered-free on sequential dense ids
    private def hash(k: Long): Int = {
      var h = k
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      (h ^ (h >>> 31)).toInt
    }

    /** true iff `key` (must be ≥ 1) was not present; inserts it. */
    def add(key: Long): Boolean = {
      var i = hash(key) & mask
      var slot = table(i)
      while (slot != 0L) {
        if (slot == key) return false
        i = (i + 1) & mask
        slot = table(i)
      }
      table(i) = key
      size += 1
      if (size * 2 > cap) grow()
      true
    }

    private def grow(): Unit = {
      val old = table
      cap <<= 1
      mask = cap - 1
      table = new Array[Long](cap)
      var j = 0
      while (j < old.length) {
        val k = old(j)
        if (k != 0L) {
          var i = hash(k) & mask
          while (table(i) != 0L) i = (i + 1) & mask
          table(i) = k
        }
        j += 1
      }
    }
  }
}
