package graft.core

/**
 * Stable sorts of int index arrays by double keys, without boxing.
 * They order exactly as Scala's `sortBy` does on the same keys (a
 * `Double` or a `(Double, Double)` tuple): `sortBy` is stable too, and
 * its implicit `Ordering[Double]` is `java.lang.Double.compare`
 * (`-0.0` before `0.0`, NaN last), which these use, so an index
 * array sorted here comes out in the same order.
 */
object StableSort {

  private final val InsertionMax = 24

  /** Sorts `idx(0 until n)` in place by the key (`k1(i)`, `k2(i)`),
    * keeping equal keys in their incoming order; with `k2` null the
    * key is `k1(i)` alone. */
  def sort(idx: Array[Int], n: Int, k1: Array[Double], k2: Array[Double]): Unit =
    if (n <= InsertionMax) insertion(idx, 0, n, k1, k2)
    else mergeSort(idx, new Array[Int](n), 0, n, k1, k2)

  /** The indices `0 until keys.length`, stably ordered by `keys`. */
  def byKey(keys: Array[Double]): Array[Int] = {
    val idx = Array.range(0, keys.length)
    sort(idx, idx.length, keys, null)
    idx
  }

  @inline private def cmp(i: Int, j: Int, k1: Array[Double], k2: Array[Double]): Int = {
    val c = java.lang.Double.compare(k1(i), k1(j))
    if (c != 0 || k2 == null) c else java.lang.Double.compare(k2(i), k2(j))
  }

  private def mergeSort(a: Array[Int], tmp: Array[Int], lo: Int, hi: Int,
      k1: Array[Double], k2: Array[Double]): Unit = {
    if (hi - lo <= InsertionMax) { insertion(a, lo, hi, k1, k2); return }
    val mid = (lo + hi) >>> 1
    mergeSort(a, tmp, lo, mid, k1, k2)
    mergeSort(a, tmp, mid, hi, k1, k2)
    if (cmp(a(mid - 1), a(mid), k1, k2) <= 0) return
    System.arraycopy(a, lo, tmp, lo, hi - lo)
    var i = lo
    var j = mid
    var k = lo
    while (k < hi) {
      if (j >= hi || (i < mid && cmp(tmp(i), tmp(j), k1, k2) <= 0)) { a(k) = tmp(i); i += 1 }
      else { a(k) = tmp(j); j += 1 }
      k += 1
    }
  }

  private def insertion(a: Array[Int], lo: Int, hi: Int, k1: Array[Double], k2: Array[Double]): Unit = {
    var i = lo + 1
    while (i < hi) {
      val v = a(i)
      var j = i - 1
      while (j >= lo && cmp(a(j), v, k1, k2) > 0) { a(j + 1) = a(j); j -= 1 }
      a(j + 1) = v
      i += 1
    }
  }
}
