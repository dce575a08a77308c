package graft.functions

/** The KMV and Misra–Gries sketches as plain immutable monoids — `zero` ↔
  * `init`, `combine` ↔ `binary_reduce` (reference core.py:15-23) — kept as
  * the law-test references for the native aggregates [[KmvSketchAgg]] and
  * [[MgSketchAgg]]: a row's update is the combine with its singleton
  * buffer, and a merge is the combine of two buffers. */

/** KMV buffer: the k smallest DISTINCT hash values, ascending, length ≤ k. */
case class KmvBuf(hs: Seq[Long])

/** KMV combine: an O(k) dedup-sorted-merge-truncate. */
class KmvMonoid(k: Int) {
  def zero: KmvBuf = KmvBuf(Vector.empty)
  def combine(a: KmvBuf, b: KmvBuf): KmvBuf = {
    val out = Vector.newBuilder[Long]
    var (i, j, n) = (0, 0, 0)
    var last = Long.MinValue // hashes are non-negative 60-bit; safe sentinel
    while (n < k && (i < a.hs.length || j < b.hs.length)) {
      val takeA = j >= b.hs.length || (i < a.hs.length && a.hs(i) <= b.hs(j))
      val v = if (takeA) { val v = a.hs(i); i += 1; v }
              else { val v = b.hs(j); j += 1; v }
      if (v != last) { out += v; last = v; n += 1 }
    }
    KmvBuf(out.result())
  }
}

/** Misra–Gries buffer: at most m (token, count) entries. */
case class MgBuf(counts: Map[String, Long])

/** Misra–Gries combine (mergeable-summaries form): sum the counts; past m
  * entries, subtract the (m+1)-th largest count from every entry and drop
  * the non-positive ones. */
class MgMonoid(m: Int) {
  def zero: MgBuf = MgBuf(Map.empty)
  def combine(a: MgBuf, b: MgBuf): MgBuf = {
    val (big, small) =
      if (a.counts.size >= b.counts.size) (a.counts, b.counts)
      else (b.counts, a.counts)
    val merged = small.foldLeft(big) { case (acc, (t, c)) =>
      acc.updated(t, acc.getOrElse(t, 0L) + c)
    }
    if (merged.size <= m) MgBuf(merged)
    else {
      val d = merged.valuesIterator.toIndexedSeq
        .sorted(Ordering[Long].reverse)(m)
      MgBuf(merged.collect { case (t, c) if c > d => t -> (c - d) })
    }
  }

  /** The sequential fold of a token stream, one singleton at a time. */
  def fold(tokens: Seq[String]): MgBuf =
    tokens.foldLeft(zero)((b, t) => combine(b, MgBuf(Map(t -> 1L))))
}
