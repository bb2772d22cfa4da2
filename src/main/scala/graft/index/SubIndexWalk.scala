package graft.index

import graft.operators.{EfBands, SearchParams}

/** The per-sub-index range walk: the ONE scan-or-walk decision (the
  * reference's SplitInterval, hybrid_graph.cpp:91-134) and the ONE
  * filtered traversal (searcher.hpp:301-374). The batch range searches,
  * the SQL route's label and range walks and [[EfTuner.tuneBands]] all
  * call it, so the batch and serving layers cannot drift apart. Each
  * call takes one sub-index (graph, aligned `ts` attrs, their sorted
  * view) and returns (internal id, dist) ascending (dist, id). */
object SubIndexWalk {

  sealed trait Effort extends Serializable

  /** The hash-gated arm (oracled queries, the SQL route): fp32
    * [[HnswIndex.exactOver]] below [[SearchParams.SmallCoverage]],
    * covered buckets walked at the caller's ef. */
  case object ExactEffort extends Effort

  /** The serving-scale arm, a store's tuned or default bands: the
    * quantized two-stage [[HnswIndex.exactOverQ]] (int8 preselect +
    * fp32 re-rank) below `bruteCoverage` — measured 4.3× over the
    * boosted filtered walk at the t2 probe, and ≤ 2.5 ms against a
    * 3.5 ms warm walk at the 6M probe, hence a line far above SMALL —
    * and covered buckets walked at `unionWalkEf`. It can differ from
    * [[ExactEffort]] at the quantization margin. */
  final case class Banded(bands: EfBands) extends Effort

  /** The filtered walk: only `ts(i) ∈ [l, r]` enters the result, and
    * the beam starts from evenly spaced in-range seeds. */
  def inFilter(index: HnswIndex, ts: Array[Double], tsIdx: TsIndex,
      qvec: Array[Float], l: Double, r: Double, k: Int, ef: Int): Array[(Int, Double)] =
    index.search(qvec, k, ef, (i: Int) => ts(i) >= l && ts(i) <= r,
      seeds = tsIdx.seeds(l, r, SearchParams.FilterSeeds))

  /** A sub-index the range covers in part: the in-range slice (one
    * contiguous run of the sorted view) is scanned exactly below the
    * effort's coverage line, and walked in-filter above it at an ef
    * widened by 1/coverage. */
  def partial(index: HnswIndex, ts: Array[Double], tsIdx: TsIndex,
      qvec: Array[Float], l: Double, r: Double, k: Int, ef: Int,
      effort: Effort): Array[(Int, Double)] = {
    val cover = tsIdx.coverage(l, r)
    effort match {
      case ExactEffort =>
        if (cover < SearchParams.SmallCoverage) index.exactOver(qvec, tsIdx.inRange(l, r), k)
        else inFilter(index, ts, tsIdx, qvec, l, r, k, SearchParams.inFilterEf(ef, cover))
      case Banded(bands) =>
        if (cover < bands.bruteCoverage) index.exactOverQ(qvec, tsIdx.inRange(l, r), k)
        else inFilter(index, ts, tsIdx, qvec, l, r, k, bands.inFilterEf(ef, cover))
    }
  }

  /** Type 2, the sub-index of ts bucket `b` (ts ∈ [b/scale, (b+1)/scale],
    * both ends inclusive, see [[lowBucket]]): nothing when disjoint, an
    * unfiltered walk when covered, else [[partial]] — the only branch
    * that reads `tsIdx` (by name, so a cached entry's lazy sorted view
    * is built for partial buckets only). */
  def bucket(index: HnswIndex, ts: Array[Double], tsIdx: => TsIndex,
      qvec: Array[Float], l: Double, r: Double, b: Long, scale: Int,
      k: Int, ef: Int, effort: Effort): Array[(Int, Double)] = {
    val bStart = b.toDouble / scale
    val bEnd = (b + 1).toDouble / scale
    if (l > bEnd || r < bStart) Array.empty
    else if (l <= bStart && r >= bEnd) effort match {
      case ExactEffort => index.search(qvec, k, ef)
      case Banded(bands) =>
        val mFull = math.max(0, math.floor(r * scale) - math.ceil(l * scale)).toInt
        index.search(qvec, k, bands.unionWalkEf(ef, k, mFull))
    }
    else partial(index, ts, tsIdx, qvec, l, r, k, ef, effort)
  }

  /** The lowest bucket a range from `lo` can touch: one bucket of slack
    * low ONLY when `lo` sits exactly on a boundary — the single case
    * where a boundary row could be filed one bucket down by floor
    * rounding AND still be in range (ts >= lo is monotone through the
    * double multiply, so off-boundary lows never have in-range rows
    * below the nominal bucket). The in-filter keeps the extra bucket
    * correct. */
  def lowBucket(lo: Double, scale: Int): Long = {
    val nominal = math.floor(lo * scale).toLong
    if (lo <= nominal.toDouble / scale) nominal - 1 else nominal
  }
}
