package graft.operators

/** Search-effort parameter table — the Spark analog of the reference's
  * `SearchParams` (hybrid_graph.h:14-34): beam width `ef` is not a
  * constant but a function of predicate coverage and of how many
  * buckets a search unions.
  *
  * The reference widens ef for in-filter walks by selectivity band
  * (hybrid_graph.cpp:421-448: 680/780/1180 as coverage shrinks),
  * because recall at fixed ef degrades as the filter rejects more of
  * the walk's frontier. (Its per-category size slope,
  * hybrid_graph.cpp:263-267, has no counterpart here: the stored
  * sub-indexes are searched at the caller's ef or a tuned one.)
  */
object SearchParams {

  /** Widen ef for a range-filtered (in-filter) walk: the fraction of the
    * sub-index the predicate keeps is `cover`; effort grows as its
    * inverse, bounded to `maxFactor`× (the reference's 680→1180 band
    * spread is ≈ 1.7×; narrow slices at our scale benefit from more). */
  def inFilterEf(ef: Int, cover: Double, maxFactor: Double = 4.0): Int =
    math.ceil(ef * math.min(maxFactor, 1.0 / math.max(cover, 1.0 / maxFactor))).toInt

  /** Below this in-range fraction a filtered walk is replaced by an
    * exact scan of the slice — the reference's SMALL class
    * (hybrid_graph.cpp:117-124: cover < 0.2 → slice scan). Matches
    * [[Selectivity.splitInterval]]'s SMALL threshold. */
  val SmallCoverage = 0.2

  /** Banded-arm partial-bucket threshold: below this in-range fraction
    * of a ≤maxRowsPerIndex sub-index, a contiguous quantized exact scan
    * ([[graft.index.HnswIndex.exactOverQ]]) beats a rejection-boosted
    * filtered walk — the reference draws the same line at 0.5 for
    * narrow ranges (SplitInterval's bf_thr, hybrid_graph.cpp:91-134,
    * called with 0.5 at :355-360). */
  val BruteCoverage = 0.6

  /** In-predicate entry seeds for filtered walks (the reference seeds
    * its filtered beam with ~10 evenly spaced in-range points,
    * searcher.hpp:301-317). */
  val FilterSeeds = 10

  /** The hand-derived defaults as a table (the reference's
    * hybrid_graph.h:14-34 constants, reproduced). */
  val DefaultBands: EfBands = EfBands()
}

/** Effort-band table for the serving-scale (banded) search arms. The
  * default values are [[SearchParams]]'s hand-derived constants;
  * [[graft.index.EfTuner.tuneBands]] derives a STORE'S OWN table by
  * measured recall ladder (the reference tunes its `SearchParams`
  * offline against each dataset the same way, hybrid_graph.h:14-34
  * consuming getquery.cpp sweeps) and persists it as an `_ef_bands`
  * sidecar the banded arms load per store.
  *
  * `full`: (mFull threshold → ef factor), thresholds descending — the
  * per-bucket depth of a walk that unions m fully-covered buckets.
  * `floorExtra`: per-bucket ef never drops below k + floorExtra.
  * `inFilterMaxFactor`: cap on the 1/coverage widening of in-filter
  * walks. `bruteCoverage`: below this in-range fraction a partial
  * bucket is scanned ([[graft.index.HnswIndex.exactOverQ]]) instead of
  * walked — a perf line, carried so tuned stores can move it. */
case class EfBands(
    full: Seq[(Int, Double)] = Seq(8 -> 0.35, 4 -> 0.5, 2 -> 0.75),
    floorExtra: Int = 40,
    inFilterMaxFactor: Double = 4.0,
    bruteCoverage: Double = SearchParams.BruteCoverage) {

  /** Per-bucket ef for a range search that unions FULLY-covered bucket
    * walks: the global top-k draws ~k/m from each of m full buckets, so
    * per-bucket depth can shrink as m grows — the reference's banded
    * ef2_full table (hybrid_graph.h:24-26, applied at
    * hybrid_graph.cpp:434-448: 780/630/480 as coverage widens). Floored
    * at k+40 (the reference never collects fewer than
    * graph_full_refine_k=150 per decile at k=100). */
  def unionWalkEf(ef: Int, k: Int, mFull: Int): Int = {
    val banded = full.find(mFull >= _._1).map(_._2)
      .fold(ef)(f => math.ceil(ef * f).toInt)
    math.max(math.min(ef, k + floorExtra), banded)
  }

  def inFilterEf(ef: Int, cover: Double): Int =
    SearchParams.inFilterEf(ef, cover, inFilterMaxFactor)

  /** Line format of the `_ef_bands` sidecar. */
  def serialize: String =
    "v1\n" +
      s"full=${full.map { case (m, f) => s"$m:$f" }.mkString(",")}\n" +
      s"floor_extra=$floorExtra\n" +
      s"infilter_max=$inFilterMaxFactor\n" +
      s"brute_coverage=$bruteCoverage\n"
}

object EfBands {

  /** Parse [[EfBands.serialize]]; None on any malformed content (the
    * caller falls back to the hand defaults — a corrupt sidecar must
    * never break serving). */
  def parse(text: String): Option[EfBands] = {
    val lines = text.split("\n").map(_.trim).filter(_.nonEmpty)
    if (!lines.headOption.contains("v1")) return None
    try {
      val kv = lines.drop(1).flatMap { l =>
        l.split("=", 2) match { case Array(a, b) => Some(a -> b); case _ => None }
      }.toMap
      val full = kv("full").split(",").toSeq.map { p =>
        val Array(m, f) = p.split(":")
        (m.toInt, f.toDouble)
      }.sortBy(-_._1)
      Some(EfBands(full, kv("floor_extra").toInt,
        kv("infilter_max").toDouble, kv("brute_coverage").toDouble))
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}
