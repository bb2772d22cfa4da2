package graft.tools

/** The probes' shared synthetic contest corpus — deterministic in id,
  * shaped per FIXTURES.md §1 at the reference's operating point
  * (hybrid_graph.cpp:152 runs 10M base × 1M-query batches):
  *
  *   - labels skewed `floor(L·u²)` (P(label=0) ≈ 10% of rows — exercises
  *     the salted oversized-bucket path), ts uniform in [0,1];
  *   - vectors from a Gaussian-mixture corpus: `nClusters` hashed
  *     centers in [0,1]^dim, point = center + N(0, 0.08²) per coordinate
  *     — inter-center distance² ≈ dim/3 vs intra-cluster ≈ 2·dim·0.08²,
  *     the separation shape of real embedding corpora (uniform-random
  *     vectors are the distance-concentration worst case for every ANN
  *     family; see BASELINE.md Run A vs Run B);
  *   - queries: 4 types round-robin (25% each), window widths cycling
  *     {0.01, 0.05, 0.1, 0.3}, category values drawn with the same u²
  *     skew as the base labels.
  *
  * One definition feeds `ContestRun`'s gen mode (binary lifecycle,
  * io.h formats) and the benchmark's contest inputs, so their recall
  * and stage walls are directly comparable.
  */
object ContestCorpus {

  val dim = 100
  val labels = 100
  val nClusters = 4096

  /** splitmix64-style hash of (cluster, coord) → [0,1) center coord. */
  private def centerCoord(c: Int, d: Int): Float = {
    var z = c.toLong * 0x9E3779B97F4A7C15L + d.toLong * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (((z ^ (z >>> 31)) >>> 11).toDouble / (1L << 53).toDouble).toFloat
  }

  /** Mixture draw: pick a center, jitter each coordinate N(0, 0.08²). */
  def mixtureVec(r: java.util.Random): Array[Float] = {
    val c = r.nextInt(nClusters)
    Array.tabulate(dim)(d => centerCoord(c, d) + 0.08f * r.nextGaussian().toFloat)
  }

  /** Base row `id → (label, ts, vec)`; the RNG stream is keyed on id
    * alone, so any partitioning of the id range produces the same rows. */
  def baseRow(id: Long): (Long, Double, Array[Float]) = {
    val r = new java.util.Random(id * 6364136223846793005L + 1442695040888963407L)
    val u = r.nextDouble()
    val label = math.min(labels - 1, (labels * u * u).toInt).toLong
    val ts = r.nextDouble()
    (label, ts, mixtureVec(r))
  }

  private val widths = Array(0.01, 0.05, 0.1, 0.3)

  /** Range width of query width-class `w` (0-3) — probe labeling hook. */
  def widthOf(w: Int): Double = widths(w)

  /** Query row `i → (qtype, v, l, r, qvec)` with the reference's -1
    * sentinels for fields a type does not use (utils.h:491-548). */
  def queryRow(i: Long): (Int, Long, Double, Double, Array[Float]) = {
    val r = new java.util.Random(i * -7046029254386353131L + 99991L)
    val qtype = (i % 4).toInt
    val u = r.nextDouble()
    val v = if (qtype == 1 || qtype == 3)
      math.min(labels - 1, (labels * u * u).toInt).toLong else -1L
    val w = widths((i % 16 / 4).toInt)
    val l = if (qtype >= 2) r.nextDouble() * (1.0 - w) else -1.0
    val rr = if (qtype >= 2) l + w else -1.0
    (qtype, v, l, rr, mixtureVec(r))
  }
}
