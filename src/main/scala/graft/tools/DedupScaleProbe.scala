package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Corpus-dedup at training-pipeline scale, with PLANTED ground truth:
  * N docs in groups of 20 — offset 0 is the group's source doc, 1-2 are
  * exact copies, 3-5 are ~2.5%-token-mutated near-dups, 6-19 unique —
  * so the probe measures recovery, not just wall time: every group
  * should resolve to one {0..5} cluster (rep = the group's min id) plus
  * 14 singletons.
  *
  * Stages (each resumable off its parquet cache): synthesize,
  * exact-hash groups, MinHash-LSH candidate pairs, multi-block SimHash
  * pairs (bits=60 blocks=6 — the single-block default's 12-bit key
  * would put ~N/4096 docs in every band bucket and explode the
  * self-join at this scale; see simhashNearPairs), connected
  * components over the LSH pairs (the pair set exceeds the 2M driver
  * union-find gate, so this exercises the DISTRIBUTED pointer-doubling
  * path), and the planted-recovery metrics.
  *
  * Usage: runMain graft.tools.DedupScaleProbe [N] [uniform|zipf]
  * Caches under /tmp/graft_dedup_scale_<N>[_zipf].
  *
  * The zipf regime draws tokens rank-weighted 1/(r+1)^1.07 (a real
  * corpus's token law) instead of uniformly: most docs then share the
  * head tokens, SimHash bits become correlated across unrelated docs,
  * and band buckets heat up — the stress regime the fingerprint
  * collapse and the multi-block key width exist for.
  */
object DedupScaleProbe {

  private val vocab = 50000
  private val groupSize = 20

  private def heapMb(): Long = {
    System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
  }

  private def timed[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"STAGE $name: ${(System.nanoTime() - t0) / 1e9}%.1f s (driver heap ${heapMb()} MB)")
    r
  }

  // ONE splitmix64 finalizer (byte-identical delegation, so cached
  // corpora synthesized under the old private copy stay valid)
  private def mix(z0: Long): Long =
    org.apache.spark.sql.graft.TextHashUtil.mix64(z0)

  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toLong else 10000000L
    val zipf = args.length > 1 && args(1) == "zipf"
    // SimHash band-key sizing (see simhashNearPairs: key width =
    // (blocks − maxHamming)·(bits/blocks)). Measured A/B at 20M zipf,
    // stage-isolated: 60/6 (30-bit keys, 20 bands) 138.2 s BEATS 56/8
    // (35-bit keys, 56 bands) 672.6 s — the C(blocks,h) band multiplier
    // costs more than the per-band collisions it saves; keep blocks
    // minimal (the width rule is a floor against bucket explosion).
    val shBits = if (args.length > 2) args(2).toInt else 60
    val shBlocks = if (args.length > 3) args(3).toInt else 6
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val root = s"/tmp/graft_dedup_scale_$n" + (if (zipf) "_zipf" else "")

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", (cpus.toInt * 4).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.maxResultSize", "4g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    def exists(p: String) = new java.io.File(s"$p/_SUCCESS").exists()

    // ---- synthesize (deterministic in id; no cross-row state) ----
    val gs = groupSize
    val voc = vocab
    val docsPath = s"$root/docs"
    if (!exists(docsPath)) timed("synthesize_docs") {
      val useZipf = zipf
      spark.range(0, n, 1, cpus.toInt * 4)
        .mapPartitions { it =>
          // rank-weighted inverse CDF, built once per partition: token
          // index = first rank whose cumulative weight exceeds u
          val cum: Array[Double] =
            if (!useZipf) null
            else {
              val w = Array.tabulate(voc)(r => 1.0 / math.pow(r + 1.0, 1.07))
              val c = new Array[Double](voc)
              var s = 0.0
              var i = 0
              while (i < voc) { s += w(i); c(i) = s; i += 1 }
              var j = 0
              while (j < voc) { c(j) /= s; j += 1 }
              c
            }
          def tokIdx(key: Long): Int =
            if (!useZipf) ((key & 0x7fffffffL) % voc).toInt
            else {
              val u = (key & 0x7fffffffffffffffL).toDouble / 9.223372036854776e18
              val p = java.util.Arrays.binarySearch(cum, u)
              math.min(if (p >= 0) p else -p - 1, voc - 1)
            }
          it.map { id =>
            val group = id / gs
            val offset = (id % gs).toInt
            val len = 30 + (mix(group * 31 + 7) & 0x7fffffff).toInt % 90
            val sb = new java.lang.StringBuilder(len * 7)
            var pos = 0
            while (pos < len) {
              if (pos > 0) sb.append(' ')
              // offsets 0-5 share the group's source token stream;
              // 3-5 mutate ~1/40 of positions; 6-19 draw their own.
              // The source and unique streams are keyed in DISJOINT
              // domains (mix of a tagged key, not the raw id): keying
              // both as mix(key*1000003+pos) made the unique doc with
              // id == g emit group g's exact source stream — the first
              // 10M run planted 350k accidental cross-group dups that
              // dragged cluster reps below the group minimum.
              val fromSource = offset <= 5
              val mutated = offset >= 3 && offset <= 5 &&
                (mix(id * 13 + pos) & 0x7fffffff) % 40 == 0
              val tok =
                if (!fromSource)
                  "w" + tokIdx(mix(mix(id ^ 0x55AA55AA55AA55AAL) + pos))
                else if (mutated)
                  "m" + tokIdx(mix(id * 65537L + pos))
                else
                  "w" + tokIdx(mix(mix(group ^ 0x0F0F0F0F0F0F0F0FL) + pos))
              sb.append(tok)
              pos += 1
            }
            (id, sb.toString)
          }
        }
        .toDF("doc_id", "text")
        .write.mode("overwrite").parquet(docsPath)
    }
    val docs = spark.read.parquet(docsPath)

    // ---- exact dedup (hash groupBy) ----
    timed("exact_groups") {
      val g = Dedup.exactGroups(docs, "doc_id", "text")
      val nGroups = g.count()
      val nDups = n - nGroups
      // each group plants 2 exact copies, plus the ~e^(-len/40)
      // fraction of "near-dup" docs whose 1/40-rate mutation draw hit
      // zero positions — those are exact copies too, by construction
      println(s"EXACT: $nGroups distinct texts, $nDups exact dups (>= ${2 * (n / gs)} planted)")
    }

    // ---- MinHash-LSH candidate pairs ----
    // GRAFT_DEDUP_BAND_GROUPS=g mines band-sequentially (peak banding
    // spill ÷ g, identical pairs) — the knob that fits 100M docs onto
    // this node's scratch (the one-shot shuffle exceeded it, round 9)
    val bandGroups = sys.env.getOrElse("GRAFT_DEDUP_BAND_GROUPS", "1").toInt
    val pairsPath = s"$root/lsh_pairs"
    if (!exists(pairsPath)) timed(s"minhash_lsh_pairs_g$bandGroups") {
      Dedup.minhashLshCandidates(docs, "doc_id", "text", bandGroups = bandGroups)
        .filter(col("est_sim") >= 0.5)
        .write.mode("overwrite").parquet(pairsPath)
      Dedup.releaseCaches(blocking = true)
    }
    val pairs = spark.read.parquet(pairsPath)
    println(s"LSH PAIRS: ${pairs.count()} (est_sim >= 0.5)")

    // ---- multi-block SimHash pairs ----
    // the band-group knob applies here too: C(blocks,3) band combos
    // mined in groups, peak banding spill ÷ groups (the 100M one-shot
    // 20-band exchange spilled past this node's scratch).
    // GRAFT_DEDUP_SH_BAND_GROUPS overrides for the SimHash mine alone —
    // its per-band exchange is rep-sized (one row per distinct
    // fingerprint per band), so fine granularity (one combo per pass)
    // costs only per-job overhead while dividing the peak further. The
    // combo count must divide evenly; fall back to 1 when it doesn't.
    val shGroups = {
      val nb = (0 until shBlocks).combinations(shBlocks - 3).size
      val explicit = sys.env.get("GRAFT_DEDUP_SH_BAND_GROUPS").map(_.toInt)
      // an EXPLICIT override that cannot partition the combo set fails
      // fast: silently falling back to the one-shot mine would run the
      // exact spill the operator set the knob to avoid, and fail with
      // a full disk hours later instead of now
      explicit.foreach(w => require(w >= 1 && nb % w == 0,
        s"GRAFT_DEDUP_SH_BAND_GROUPS=$w must divide the $nb band combos " +
          s"of blocks=$shBlocks"))
      val want = explicit.getOrElse(bandGroups)
      if (want > 1 && nb % want == 0) want else 1
    }
    val shPath = s"$root/simhash_pairs" +
      (if (shBits != 60 || shBlocks != 6) s"_${shBits}_$shBlocks" else "")
    if (!exists(shPath)) timed(s"simhash_pairs_multiblock_${shBits}_${shBlocks}_g$shGroups") {
      Dedup.simhashNearPairs(docs, "doc_id", "text",
          bits = shBits, maxHamming = 3, blocks = shBlocks, bandGroups = shGroups)
        .write.mode("overwrite").parquet(shPath)
      Dedup.releaseCaches(blocking = true)
    }
    println(s"SIMHASH PAIRS: ${spark.read.parquet(shPath).count()} (hamming <= 3)")

    // ---- duplicated-span profile (fixed-window exact-substring
    // signal). The planted structure gives it ground truth for free:
    // offsets 0-5 share the group's source token stream (high
    // dup_frac), 6-19 draw from a disjoint key domain (near-zero).
    // Above 10M docs the positional index is recomputed rather than
    // cached (see duplicatedSpanStats.cacheIndex). Above 20M the stage
    // is SKIPPED by default (SPARK_GRAFT_PROBE_SPANS=1 forces it): its
    // positional-index sort-merge join spills the full window×position
    // relation — measured >50 GB of sort spill at 50M docs, which
    // filled the sandbox disk; the span profile is measured at 10M
    // (BASELINE.md) and adds nothing to the SimHash/components sizing
    // this probe exists for at larger N. ----
    val doSpans = sys.env.get("SPARK_GRAFT_PROBE_SPANS")
      .map(_ != "0").getOrElse(n <= 20000000L)
    val spanPath = s"$root/span_stats"
    if (!doSpans && !exists(spanPath))
      println(s"SKIP dup_span_stats at n=$n (sort spill exceeds probe disk; " +
        "set SPARK_GRAFT_PROBE_SPANS=1 to force)")
    if (doSpans && !exists(spanPath)) timed("dup_span_stats") {
      Dedup.duplicatedSpanStats(docs, "doc_id", "text", window = 3,
          cacheIndex = n <= 10000000L)
        .write.mode("overwrite").parquet(spanPath)
      Dedup.releaseCaches(blocking = true)
    }
    if (exists(spanPath)) timed("span_metrics") {
      val sp = spark.read.parquet(spanPath)
      val off = pmod(col("doc_id"), lit(gs.toLong))
      val r = sp.agg(
        avg(when(off <= 5, col("dup_frac"))).as("planted"),
        avg(when(off >= 6, col("dup_frac"))).as("unique"))
        .collect()(0)
      println(f"SPAN dup_frac: planted=${r.getDouble(0)}%.4f unique=${r.getDouble(1)}%.4f")
    }

    // ---- components over the LSH pairs (distributed path: the pair
    // set is ~15 per group >> the 2M driver gate) ----
    val compPath = s"$root/components"
    if (!exists(compPath)) timed("components_distributed") {
      Dedup.nearDupComponents(docs.select("doc_id"), "doc_id", pairs)
        .write.mode("overwrite").parquet(compPath)
      Dedup.releaseCaches(blocking = true)
    }
    val comp = spark.read.parquet(compPath)

    // ---- planted-recovery metrics ----
    timed("planted_metrics") {
      val offset = pmod(col("doc_id"), lit(gs.toLong))
      val groupMin = col("doc_id") - offset
      // offsets 1-5 should land in their group-source's cluster
      val recall = comp.filter(offset.between(1, 5))
        .agg(avg(when(col("cluster_rep") === groupMin, 1.0).otherwise(0.0)))
        .collect()(0).getDouble(0)
      // offsets 6-19 are unique — must land in clusters of SIZE 1
      // (rep == own id alone is blind to a unique doc being the
      // minimum-id member of a wrongly-merged cluster — exactly how
      // the first run's planting bug hid from this metric)
      val sizes = comp.groupBy(col("cluster_rep")).agg(count(lit(1)).as("csize"))
        .withColumnRenamed("cluster_rep", "size_rep")
      val purity = comp.filter(offset >= 6)
        .join(sizes, col("cluster_rep") === col("size_rep"), "left")
        .agg(avg(when(col("csize") === 1 && col("cluster_rep") === col("doc_id"), 1.0)
          .otherwise(0.0)))
        .collect()(0).getDouble(0)
      println(f"PLANTED recall=$recall%.4f (dup offsets clustered to source) purity=$purity%.4f (uniques singleton)")
    }
    println(s"FINAL driver heap: ${heapMb()} MB")
    spark.stop()
  }
}
