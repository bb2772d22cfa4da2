package graftbench

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream}
import java.nio.{ByteBuffer, ByteOrder}

import graft.tools.ContestCorpus

/** Contest-format binaries drawn from [[ContestCorpus]] at a seed-derived
  * offset. The corpus has no seed of its own: its rows are keyed on id,
  * so the seed picks a window of ids. Offsets are multiples of 16, so
  * query `i` of every window keeps the corpus's type (`i % 4`) and
  * range-width (`i % 16 / 4`) round-robin. The program sees only the
  * written files, whose ids are file ordinals as in the contest.
  *
  * The corpus draws every row from one of its 4,096 cluster centres, so a
  * small base taken as is would hold one or two rows per cluster, and
  * each top-100 would reach across clusters at concentrated distances.
  * The seed therefore also picks a subset of about one cluster per
  * [[RowsPerCluster]] base rows, the ratio of a 10^5-row base over the
  * whole corpus, and both files keep only ids drawn from that subset. */
object Inputs {
  private val Stride = 1L << 24
  val RowsPerCluster = 24

  def baseOffset(seed: Long): Long = seed * Stride
  def queryOffset(seed: Long): Long = seed * Stride + (Stride >> 1)

  /** The seed's cluster subset for a base of `nBase` rows. */
  def clusters(seed: Long, nBase: Int): Set[Int] = {
    val n = math.max(1, math.round(nBase.toDouble / RowsPerCluster).toInt)
    val all = Array.range(0, ContestCorpus.nClusters)
    val r = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 7)
    var i = all.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = all(i); all(i) = all(j); all(j) = t
      i -= 1
    }
    all.take(n).toSet
  }

  // The cluster of a corpus row, found by replaying its RNG stream up to
  // `mixtureVec`'s centre draw; `CentreCheck` catches a corpus whose
  // stream no longer matches this replay.
  private def baseCluster(id: Long): (Int, java.util.Random) = {
    val r = new java.util.Random(id * 6364136223846793005L + 1442695040888963407L)
    r.nextDouble(); r.nextDouble()
    (r.nextInt(ContestCorpus.nClusters), r)
  }

  private def queryCluster(id: Long): (Int, java.util.Random) = {
    val r = new java.util.Random(id * -7046029254386353131L + 99991L)
    r.nextDouble()
    if (id % 4 >= 2) r.nextDouble()
    (r.nextInt(ContestCorpus.nClusters), r)
  }

  def writeBase(path: String, n: Int, seed: Long, subset: Set[Int]): Unit = {
    var id = baseOffset(seed)
    val check = new CentreCheck
    write(path, n, (2 + ContestCorpus.dim) * 4) { (_, bb) =>
      while (!subset(baseCluster(id)._1)) id += 1
      val (label, ts, vec) = ContestCorpus.baseRow(id)
      check(baseCluster(id), vec)
      bb.putFloat(label.toFloat); bb.putFloat(ts.toFloat)
      vec.foreach(bb.putFloat)
      id += 1
    }
  }

  /** Query `i` comes from the next unused corpus id `≡ i (mod 16)` whose
    * cluster is in `subset`, so the type and width round-robin holds. */
  def writeQueries(path: String, n: Int, seed: Long, subset: Set[Int]): Unit = {
    val off = queryOffset(seed)
    require(off % 16 == 0, "query offset must keep the type/width round-robin")
    val next = Array.tabulate(16)(c => off + c)
    val check = new CentreCheck
    write(path, n, (4 + ContestCorpus.dim) * 4) { (i, bb) =>
      val c = (i % 16).toInt
      while (!subset(queryCluster(next(c))._1)) next(c) += 16
      val id = next(c)
      next(c) += 16
      val (qtype, v, l, r, qvec) = ContestCorpus.queryRow(id)
      check(queryCluster(id), qvec)
      bb.putFloat(qtype.toFloat); bb.putFloat(v.toFloat)
      bb.putFloat(l.toFloat); bb.putFloat(r.toFloat)
      qvec.foreach(bb.putFloat)
    }
  }

  /** A row is its centre plus `0.08·N(0,1)` per coordinate. Given the
    * replayed stream, the centre a row implies must match the one the
    * first row of the same cluster implied. */
  private final class CentreCheck {
    private val centres = scala.collection.mutable.Map.empty[Int, Array[Float]]

    def apply(replay: (Int, java.util.Random), vec: Array[Float]): Unit = {
      val (c, r) = replay
      val centre = vec.map(x => x - 0.08f * r.nextGaussian().toFloat)
      val first = centres.getOrElseUpdate(c, centre)
      require(first.indices.forall(d => math.abs(first(d) - centre(d)) < 1e-4f),
        s"cluster replay does not match ContestCorpus for cluster $c")
    }
  }

  private def write(path: String, n: Int, rowBytes: Int)(fill: (Long, ByteBuffer) => Unit): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(new FileOutputStream(path), 1 << 20))
    try {
      val bb = ByteBuffer.allocate(math.max(4, rowBytes)).order(ByteOrder.LITTLE_ENDIAN)
      bb.putInt(n)
      out.write(bb.array(), 0, 4)
      var i = 0
      while (i < n) {
        bb.clear()
        fill(i.toLong, bb)
        out.write(bb.array(), 0, rowBytes)
        i += 1
      }
    } finally out.close()
  }
}
