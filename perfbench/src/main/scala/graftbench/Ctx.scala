package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What every workload run shares: the session, the tracer, the run's
  * working directory inside the checkout, and the timing budget. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val cpus: Int, val runDir: String,
    val seed: Long, val seconds: Double, val setupReps: Int, val minSamples: Int) {

  require(setupReps >= 2, "setup_s needs a setup after the cold first one")

  def traced: Boolean = tr.enabled

  /** `setup_s`: the median of every setup but the first, which also pays
    * the JVM's class loading, JIT and Spark code generation. */
  def setupMedian(all: Seq[Double]): Double = Stats.median(all.drop(1))

  /** Runs `body` back to back until `seconds` have passed, at least
    * `minSamples` and `atLeast` untraced samples exist, and the last block is whole, so
    * every input of a cycle is sampled equally often. A traced run alternates
    * blocks of `block` untraced and traced samples, so the two can be
    * compared for the tracing overhead; a block is one whole cycle of
    * the workload's inputs. `release` frees every result but the last. */
  def timedLoop[T](block: Int, atLeast: Int = 0)(body: (Int, Boolean) => T)(
      release: T => Unit): Seq[(T, Boolean)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(T, Boolean)]
    val t0 = System.nanoTime()
    tr.loopNs = (t0, Long.MaxValue)
    var i = 0
    def untraced = out.count(!_._2)
    def traced = out.count(_._2)
    val least = Seq(minSamples, block, atLeast).max
    while ((System.nanoTime() - t0) / 1e9 < seconds || untraced < least ||
        (tr.enabled && traced < least) || i % block != 0) {
      val withTrace = tr.enabled && (i / block) % 2 == 1
      val r = if (withTrace) body(i, true) else tr.paused(body(i, false))
      out.lastOption.foreach { case (prev, _) => release(prev) }
      out += ((r, withTrace))
      i += 1
    }
    tr.loopNs = (t0, System.nanoTime())
    out.toSeq
  }
}

object Ctx {
  private val t0 = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def progress(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  /** A checked query whose recall@k falls below this counts as failed. */
  val MinQueryRecall = 0.9

  def delete(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val all = java.nio.file.Files.walk(p)
      try all.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => java.nio.file.Files.delete(f))
      finally all.close()
    }
  }

  /** Share of the exact answer found; a query with fewer than k
    * matching rows is judged on the rows that exist. */
  def recall(exact: Array[Long], got: Array[Long]): Double =
    if (exact.isEmpty) (if (got.isEmpty) 1.0 else 0.0)
    else { val g = got.toSet; exact.count(g.contains).toDouble / exact.length }

  /** (qid, rank, nid) rows as qid → neighbor ids in rank order. */
  def neighbors(flat: DataFrame): Map[Long, Array[Long]] =
    flat.select("qid", "rank", "nid").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3) }
}

/** [[graft.index.ServingCache]]'s public counters at one instant. */
final case class CacheCounters(hits: Long, misses: Long, usedBytes: Long) {
  def -(o: CacheCounters): CacheCounters =
    CacheCounters(hits - o.hits, misses - o.misses, usedBytes - o.usedBytes)
}

object CacheCounters {
  def now(): CacheCounters = CacheCounters(graft.index.ServingCache.hits.get(),
    graft.index.ServingCache.misses.get(), graft.index.ServingCache.usedBytes)
}
