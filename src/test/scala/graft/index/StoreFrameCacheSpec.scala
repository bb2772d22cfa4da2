package graft.index

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.graft.JobRecorder
import org.apache.spark.sql.DataFrame

/** The shared store-frame cache and the single-group type-0 path: exact
  * warm job counts on tiny versioned stores, and invalidation when a
  * store is rebuilt in place or loses its version stamp. */
class StoreFrameCacheSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(71)
  private val dim = 8
  private def vec(): Array[Float] = Array.fill(dim)(rnd.nextFloat())
  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  /** Queries read back from parquet, as a batch job reads them: their
    * collect is then one job, and the read's own inference job runs
    * here, outside any recorded block. */
  private def parquetQueries(rows: DataFrame): DataFrame = {
    val dir = tmp("graft-sfc-q") + "/q"
    rows.write.parquet(dir)
    val df = spark.read.parquet(dir)
    df.columns
    df
  }

  private def labelBase(ids: Range): DataFrame =
    ids.map(i => (i.toLong, (i % 3).toLong, vec())).toDF("id", "label", "vec")

  private def labelQueries(n: Int): DataFrame =
    parquetQueries(Seq.tabulate(n)(i => (i.toLong, (i % 3).toLong, vec()))
      .toDF("qid", "v", "qvec"))

  private def nids(df: DataFrame): Set[Long] =
    df.select("nid").collect().map(_.getLong(0)).toSet

  test("warm searchBy write runs 3 jobs and no parquet inference job") {
    val root = tmp("graft-sfc-by")
    AnnIndexStore.buildBy(labelBase(0 until 600), s"$root/by_label", "label")
    val q = labelQueries(9)
    def call(out: String): Unit =
      AnnIndexStore.searchBy(spark, s"$root/by_label", q, k = 10, ef = 64)
        .write.mode("overwrite").parquet(out)
    call(s"$root/warm")
    val rec = JobRecorder.record(spark.sparkContext)(call(s"$root/out"))
    // query collect, rank shuffle, write
    assert(rec.jobs.size == 3, rec.jobs.map(_.entry))
    assert(!rec.jobs.exists(_.isParquetRead),
      "a second call on the same store must reuse the cached frame")
  }

  test("single-group searchIvfListMajorTo runs exactly 3 jobs and stages nothing") {
    val root = tmp("graft-sfc-ivf")
    val base = Seq.tabulate(800)(i => (i.toLong, vec())).toDF("id", "vec")
    AnnIndexStore.buildIvf(base, s"$root/ivf", nlist = 4)
    val q = parquetQueries(Seq.tabulate(12)(i => (i.toLong, vec())).toDF("qid", "qvec"))
    AnnIndexStore.searchIvfListMajorTo(spark, s"$root/ivf", q, s"$root/warm",
      k = 10, ef = 64, nprobe = 2)
    val out = s"$root/t0"
    val rec = JobRecorder.record(spark.sparkContext) {
      AnnIndexStore.searchIvfListMajorTo(spark, s"$root/ivf", q, out,
        k = 10, ef = 64, nprobe = 2)
    }
    // routing collect (1), rank + write (2)
    assert(rec.jobs.size == 3, rec.jobs.map(_.entry))
    assert(!rec.jobs.exists(_.isParquetRead))
    assert(!rec.sqlPlans.exists(_.contains(".cand.tmp")),
      "one group must be searched, ranked and written without staging")
    assert(!new java.io.File(s"$out.cand.tmp").exists())
  }

  test("an in-place rebuild and an unstamped store are re-listed") {
    val root = tmp("graft-sfc-inv")
    val store = s"$root/by_label"
    val q = labelQueries(6)
    def search(): Set[Long] = nids(AnnIndexStore.searchBy(spark, store, q, k = 5, ef = 64))

    AnnIndexStore.buildBy(labelBase(0 until 300), store, "label")
    assert(search().forall(_ < 300))
    // rebuilt at the same path: a new _store_version, so the cached
    // frame of the first build is never read again
    AnnIndexStore.buildBy(labelBase(10000 until 10300), store, "label")
    assert(search().forall(_ >= 10000))

    // unstamped: listed (and schema-inferred) on every call
    val stamp = new java.io.File(store, AnnIndexStore.versionFileName)
    assert(stamp.delete())
    for (_ <- 0 until 2) {
      val rec = JobRecorder.record(spark.sparkContext)(assert(search().forall(_ >= 10000)))
      assert(rec.jobs.count(_.isParquetRead) == 1)
    }
    AnnIndexStore.buildBy(labelBase(20000 until 20300), store, "label")
    assert(new java.io.File(store, AnnIndexStore.versionFileName).delete())
    assert(search().forall(_ >= 20000))
  }

  test("a frame is cached per session and only under the store's current token") {
    val root = tmp("graft-sfc-key")
    AnnIndexStore.buildBy(labelBase(0 until 200), s"$root/s", "label")
    val dir = AnnIndexStore.resolveStore(s"$root/s")
    val f1 = AnnIndexStore.storeFrame(spark, dir)
    assert(AnnIndexStore.storeFrame(spark, dir) eq f1)
    // a token that no longer matches after the listing is never stored
    val stale = Some("superseded-token")
    assert(AnnIndexStore.storeFrame(spark, dir, stale) ne
      AnnIndexStore.storeFrame(spark, dir, stale))
    val other = spark.newSession()
    val f2 = AnnIndexStore.storeFrame(other, dir)
    assert((f2 ne f1) && (f2.sparkSession eq other))
  }
}
