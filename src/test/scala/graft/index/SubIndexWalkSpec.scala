package graft.index

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.AnnCatalog

import graft.SparkSpec
import graft.functions.VectorFunctions

/** The batch range searches and the SQL route walk each sub-index
  * through the one [[SubIndexWalk]], so over the same stores, at the
  * same ef and the exact-effort arm, they must return the same ids in
  * the same order — on both sides of the scan-or-walk line, and on the
  * type-2 bucket edges (a lo on a decile boundary, a covered decile). */
class SubIndexWalkSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 64
  private val n = 12000
  private val k = 10
  // uniform 64-dim vectors and a narrow beam keep the walks approximate,
  // so a walk and a scan (or two efs) of one slice differ on some of
  // the 16 queries: switching the SQL route to the banded arm, or
  // widening its type-2 ef by 15, fails this spec
  private val ef = 10

  private def labelOf(i: Int): Long = (i % 5).toLong
  private def tsOf(i: Int): Double = (i * 7 % n).toDouble / n

  private lazy val dirs = {
    val root = Files.createTempDirectory("graft_subindexwalk").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val rnd = new scala.util.Random(31)
    Seq.tabulate(n) { i =>
      (i.toLong, labelOf(i), tsOf(i), Array.fill(dim)(rnd.nextFloat()))
    }.toDF("id", "label", "ts", "vec").write.mode("overwrite").parquet(basePath)
    val base = spark.read.parquet(basePath)
    AnnIndexStore.buildBy(base, s"$root/by_label", "label", attrCol = Some("ts"))
    AnnIndexStore.buildBy(base.withColumn("decile", floor(col("ts") * 10).cast("long")),
      s"$root/by_decile", "decile", attrCol = Some("ts"))
    (basePath, s"$root/by_label", s"$root/by_decile")
  }

  private lazy val qvecs: Seq[Array[Float]] = {
    val rnd = new scala.util.Random(77)
    Seq.fill(16)(Array.fill(dim)(rnd.nextFloat()))
  }

  /** In-range fraction of label `v`'s rows (the label store holds one
    * unsalted sub-index per label at this size). */
  private def labelCoverage(v: Long, lo: Double, hi: Double): Double = {
    val rows = (0 until n).filter(labelOf(_) == v)
    rows.count { i => tsOf(i) >= lo && tsOf(i) <= hi }.toDouble / rows.size
  }

  private def sqlIds(qvec: Array[Float], label: Option[Long],
      range: Option[(Double, Double)]): Seq[Long] = {
    val (basePath, byLabel, byDecile) = dirs
    AnnCatalog.register(basePath, s"$basePath.unused", ef = ef,
      labelIndex = Some(("label", byLabel)), rangeIndex = Some(("ts", byDecile)))
    try {
      val pred = Seq(
        label.map(v => col("label") === v),
        range.map { case (lo, hi) => col("ts") >= lo && col("ts") <= hi })
        .flatten.reduce(_ && _)
      val df = spark.read.parquet(basePath).filter(pred)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qvec)), col("id"))
        .select("id").limit(k)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("AnnTopK"), s"expected the SQL route in:\n$plan")
      df.collect().map(_.getLong(0)).toSeq
    } finally AnnCatalog.unregister(basePath)
  }

  /** Each query's ids in rank order. */
  private def batchIds(res: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
    res.select("qid", "rank", "nid").as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rows) => (q, rows.sortBy(_._2).map(_._3).toSeq) }

  private def sameAsSql(batch: Map[Long, Seq[Long]], label: Option[Long],
      range: Option[(Double, Double)]): Unit =
    qvecs.zipWithIndex.foreach { case (q, qi) =>
      assert(batch(qi.toLong).size == k)
      assert(sqlIds(q, label, range) == batch(qi.toLong), s"query $qi")
    }

  private def type3(v: Long, lo: Double, hi: Double): Unit =
    sameAsSql(batchIds(AnnIndexStore.searchByRange(spark, dirs._2,
      qvecs.zipWithIndex.map { case (q, qi) => (qi.toLong, v, lo, hi, q) }
        .toDF("qid", "v", "l", "r", "qvec"), k, ef)), Some(v), Some((lo, hi)))

  private def type2(lo: Double, hi: Double): Unit =
    sameAsSql(batchIds(AnnIndexStore.searchDecileRange(spark, dirs._3,
      qvecs.zipWithIndex.map { case (q, qi) => (qi.toLong, lo, hi, q) }
        .toDF("qid", "l", "r", "qvec"), k, ef)), None, Some((lo, hi)))

  test("type 1: the SQL label route equals searchBy") {
    sameAsSql(batchIds(AnnIndexStore.searchBy(spark, dirs._2,
      qvecs.zipWithIndex.map { case (q, qi) => (qi.toLong, 3L, q) }
        .toDF("qid", "v", "qvec"), k, ef)), Some(3L), None)
  }

  test("type 3 below the scan line: the SQL route equals searchByRange") {
    assert(labelCoverage(1L, 0.1, 0.15) < graft.operators.SearchParams.SmallCoverage)
    type3(1L, 0.1, 0.15)
  }

  test("type 3 above the scan line: the SQL route equals searchByRange") {
    // between the exact-effort line (0.2) and the banded one (0.6), so
    // the two arms take different branches here
    val cover = labelCoverage(2L, 0.1, 0.5)
    assert(cover > graft.operators.SearchParams.SmallCoverage &&
      cover < graft.operators.SearchParams.BruteCoverage)
    type3(2L, 0.1, 0.5)
  }

  test("type 2 with lo on a decile boundary: the SQL route equals searchDecileRange") {
    // decile 3 covered, decile 4 walked in-filter (40% in range),
    // decile 2 the slack bucket
    assert(SubIndexWalk.lowBucket(0.3, 10) == 2L)
    type2(0.3, 0.44)
  }

  test("type 2 covering a whole decile, a small partial at each end") {
    // decile 5 covered; deciles 4 and 6 hold 5% slices (scanned)
    assert(SubIndexWalk.lowBucket(0.495, 10) == 4L)
    type2(0.495, 0.605)
  }
}
