package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.index.AnnIndexStore

/** Oversized-label splitting: forcing a tiny maxRowsPerIndex makes every
  * label span several salted sub-indexes; results must still satisfy the
  * predicate and keep recall (the merge pools exact distances, so
  * correctness is parameter-independent). */
class LabelSkewSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(47)
  private def vec(): Array[Float] = Array.fill(12)(rnd.nextFloat())

  // label 0 is 10x-skewed: 1000 rows vs ~100 for labels 1..3
  private lazy val base = (Seq.tabulate(1000)(i => (i.toLong, 0L, (i % 20) / 20.0, vec())) ++
    Seq.tabulate(300)(i => (1000L + i, 1L + i % 3, (i % 20) / 20.0, vec())))
    .toDF("id", "label", "ts", "vec")

  private lazy val queries = Seq.tabulate(8)(i =>
    (i.toLong, (i % 4).toLong, vec())).toDF("qid", "v", "qvec")

  test("buildBy with salting: searchBy merges sub-rows, predicate by construction") {
    val path = java.nio.file.Files.createTempDirectory("graft_skew_").toString + "/idx"
    AnnIndexStore.buildBy(base.select("id", "label", "vec"), path, "label",
      maxRowsPerIndex = 200)
    // label 0 must span several rows
    val rows = spark.read.parquet(path).groupBy("bucket").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows(0L) >= 2, s"expected label 0 split, got $rows")
    val res = AnnIndexStore.searchBy(spark, path,
      queries.select(col("qid"), col("v"), col("qvec")), k = 10, ef = 256)
    assert(res.groupBy("qid").count().collect().forall(_.getLong(1) == 10))
    val joined = res.join(queries.select("qid", "v"), "qid")
      .join(base.select(col("id").as("nid"), col("label")), "nid")
    assert(joined.filter(col("label") =!= col("v")).count() == 0)
    val exact = KnnJoin.exactFlat(base,
      queries.withColumn("qtype", lit(1)).withColumn("l", lit(-1.0)).withColumn("r", lit(-1.0)),
      10)
    val recall = KnnJoin.recallAtK(res, exact)
    assert(recall >= 0.9, s"recall $recall")
  }
}
