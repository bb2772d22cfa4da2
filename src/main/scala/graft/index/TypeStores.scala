package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The four query types' stored indexes under one root — the
  * reference's build-once per-category / per-decile graphs
  * (hybrid_graph.cpp:47-89) searched once per batch (:239-459):
  *
  *   - `by_hash`: [[HashBuckets]] hash buckets of the whole base
  *     ([[AnnIndexStore.build]]) — type 0;
  *   - `by_label`: one sub-index per label, ts persisted as the attr
  *     ([[AnnIndexStore.buildBy]]) — type 1, and type 3 by its
  *     in-filter ts walk;
  *   - `by_decile`: one sub-index per `floor(ts·10)`, ts attr — type 2.
  *
  * The ONE definition of this layout and its build parameters: the
  * gate queries, the SQL route pack and the approximate
  * [[graft.operators.HybridKnn]] all read stores built here, so two
  * drifted copies cannot serve differently built indexes. */
object TypeStores {

  private val HashBuckets = 4

  def hashPath(root: String): String = s"$root/by_hash"
  def labelPath(root: String): String = s"$root/by_label"
  def decilePath(root: String): String = s"$root/by_decile"

  /** Build each of the three stores not yet committed under `root`.
    * base: (id, label, ts, vec), evaluated only when a store is missing
    * (reading a parquet base infers its schema in a Spark job, which a
    * warm call should not pay). The builds read the same base and
    * write distinct paths, so they overlap from driver threads (guide
    * §2.6): each build's jobs use a handful of tasks, and a serial
    * pass leaves most cores idle. */
  def ensure(base: => DataFrame, root: String): Unit = {
    def missing(p: String) = !new java.io.File(s"$p/_SUCCESS").exists()
    lazy val b = base
    val builds = Seq.newBuilder[() => Unit]
    if (missing(hashPath(root)))
      builds += (() => AnnIndexStore.build(
        b.select(col("id"), col("vec")), hashPath(root), HashBuckets))
    if (missing(labelPath(root)))
      builds += (() => AnnIndexStore.buildBy(
        b, labelPath(root), "label", attrCol = Some("ts")))
    if (missing(decilePath(root)))
      builds += (() => AnnIndexStore.buildBy(
        b.withColumn("decile", floor(col("ts") * 10).cast("long")),
        decilePath(root), "decile", attrCol = Some("ts")))
    graft.operators.ParallelActions.runAll(builds.result())
  }

  /** (qid, rank, nid) approximate top-k of a mixed batch
    * (qid, qtype, v, l, r, qvec): each type searches its own store, the
    * predicate holding by construction (types 0-2) or by the in-filter
    * walk (type 3's ts range). */
  def search(spark: SparkSession, root: String, queries: DataFrame,
      k: Int, ef: Int): DataFrame = {
    def ofType(t: Int, cols: String*) =
      queries.filter(col("qtype") === t).select(cols.map(col): _*)
    AnnIndexStore.search(spark, hashPath(root), ofType(0, "qid", "qvec"), k, ef)
      .unionByName(AnnIndexStore.searchBy(spark, labelPath(root),
        ofType(1, "qid", "v", "qvec"), k, ef))
      .unionByName(AnnIndexStore.searchDecileRange(spark, decilePath(root),
        ofType(2, "qid", "l", "r", "qvec"), k, ef))
      .unionByName(AnnIndexStore.searchByRange(spark, labelPath(root),
        ofType(3, "qid", "v", "l", "r", "qvec"), k, ef))
  }
}
