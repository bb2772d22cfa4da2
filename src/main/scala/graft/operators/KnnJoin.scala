package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** Exact predicate-filtered k-nearest-neighbor join — the reference's
  * logical semantics (the one query template of the SIGMOD'24 contest):
  *
  *   SELECT id FROM base WHERE <type predicate>
  *   ORDER BY l2_sq(vec, :qvec), id LIMIT k      -- per query, 4 types
  *
  * Reference: ground-truth generator `Bruteforce` (utils.h:80-158) and
  * predicate compiler (pyglass/glass/searcher.hpp:23-44). This exact
  * DataFrame form is both the correctness oracle and the fallback path;
  * approximate accelerators (SQ8 two-stage refine, LSH, HNSW) live in
  * their own operators and are validated against this one by recall.
  *
  * Scale design: the query batch is broadcast (1M × ~420 B qvec ≈ small
  * relative to a 100 TB base); the base table is only streamed — never
  * shuffled. Each base partition reduces to ≤ k candidates per query via
  * the map-side partial [[TopKIdsAgg]], so the only shuffle is
  * (#queries × k) rows. Type-1/3 predicates are pushed into the join
  * condition so a label-clustered base layout prunes at the source.
  *
  * Expected schemas:
  *   base:    id LONG, label LONG, ts DOUBLE, vec ARRAY<FLOAT>
  *   queries: qid LONG, qtype INT, v LONG, l DOUBLE, r DOUBLE, qvec ARRAY<FLOAT>
  */
object KnnJoin {

  /** Distance column for a metric: "l2" (squared L2, the reference
    * default), "ip" (negative inner product — the reference's supported-
    * but-unused second metric, pyglass/glass/common.hpp:8-11), or
    * "cosine" (negative cosine similarity). Smaller is closer. */
  private def distFor(metric: String) = metric match {
    case "l2" => VectorFunctions.l2Sq(col("qvec"), col("vec"))
    case "ip" => -VectorFunctions.dot(col("qvec"), col("vec"))
    case "cosine" => -VectorFunctions.cosineSim(col("qvec"), col("vec"))
    case m => throw new IllegalArgumentException(s"unknown metric $m")
  }

  /** (qid LONG, neighbors ARRAY<LONG>) with neighbors ordered by
    * (dist asc, id asc), at most k entries.
    *
    * `types` restricts which predicate branches are planned — callers
    * that routed the batch already (HybridKnn, pruned-layout scans) know
    * only a subset of query types can arrive, and a smaller union keeps
    * the physical plan (and its codegen) proportional to the work. */
  // NOT SmallBase-parallelized (r14 optimization pass: measured the
  // repartitioned form 0.3-0.5 s SLOWER across every exact-kNN gate in
  // two cold benches — at gate scale the branch pair loops are ~100k
  // evals, far under the added per-branch AQE exchange stage's cost;
  // the parallelize only pays on multi-million-pair loops like
  // cosineNearDupPairs' 2M-pair scan, where it measured 3x).
  def exact(base: DataFrame, queries: DataFrame, k: Int,
      metric: String = "l2", types: Seq[Int] = Seq(0, 1, 2, 3)): DataFrame = {
    require(types.nonEmpty, "at least one query type branch is required")
    val q = broadcast(queries)
    val branches = types.distinct.sorted.map {
      case 0 => q.filter(col("qtype") === 0).crossJoin(base)
      case 1 => q.filter(col("qtype") === 1)
        .join(base, col("label") === col("v"))
      case 2 => q.filter(col("qtype") === 2)
        .join(base, col("ts") >= col("l") && col("ts") <= col("r"))
      case 3 => q.filter(col("qtype") === 3)
        .join(base, col("label") === col("v") &&
          col("ts") >= col("l") && col("ts") <= col("r"))
      case t => throw new IllegalArgumentException(s"unknown query type $t")
    }
    branches.reduce(_.unionByName(_))
      .withColumn("dist", distFor(metric))
      .groupBy("qid")
      .agg(TopKAggregate.topkIds(k, col("dist"), col("id")).as("neighbors"))
  }

  /** Flat form: (qid LONG, rank LONG starting at 1, nid LONG). */
  def exactFlat(base: DataFrame, queries: DataFrame, k: Int,
      metric: String = "l2", types: Seq[Int] = Seq(0, 1, 2, 3)): DataFrame =
    exact(base, queries, k, metric, types)
      .select(col("qid"), posexplode(col("neighbors")).as(Seq("rank0", "nid")))
      .select(col("qid"), (col("rank0") + 1).cast("long").as("rank"), col("nid"))

  /** Recall@k of `approx` against `exact` (this join's output), both
    * (qid, rank, nid): the mean per-qid share of exact ids found. */
  def recallAtK(approx: DataFrame, exact: DataFrame): Double = {
    val a = approx.groupBy("qid").agg(collect_set(col("nid")).as("got"))
    val e = exact.groupBy("qid").agg(collect_set(col("nid")).as("want"))
    a.join(e, "qid")
      .select(avg(size(array_intersect(col("got"), col("want"))) / size(col("want"))))
      .head().getDouble(0)
  }
}
