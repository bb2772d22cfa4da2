package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The reference's `BatchSearch` pipeline (hybrid_graph.cpp:147-503) as
  * one composed, declarative plan:
  *
  *   1. stats pass: exact per-query selectivity + route column
  *      ([[Selectivity.routeQueries]] — the reference's binary-searched
  *      selectivity stage, :168-230);
  *   2. route split at plan-build time (the reference's staged dispatch):
  *      - `bruteforce` type-1/3 → partition-pruned scan on the clustered
  *        label layout (J2's sorted-slice scan);
  *      - other exact routes → the streaming exact join;
  *      - optionally, `full_graph`/`category_graph`/`interval_graph`
  *        routes → partitioned HNSW ([[AnnJoin.hnswKnn]]) for the
  *        approximate configuration;
  *   3. union of per-route results (each already top-k per qid).
  *
  * With `ann = false` every route is exact, so the composition returns
  * byte-identical results to [[KnnJoin.exact]] — asserted in
  * HybridKnnSpec and by the shared DuckDB oracle of `knn_routed`.
  *
  * Query batches up to `chunkRows` are collected once (broadcast-sized
  * by contract); larger batches stream through `toLocalIterator` in
  * `chunkRows`-sized slices, each slice executed and eagerly
  * materialized before the next is read — peak driver memory is one
  * slice, independent of total batch size. Per-qid top-k makes slices
  * independent, so the union is exact.
  */
object HybridKnn {

  private type RoutedRow = (Long, Int, Long, Double, Double, Array[Float], String)

  /** (qid, rank, nid) flat results for the full 4-type query batch. */
  def execute(base: DataFrame, queries: DataFrame, k: Int,
      categoryLayout: Option[DataFrame] = None,
      ann: Boolean = false, annEf: Int = 200, annBuckets: Int = 8,
      chunkRows: Int = 200000): DataFrame = {
    // stats-lookup routing (Selectivity.withRoutes): one tiny stats
    // collect, then `route` is a literal-folded column on the query
    // batch itself — no join. Any routing decision preserves exactness —
    // it only picks WHICH exact physical path runs (ANN routes excepted,
    // behind the flag).
    val spark = base.sparkSession
    val routedDf = Selectivity.withRoutes(base, queries)
      .select(col("qid").cast("long"), col("qtype").cast("int"),
        col("v").cast("long"), col("l").cast("double"), col("r").cast("double"),
        col("qvec"), col("route"))

    def rowOf(r: org.apache.spark.sql.Row): RoutedRow =
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getSeq[Float](5).toArray, r.getString(6))

    // size probe and common-case collect in ONE job: pull at most
    // chunkRows+1 rows — if nothing overflows, those rows ARE the batch;
    // only an overflow pays for the streaming path.
    val probe = routedDf.limit(chunkRows + 1).collect()
    if (probe.length <= chunkRows) {
      // common case: one driver job, every route fed from one array
      executeBatch(base, probe.map(rowOf), k,
        categoryLayout, ann, annEf, annBuckets)
    } else {
      val it = routedDf.toLocalIterator()
      val chunks = Iterator.continually {
        val buf = scala.collection.mutable.ArrayBuffer.empty[RoutedRow]
        while (it.hasNext && buf.length < chunkRows) buf += rowOf(it.next())
        buf.toArray
      }.takeWhile(_.nonEmpty)
      val results = chunks.map { chunk =>
        // materialize this chunk's result so its broadcasts can be freed
        // before the next chunk is pulled from the iterator
        executeBatch(base, chunk, k, categoryLayout, ann, annEf, annBuckets)
          .localCheckpoint(eager = true)
      }.toSeq
      if (results.isEmpty) emptyRes(spark)
      else results.reduce(_.unionByName(_))
    }
  }

  private def emptyRes(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[(Long, Long, Long)].toDF("qid", "rank", "nid")
  }

  // The routed query slice is broadcast-sized; every route is fed from
  // this array — one driver job instead of one per route, the query side
  // of every sub-plan becomes a LocalRelation, and empty routes plan
  // nothing at all.
  private def executeBatch(base: DataFrame, routed: Array[RoutedRow], k: Int,
      categoryLayout: Option[DataFrame],
      ann: Boolean, annEf: Int, annBuckets: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._

    def asQueryDf(rows: Array[RoutedRow]) =
      rows.map(t => (t._1, t._2, t._3, t._4, t._5, t._6)).toSeq
        .toDF("qid", "qtype", "v", "l", "r", "qvec")

    // route: low-selectivity category queries → pruned clustered scan
    val bfCatRows = routed.filter(t => t._7 == "bruteforce" && (t._2 == 1 || t._2 == 3))
    val bfCatRes =
      if (bfCatRows.isEmpty) emptyRes(spark)
      else categoryLayout match {
        case Some(layout) =>
          val labels = bfCatRows.map(_._3).distinct
          KnnJoin.exactFlat(layout.filter(col("label").isin(labels.toIndexedSeq: _*)),
            asQueryDf(bfCatRows), k, types = Seq(1, 3))
        case None => KnnJoin.exactFlat(base, asQueryDf(bfCatRows), k, types = Seq(1, 3))
      }

    val rest = routed.filterNot(t => t._7 == "bruteforce" && (t._2 == 1 || t._2 == 3))

    if (!ann) {
      // exact configuration: everything else through the streaming join,
      // only the type branches actually present in the batch
      val restRes =
        if (rest.isEmpty) emptyRes(spark)
        else KnnJoin.exactFlat(base, asQueryDf(rest), k,
          types = rest.map(_._2).distinct.toSeq)
      return bfCatRes.unionByName(restRes)
    }

    // approximate configuration — the reference's stage layout:
    //   type-0 → union over hash-bucket sub-indexes       (:306-333)
    //   type-1 → per-category sub-index                   (:239-298)
    //   type-2 → per-decile sub-indexes w/ in-filter      (:338-459)
    //   type-3 → in-filter walk of the category sub-index (:267,
    //            searcher.hpp:301-374); ef sloped by category size
    //   anything else → exact streaming join
    val slope = Some(SearchParams.EfSlope(annEf))
    val fullQ = rest.collect { case (qid, _, _, _, _, qv, "full_graph") => (qid, qv) }
    val catQ = rest.collect { case (qid, 1, v, _, _, qv, "category_graph") => (v, (qid, qv)) }
      .groupBy(_._1).map { case (l, xs) => (l, xs.map(_._2)) }
    val cat3Q = rest.collect { case (qid, 3, v, l, r, qv, "category_graph") => (v, (qid, l, r, qv)) }
      .groupBy(_._1).map { case (l, xs) => (l, xs.map(_._2)) }
    val intQ = rest.collect { case (qid, 2, _, l, r, qv, "interval_graph") => (qid, l, r, qv) }
    val exactRows = rest.filterNot(t =>
      t._7 == "full_graph" ||
        (t._7 == "category_graph" && (t._2 == 1 || t._2 == 3)) ||
        (t._7 == "interval_graph" && t._2 == 2))
    val exactRes =
      if (exactRows.isEmpty) emptyRes(spark)
      else KnnJoin.exactFlat(base, asQueryDf(exactRows), k,
        types = exactRows.map(_._2).distinct.toSeq)

    bfCatRes
      .unionByName(AnnJoin.hnswKnnBatch(
        base.select(col("id"), col("vec")), fullQ, k, annEf, annBuckets))
      .unionByName(AnnJoin.categoryHnswKnnBatch(
        base.select(col("id"), col("label"), col("vec")), catQ, k, annEf, efSlope = slope))
      .unionByName(AnnJoin.categoryRangeHnswKnnBatch(
        base.select(col("id"), col("label"), col("ts"), col("vec")), cat3Q, k, annEf,
        efSlope = slope))
      .unionByName(AnnJoin.decileHnswKnnBatch(
        base.select(col("id"), col("ts"), col("vec")), intQ, k, annEf))
      .unionByName(exactRes)
  }
}
