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
  *      - with `stores` (the approximate configuration), the
  *        `full_graph`/`category_graph`/`interval_graph` routes →
  *        the stored per-type indexes under that root
  *        ([[graft.index.TypeStores.search]], built by
  *        [[graft.index.TypeStores.ensure]] over this base);
  *   3. union of per-route results (each already top-k per qid).
  *
  * Without `stores` every route is exact, so the composition returns
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
      stores: Option[String] = None, ef: Int = 200,
      chunkRows: Int = 200000): DataFrame = {
    // stats-lookup routing (Selectivity.withRoutes): one tiny stats
    // collect, then `route` is a literal-folded column on the query
    // batch itself — no join. Any routing decision preserves exactness —
    // it only picks WHICH exact physical path runs (graph routes
    // excepted, when `stores` is given).
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
      executeBatch(base, probe.map(rowOf), k, categoryLayout, stores, ef)
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
        executeBatch(base, chunk, k, categoryLayout, stores, ef)
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
      stores: Option[String], ef: Int): DataFrame = {
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

    // approximate configuration: every graph route searches its type's
    // stored index (the reference's stage layout — type-0 hash-bucket
    // union :306-333, type-1 category sub-index :239-298, type-2 decile
    // in-filter :338-459, type-3 in-filter category walk :267); the
    // remaining bruteforce rows (type 2) and, without stores, all rows
    // go through the streaming exact join, only the type branches
    // actually present in the batch
    val (graphRows, exactRows) = rest.partition(t => stores.isDefined && t._7 != "bruteforce")
    val exactRes =
      if (exactRows.isEmpty) emptyRes(spark)
      else KnnJoin.exactFlat(base, asQueryDf(exactRows), k,
        types = exactRows.map(_._2).distinct.toSeq)
    val res = bfCatRes.unionByName(exactRes)
    if (graphRows.isEmpty) res
    else res.unionByName(
      graft.index.TypeStores.search(spark, stores.get, asQueryDf(graphRows), k, ef))
  }
}
