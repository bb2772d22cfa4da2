package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stats layer + adaptive physical-plan routing, mirroring the
  * reference's hand-rolled cost-based dispatch:
  *  - per-category counts (utils.h:377-395) and decile histogram
  *    (utils.h:444-478), both folded out of one (label, decile) cell
  *    grid;
  *  - per-query selectivity (hybrid_graph.cpp:169-200);
  *  - route choice by (qtype, selectivity) with the reference's
  *    thresholds: bf_thr = 0.045, bf_thr3 = 0.08
  *    (baseline.cpp:77, hybrid_graph.h:78-79, hybrid_graph.cpp:201);
  *  - SplitInterval: decompose a [l,r] range over the 10 fixed deciles
  *    and classify each overlapped bucket (hybrid_graph.cpp:91-134).
  *
  * At scale the stats grid is one narrow pass over the base; the
  * routing column then splits the query batch into sub-plans before any
  * expensive work — the same two-phase (stats → routed plan) shape as
  * the reference, expressed declaratively.
  */
object Selectivity {

  val BfThreshold = 0.045
  val BfThresholdType3 = 0.08

  /** Per-query exact selectivity + route.
    * Output: (qid, qtype, matches, sel, route). */
  def routeQueries(base: DataFrame, queries: DataFrame): DataFrame = {
    val n = base.count()
    val matches = broadcast(queries.select("qid", "qtype", "v", "l", "r"))
      .join(base,
        col("qtype") === 0 ||
        (col("qtype") === 1 && col("label") === col("v")) ||
        (col("qtype") === 2 && col("ts") >= col("l") && col("ts") <= col("r")) ||
        (col("qtype") === 3 && col("label") === col("v") &&
          col("ts") >= col("l") && col("ts") <= col("r")),
        "left")
      .groupBy("qid", "qtype")
      .agg(count(col("id")).as("matches"))
    matches
      .withColumn("sel", col("matches") / lit(n.toDouble))
      .withColumn("route",
        when(col("qtype") === 0, "full_graph")
          .when(col("qtype") === 3 && col("sel") < BfThresholdType3, "bruteforce")
          .when(col("qtype") =!= 3 && col("sel") < BfThreshold, "bruteforce")
          .when(col("qtype") === 1 || col("qtype") === 3, "category_graph")
          .otherwise("interval_graph"))
  }

  /** Stats-lookup routing — the scale path. Where [[routeQueries]]
    * counts matches exactly with a predicate join over the base (one
    * full pass), this derives selectivity from the reference's two
    * precomputed stats tables (category_map + timestamp_map): exact for
    * type 0/1, interpolated-histogram estimate for type 2/3
    * (independence assumption for type 3 — the standard CBO treatment).
    * Output: (qid, qtype, sel, route). */
  def routeQueriesFast(base: DataFrame, queries: DataFrame): DataFrame =
    withRoutes(base, queries)
      .select(col("qid"), col("qtype"), col("sel"), col("route"))

  /** The (label, decile) cell grid of `base`: row count per (label,
    * floor(ts × 10)) cell, decile 10 holding ts = 1.0. Both of the
    * reference's stats tables fall out of it — category_map sums a
    * label's cells, timestamp_map a decile's. ONE job, no shuffle: each
    * task counts its partition into a map (≤ labels × 11 entries) and
    * the driver merges the maps. */
  def cellCounts(base: DataFrame): Map[(Long, Int), Long] = {
    import base.sparkSession.implicits._
    base.select(col("label").cast("long"), floor(col("ts") * 10).cast("int"))
      .as[(Long, Int)]
      .mapPartitions { it =>
        val m = scala.collection.mutable.HashMap.empty[(Long, Int), Long]
        it.foreach(c => m(c) = m.getOrElse(c, 0L) + 1L)
        m.iterator.map { case ((l, d), c) => (l, d, c) }
      }
      .collect()
      .groupMapReduce(c => (c._1, c._2))(_._3)(_ + _)
  }

  /** The queries with `sel` and `route` appended, from ONE stats pass:
    * the [[cellCounts]] grid is folded into the routing expression as
    * literals. No join, no shuffle, no per-query job: the routed query
    * batch is a single narrow projection, so composing plans on top of
    * it adds nothing to the physical plan but a `when()` column. */
  def withRoutes(base: DataFrame, queries: DataFrame): DataFrame = {
    val cells = cellCounts(base)
    val n = math.max(cells.values.sum, 1L).toDouble
    val catMap: Map[Long, Long] = cells.groupMapReduce(_._1._1)(_._2)(_ + _)
    val hist = new Array[Long](10)
    cells.foreach { case ((_, d), c) => if (d >= 0 && d < 10) hist(d) += c }
    val catCnt =
      if (catMap.isEmpty) lit(0L)
      else coalesce(element_at(typedLit(catMap), col("v")), lit(0L))
    // range estimate: sum over deciles of cnt × covered-fraction
    val rangeCnt = (0 until 10).map { d =>
      greatest(lit(0.0),
        (least(col("r"), lit((d + 1) / 10.0)) - greatest(col("l"), lit(d / 10.0))) * 10.0) *
        lit(hist(d).toDouble)
    }.reduce(_ + _)
    queries
      .withColumn("sel",
        when(col("qtype") === 0, lit(1.0))
          .when(col("qtype") === 1, catCnt / n)
          .when(col("qtype") === 2, rangeCnt / n)
          .otherwise((catCnt / n) * (rangeCnt / n)))
      .withColumn("route",
        when(col("qtype") === 0, "full_graph")
          .when(col("qtype") === 3 && col("sel") < BfThresholdType3, "bruteforce")
          .when(col("qtype") =!= 3 && col("sel") < BfThreshold, "bruteforce")
          .when(col("qtype") === 1 || col("qtype") === 3, "category_graph")
          .otherwise("interval_graph"))
  }

  /** SplitInterval: one row per (query, overlapped decile) with the
    * covered fraction of the bucket and its class:
    * SMALL (< 0.2 covered → quantized slice scan), FULL (fully covered
    * → unfiltered sub-index walk), MEDIUM (otherwise → in-filter walk).
    * Thresholds follow hybrid_graph.cpp:117-124. */
  def splitInterval(rangeQueries: DataFrame): DataFrame = {
    val buckets = rangeQueries.sparkSession.range(0, 10)
      .select(col("id").cast("int").as("bucket"),
        (col("id") / 10.0).as("bstart"),
        ((col("id") + 1) / 10.0).as("bend"))
    rangeQueries.crossJoin(broadcast(buckets))
      .filter(col("l") < col("bend") && col("r") > col("bstart"))
      .withColumn("cover",
        (least(col("r"), col("bend")) - greatest(col("l"), col("bstart"))) / (col("bend") - col("bstart")))
      .withColumn("rf_class",
        when(col("cover") < 0.2, "SMALL")
          .when(col("cover") >= 0.999999, "FULL")
          .otherwise("MEDIUM"))
      .select(col("qid"), col("bucket"), col("cover"), col("rf_class"))
  }
}
