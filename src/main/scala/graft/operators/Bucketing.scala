package graft.operators

import java.io.File

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetMeta

/** Bucketed (co-located) joins — the storage-level shuffle eliminator.
  *
  * A big fact⋈fact equi-join shuffles BOTH sides on every run; at 100 TB
  * that repeated exchange dominates the query. Bucketing pays the shuffle
  * ONCE at write time: both tables are hash-partitioned into the same
  * number of buckets on the join key and each bucket's rows are sorted,
  * so every later join (and any aggregation keyed on the bucket column)
  * plans as a zero-Exchange sort-merge over co-located files. This is
  * the storage analog of the reference's sorted replicas (`utils.h:
  * 352-479`): reorganize once, serve many — except here the payoff is
  * Catalyst planning `SortMergeJoin` with no `Exchange` and no `Sort`
  * on either side (plan shape checked in BucketingSpec).
  *
  * Scale notes, encoded in the writer:
  *   - `repartition(buckets, key)` BEFORE `bucketBy` — without it every
  *     shuffle task emits a file per bucket it sees (tasks × buckets
  *     small files, the classic bucketed-write explosion); with it each
  *     bucket is exactly one file per write.
  *   - The bucketed copy lives under a generation-fingerprinted path
  *     ([[ParquetMeta.fingerprint]]), so a regenerated source corpus can
  *     never be served from a stale bucketed layout — same contract as
  *     the ANN index stores.
  *   - A fresh session (catalog lost, files on disk) re-registers the
  *     existing files with `CREATE TABLE ... CLUSTERED BY` DDL instead
  *     of rewriting — bucket ids are recovered from the file names, the
  *     data path stays untouched.
  */
object Bucketing {

  /** Ensure a bucketed, per-bucket-sorted copy of `dir/<table>.parquet`
    * exists on disk and is registered in the session catalog; returns
    * the catalog table name. Idempotent at all three levels: catalog
    * hit → no-op; files-on-disk hit → DDL re-register only; miss →
    * one-time bucketed write (the amortized shuffle). The identity
    * (catalog name AND path) includes the bucket key, bucket count, and
    * source-generation fingerprint — a re-register can therefore never
    * declare a bucket spec the files were not written with (a wrong
    * INTO n BUCKETS over existing files would silently drop join
    * matches), and different (key, buckets) configs coexist. */
  def bucketedTable(s: SparkSession, dir: String, table: String, key: String,
                    buckets: Int = 16): String = {
    val tag = s"${ParquetMeta.storeTag(s, dir, table)}_${key}_b$buckets"
    val name = s"graft_bkt_$tag"
    if (!s.catalog.tableExists(name)) {
      val loc = new File(s"/tmp/graft_bucketed/$tag")
      if (new File(loc, "_SUCCESS").exists()) {
        // files survive the session that wrote them: recover the bucket
        // spec via DDL; Spark reads bucket ids back from the file names
        val schemaDdl = s.read.parquet(loc.toString).schema.toDDL
        s.sql(s"""CREATE TABLE $name ($schemaDdl) USING parquet
                 |CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS
                 |LOCATION '${loc.toString}'""".stripMargin)
      } else {
        // creating a NEW generation: reclaim siblings keyed to superseded
        // source fingerprints first (same dir/table/key/buckets identity,
        // different fingerprint) — every source regeneration would
        // otherwise leave its full bucketed copy under /tmp forever
        ParquetMeta.gcSiblingStores(new File("/tmp/graft_bucketed"), tag,
          ParquetMeta.storePrefix(dir, table), s"_${key}_b$buckets")
        s.read.parquet(s"$dir/$table.parquet")
          .repartition(buckets, col(key))
          .write.mode(SaveMode.Overwrite)
          .bucketBy(buckets, key).sortBy(key)
          .option("path", loc.toString)
          .saveAsTable(name)
      }
    }
    name
  }

  /** lineitem ⋈ orders over bucketed tables, aggregated ON the bucket
    * key — the full showcase plan: zero Exchange end-to-end (co-located
    * sort-merge join, then a partial+final agg that reuses the bucket
    * partitioning). Result is identical to the plain join (the oracle
    * runs the unbucketed SQL). */
  def revenuePerOrder(s: SparkSession, dir: String, buckets: Int = 16): DataFrame = {
    val l = s.table(bucketedTable(s, dir, "lineitem", "l_orderkey", buckets))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    val o = s.table(bucketedTable(s, dir, "orders", "o_orderkey", buckets))
      .select(col("o_orderkey"), col("o_orderpriority"))
    // revenue summed as fixed-point decimal of per-row-rounded terms: a
    // double sum is partition-order dependent and flips the 2-dp display
    // rounding on ~0.1% of groups vs the oracle (prices/discounts carry
    // ≤4 true decimals, so the 6-dp row rounding is exact — same
    // technique as cluster_profile's inertia)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6)
          .cast("decimal(28,6)")), 2).cast("double").as("revenue"))
  }
}
