package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{AnnIndexStore, EfTuner}
import graft.sources.ContestBinaryIO
import graft.tools.ContestCorpus

/** The ingest-build-tune lifecycle both workloads set up with, split
  * into the calls the benchmark times. Every setup writes into a fresh
  * root, so no run reuses a store, a layout or a tuner sidecar that an
  * earlier run left behind. */
final class Stores(spark: SparkSession, tr: Tracer, val root: String, cpus: Int) {
  val basePath = s"$root/base"
  val queriesPath = s"$root/queries"
  val byLabel = s"$root/by_label"
  val byLabelTs = s"$root/by_label_ts"
  val byRange = s"$root/by_range"
  val ivf = s"$root/by_ivf"

  /** Binary ingest, materialized columnar like `ContestRun.runScale`. */
  def ingest(baseBin: String, queryBin: String): (DataFrame, DataFrame) = {
    val base = tr.span("sources.read_base") {
      ContestBinaryIO.readBase(spark, baseBin, ContestCorpus.dim, cpus * 4)
        .write.mode("overwrite").parquet(basePath)
      spark.read.parquet(basePath)
    }
    val queries = tr.span("sources.read_queries") {
      ContestBinaryIO.readQueries(spark, queryBin, ContestCorpus.dim, cpus)
        .write.mode("overwrite").parquet(queriesPath)
      spark.read.parquet(queriesPath)
    }
    (base, queries)
  }

  def buildByLabel(base: DataFrame): Unit = tr.span("index.build.by_label") {
    AnnIndexStore.buildBy(base.select(col("id"), col("label"), col("ts"), col("vec")),
      byLabel, "label", attrCol = Some("ts"))
  }

  def buildByLabelTs(base: DataFrame): Unit = tr.span("index.build.by_label_ts") {
    AnnIndexStore.buildBy(base.select(col("id"), col("label"), col("ts"), col("vec")),
      byLabelTs, "label", attrCol = Some("ts"), attrSalted = true)
  }

  /** ts buckets at `ContestRun.runScale`'s scale: deciles below 2M rows,
    * which is also the layout the SQL range route reads. */
  def rangeScale(nBase: Long): Int = math.max(10, math.ceil(nBase / 200000.0).toInt)

  def buildByRange(base: DataFrame, scale: Int): Unit = tr.span("index.build.by_range") {
    AnnIndexStore.buildBy(base.withColumn("bucket", floor(col("ts") * scale).cast("long")),
      byRange, "bucket", attrCol = Some("ts"))
  }

  def buildIvf(base: DataFrame, nlist: Int): Unit = tr.span("index.build.ivf") {
    AnnIndexStore.buildIvf(base.select(col("id"), col("vec")), ivf, nlist = nlist)
  }

  /** Tunes and persists the IVF probe count; returns the count search
    * resolves and the tuner's ladder. */
  def tuneNprobe(queries: DataFrame, k: Int, ef: Int): (Int, Option[EfTuner.NprobeResult]) = {
    val ladder = tr.span("index.tune.nprobe") {
      EfTuner.tuneAndPersistNprobe(spark, ivf, queries, k, ef)
    }
    (AnnIndexStore.resolveNprobe(ivf, AnnIndexStore.AutoNprobe), ladder)
  }

  /** Bytes of every store under the root, per byte of the base binary. */
  def storeBytesPerInputByte(stores: Seq[String], baseBin: String): Double =
    stores.map(p => du(new File(p))).sum.toDouble / new File(baseBin).length()

  private def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length()
}

object Stores {
  /** IVF list count that keeps `ContestRun.runScale`'s 128 lists per
    * 10^5 rows (~780 rows a list) at the benchmark's smaller bases. */
  def nlistFor(nBase: Long): Int = math.max(8, math.round(nBase / 781.25).toInt)
}
