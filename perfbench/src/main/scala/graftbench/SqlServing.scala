package graftbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.AnnCatalog

import graft.operators.KnnJoin
import graft.sources.ContestBinaryIO

/** `sql_serving`: one client in a closed loop sends
  * `SELECT id FROM base WHERE <pred> ORDER BY l2_sq(vec, <qvec>), id LIMIT k`
  * as SQL text, query types 0-3 round-robin over a pool drawn from the
  * same corpus. The base is registered through [[AnnCatalog.register]]
  * with the IVF (type 0), label (types 1 and 3) and range (type 2)
  * stores and no `trusted` flag, so every statement pays planning, the
  * AnnTopK strategy, its driver jobs, the guard-mode base-row fetch and
  * the serving-cache lookups.
  *
  * Setup (timed as `setup_s`, repeated): ingest, the three store
  * builds, the nprobe tuner, registration and one untimed warm cycle of
  * four statements (one of each type). */
object SqlServing {
  val Name = "sql_serving"
  private val WarmStatements = 4
  // The per-type medians are over the first two cycles of the pool: the
  // same eight queries of each type in every run of a seed. Over all
  // statements served, a faster run's third cycle added other queries,
  // and the type-2 median moved by a quarter with the statement count.
  private val MedianStatements = 32

  final case class Config(nBase: Int, nPool: Int, checkPerType: Int,
      k: Int = 100, ef: Int = 400)

  final case class Stmt(qid: Long, qtype: Int, text: String)

  final case class Served(stmt: Stmt, ms: Double, ids: Array[Long], plan: String)

  def run(ctx: Ctx, cfg: Config): RunResult = {
    import ctx.{spark, tr}
    require(cfg.nPool % 16 == 0, "the pool must hold whole type/width cycles")
    val baseBin = s"${ctx.runDir}/inputs/base.bin"
    val queryBin = s"${ctx.runDir}/inputs/query.bin"
    new File(baseBin).getParentFile.mkdirs()
    val clusters = Inputs.clusters(ctx.seed, cfg.nBase)
    Inputs.writeBase(baseBin, cfg.nBase, ctx.seed, clusters)
    Inputs.writeQueries(queryBin, cfg.nPool, ctx.seed, clusters)

    val setupS = mutable.ArrayBuffer.empty[Double]
    var stores: Stores = null
    var base: DataFrame = null
    var queries: DataFrame = null
    var pool: IndexedSeq[Stmt] = null
    var nprobe = 0
    (1 to ctx.setupReps).foreach { rep =>
      if (stores != null) { AnnCatalog.unregister(stores.basePath); Ctx.delete(stores.root) }
      tr.newGroup()
      val t0 = System.nanoTime()
      stores = new Stores(spark, tr, s"${ctx.runDir}/setup$rep", ctx.cpus)
      val (b, q) = stores.ingest(baseBin, queryBin)
      base = b
      queries = q
      stores.buildByLabel(b)
      stores.buildByRange(b, stores.rangeScale(cfg.nBase))
      stores.buildIvf(b, Stores.nlistFor(cfg.nBase))
      nprobe = stores.tuneNprobe(q, cfg.k, cfg.ef)._1
      tr.span("sql.register") {
        AnnCatalog.register(stores.basePath, stores.ivf, idCol = "id", vecCol = "vec",
          ef = cfg.ef,
          labelIndex = Some(("label", stores.byLabel)),
          rangeIndex = Some(("ts", stores.byRange)),
          ivfIndex = Some(stores.ivf))
        spark.read.parquet(stores.basePath).createOrReplaceTempView("base")
      }
      pool = statements(q, cfg.k)
      (0 until WarmStatements).foreach(i => serve(ctx, pool(i % pool.length)))
      setupS += (System.nanoTime() - t0) / 1e9
      Ctx.progress(f"setup $rep: ${setupS.last}%.2f s")
    }

    Ctx.progress("timed loop")
    val cache0 = CacheCounters.now()
    val served = ctx.timedLoop(block = 16, atLeast = MedianStatements) { (i, _) =>
      serve(ctx, pool(i % pool.length))
    } { _ => () }
    val cacheDelta = CacheCounters.now() - cache0
    Ctx.progress(s"timed loop done: ${served.length} samples")

    val check = tr.span("check.exact") { checkServed(ctx, cfg, base, queries, served.map(_._1)) }
    AnnCatalog.unregister(stores.basePath)

    val untraced = served.filterNot(_._2).map(_._1)
    val elapsedS = untraced.map(_.ms).sum / 1000
    val (tailP, tailMs) = Stats.tail(untraced.map(_.ms))
    val e2e = Seq(
      ("setup_s", ctx.setupMedian(setupS.toSeq), "s"),
      ("qps", untraced.length / elapsedS, "1/s")) ++
      (0 to 3).map(t => (s"t${t}_p50_ms", Stats.median(
        untraced.take(MedianStatements).filter(_.stmt.qtype == t).map(_.ms)), "ms")) ++
      Seq(("tail_ms", tailMs, "ms"), ("recall_at_100", check.meanRecall, "ratio"))

    val layers = if (!ctx.traced) Nil else {
      val traced = served.filter(_._2).map(_._1)
      Layers.collect(ctx,
        Layers.Serve("stmt", traced.length.toLong,
          route = ("sql.plan", 1L),
          search = (0 to 3).map(t => (s"sql.exec.t$t", 1L)),
          cache = cacheDelta,
          overheadMsPerQuery = Stats.median(traced.map(_.ms)) - Stats.median(untraced.map(_.ms))),
        stores.storeBytesPerInputByte(Seq(stores.byLabel, stores.byRange, stores.ivf), baseBin),
        nprobe, stores.byLabel, queries)
    }
    RunResult(
      attempted = served.length.toLong,
      failed = check.failed,
      correct = check.failed == 0,
      endToEnd = e2e,
      perLayer = layers,
      details = Map(
        "statements" -> untraced.length,
        "traced_statements" -> served.count(_._2),
        "statements_per_type" -> (0 to 3).map(t => untraced.count(_.stmt.qtype == t)),
        "tail_percentile" -> tailP,
        "tail_samples" -> untraced.length,
        "setup_all_s" -> setupS.toSeq,
        "nprobe_chosen" -> nprobe,
        "unrouted_statements" -> check.unrouted,
        "checked_queries" -> check.checked,
        "output_bin_bytes" -> check.outBytes))
  }

  /** The pool as SQL text, in qid order. Float literals print in Java's
    * shortest round-trip form, so the statement carries the exact query
    * vector. */
  private def statements(queries: DataFrame, k: Int): IndexedSeq[Stmt] =
    queries.orderBy("qid").collect().toIndexedSeq.map { r =>
      val (qid, qtype, v, l, rr) = (r.getAs[Long]("qid"), r.getAs[Int]("qtype"),
        r.getAs[Long]("v"), r.getAs[Double]("l"), r.getAs[Double]("r"))
      val vec = r.getAs[Seq[Float]]("qvec")
        .map(x => s"CAST(${java.lang.Float.toString(x)} AS FLOAT)").mkString("array(", ",", ")")
      val pred = qtype match {
        case 0 => ""
        case 1 => s"WHERE label = ${v}L "
        case 2 => s"WHERE ts >= ${l}D AND ts <= ${rr}D "
        case _ => s"WHERE label = ${v}L AND ts >= ${l}D AND ts <= ${rr}D "
      }
      Stmt(qid, qtype, s"SELECT id FROM base ${pred}ORDER BY l2_sq(vec, $vec), id LIMIT $k")
    }

  /** One statement: parse, plan and execute. Traced, planning (forcing
    * the executed plan) and execution are separate spans. */
  private def serve(ctx: Ctx, s: Stmt): Served = {
    import ctx.{spark, tr}
    tr.newGroup()
    val t0 = System.nanoTime()
    val (df, rows) = tr.span("stmt") {
      val df = tr.span("sql.plan") {
        val d = spark.sql(s.text)
        d.queryExecution.executedPlan
        d
      }
      (df, tr.span(s"sql.exec.t${s.qtype}")(df.collect()))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    Served(s, ms, rows.map(_.getLong(0)), df.queryExecution.executedPlan.toString)
  }

  final case class Check(checked: Int, failed: Long, unrouted: Int, meanRecall: Double,
      outBytes: Long)

  /** Every statement's executed plan must hold `AnnTopK`; the first
    * `checkPerType` served queries of each type are compared with the
    * exact answer; the last answer per query is written as `output.bin`. */
  private def checkServed(ctx: Ctx, cfg: Config, base: DataFrame, queries: DataFrame,
      served: Seq[Served]): Check = {
    import ctx.spark
    import spark.implicits._
    val unrouted = served.count(!_.plan.contains("AnnTopK"))
    val lastAnswer = served.map(s => s.stmt.qid -> s).toMap
    val sampleIds = (0 to 3).flatMap { t =>
      lastAnswer.values.filter(_.stmt.qtype == t).map(_.stmt.qid).toSeq.sorted
        .take(cfg.checkPerType)
    }
    val sample = queries.join(broadcast(sampleIds.toDF("qid")), "qid")
    val exact = Ctx.neighbors(KnnJoin.exactFlat(base, sample, cfg.k))
    val recalls = sampleIds.map(q => Ctx.recall(exact.getOrElse(q, Array.empty[Long]),
      lastAnswer(q).ids))
    val outBin = s"${ctx.runDir}/output.bin"
    val answers = lastAnswer.toSeq.map { case (q, s) => (q, s.ids.toSeq) }.toDF("qid", "neighbors")
    ctx.tr.span("sources.write_knn") {
      ContestBinaryIO.writeKnn(queries.select("qid").join(answers, Seq("qid"), "left")
        .select(col("qid"),
          coalesce(col("neighbors"), array().cast("array<long>")).as("neighbors")),
        outBin, cfg.k)
    }
    val outBytes = new File(outBin).length()
    val failed = unrouted + recalls.count(_ < Ctx.MinQueryRecall) +
      (if (outBytes == cfg.nPool.toLong * cfg.k * 4) 0 else served.length)
    Check(recalls.length, failed.toLong, unrouted,
      if (recalls.isEmpty) 0.0 else recalls.sum / recalls.length, outBytes)
  }
}
