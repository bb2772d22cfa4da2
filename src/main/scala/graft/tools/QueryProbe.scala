package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Per-query execution-shape probe for the optimization rounds: runs
  * each named query `reps` times under the bench's session shape and
  * reports wall, Spark job count, stage count, task count, and
  * cumulative task time — the measure-first numbers that tell overhead
  * (many tiny jobs / stages) apart from compute (task seconds). Under
  * each rep's line it lists every job with its wall and call site, so
  * the collect/write/agg that owns each of a query's jobs is named —
  * including a count() or probe that runs at plan-build time and never
  * appears in the final plan.
  *
  * Usage: runMain graft.tools.QueryProbe <sfDir> <reps> [q1,q2,...]
  */
object QueryProbe {
  private final case class Job(id: Int, site: String, t0: Long, var ms: Long = -1L)

  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val reps = if (args.length > 1) args(1).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val names =
      if (args.length > 2) args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      else Seq("heavy_ngrams", "dedup_survivors", "ann_nprobe_tune")
    val spark = graft.GraftConf.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000).selectExpr("sum(id)").collect()

    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val taskMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val trace = mutable.LinkedHashMap.empty[Int, Job]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit = trace.synchronized {
        // the result stage's name is the job's short call site when no
        // caller set the callSite.short property
        val site = Option(s.properties)
          .flatMap(p => Option(p.getProperty("callSite.short")))
          .orElse(s.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
          .getOrElse("?")
        trace(s.jobId) = Job(s.jobId, site, System.nanoTime())
      }
      override def onJobEnd(s: SparkListenerJobEnd): Unit = trace.synchronized {
        trace.get(s.jobId).foreach(j => j.ms = (System.nanoTime() - j.t0) / 1000000)
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
        ()
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
        ()
      }
    })

    names.foreach { name =>
      (1 to reps).foreach { rep =>
        stages.set(0); tasks.set(0); taskMs.set(0L)
        trace.synchronized(trace.clear())
        val t0 = System.nanoTime()
        val n = graft.SparkEntry.queries(name)(spark, dir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        graft.operators.CacheRegistry.releaseAll(blocking = true)
        Thread.sleep(400) // async listener drain
        val jobs = trace.synchronized(trace.values.toList)
        println(f"PROBE $name%-24s rep$rep wall=$wall%7.3f s  " +
          f"jobs=${jobs.size}%3d stages=${stages.get()}%3d " +
          f"tasks=${tasks.get()}%4d taskSum=${taskMs.get()}%6d ms rows=$n")
        jobs.foreach(j => println(f"  j${j.id}%-4d ${j.ms}%6d ms  ${j.site}"))
      }
      System.gc()
    }
    spark.stop()
  }
}
