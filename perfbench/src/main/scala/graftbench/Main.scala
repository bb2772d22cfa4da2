package graftbench

import org.apache.spark.sql.SparkSession

/** One workload run in its own `local[cpus]` JVM.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --run-dir <dir> [--size full|tiny] [--spans <file>]
  *
  * Prints one `BENCH_RESULT {...}` line: end-to-end metrics when
  * untraced, per-layer metrics when traced, plus the attempted and
  * failed operation counts and run details. */
object Main {

  private val Sizes: Map[String, (ContestBatch.Config, SqlServing.Config)] = Map(
    "full" -> (ContestBatch.Config(nBase = 4000, nQuery = 480, checkPerType = 32),
      SqlServing.Config(nBase = 8000, nPool = 256, checkPerType = 16)),
    "tiny" -> (ContestBatch.Config(nBase = 2000, nQuery = 160, checkPerType = 8),
      SqlServing.Config(nBase = 2000, nPool = 32, checkPerType = 4)))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = java.lang.Long.parseLong(opts("seed")) & ((1L << 20) - 1)
    val traced = opts("trace") == "1"
    val runDir = opts("run-dir")
    val (contestCfg, servingCfg) = Sizes(opts.getOrElse("size", "full"))
    val cpus = Runtime.getRuntime.availableProcessors()
    require(Set(ContestBatch.Name, SqlServing.Name)(workload), s"unknown workload $workload")

    val spark = graft.GraftConf.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName(s"graftbench-$workload")
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.hadoop.parquet.hadoop.vectored.io.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Ctx.progress(s"session ready, $workload seed $seed")
    try {
      val tr = new Tracer(spark.sparkContext, workload, traced)
      val ctx = new Ctx(spark, tr, cpus, runDir, seed, opts("seconds").toDouble,
        setupReps = 2, minSamples = 4)
      val res =
        if (workload == ContestBatch.Name) ContestBatch.run(ctx, contestCfg)
        else SqlServing.run(ctx, servingCfg)
      opts.get("spans").filter(_ => traced).foreach(p => Layers.writeSpans(ctx, p))
      val metrics = (if (traced) res.perLayer else res.endToEnd :+
        (("peak_rss_mb", peakRssMb(), "MB")))
      println("BENCH_RESULT " + Json.obj(
        "correct" -> res.correct,
        "attempted" -> res.attempted,
        "failed" -> res.failed,
        "metrics" -> metrics.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap,
        "details" -> res.details))
    } finally spark.stop()
  }

  /** The JVM's resident-set high-water mark (`VmHWM`), in MB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))
    finally src.close()
  }
}
