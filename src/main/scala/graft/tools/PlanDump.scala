package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dumps `.explain("formatted")` for every declared query (or a named
  * subset) to one file per query — the optimization-round evidence trail
  * (plans/r14/<query>_<tag>.txt). It captures the complete surface, or
  * a curated subset (PlanAudit, tool deleted after 77313f2, printed one
  * to stdout), so before/after plan diffs are checkable without running
  * Spark.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1) else "plans/r14"
    val tag = if (args.length > 2) args(2) else "before"
    val only: Option[Set[String]] =
      if (args.length > 3) Some(args(3).split(",").map(_.trim).filter(_.nonEmpty).toSet)
      else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftConf.tuned(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val selected = only.fold(graft.SparkEntry.queries)(s =>
      graft.SparkEntry.queries.view.filterKeys(s).toMap)
    selected.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] $name ok")
      } catch {
        case scala.util.control.NonFatal(e) =>
          Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
            s"(failed: ${e.getClass.getName}: ${e.getMessage})".getBytes(StandardCharsets.UTF_8))
          println(s"[plandump] $name FAILED: ${e.getMessage}")
      } finally {
        graft.operators.CacheRegistry.releaseAll(blocking = true)
      }
    }
    spark.stop()
  }
}
