package graft.operators

import java.nio.file.Files

import org.apache.spark.graft.JobRecorder
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{AnnCatalog, AnnTopKExec}

import graft.SparkSpec
import graft.functions.VectorFunctions
import graft.index.{AnnIndexStore, TypeStores}

/** Guard mode by listing: a store records the base files its build
  * read, and a guard-mode statement whose fresh listing of the base
  * equals the walked version's record answers from the index with no
  * fetch job. Every other case (a rewritten base, a store built from a
  * derived vec, a union or an in-memory frame, a record of another
  * version) fetches the k result rows as before. */
class GuardByListingSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val k = 10

  private def rows(seed: Int, n: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(20)(Array.fill(dim)(rnd.nextFloat() * 10 - 5))
    Seq.tabulate(n)(i => (i.toLong, centers(i % 20).map(x => x + rnd.nextFloat() * 0.5f)))
  }

  /** A fresh temp root holding `base`, the parquet base written from
    * `rows`; returns the root. */
  private def baseRoot(tag: String, data: Seq[(Long, Array[Float])]): String = {
    val root = Files.createTempDirectory(s"graft_guard_$tag").toFile
    root.deleteOnExit()
    data.toDF("id", "vec").write.mode("overwrite").parquet(s"$root/base")
    root.getPath
  }

  private def stmt(basePath: String, qv: Array[Float], withDist: Boolean = false): DataFrame = {
    val d = VectorFunctions.l2Sq(col("vec"), typedLit(qv))
    spark.read.parquet(basePath)
      .select((col("id") +: (if (withDist) Seq(d.as("d")) else Nil)): _*)
      .orderBy(d, col("id"))
      .limit(k)
  }

  private def annExec(df: DataFrame): AnnTopKExec =
    df.queryExecution.executedPlan.collectFirst { case e: AnnTopKExec => e }
      .getOrElse(fail(s"expected AnnTopK in:\n${df.queryExecution.executedPlan}"))

  /** One warm statement's Spark jobs, its metrics and its rows. The
    * statement is planned before the recording, so the base read's
    * footer inference is not counted. */
  private case class Served(jobs: Int, fetched: Long, skips: Long, rows: Seq[Row])

  private def served(df: DataFrame): Served = {
    df.queryExecution.executedPlan
    var out: Array[Row] = null
    val rec = JobRecorder.record(spark.sparkContext) { out = df.collect() }
    val m = annExec(df).metrics
    Served(rec.jobs.size, m("rowsFetched").value, m("guardSkips").value, out.toSeq)
  }

  private def rewriteSameRows(path: String): Unit = {
    val before = spark.read.parquet(path)
    spark.createDataFrame(
        spark.sparkContext.parallelize(before.collect().toSeq, 2), before.schema)
      .write.mode("overwrite").parquet(path)
  }

  private def recordOf(store: String): Option[AnnIndexStore.BaseFiles] =
    AnnIndexStore.baseFilesAt(AnnIndexStore.resolveStore(store),
      AnnIndexStore.storeVersion(store).get)

  /** Registers `index` for `basePath` in guard mode, warms one
    * statement, and returns a warm statement's service. */
  private def serveWarm(basePath: String, index: String, qv: Array[Float],
      withDist: Boolean = false): Served = {
    AnnCatalog.register(basePath, index, idCol = "id", vecCol = "vec", ef = 200)
    stmt(basePath, qv, withDist).collect() // cold pass and the null-freedom probe
    served(stmt(basePath, qv, withDist))
  }

  test("an unchanged base: 1 job, nothing fetched, the rows of the fetched statement") {
    val data = rows(3, 1200)
    val root = baseRoot("unchanged", data)
    val basePath = s"$root/base"
    AnnIndexStore.build(spark.read.parquet(basePath), s"$root/index", numBuckets = 3)
    val qv = data(17)._2
    try {
      val skipped = serveWarm(basePath, s"$root/index", qv)
      assert(skipped.jobs == 1, skipped)
      assert(skipped.fetched == 0 && skipped.skips == 1, skipped)
      assert(skipped.rows.length == k)
      val skippedDist = served(stmt(basePath, qv, withDist = true))
      assert(skippedDist.jobs == 1 && skippedDist.skips == 1, skippedDist)

      // the same rows in new files: the listing no longer matches, so the
      // fetch runs, and its re-distanced rows are the same bytes
      rewriteSameRows(basePath)
      val fetched = served(stmt(basePath, qv))
      assert(fetched.jobs == 2, fetched)
      assert(fetched.fetched == k && fetched.skips == 0, fetched)
      assert(fetched.rows == skipped.rows)
      val fetchedDist = served(stmt(basePath, qv, withDist = true))
      assert(fetchedDist.fetched == k, fetchedDist)
      val bits = (s: Served) =>
        s.rows.map(r => (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
      assert(bits(fetchedDist) == bits(skippedDist))
    } finally AnnCatalog.unregister(basePath)
  }

  test("a store built from a derived vec, a union or an in-memory frame fetches") {
    val data = rows(7, 900)
    val root = baseRoot("unrecorded", data)
    val basePath = s"$root/base"
    val base = spark.read.parquet(basePath)
    // the same rows split over two other datasets
    data.filter(_._1 % 3 != 0).toDF("id", "vec").write.parquet(s"$root/part_a")
    data.filter(_._1 % 3 == 0).toDF("id", "vec").write.parquet(s"$root/part_b")
    val inputs = Seq(
      "derived" -> base.withColumn("vec", expr("transform(vec, x -> x)")),
      "union" -> spark.read.parquet(s"$root/part_a").union(spark.read.parquet(s"$root/part_b")),
      "in_memory" -> data.toDF("id", "vec"))
    val qv = data(41)._2
    try inputs.foreach { case (name, input) =>
      val index = s"$root/index_$name"
      AnnIndexStore.build(input, index, numBuckets = 2)
      assert(recordOf(index).isEmpty, name)
      val s = serveWarm(basePath, index, qv)
      assert(s.jobs == 2, s"$name: $s")
      assert(s.fetched == k && s.skips == 0, s"$name: $s")
    } finally AnnCatalog.unregister(basePath)
  }

  test("a record written for another version than the walked one fetches") {
    val data = rows(11, 600)
    val root = baseRoot("token", data)
    val basePath = s"$root/base"
    val index = s"$root/index"
    AnnIndexStore.build(spark.read.parquet(basePath), index, numBuckets = 2)
    val built = AnnIndexStore.storeVersion(index).get
    assert(recordOf(index).isDefined)
    // a new token over the same data: the record still names the old one
    AnnIndexStore.stampVersion(new java.io.File(index))
    assert(!AnnIndexStore.storeVersion(index).contains(built))
    assert(recordOf(index).isEmpty)
    assert(AnnIndexStore.baseFilesAt(AnnIndexStore.resolveStore(index), built).isDefined)
    try {
      val s = serveWarm(basePath, index, data(5)._2)
      assert(s.jobs == 2, s)
      assert(s.fetched == k && s.skips == 0, s)
    } finally AnnCatalog.unregister(basePath)
  }

  test("a registration whose vecCol is another column than the store indexed fetches") {
    val data = rows(19, 700)
    val root = Files.createTempDirectory("graft_guard_vec2").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    val vec2Of = data.map { case (id, v) => id -> v.map(x => 3f - x * 0.5f) }.toMap
    data.map { case (id, v) => (id, v, vec2Of(id)) }.toDF("id", "vec", "vec2")
      .write.parquet(basePath)
    val index = s"$root/index"
    AnnIndexStore.build(spark.read.parquet(basePath), index, numBuckets = 2)
    val rec = recordOf(index).getOrElse(fail("a bare read records its base"))
    assert(rec.idCol == "id" && rec.vecCol == "vec")
    val qv = vec2Of(23L)
    val d = VectorFunctions.l2Sq(col("vec2"), typedLit(qv))
    def stmt2 = spark.read.parquet(basePath)
      .select(col("id"), d.as("d")).orderBy(d, col("id")).limit(k)
    try {
      // the same files, but the statement ranks by vec2: the listing
      // matches and the columns do not, so the rows are fetched and
      // re-distanced against vec2
      AnnCatalog.register(basePath, index, idCol = "id", vecCol = "vec2", ef = 200)
      assert(annExec(stmt2).isInstanceOf[AnnTopKExec])
      stmt2.collect()
      val s = served(stmt2)
      assert(s.jobs == 2, s)
      assert(s.fetched == k && s.skips == 0, s)
      s.rows.foreach { r =>
        val want = VectorFunctions.l2SqJvm(vec2Of(r.getLong(0)), qv)
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ==
          java.lang.Double.doubleToRawLongBits(want), r)
      }
    } finally AnnCatalog.unregister(basePath)
  }

  test("a compacted store records nothing: its input is the graphs plus a delta") {
    val data = rows(13, 500)
    val root = baseRoot("compact", data)
    val index = s"$root/index"
    AnnIndexStore.build(spark.read.parquet(s"$root/base").filter(col("id") < 400), index,
      numBuckets = 2)
    assert(recordOf(index).isDefined)
    AnnIndexStore.appendDelta(
      spark.read.parquet(s"$root/base").filter(col("id") >= 400), index)
    AnnIndexStore.compactDelta(spark, index, numBuckets = 2)
    assert(recordOf(index).isEmpty)
  }

  test("the type stores and an IVF store built from a bare read serve all four types with no fetch") {
    val rnd = new scala.util.Random(17)
    val root = Files.createTempDirectory("graft_guard_types").toFile
    root.deleteOnExit()
    val basePath = s"$root/base"
    Seq.tabulate(800)(i => (i.toLong, (i % 4).toLong, (i % 100) / 100.0,
        Array.fill(dim)(rnd.nextFloat())))
      .toDF("id", "label", "ts", "vec").write.parquet(basePath)
    TypeStores.ensure(spark.read.parquet(basePath), root.getPath)
    val ivf = s"$root/ivf"
    AnnIndexStore.buildIvfSeeded(spark.read.parquet(basePath).select("id", "vec"), ivf, nlist = 4)
    AnnCatalog.register(basePath, TypeStores.hashPath(root.getPath), idCol = "id",
      vecCol = "vec", ef = 200,
      labelIndex = Some(("label", TypeStores.labelPath(root.getPath))),
      rangeIndex = Some(("ts", TypeStores.decilePath(root.getPath))))
    val qv = Array.fill(dim)(0.5f)
    def typed(filter: Column): DataFrame =
      spark.read.parquet(basePath).filter(filter)
        .orderBy(VectorFunctions.l2Sq(col("vec"), typedLit(qv)), col("id"))
        .select("id").limit(k)
    val statements = Seq(
      "t0 hash" -> (() => typed(lit(true))),
      "t1 label" -> (() => typed(col("label") === 2L)),
      "t2 range" -> (() => typed(col("ts") >= 0.2 && col("ts") <= 0.6)),
      "t3 label+range" -> (() => typed(col("label") === 1L && col("ts") >= 0.1 && col("ts") <= 0.7)))
    try {
      statements.foreach { case (name, mk) =>
        mk().collect()
        val s = served(mk())
        assert(s.jobs == 1 && s.fetched == 0 && s.skips == 1, s"$name: $s")
      }
      AnnCatalog.register(basePath, TypeStores.hashPath(root.getPath), idCol = "id",
        vecCol = "vec", ef = 200, ivfIndex = Some(ivf), nprobe = 2)
      val t0 = statements.head._2
      assert(t0().queryExecution.executedPlan.toString.contains("ivf="))
      t0().collect()
      val s = served(t0())
      assert(s.jobs == 1 && s.fetched == 0 && s.skips == 1, s"t0 ivf: $s")
    } finally AnnCatalog.unregister(basePath)
  }
}
