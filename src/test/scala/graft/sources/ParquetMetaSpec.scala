package graft.sources

import java.nio.file.Files

import org.apache.spark.graft.JobRecorder
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ParquetMeta: footer row counts equal Spark's count, recurse into
  * partitioned (key=value) layouts, and run zero Spark jobs. */
class ParquetMetaSpec extends SparkSpec {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def countJobs(body: => Unit): Int =
    JobRecorder.record(spark.sparkContext)(body).jobs.size

  test("rowCount matches Spark count on a flat directory, with zero jobs") {
    import spark.implicits._
    val dir = tmpDir("pqmeta_flat")
    (1L to 1234L).toDF("id").repartition(3).write.mode("overwrite").parquet(dir)
    var n = -1L
    val jobs = countJobs { n = ParquetMeta.rowCount(spark, dir) }
    assert(n === 1234L)
    assert(jobs === 0, "footer read must not launch a Spark job")
  }

  test("rowCount recurses into partitioned key=value layouts") {
    import spark.implicits._
    val dir = tmpDir("pqmeta_part")
    (1L to 500L).toDF("id").withColumn("k", col("id") % 5)
      .write.mode("overwrite").partitionBy("k").parquet(dir)
    assert(ParquetMeta.rowCount(spark, dir) === 500L)
  }

  test("rowCount on a single file") {
    import spark.implicits._
    val dir = tmpDir("pqmeta_one")
    (1L to 77L).toDF("id").coalesce(1).write.mode("overwrite").parquet(dir)
    val part = new java.io.File(dir).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    assert(ParquetMeta.rowCount(spark, part.getAbsolutePath) === 77L)
  }

  test("fingerprint is stable for an unchanged dataset, changes on rewrite") {
    import spark.implicits._
    val dir = tmpDir("pqmeta_fp")
    (1L to 100L).toDF("id").write.mode("overwrite").parquet(dir)
    val a = ParquetMeta.fingerprint(spark, dir)
    assert(a == ParquetMeta.fingerprint(spark, dir))
    Thread.sleep(1100) // mtime granularity can be a full second
    (1L to 100L).toDF("id").write.mode("overwrite").parquet(dir)
    assert(a != ParquetMeta.fingerprint(spark, dir),
      "regenerated dataset must fingerprint differently")
  }

  test("gcSiblingTags splits the trailing fingerprint and GCs superseded generations") {
    val parent = new java.io.File(tmpDir("pqmeta_gctag"))
    parent.mkdirs()
    def mk(name: String): java.io.File = {
      val d = new java.io.File(parent, name)
      d.mkdirs()
      d
    }
    // prefix deliberately ends in hex-able chars ("...sf0_01-"): the
    // non-hex '-' separator bounds the trailing-hex run, so the split
    // cannot eat into the source name
    val keep = mk("_data_sf0_01-1a2b3c4d")
    val keepDelta = mk("_data_sf0_01-1a2b3c4d.delta")
    val stale = mk("_data_sf0_01-9f8e7d6c")
    val staleDelta = mk("_data_sf0_01-9f8e7d6c.delta")
    val otherSrc = mk("_data_sf0_02-9f8e7d6c")
    ParquetMeta.gcSiblingTags(parent, keep.getName)
    assert(keep.exists() && keepDelta.exists() && otherSrc.exists())
    assert(!stale.exists() && !staleDelta.exists(),
      "a superseded store AND its sibling .delta dataset must both be reclaimed")
    // degenerate tags (all hex, or no hex tail) must be no-ops
    val weird = mk("abcdef")
    ParquetMeta.gcSiblingTags(parent, "abcdef")
    ParquetMeta.gcSiblingTags(parent, "tag-ends-nonhex_")
    assert(weird.exists() && keep.exists() && otherSrc.exists())
    // resolveTagged: an EXISTING generation resolves as a pure read (a
    // reader of an old generation is never raced by another session's
    // resolve); a NEW generation's first resolve GCs superseded siblings
    val gen2 = mk("_data_sf0_01-ffff0000")
    assert(ParquetMeta.resolveTagged(parent.toString, keep.getName)
      == s"$parent/${keep.getName}")
    assert(gen2.exists(), "resolving an existing generation must not GC")
    val resolved = ParquetMeta.resolveTagged(parent.toString, "_data_sf0_01-00001111")
    assert(resolved == s"$parent/_data_sf0_01-00001111")
    assert(!gen2.exists() && !keep.exists(),
      "materializing a new generation must GC the superseded ones")
    assert(otherSrc.exists())
  }

  test("gcSiblingStores deletes stale generations only, never a name-extending source") {
    val parent = new java.io.File(tmpDir("pqmeta_gc"))
    parent.mkdirs()
    def mk(name: String): java.io.File = {
      val d = new java.io.File(parent, name)
      d.mkdirs()
      java.nio.file.Files.write(new java.io.File(d, "x").toPath, Array[Byte](1))
      d
    }
    val prefix = "_data_orders_"
    val suffix = "_l_orderkey_b16"
    val keep = mk(s"${prefix}1a2b3c$suffix")              // current generation
    val stale = mk(s"${prefix}9f8e7d$suffix")             // superseded generation
    // a DIFFERENT table whose sanitized name extends this one: the
    // middle segment carries the extending name + '_', so the
    // fingerprint-shape test must protect it
    val otherTable = mk(s"${prefix}v2_4c5d6e$suffix")
    val otherSuffix = mk(s"${prefix}9f8e7d_o_orderkey_b16") // different key
    ParquetMeta.gcSiblingStores(parent, keep.getName, prefix, suffix)
    assert(keep.exists(), "the kept generation must survive")
    assert(!stale.exists(), "the superseded generation must be deleted")
    assert(otherTable.exists(), "a name-extending different source must survive")
    assert(otherSuffix.exists(), "a different (key, buckets) config must survive")
  }

  test("logicalType reads the footer annotation; Events restores the nanos conf for plain int64") {
    import spark.implicits._
    val dir = tmpDir("pqmeta_ltype")
    // a genuinely int64-encoded ts (no logical annotation)
    Seq((1L, 100L), (2L, 200L)).toDF("id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(ParquetMeta.logicalType(spark, s"$dir/events.parquet", "ts").isEmpty)
    assert(ParquetMeta.logicalType(spark, s"$dir/events.parquet", "nope").isEmpty)
    val conf = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(conf) // back to the registered default ("false")
    val got = Events.read(spark, dir)
    assert(got.schema("ts").dataType.typeName == "long")
    assert(spark.conf.get(conf) == "false",
      "a plain-int64 corpus must not leave the nanosAsLong conf set session-wide")
    assert(got.count() == 2)
    // an int64 TIMESTAMP column carries its annotation in the footer
    // (the session default INT96 encoding carries none — pin int64)
    val tdir = tmpDir("pqmeta_ltype_ts")
    val outConf = "spark.sql.parquet.outputTimestampType"
    val prevOut = spark.conf.get(outConf)
    spark.conf.set(outConf, "TIMESTAMP_MICROS")
    try Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("id", "ts").write.mode("overwrite").parquet(s"$tdir/events.parquet")
    finally spark.conf.set(outConf, prevOut)
    val ann = ParquetMeta.logicalType(spark, s"$tdir/events.parquet", "ts")
    assert(ann.exists(_.startsWith("TIMESTAMP")), s"got $ann")
  }
}
