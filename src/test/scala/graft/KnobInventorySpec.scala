package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Knob guard: every env var (`SPARK_GRAFT_*`, `GRAFT_*`) and `graft.*`
  * property or accumulator name written as a string literal in
  * `src/main/scala` must be on the list below, and every listed name
  * must still be read. Adding or deleting a knob is then a deliberate
  * edit here. */
class KnobInventorySpec extends AnyFunSuite {

  private val Knobs = Set(
    "GRAFT_DEDUP_BAND_GROUPS",
    "GRAFT_DEDUP_SH_BAND_GROUPS",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_PROBE_SPANS",
    "SPARK_GRAFT_QUERIES",
    "SPARK_GRAFT_REPS",
    "SPARK_GRAFT_SF_DIR",
    "graft.derived.cacheBytes",
    "graft.eftuner.maxBytes",
    "graft.hnsw.cacheBytes",
    "graft.hnsw.verifyCacheKey",
    "graft.serving.cacheBytes",
    "graft.serving.miss")

  private val Literal = """"((?:SPARK_GRAFT_|GRAFT_)[A-Z0-9_]+|graft\.[a-zA-Z0-9_.]+)"""".r

  test("the env-var and graft.* literals in src/main are exactly the listed knobs") {
    val sources = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty, "no sources under src/main/scala")
    val found = sources.flatMap { (p: Path) =>
      Literal.findAllMatchIn(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
        .map(_.group(1))
    }.toSet
    assert(found -- Knobs == Set.empty, "knobs read but not listed")
    assert(Knobs -- found == Set.empty, "knobs listed but no longer read")
  }
}
