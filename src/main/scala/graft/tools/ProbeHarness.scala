package graft.tools

/** Shared stage-cache validity guard for the measurement probes.
  *
  * The probes resume off `/tmp` parquet caches so a crash or code
  * iteration only repays unfinished stages — but a cached stage's
  * output is valid ONLY under the parameters that produced it, and
  * several probes' `exists(_SUCCESS)` checks omitted result-changing
  * CLI args (k, ef, nlist, nprobe, minCos, NQ): a parameter sweep
  * silently reported the PREVIOUS run's numbers under the new run's
  * labels — in a measurement tool, silently-wrong output.
  *
  * [[freshFor]] returns true only when the stage dir's `_SUCCESS`
  * exists AND its recorded `_stage_params` sidecar equals the caller's
  * params string; anything else (including a legacy cache with no
  * sidecar) deletes the stale dir so the caller rebuilds and
  * [[stamp]]s. The sidecar is underscore-prefixed — invisible to
  * parquet reads of the stage dir. */
private[tools] object ProbeHarness {

  def freshFor(dir: String, params: String): Boolean = {
    val d = new java.io.File(dir)
    val ok = new java.io.File(d, "_SUCCESS").exists() && {
      val f = new java.io.File(d, "_stage_params")
      f.exists() &&
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") == params
    }
    if (!ok && d.exists()) graft.sources.ParquetMeta.deleteRecursively(d)
    ok
  }

  def stamp(dir: String, params: String): Unit =
    java.nio.file.Files.write(
      new java.io.File(dir, "_stage_params").toPath, params.getBytes("UTF-8"))
}
