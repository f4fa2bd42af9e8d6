package graft.operators

import java.nio.file.{Files, Path}

/** JVM-lifetime scratch directories. Operators that must materialize
  * an intermediate frame durably (e.g. [[Dedup.pairClusters]]) used to
  * leak one temp directory per call; directories created here are
  * registered once with a shutdown hook that deletes them recursively,
  * so repeated runs inside one JVM clean up after themselves. Deletion
  * is deferred to JVM exit on purpose — the caller returns a lazy
  * DataFrame whose scan lineage points at the scratch files.
  */
private[graft] object Scratch {

  private val registered = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  @volatile private var hooked = false

  private def ensureHook(): Unit = if (!hooked) synchronized {
    if (!hooked) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => drain(), "graft-scratch-cleanup"))
      hooked = true
    }
  }

  private def drain(): Unit = {
    var p = registered.poll()
    while (p != null) { deleteRecursively(p); p = registered.poll() }
  }

  private def deleteRecursively(p: Path): Unit =
    try {
      if (Files.isDirectory(p)) {
        val children = Files.list(p)
        try children.forEach(c => deleteRecursively(c))
        finally children.close()
      }
      Files.deleteIfExists(p)
    } catch { case _: java.io.IOException => () } // best-effort on exit

  /** A fresh scratch directory, deleted recursively at JVM exit.
    *
    * Rooted in [[graft.GraftSession.localScratchRoot]] (RAM-backed
    * tmpfs when available) for the same reason shuffle files are:
    * checkpoint materializations are intermediate, JVM-scoped state
    * whose durability requirement is "survives until the downstream
    * scan", not "survives a crash" — paying variable virtio-disk
    * latency for them measures the hypervisor, not the operator. On a
    * cluster these would be `spark.local.dir`-style node-local paths
    * or an explicit durable checkpoint location chosen by the caller.
    */
  def dir(prefix: String): String = {
    ensureHook()
    val p = graft.GraftSession.localScratchRoot match {
      case Some(root) => Files.createTempDirectory(java.nio.file.Paths.get(root), prefix)
      case None       => Files.createTempDirectory(prefix)
    }
    registered.add(p)
    p.toString
  }

  private val reusable = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** A STABLE scratch directory per prefix: the first call creates (and
    * registers for exit cleanup) a directory; every later call with the
    * same prefix returns the SAME path, so a staged write in
    * `overwrite` mode reclaims the previous invocation's files instead
    * of leaking one directory per call. For staging that is re-created
    * on every invocation of an operator (the graph tier stages 2–4
    * multi-GB materializations per key): a long in-process sweep —
    * bench's double execution, the 100× regression harness — would
    * otherwise accumulate hundreds of dead materializations on the
    * RAM-backed tmpfs root until JVM exit. Callers must consume the
    * returned scan before re-invoking the operator (all harnesses run
    * keys sequentially); a caller that needs two live stagings of the
    * same kind concurrently uses [[dir]]. */
  def reuseDir(prefix: String): String =
    reusable.computeIfAbsent(prefix, p => dir(p))

  /** Materialize `df` into the [[reuseDir]] for `prefix` and return a
    * scan over it — the staging idiom (write + schema'd read-back)
    * shared by the corpus-sized stagings (graph corner passes, the
    * minhash guard's bucket frame, source-sim shingles). Reuse
    * semantics as [[reuseDir]]: one directory per prefix per JVM,
    * overwritten on re-invocation, so sweeps that re-run operators
    * don't accumulate dead multi-GB materializations on tmpfs.
    * Callers needing two live stagings of one prefix use [[dir]]. */
  def stageReuse(df: org.apache.spark.sql.DataFrame, prefix: String)
      : org.apache.spark.sql.DataFrame = {
    val path = reuseDir(prefix)
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.schema(df.schema).parquet(path)
  }

  /** A per-call staging with the shape its write observed: the scan
    * over the staged rows, the [[dir]] to [[release]] once every scan
    * of it has run, the row count, and the distinct values of one long
    * key column. */
  final case class Observed(scan: org.apache.spark.sql.DataFrame, path: String,
                            rows: Long, keys: Set[Long])

  /** Materialize `df` into a fresh [[dir]] and read its row count and
    * its distinct `keyCol` values off a CollectMetrics observation on
    * that one write (the `Graph.stagedCounted` pattern): neither costs
    * a second job. Per-call, so concurrent callers never share a
    * staging; the caller releases [[Observed.path]]. */
  def stageObserved(df: org.apache.spark.sql.DataFrame, prefix: String,
                    keyCol: String): Observed = {
    import org.apache.spark.sql.functions.{col, collect_set, count, lit}
    val obs = org.apache.spark.sql.Observation()
    val path = dir(prefix)
    df.observe(obs, count(lit(1)).as("n"),
        collect_set(col(keyCol).cast("long")).as("keys"))
      .write.mode("overwrite").parquet(path)
    val m = obs.get
    Observed(df.sparkSession.read.schema(df.schema).parquet(path), path,
      m("n").asInstanceOf[Long], m("keys").asInstanceOf[Seq[Long]].toSet)
  }

  /** Eagerly delete a scratch directory from [[dir]]/[[diskDir]] whose
    * consumer is DONE with it (all scans materialized) — long-lived
    * processes that stage per-call (the manifest delta publisher under
    * a streaming sink: one staging per micro-batch for a JVM that
    * lives for weeks) cannot defer to the exit hook. Best-effort; the
    * exit hook remains the backstop. */
  def release(path: String): Unit =
    deleteRecursively(java.nio.file.Paths.get(path))

  /** A fresh DISK-backed scratch directory (java.io.tmpdir), with the
    * same shutdown-hook cleanup as [[dir]]. For multi-GB scratch — the
    * ScaleCheck corpora run to ~15 GB — which would ENOSPC a
    * RAM-backed tmpfs root shared with `spark.local.dir` shuffle
    * space: tmpfs capacity is host RAM, while plain disk temp space is
    * plentiful, and a bulk corpus write is exactly the workload whose
    * latency the tmpfs root exists to avoid measuring. */
  def diskDir(prefix: String): String = {
    ensureHook()
    val p = Files.createTempDirectory(prefix)
    registered.add(p)
    p.toString
  }

  /** Materialize `df` to a fresh scratch dir, release `handle`'s cache
    * pin, and return a scan over the materialized rows. The driver-key
    * entry points of the cache-carrying operators use this: the
    * persisted frame earns its keep DURING the one materializing
    * action (several plan branches read it), then dies with the call —
    * a verify/bench session that runs every key no longer accumulates
    * one pinned corpus-sized cache per key in the session CacheManager
    * (r7 advice). The read takes the frame's own schema explicitly so
    * an empty result (zero written part files) round-trips instead of
    * failing schema inference. */
  def materializeAndRelease(df: org.apache.spark.sql.DataFrame,
                            handle: org.apache.spark.sql.DataFrame,
                            prefix: String): org.apache.spark.sql.DataFrame = {
    val path = dir(prefix)
    df.write.mode("overwrite").parquet(path)
    handle.unpersist()
    df.sparkSession.read.schema(df.schema).parquet(path)
  }
}
