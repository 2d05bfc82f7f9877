package graft

/** Shared generated-class hygiene for the long-running harness mains
  * (Bench/Verify): hundreds of queries compile thousands of codegen
  * classes; once the JVM code cache fills, the JIT stops compiling and
  * late queries degrade 10-30×. Each generated class has its own
  * classloader, so a GC after the plan reference is dropped lets the JVM
  * unload them and reclaim cache. Cadence is adaptive — every `every`
  * queries, or IMMEDIATELY when any CodeHeap pool passes 60% occupancy
  * (the launcher may run with the default 240 MB ReservedCodeCacheSize). */
object JvmHygiene {
  def codeCachePressed: Boolean = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .exists { p =>
        p.getName.startsWith("CodeHeap") && p.getUsage != null &&
          p.getUsage.getMax > 0 &&
          p.getUsage.getUsed.toDouble / p.getUsage.getMax > 0.6
      }
  }

  /** Returns the new sinceGc counter. */
  def maybeGc(sinceGc: Int, every: Int = 8): Int =
    if (sinceGc + 1 >= every || codeCachePressed) { System.gc(); 0 }
    else sinceGc + 1

  /** Silence WindowExec's `No Partition Defined` warning in the harness
    * mains. Every unpartitioned window in the suite is intentional and
    * bounded (top-k / vocab / sidecar frames, or gate forms mirroring a
    * global-order oracle), and the EXACT query→count list is pinned in
    * `GlobalWindowSpec` — an accidental data-sized global window fails a
    * named test there, which is a stronger gate than an anonymous log
    * line. Spark 4's `EliminateWindowPartitions` folds the old
    * `partitionBy(lit(1))` idiom back to an empty spec, so per-site
    * suppression is no longer possible. */
  def silenceGatedWarnings(): Unit = {
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () }
  }

  /** Best-effort flush of Catalyst's STATIC whole-stage-codegen class
    * cache (`CodeGenerator.cache`, a JVM-wide NonFateSharingLoadingCache
    * keyed by (classloader-weakref, source)). Recycling the SparkSession
    * does not touch it: cached `GeneratedClass` instances keep their
    * per-class classloaders — and thus their JIT'd CodeHeap slabs —
    * reachable after the plans that made them are gone. Across 249
    * distinct plans that residue is the remaining suspect for the 2×
    * in-suite bench inflation (r8 adjudication: top-8 entries 270 s
    * in-suite vs 37.8 s isolated on identical code). Reflection because
    * the field is private with no public eviction API; silently a no-op
    * if the internals move. */
  def purgeCodegenCache(): Unit = {
    try {
      val clazz = Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
      val module = clazz.getField("MODULE$").get(null)
      val m = clazz.getDeclaredMethod("cache")
      m.setAccessible(true)
      val nfs = m.invoke(module)
      val lc = nfs.getClass.getMethod("loadingCache").invoke(nfs)
      // invoke through the public Cache interface: the concrete
      // LocalLoadingCache class is package-private to (shaded) guava
      Class.forName("org.sparkproject.guava.cache.Cache")
        .getMethod("invalidateAll").invoke(lc)
    } catch { case _: Throwable => () }
  }

  /** Cross-query block hygiene (r7 bench-tail adjudication): queries
    * that localCheckpoint (LSH connected components, winnow fingerprint
    * frames) or persist internally leave their blocks pinned in the
    * block manager after the plan reference dies — across 225 queries
    * the accumulated blocks raise memory pressure until mid-suite
    * readings inflate 4-40× over isolated runs (dedup_substring_spans
    * 48.5 s in-suite vs 12.7 s isolated on UNCHANGED code). Queries are
    * independent, so between them every tracked cache entry and leaked
    * persistent RDD is droppable.
    *
    * blocking = true (r9 adjudication of the purge↔checkpoint
    * interaction): the purge runs OUTSIDE the timed window, and a
    * non-blocking unpersist queues dozens of async block-removal
    * messages that then compete with the NEXT query's first timed
    * stages — paying the removal cost here keeps it out of the
    * measurement. */
  def purgeBlocks(spark: org.apache.spark.sql.SparkSession): Unit = {
    try spark.sharedState.cacheManager.clearCache()
    catch { case _: Exception => () }
    // per-RDD try: one throwing blocking unpersist (block-manager RPC
    // timeout) must not abort the purge of everything after it — the
    // leaked survivors would silently re-create the pressure this purge
    // exists to remove
    try {
      spark.sparkContext.getPersistentRDDs.values.foreach { rdd =>
        try rdd.unpersist(blocking = true)
        catch { case _: Exception => () }
      }
    } catch { case _: Exception => () }
  }
}
