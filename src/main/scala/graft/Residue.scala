package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-scoped registry of FREEABLE materializations — the engine-wide
  * replacement for `localCheckpoint`.
  *
  * Why not `localCheckpoint`: its blocks have no public unpersist, so every
  * query that checkpoints leaves block-manager residue for the life of the
  * session. Per-query that is invisible; cumulatively it is not — the r5/r6
  * bench forensics traced warm-run degradations (4.4 s → 11.6 s on
  * `parallel_reports`; 0.9 s → 5.5 s on `json_quarantine`) to exactly this
  * class of leak, and a long-lived 100 TB ingestion session would feel the
  * same pressure as evicted-then-recomputed blocks. Persisted Datasets and
  * persisted RDDs, unlike checkpoint blocks, have public blocking
  * unpersists — so every materialization the engine makes is tracked here
  * and released the moment its scope ends.
  *
  *  - [[pin]]: materialize-once reuse of a frame consumed by several
  *    downstream branches of the SAME query plan (the lazy-checkpoint use
  *    case). Plain `Dataset.persist`: consumers see a compact
  *    InMemoryRelation leaf, evaluation happens once, and the cache entry
  *    is droppable.
  *  - [[cut]]: reuse AND lineage truncation for ITERATIVE operators, where
  *    each round's plan would otherwise nest the last round's (analysis
  *    time, not data, becomes the cost). The frame's RDD is persisted and
  *    wrapped back into a DataFrame — a LogicalRDD leaf, O(1) analysis per
  *    round — and the handle frees the round's blocks as soon as its
  *    successor is materialized, capping in-loop state at two generations.
  *  - [[persist]]/[[release]]: the same tracked, freeable persistence
  *    for plain RDDs, for iterative operators that run their rounds on
  *    RDDs directly (no per-round query planning at all) — each
  *    generation is released as soon as its successor is materialized.
  *  - [[drain]]: called by `Bench`/`Verify` after every query run (and by
  *    any long-lived session between jobs): blocking-unpersists everything
  *    still tracked, then sweeps `SparkContext.getPersistentRDDs` and
  *    reports ANY remaining persisted RDD by id/name/level — the bench
  *    leak guard. Strays are force-freed after reporting so one leaking
  *    query cannot contaminate the measurements that follow it (the r6
  *    suite-bench failure mode).
  *
  * Draining between bench runs also keeps warm timings honest: a pinned
  * plan left in the cache manager would let the next run of the same query
  * read the previous run's blocks instead of recomputing.
  */
object Residue {

  private val pinned = new ConcurrentLinkedQueue[Dataset[_]]()
  private val rdds = new ConcurrentLinkedQueue[RDD[_]]()

  /** Lazily persist `ds` (MEMORY_AND_DISK) and track it for [[drain]]. */
  def pin[T](ds: Dataset[T]): Dataset[T] = {
    ds.persist(StorageLevel.MEMORY_AND_DISK)
    pinned.add(ds)
    ds
  }

  /** Lazily persist `rdd` (MEMORY_AND_DISK_SER) and track it for [[drain]]. */
  def persist[T](rdd: RDD[T]): RDD[T] = {
    rdd.persist(StorageLevel.MEMORY_AND_DISK_SER)
    rdds.add(rdd)
    rdd
  }

  /** Release `rdd`'s blocks and stop tracking it. Lineage stays intact, so
    * a lost executor (or a late re-read) recomputes instead of failing. */
  def release(rdd: RDD[_]): Unit = {
    rdd.unpersist(blocking = false)
    rdds.remove(rdd)
  }

  /** A freeable, lineage-truncated materialization for iterative loops. */
  final class Cut private[Residue] (val df: DataFrame, rdd: RDD[Row]) {
    /** Release this generation's blocks (see [[release]]). */
    def free(): Unit = release(rdd)
  }

  /** Persist `df`'s row RDD (MEMORY_AND_DISK_SER) and wrap it back into a
    * DataFrame whose plan is a single LogicalRDD leaf. Lazy: nothing runs
    * until the first action, so bench timings stay honest.
    */
  def cut(df: DataFrame): Cut = {
    val rdd = persist(df.rdd)
    new Cut(df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** Post-drain pressure snapshot: (JVM heap live-set MB, block-manager
    * storage-memory used MB). The drain frees everything THIS registry
    * tracks, but broadcast blocks, shuffle files, and streaming state
    * maps are reclaimed only by the GC-driven ContextCleaner — a class of
    * occupancy the stray sweep cannot see. Bench reports this pair per
    * query run, so a cross-round timing inversion can be attributed to
    * accumulating pressure (series climbs) or ruled environmental (series
    * flat) straight from the committed file. Heap is sampled without
    * forcing a GC — it is an upper bound on the live set, cheap and
    * side-effect-free; storage used is exact from the block-manager
    * master.
    */
  def pressure(spark: SparkSession): (Long, Long) = {
    val rt = Runtime.getRuntime
    val heapMb = (rt.totalMemory() - rt.freeMemory()) / (1024 * 1024)
    val storageMb =
      try {
        val status = org.apache.spark.SparkEnv.get.blockManager.master.getMemoryStatus
        status.values.map { case (max, remaining) => max - remaining }.sum / (1024 * 1024)
      } catch { case _: Throwable => -1L }
    (heapMb, storageMb)
  }

  /** Blocking-release everything tracked, then sweep the session for ANY
    * persisted RDD that remains. Returns one description per stray (empty =
    * clean); strays are force-freed after being named.
    *
    * A BETWEEN-JOBS operation: call it when no query is in flight (as
    * Bench/Verify/the specs do, between queries). Draining while another
    * thread's query is mid-execution would release that query's pins —
    * harmless for correctness (persist is a cache, lineage recomputes) but
    * it would silently re-derive work. Intra-query thread fan-out
    * (ParallelReports) is fine: the fan-out completes before the caller
    * returns, so its pins are quiescent by drain time.
    */
  def drain(spark: SparkSession): Seq[String] = {
    var ds = pinned.poll()
    while (ds != null) { ds.unpersist(blocking = true); ds = pinned.poll() }
    var r = rdds.poll()
    while (r != null) { r.unpersist(blocking = true); r = rdds.poll() }
    val strays = spark.sparkContext.getPersistentRDDs.values.toSeq.sortBy(_.id)
    strays.map { s =>
      // RDD.toString carries name, id, and creation site ("MapPartitionsRDD
      // [12] at rdd at Dedup.scala:262") — exactly the attribution needed
      val desc = s"level=${s.getStorageLevel.description} rdd=$s"
      s.unpersist(blocking = true)
      desc
    }
  }
}
