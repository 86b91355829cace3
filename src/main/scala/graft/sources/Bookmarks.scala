package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Properties
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Job-bookmark state: the "Incrementality" half of the reference.
  *
  * Re-expresses AWS Glue job bookmarks (reference `glue_rds_to_redshift.py:28-40`,
  * options `jobBookmarkKeys`/`jobBookmarkKeysSortOrder: asc`): each named scan
  * remembers the max value of an ascending key column per successful run and
  * the next run reads only rows strictly beyond it. Keys may be gapped/
  * non-sequential (`medium/tbl_registers_nonsequence.jpeg`) — semantics are
  * "strictly greater than last committed max", never "next contiguous id".
  * Rows arriving later with a key below the bookmark are dropped by design
  * (documented Glue semantics; see SURVEY.md §2.1).
  *
  * Unlike the reference (which never calls `Job.commit`, SURVEY.md §8 D6),
  * commit here is explicit and caller-driven: commit only after every sink
  * fed by the scan has succeeded. The store is a single properties file
  * written atomically (temp file + rename) so a crashed run never leaves a
  * half-written bookmark; at cluster scale this file lives on shared storage
  * and is written once per job run from the driver — it is O(#tables) tiny
  * state, never data-sized.
  */
final class BookmarkStore(stateDir: String) {
  private val file: Path = Paths.get(stateDir, "bookmarks.properties")

  private def load(): Properties = {
    val p = new Properties()
    if (Files.exists(file)) {
      val in = Files.newInputStream(file)
      try p.load(in) finally in.close()
    }
    p
  }

  private def slot(table: String, ctx: String) = s"$table::$ctx"

  /** Last committed max key for a (table, transformation_ctx) slot. */
  def get(table: String, ctx: String): Option[Long] =
    Option(load().getProperty(slot(table, ctx))).map(_.toLong)

  /** Persist a new max key. Atomic write; call only after sinks succeed.
    * Serialized on this store instance: commit is a read-modify-write of
    * the whole properties file, so two unsynchronized commits to different
    * (table, ctx) slots would silently drop one key (the atomic rename
    * prevents torn files, not lost updates).
    */
  def commit(table: String, ctx: String, maxKey: Long): Unit = synchronized {
    val p = load()
    p.setProperty(slot(table, ctx), maxKey.toString)
    Files.createDirectories(file.getParent)
    val tmp = Files.createTempFile(file.getParent, "bookmarks", ".tmp")
    val out = Files.newOutputStream(tmp)
    try p.store(out, "graft bookmark state") finally out.close()
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Commit several (table, ctx) slots in ONE atomic rename — for callers
    * whose consistency story needs multiple markers to move together (e.g.
    * a streaming index append committing its generation watermark, its
    * cumulative stats, and the applied micro-batch id as a unit: any
    * prefix of separate commits would be a state a crash could expose).
    */
  def commitAll(ctx: String, entries: Map[String, Long]): Unit = synchronized {
    val p = load()
    entries.foreach { case (table, v) => p.setProperty(slot(table, ctx), v.toString) }
    Files.createDirectories(file.getParent)
    val tmp = Files.createTempFile(file.getParent, "bookmarks", ".tmp")
    val out = Files.newOutputStream(tmp)
    try p.store(out, "graft bookmark state") finally out.close()
    Files.move(tmp, file, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  def clear(): Unit = Files.deleteIfExists(file)
}

/** FAISS-header discipline for the persisted stores (r11 advice): a
  * store's fit-time hyperparameters (PQ m/codes, DSIR buckets, BPE
  * rounds, IVF nlist, LSH n/k/bands) are STAMPED into bookmark slots in
  * the same atomic rename that commits the fit, and RE-VALIDATED when
  * the store is reopened. Without this, reopening a long-lived artifact
  * with a drifted constructor argument silently mis-scores: dsirApply's
  * inner join drops every feature hashed beyond the fitted bucket count,
  * and PQ lookups read zero vectors for codebook entries that were never
  * trained. Validation is `foreach`, not `get`: artifacts written before
  * this discipline carry no stamps and stay readable.
  */
private[sources] object StoreParams {
  /** Bookmark-slot form of the params, to merge into the fit commit. */
  def stamp(params: Map[String, Int]): Map[String, Long] =
    params.map { case (k, v) => s"param.$k" -> v.toLong }

  /** Fail fast if a stamped fit-time value disagrees with the value the
    * store was just constructed with.
    */
  def validate(store: BookmarkStore, ctx: String, dir: String,
               params: Map[String, Int]): Unit =
    params.foreach { case (k, v) =>
      store.get(s"param.$k", ctx).foreach { stored =>
        require(stored == v.toLong,
          s"$ctx at $dir was fit with $k=$stored but reopened with $k=$v; " +
            "matching the fit-time value is required — a mismatched read " +
            "silently mis-scores. Rebuild into a fresh root to change it.")
      }
    }
}

/** Incremental scan = plain scan + bookmark predicate (SURVEY.md §2 S1).
  *
  * The predicate `key > lastMax` is issued declaratively so Catalyst pushes
  * it into the source: parquet row-group stat skipping / JDBC WHERE — which
  * is the whole point at 100 TB (only the delta's row groups are read; an
  * ascending key correlates with file order, so pruning is near-perfect).
  * No custom Rule needed — the novelty is the state store, not the rewrite.
  */
final class IncrementalReader(spark: SparkSession, sfDir: String, store: BookmarkStore) {

  /** Read `table` restricted to rows beyond the bookmark for `ctx`, with
    * the key column resolved from the catalog ([[graft.Tables.bookmarkKey]])
    * — the normal entry point; call sites shouldn't re-declare keys the
    * catalog already knows.
    */
  def read(table: String, ctx: String): DataFrame =
    read(table, graft.Tables.bookmarkKey(table), ctx)

  /** As [[read(table:String,ctx:String)*]] with an explicit key column —
    * for tables outside the catalog. `fullRefresh = true` ignores the
    * bookmark and reads everything WITHOUT advancing state — the
    * documented escape hatch for below-bookmark late rows, which
    * incremental runs drop by design (Glue semantics, SURVEY.md §2.1).
    */
  def read(table: String, keyCol: String, ctx: String,
           fullRefresh: Boolean = false): DataFrame = {
    val df = graft.Tables.load(spark, sfDir, table)
    if (fullRefresh) df
    else store.get(table, ctx) match {
      case Some(last) => df.filter(col(keyCol) > lit(last))
      case None => df // first run reads everything
    }
  }

  /** Incremental scan over a JDBC table — the reference's ACTUAL source
    * shape (`glue_rds_to_redshift.py:28-40` reads RDS over JDBC with
    * `jobBookmarkKeys`; parquet is this engine's test stand-in). The
    * bookmark predicate is issued declaratively and Catalyst compiles it
    * into the remote `WHERE` clause (visible as `PushedFilters:
    * [*GreaterThan(key,last)]` — the `*` marks source-evaluated), so the
    * warehouse ships only the delta; the engine never transfers, then
    * discards, already-processed rows.
    *
    * The window is closed at a high-water mark: one driver-side
    * `MIN/MAX` round trip, made before any data is read, fixes `hw`, and
    * the frame carries `key <= hw` (pushed as `*LessThanOrEqual`). The
    * frame is lazy and every action re-queries the live table, so without
    * the bound a row inserted between the sink's read and a later
    * [[maxKey]] would be committed without ever being delivered. An empty
    * table reads as an empty frame.
    *
    * `numPartitions > 1` splits the read into range-parallel queries on the
    * bookmark key (Glue's `hashpartitions`) over the same bounds, the lower
    * bound starting at the bookmark so stride covers the DELTA, not dead
    * key space below it.
    */
  def readJdbc(url: String, table: String, keyCol: String, ctx: String,
               props: Properties = new Properties(),
               numPartitions: Int = 1,
               fullRefresh: Boolean = false): DataFrame = {
    val last = if (fullRefresh) None else store.get(table, ctx)
    val q = org.apache.spark.sql.jdbc.JdbcDialects.get(url).quoteIdentifier(keyCol)
    val conn = java.sql.DriverManager.getConnection(url, props)
    val bounds =
      try {
        val rs = conn.createStatement()
          .executeQuery(s"SELECT MIN($q), MAX($q) FROM $table")
        rs.next()
        val min = rs.getLong(1)
        if (rs.wasNull()) None else Some((min, rs.getLong(2)))
      } finally conn.close()
    bounds match {
      case None => spark.read.jdbc(url, table, props).where(lit(false)) // empty table
      case Some((min, hw)) =>
        val lo = math.max(min, last.map(_ + 1).getOrElse(Long.MinValue))
        val base =
          if (numPartitions > 1 && lo < hw)
            spark.read.jdbc(url, table, keyCol, lo, hw, numPartitions, props)
          else spark.read.jdbc(url, table, props) // one query: unsplit, or an empty/1-row delta
        val window = col(keyCol) <= lit(hw)
        base.filter(last.fold(window)(l => col(keyCol) > lit(l) && window))
    }
  }

  /** Max key actually present in a (filtered) frame — the value to commit.
    * An aggregate job over the frame: a filtered parquet scan reads every
    * delta row (row-group stats only skip whole groups below the bookmark),
    * and a JDBC frame re-queries the source, so callers that already scan
    * the delta should take the max from that scan instead
    * ([[graft.operators.IncrementalStarJob]] observes it).
    */
  def maxKey(df: DataFrame, keyCol: String): Option[Long] =
    df.agg(max(col(keyCol)).cast("long")).collect()(0) match {
      case r if r.isNullAt(0) => None
      case r => Some(r.getLong(0))
    }

  /** One full incremental run with the catalog-resolved bookmark key. */
  def runIncremental(table: String, ctx: String)(sink: DataFrame => Unit): Unit =
    runIncremental(table, graft.Tables.bookmarkKey(table), ctx)(sink)

  /** One full incremental run: read delta, feed it to `sink`, commit the
    * new bookmark only if the sink succeeded (reference defect D4/D6 fixed).
    */
  def runIncremental(table: String, keyCol: String, ctx: String)
                    (sink: DataFrame => Unit): Unit = {
    val delta = read(table, keyCol, ctx)
    sink(delta)
    maxKey(delta, keyCol).foreach(store.commit(table, ctx, _))
  }
}
