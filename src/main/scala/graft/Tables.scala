package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.DataSourceScanExec
import org.apache.spark.sql.functions.{col, unix_micros, unix_timestamp}
import org.apache.spark.sql.types.StructType

/** Per-table catalog metadata (SURVEY.md §1.1): where the table lives
  * relative to a scale-factor root, and — for append-only tables — the
  * ascending key that job bookmarks track. Dimension tables have no
  * bookmark key: they are snapshot-replaced, not incrementally appended.
  */
final case class TableMeta(name: String, location: String,
                           bookmarkKey: Option[String] = None)

/** Catalog over the driver-generated testdata (TESTDATA.md).
  *
  * The reference resolves table *names* through the Glue Data Catalog
  * (`glue_rds_to_redshift.py:28,32,37`) rather than declaring schemas in
  * code; this object is the Spark-native analogue — name ->
  * (schema, location, bookmark key). Schemas are schema-on-read from
  * parquet footers, resolved once per (sfDir, table) and cached (at
  * cluster scale this is the metastore lookup that saves re-listing a
  * 100 TB directory per query). All reads go through here so that column
  * pruning / predicate pushdown stay visible in one place, and so
  * incremental readers resolve bookmark keys from the catalog instead of
  * hard-coding them at call sites.
  */
object Tables {
  val meta: Map[String, TableMeta] = Seq(
    TableMeta("region", "region.parquet"),
    TableMeta("nation", "nation.parquet"),
    TableMeta("customer", "customer.parquet"),
    TableMeta("supplier", "supplier.parquet"),
    TableMeta("part", "part.parquet"),
    TableMeta("orders", "orders.parquet", bookmarkKey = Some("o_orderkey")),
    TableMeta("lineitem", "lineitem.parquet", bookmarkKey = Some("l_orderkey")),
    TableMeta("events", "events.parquet", bookmarkKey = Some("event_id")),
    TableMeta("documents", "documents.parquet", bookmarkKey = Some("doc_id")),
    TableMeta("embeddings", "embeddings.parquet", bookmarkKey = Some("vec_id"))
  ).map(t => t.name -> t).toMap

  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Catalog-declared bookmark key for an incrementally-scanned table. */
  def bookmarkKey(name: String): String =
    meta.get(name).flatMap(_.bookmarkKey).getOrElse(
      throw new IllegalArgumentException(
        s"table '$name' has no bookmark key in the catalog"))

  private def location(name: String): String =
    meta.get(name).map(_.location).getOrElse(s"$name.parquet")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/${location(name)}")

  private val schemaCache = new ConcurrentHashMap[(String, String), StructType]()

  /** Footer-resolved schema, cached per (sfDir, table). */
  def schema(spark: SparkSession, sfDir: String, name: String): StructType =
    schemaCache.computeIfAbsent((sfDir, name), _ => load(spark, sfDir, name).schema)

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  def events(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "events")
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** SCALE-ADAPTIVE INPUT SPREAD (r18; guide §2.5 "input skew: one huge
    * unsplittable file — repartition immediately after the read"). The
    * committed testdata ships ONE parquet row group per table, so a scan
    * yields one REAL task regardless of session cores (byte-range splits
    * beyond the row group come up empty), and every CPU-heavy map kernel
    * above it — shingle/minhash signatures, the star denorm projection —
    * runs single-threaded until its first exchange (measured:
    * dedup_minhash_lsh spent ~0.9 s/run of a ~2.3 s query in one-task
    * kernel stages on a 32-core session; parallel_reports materialized
    * its shared cache through one real task for ~1.8 s of a ~3.8 s
    * query).
    *
    * Hash-repartitions on `key` ONLY when the plan's scan parallelism is
    * below the session's: a production-scale input already split into
    * >= cores partitions is returned untouched, so this never adds a
    * data-sized shuffle where the scan parallelizes by itself — the
    * guard is plan-derived (split count), never a row count or a box
    * constant. HASH placement on a stable key, not round-robin:
    * deterministic under task retries (guide §2.5's SPARK-38388 note)
    * and free of round-robin's local sort-before-repartition, which
    * would itself run inside the one hot task this helper exists to
    * relieve.
    *
    * The split count is read off the planned physical scan
    * ([[scanSplits]]), not `df.rdd`: `df.rdd` starts a SQL execution,
    * which runs upstream AQE exchanges and completes any `Observation` on
    * the frame before a row is read.
    */
  def spread(df: DataFrame, key: Column): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    if (scanSplits(df) < par) df.repartition(par, key) else df
  }

  /** Input splits of the widest leaf scan in `df`'s physical plan. Builds
    * the scan's input RDD (file listing and split packing, as a job would)
    * but starts no Spark job and no SQL execution. For a scan followed by
    * narrow operators — every [[spread]] call site — this is the frame's
    * partition count.
    */
  private[graft] def scanSplits(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collectLeaves().map {
      case scan: DataSourceScanExec => scan.inputRDDs().map(_.getNumPartitions).sum
      case leaf => leaf.outputPartitioning.numPartitions
    }.foldLeft(0)(math.max)

  /** Epoch-second event time from `events.ts` — the ONE place the engine
    * derives seconds from the driver's timestamp encoding, so a driver-side
    * schema change is a one-line fix here instead of a sweep of call sites
    * (the r5 regression: 13 sites each pinned the old nanos-as-long
    * encoding). `ts` is parquet TIMESTAMP(MICROS) read as TIMESTAMP_NTZ;
    * the session timezone is pinned UTC (GraftSession), so
    * `unix_timestamp` floors to the same epoch seconds DuckDB's
    * `floor(epoch(ts))` yields in the oracle.
    */
  def eventSeconds: Column = unix_timestamp(col("ts"))

  /** Epoch-microsecond event time (full stored precision) — for operators
    * that order within a second (as-of joins). NTZ has no `unix_micros`
    * overload, so up-cast to the instant type first; under the UTC session
    * timezone the wall-clock is preserved and this equals DuckDB's
    * `epoch_us(ts)`.
    */
  def eventMicros: Column = unix_micros(col("ts").cast("timestamp"))
}
