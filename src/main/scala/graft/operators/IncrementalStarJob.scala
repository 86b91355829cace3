package graft.operators

import java.util.UUID
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max}
import graft.Tables
import graft.sources.{BookmarkStore, IncrementalReader}

/** The reference's whole job, composed end-to-end (SURVEY.md §3):
  * incremental fact scan (job bookmark) → star join with the dimensions →
  * both reports concurrently under FAIR pools → caller-supplied sinks →
  * bookmark commit ONLY after every sink succeeded.
  *
  * This is the multi-sink transactionality the reference silently gets
  * wrong (SURVEY.md §8 D4/D6: futures never awaited, `Job.commit` never
  * called): here `ParallelReports.run` awaits both report futures and
  * propagates failures, so a failed sink aborts the run before the commit
  * line — the next run re-reads the same delta. The at-least-once window
  * that remains (one sink succeeded, the other failed, rerun re-feeds
  * both) is documented; idempotent sinks (preactions + dedup keys, or
  * staging tables) close it.
  *
  * ONE scan of the delta per run. The bookmark-filtered fact is observed
  * (`Dataset.observe`: max key and row count) before the star join, inside
  * the plan that fills the shared star cache; once both reports are done
  * the run reads that metric back from the cached plan and commits its max
  * key. There is no `maxKey` pre-scan and no `count()` rescan. So:
  *   - the run commits the max key actually fed to the reports. Rows whose
  *     foreign keys match no dimension row are observed before the inner
  *     join drops them, so they count and move the bookmark;
  *   - if nothing was consumed (an empty delta, or sinks that read
  *     nothing) the run commits nothing and reports `rowsRead` = 0;
  *   - `rowsRead` is exact unless a cached partition is recomputed (an
  *     evicted block, a retried task), which counts its rows again. The
  *     commit uses the max, which a recomputation cannot change.
  * The metric name is unique per run, so a leftover or concurrent cache of
  * the same delta never matches this run's plan.
  */
object IncrementalStarJob {

  final case class RunResult(rowsRead: Long, committed: Option[Long],
                             reports: Seq[String])

  /** One incremental run. `sink(reportName, frame)` executes on the
    * report's pooled driver thread (it is the terminal action).
    */
  def run(spark: SparkSession, sfDir: String, store: BookmarkStore,
          ctx: String = "star_job")(sink: (String, DataFrame) => Unit): RunResult = {
    val reader = new IncrementalReader(spark, sfDir, store)
    val keyCol = Tables.bookmarkKey("lineitem")
    val metric = s"star_delta_${UUID.randomUUID()}"
    val delta = reader.read("lineitem", ctx)
      .observe(metric, max(col(keyCol)).cast("long").as("max_key"), count(lit(1)).as("rows"))
    val denorm = StarPipeline.denormalizedFrom(delta,
      Tables.supplier(spark, sfDir), Tables.part(spark, sfDir)).cache()
    try {
      val specs = Seq(
        ParallelReports.ReportSpec("supplier_report", "1", df => {
          val r = StarPipeline.supplierReport(df)
          sink("supplier_report", r)
          r
        }),
        ParallelReports.ReportSpec("part_brand_report", "2", df => {
          val r = StarPipeline.partBrandReport(df)
          sink("part_brand_report", r)
          r
        }))
      val results = ParallelReports.run(spark, denorm, specs)(identity)
      // both report jobs are done, so every task's metric update is merged
      val seen = denorm.queryExecution.observedMetrics.get(metric)
      val newMax = seen.filterNot(_.isNullAt(0)).map(_.getLong(0))
      // both sinks succeeded -> safe to advance the bookmark
      newMax.foreach(store.commit("lineitem", ctx, _))
      RunResult(seen.fold(0L)(_.getLong(1)), newMax, results.map(_._1))
    } finally denorm.unpersist(blocking = true)
  }
}
