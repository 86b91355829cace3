package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IncrementalStarJob
import graft.sources.BookmarkStore
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** End-to-end incremental job: run 1 over the initial fact table, new
  * rows "arrive", run 2 processes only the delta; a failed sink never
  * advances the bookmark (SURVEY.md §7.3 transactionality). The bookmark
  * and the row count come from the one scan that fills the star cache.
  */
class IncrementalStarJobSpec extends SparkSuite {

  /** A private sf dir whose lineitem we can grow between runs. */
  private def stagingDir(): String = {
    val dir = Files.createTempDirectory("incr-job").toString
    Seq("supplier", "part").foreach { t =>
      Tables.load(spark, sf, t).write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  private def writeFact(dir: String, df: DataFrame): Unit =
    df.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")

  test("second run processes only newly-arrived fact rows; totals match one full run") {
    val dir = stagingDir()
    val store = new BookmarkStore(Files.createTempDirectory("incr-bm").toString)
    val full = Tables.lineitem(spark, sf)
    val cutoff = 15000L
    writeFact(dir, full.filter(col("l_orderkey") <= cutoff))

    var sunk = Map.empty[String, Long].withDefaultValue(0L)
    def sink(name: String, df: DataFrame): Unit =
      synchronized { sunk += name -> (sunk(name) + df.count()) }

    val r1 = IncrementalStarJob.run(spark, dir, store)(sink)
    assert(r1.rowsRead == full.filter(col("l_orderkey") <= cutoff).count())
    assert(store.get("lineitem", "star_job").contains(
      full.filter(col("l_orderkey") <= cutoff).agg(max("l_orderkey")).head().getLong(0)))

    // new rows arrive
    writeFact(dir, full)
    val r2 = IncrementalStarJob.run(spark, dir, store)(sink)
    assert(r2.rowsRead == full.filter(col("l_orderkey") > cutoff).count())
    assert(r1.rowsRead + r2.rowsRead == full.count())

    // a third run sees nothing new
    val r3 = IncrementalStarJob.run(spark, dir, store)(sink)
    assert(r3.rowsRead == 0 && r3.committed.isEmpty)
  }

  test("a failing sink aborts the run and leaves the bookmark untouched") {
    val dir = stagingDir()
    val store = new BookmarkStore(Files.createTempDirectory("incr-bm2").toString)
    writeFact(dir, Tables.lineitem(spark, sf))

    intercept[Exception] {
      IncrementalStarJob.run(spark, dir, store) { (name, df) =>
        if (name == "part_brand_report") throw new RuntimeException("sink down")
        df.count()
      }
    }
    assert(store.get("lineitem", "star_job").isEmpty,
      "failed sink must not advance the bookmark")

    // recovery: the rerun re-reads the same delta and commits
    val r = IncrementalStarJob.run(spark, dir, store)((_, df) => df.count())
    assert(r.rowsRead == Tables.lineitem(spark, sf).count())
    assert(store.get("lineitem", "star_job").nonEmpty)
  }

  test("an orphan foreign key on the delta's max-key row still counts and moves the bookmark") {
    val dir = stagingDir()
    val store = new BookmarkStore(Files.createTempDirectory("incr-bm3").toString)
    val full = Tables.lineitem(spark, sf)
    val top = full.agg(max("l_orderkey")).head().getLong(0)
    // the newest row references a supplier that does not exist: the inner
    // star join drops it, but it was read, so it counts and is committed
    val orphan = full.limit(1)
      .withColumn("l_orderkey", lit(top + 100))
      .withColumn("l_suppkey", lit(-1L))
    writeFact(dir, full.unionByName(orphan))

    val r = IncrementalStarJob.run(spark, dir, store)((_, df) => df.count())
    assert(r.rowsRead == full.count() + 1)
    assert(r.committed.contains(top + 100))
    assert(store.get("lineitem", "star_job").contains(top + 100))
  }

  test("the fact delta is scanned once per run and no job starts after the reports") {
    val dir = stagingDir()
    val store = new BookmarkStore(Files.createTempDirectory("incr-bm4").toString)
    val full = Tables.lineitem(spark, sf)
    val cutoff = 15000L
    writeFact(dir, full.filter(col("l_orderkey") <= cutoff))
    IncrementalStarJob.run(spark, dir, store)((_, df) => df.count())
    // the delta lands as one new file; the old file's row groups all sit at
    // or below the bookmark, so its stats skip them
    val arrived = full.filter(col("l_orderkey") > cutoff)
    arrived.coalesce(1).write.mode("append").parquet(s"$dir/lineitem.parquet")
    val deltaRows = arrived.count()
    val dimRows = Tables.supplier(spark, dir).count() + Tables.part(spark, dir).count()

    val sc = spark.sparkContext
    // (stage input records, whether the stage touches a persisted RDD)
    val stages = new ConcurrentLinkedQueue[(Long, Boolean)]()
    val jobGroups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add((e.stageInfo.taskMetrics.inputMetrics.recordsRead,
          e.stageInfo.rddInfos.exists(_.storageLevel.isValid)))
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobGroups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    val r = try {
      val r = IncrementalStarJob.run(spark, dir, store)((_, df) => df.count())
      // a marker job: the listener bus delivers in order, so once its
      // start is seen every event of the run has been delivered
      sc.setJobGroup("marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      eventually(timeout(10.seconds)) {
        assert(jobGroups.asScala.lastOption.contains("marker"))
      }
      r
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    assert(r.rowsRead == deltaRows)
    val groups = jobGroups.asScala.toSeq.dropRight(1)
    assert(groups.nonEmpty && groups.last.startsWith("graft-reports-"),
      s"a job started after the last report job: $groups")
    // reads of the cached star frame count cached batches as input
    // records, so only stages that touch no persisted RDD are summed: the
    // dimension broadcasts and the delta scan feeding the spread exchange
    val scanned = stages.asScala.collect { case (n, false) => n }.sum
    assert(scanned - dimRows == deltaRows, s"stages: ${stages.asScala.toSeq}")
  }

  test("sinks that consume nothing commit nothing and report no rows") {
    val dir = stagingDir()
    val store = new BookmarkStore(Files.createTempDirectory("incr-bm5").toString)
    writeFact(dir, Tables.lineitem(spark, sf))

    val idle = IncrementalStarJob.run(spark, dir, store)((_, _) => ())
    assert(idle.rowsRead == 0 && idle.committed.isEmpty)
    assert(store.get("lineitem", "star_job").isEmpty,
      "rows no sink consumed must not move the bookmark")

    val r = IncrementalStarJob.run(spark, dir, store)((_, df) => df.count())
    assert(r.rowsRead == Tables.lineitem(spark, sf).count())
    assert(store.get("lineitem", "star_job") == r.committed && r.committed.nonEmpty)
  }
}
