package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** `Tables.spread`'s guard: repartition only a scan with fewer splits than
  * the session has cores, decided from the planned scan without running
  * anything.
  */
class SpreadSpec extends SparkSuite {
  import spark.implicits._

  private def written(files: Int): String = {
    val dir = Files.createTempDirectory("spread").toString
    (1L to 1000L).toDF("k").repartition(files).write.parquet(s"$dir/t.parquet")
    s"$dir/t.parquet"
  }

  test("a one-split scan is spread over the session's cores") {
    val df = spark.read.parquet(written(1)).filter($"k" % 2 === 0)
    val par = spark.sparkContext.defaultParallelism
    assert(par > 1)
    assert(Tables.scanSplits(df) == 1)
    val out = Tables.spread(df, $"k")
    assert(out ne df)
    assert(out.rdd.getNumPartitions == par)
    assert(out.count() == 500)
  }

  test("a scan with at least as many splits as cores is returned untouched") {
    val par = spark.sparkContext.defaultParallelism
    val df = spark.read.parquet(written(2 * par)).filter($"k" > 10)
    assert(Tables.scanSplits(df) >= par)
    assert(Tables.spread(df, $"k") eq df)
  }

  test("the guard matches the frame's partition count at the engine's call sites") {
    // the star fact, and the documents filters of dedup_minhash_lsh and
    // bloom_decontam
    Seq(Tables.lineitem(spark, sf),
      Tables.documents(spark, sf).filter(col("doc_id") % 10 === 0),
      Tables.documents(spark, sf).filter(col("doc_id") % 50 =!= 0)).foreach { df =>
      assert(Tables.scanSplits(df) == df.rdd.getNumPartitions)
    }
  }

  test("the guard starts no Spark job and no SQL execution") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger()
    val executions = new AtomicInteger()
    @volatile var marked = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty("spark.job.description") == "marker") marked = true
        else jobs.incrementAndGet()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => executions.incrementAndGet()
        case _ =>
      }
    }
    // an upstream exchange: with AQE, df.rdd would run its map stage
    val df = spark.read.parquet(written(1)).groupBy(($"k" % 7).as("g")).count()
    sc.addSparkListener(listener)
    try {
      Tables.spread(df, $"g")
      sc.setJobDescription("marker")
      sc.parallelize(Seq(1), 1).count()
      eventually(timeout(10.seconds))(assert(marked))
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    assert(jobs.get == 0 && executions.get == 0)
  }
}
