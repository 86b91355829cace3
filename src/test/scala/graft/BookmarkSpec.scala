package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{BookmarkStore, IncrementalReader}

/** Incrementality semantics (SURVEY.md §2 S1, §5 item 1): first-run-reads-
  * all, delta-only second run, gapped keys, below-bookmark rows dropped,
  * rerun-without-commit idempotency (the messed/good screenshot pair).
  */
class BookmarkSpec extends SparkSuite {
  import spark.implicits._

  private def freshStore() =
    new BookmarkStore(Files.createTempDirectory("bm-spec").toString)

  test("first run reads everything; commit then reads only the delta") {
    val store = freshStore()
    val reader = new IncrementalReader(spark, sf, store)
    val full = reader.read("events", "event_id", "t")
    val total = full.count()
    assert(total > 0)
    val max = reader.maxKey(full, "event_id").get
    store.commit("events", "t", max / 2)
    val delta = reader.read("events", "event_id", "t")
    assert(delta.count() < total)
    assert(delta.agg(min($"event_id")).as[Long].head() == max / 2 + 1)
  }

  test("full-refresh mode bypasses the bookmark and leaves state untouched") {
    val store = freshStore()
    val reader = new IncrementalReader(spark, sf, store)
    val total = reader.read("events", "event_id", "t").count()
    store.commit("events", "t", 500L)
    assert(reader.read("events", "event_id", "t").count() < total)
    assert(reader.read("events", "event_id", "t", fullRefresh = true).count() == total)
    assert(store.get("events", "t").contains(500L), "refresh must not move the bookmark")
  }

  test("gapped ascending keys: strictly-greater-than semantics, not next-id") {
    val store = freshStore()
    // keys 10, 20, 35 — gapped like medium/tbl_registers_nonsequence.jpeg
    val dir = Files.createTempDirectory("bm-gap").toString
    Seq(10L, 20L, 35L).toDF("k").write.parquet(s"$dir/t.parquet")
    val reader = new IncrementalReader(spark, dir, store)
    store.commit("t", "c", 20L)
    val got = reader.read("t", "k", "c").as[Long].collect().sorted
    assert(got.toSeq == Seq(35L))
  }

  test("below-bookmark late row is dropped by design") {
    val store = freshStore()
    val dir = Files.createTempDirectory("bm-late").toString
    Seq(5L, 15L, 25L).toDF("k").write.parquet(s"$dir/t.parquet")
    store.commit("t", "c", 10L)
    val reader = new IncrementalReader(spark, dir, store)
    // 5 arrived "late" (below bookmark 10): silently excluded
    assert(reader.read("t", "k", "c").as[Long].collect().sorted.toSeq == Seq(15L, 25L))
  }

  test("rerun without commit re-reads (duplicates); with commit does not") {
    val store = freshStore()
    val reader = new IncrementalReader(spark, sf, store)
    val sink = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(commit: Boolean): Unit = {
      val delta = reader.read("events", "event_id", "r")
      sink ++= delta.select($"event_id").as[Long].collect()
      if (commit) reader.maxKey(delta, "event_id")
        .foreach(store.commit("events", "r", _))
    }
    run(commit = false); run(commit = false)
    val n = Tables.events(spark, sf).count()
    assert(sink.size == 2 * n, "no bookmark -> duplicated reload (the 'messed' screenshot)")
    sink.clear(); store.clear()
    run(commit = true); run(commit = true)
    assert(sink.size == n, "bookmark committed -> rerun reads empty delta (the 'good' screenshot)")
  }

  test("runIncremental commits only after the sink succeeds") {
    val store = freshStore()
    val reader = new IncrementalReader(spark, sf, store)
    intercept[RuntimeException] {
      reader.runIncremental("events", "event_id", "x")(_ => throw new RuntimeException("sink down"))
    }
    assert(store.get("events", "x").isEmpty, "failed sink must not advance the bookmark")
    reader.runIncremental("events", "event_id", "x")(_.count())
    assert(store.get("events", "x").nonEmpty)
  }

  test("bookmark predicate is pushed into the JDBC source (remote WHERE)") {
    val store = freshStore()
    val tmp = Files.createTempDirectory("bm-jdbc").toString
    val url = s"jdbc:derby:$tmp/db;create=true"
    (1L to 10L).map(i => (i, s"p$i"))
      .toDF("event_id", "payload")
      .write.jdbc(url, "t", new java.util.Properties())
    store.commit("t", "j", 2L)
    val reader = new IncrementalReader(spark, sf, store)
    val delta = reader.readJdbc(url, "t", "event_id", "j")
    val plan = delta.queryExecution.executedPlan.toString
    // '*' marks the filter as evaluated BY the source: the predicate became
    // the remote WHERE clause, not a post-transfer Spark filter
    assert(plan.contains("PushedFilters") && plan.contains("*GreaterThan(event_id,2)"),
      s"expected source-evaluated JDBC pushdown in plan:\n$plan")
    // the high-water mark read before the data closes the window remotely
    assert(plan.contains("*LessThanOrEqual(event_id,10)"),
      s"expected the high-water bound pushed into the remote WHERE:\n$plan")
    assert(delta.select($"event_id").as[Long].collect().sorted.toSeq == (3L to 10L))

    // range-parallel delta read: same rows, one partition per key stride,
    // lower bound starting at the bookmark (not dead key space below it)
    val par = reader.readJdbc(url, "t", "event_id", "j", numPartitions = 2)
    assert(par.rdd.getNumPartitions == 2, "delta must split into range partitions")
    assert(par.select($"event_id").as[Long].collect().sorted.toSeq == (3L to 10L))

    // full refresh bypasses the bookmark over JDBC too
    assert(reader.readJdbc(url, "t", "event_id", "j", fullRefresh = true).count() == 10)
  }

  test("a row inserted after the sink read is not committed; the next run delivers it once") {
    val store = freshStore()
    val tmp = Files.createTempDirectory("bm-hw").toString
    val url = s"jdbc:derby:$tmp/db;create=true"
    (1L to 10L).map(i => (i, s"p$i")).toDF("event_id", "payload")
      .write.jdbc(url, "t", new java.util.Properties())
    val reader = new IncrementalReader(spark, sf, store)
    val delivered = scala.collection.mutable.ArrayBuffer.empty[Long]
    def run(): Option[Long] = {
      val delta = reader.readJdbc(url, "t", "event_id", "w")
      delivered ++= delta.select($"event_id").as[Long].collect()
      val conn = java.sql.DriverManager.getConnection(url)
      try conn.createStatement().execute(
        s"INSERT INTO t VALUES (${delivered.max + 1}, 'late')")
      finally conn.close()
      // the frame re-queries the live table, which now holds one more row
      val committed = reader.maxKey(delta, "event_id")
      committed.foreach(store.commit("t", "w", _))
      committed
    }
    assert(run().contains(10L))
    assert(run().contains(11L))
    assert(delivered.sorted.toSeq == (1L to 11L), "every row delivered exactly once")

    // parquet: the delta's file listing is fixed when the frame is made,
    // so a file appended after the read is not committed either
    val dir = Files.createTempDirectory("bm-hw-pq").toString
    Seq(1L, 2L).toDF("k").write.parquet(s"$dir/t.parquet")
    val pq = new IncrementalReader(spark, dir, store)
    val delta = pq.read("t", "k", "p")
    assert(delta.as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    Seq(3L).toDF("k").write.mode("append").parquet(s"$dir/t.parquet")
    assert(pq.maxKey(delta, "k").contains(2L))
  }

  test("bookmark predicate is pushed to the parquet scan") {
    val store = freshStore()
    store.commit("events", "p", 500L)
    val reader = new IncrementalReader(spark, sf, store)
    val plan = reader.read("events", "event_id", "p")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(event_id,500)"),
      s"expected pushdown in plan:\n$plan")
  }
}
