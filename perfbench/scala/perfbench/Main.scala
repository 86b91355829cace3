package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.DriverManager
import java.util.Properties
import scala.io.Source
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{GraftSession, Residue, Tables}
import graft.operators.{Dedup, IncrementalStarJob, ParallelReports, StarPipeline}
import graft.sources.{BookmarkStore, IncrementalReader, JdbcSink}

/** The benchmark's JVM side: runs one workload as a scheduler would, one job
  * run at a time, each starting after the previous one committed.
  *
  * Usage: `perfbench.Main <config.properties>`. The config (written by
  * `run.py`) names the workload, its generated inputs, the measuring window
  * and whether to trace. Results go to `<work>/result.jsonl`: one line per
  * run with its wall time, plus spans and Spark events of traced runs.
  * Outputs are left on disk for the independent checker.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val conf = new Properties()
    val in = Files.newInputStream(Paths.get(args(0)))
    try conf.load(in) finally in.close()
    val work = conf.getProperty("work")
    val cores = conf.getProperty("cores").toInt
    System.setProperty("derby.stream.error.file", s"$work/derby.log")

    val sessionStart = Clock.nowUs
    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    val sessionEnd = Clock.nowUs

    val out = new PrintWriter(new File(s"$work/result.jsonl"))
    try {
      val trace = conf.getProperty("trace") == "1"
      val tracer = new Tracer(spark.sparkContext, trace)
      val listener = new TraceListener
      if (trace) spark.sparkContext.addSparkListener(listener)
      out.println(Json.obj("kind" -> "session", "start_us" -> sessionStart,
        "end_us" -> sessionEnd))
      val wl = conf.getProperty("workload") match {
        case "trickle" => new Trickle(spark, tracer, work)
        case "backfill" => new Backfill(spark, tracer, work)
        case "rds_redshift" => new RdsRedshift(spark, tracer, work, cores)
        case "near_dup" => new NearDup(spark, tracer, work)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      new Loop(wl, tracer, out, conf.getProperty("warmups").toInt,
        conf.getProperty("seconds").toDouble, trace).run()
      wl.finish(out)
      if (trace) {
        val deadline = System.currentTimeMillis() + 10000
        while (!listener.drained() && System.currentTimeMillis() < deadline) Thread.sleep(20)
        Thread.sleep(100)
        tracer.write(out)
        listener.write(out)
      }
      // used heap after full collections: what the workload left live.
      // Spark's ContextCleaner frees blocks only after a GC has cleared
      // their references, so collect, let it run, and keep the lowest.
      val heap = (1 to 3).map { _ =>
        System.gc()
        Thread.sleep(150)
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      }.min
      out.println(Json.obj("kind" -> "end", "heap_used_bytes" -> heap))
    } finally {
      out.close()
      spark.stop()
    }
  }
}

/** A workload: what happens before a run (`prepare`, untimed) and the run. */
abstract class Workload(val spark: SparkSession, val tracer: Tracer, val work: String) {
  /** True when the pre-generated inputs cannot feed run `i`. */
  def exhausted(i: Int): Boolean
  /** Set up run `i`'s inputs; returns facts for the run record. */
  def prepare(i: Int): Seq[(String, Any)]
  /** One job run; returns facts for the run record. */
  def run(i: Int): Seq[(String, Any)]
  /** Untimed extra calls made only in traced runs (layer probes). */
  def probe(i: Int): Unit = ()
  def finish(out: PrintWriter): Unit = ()

  protected def lines(name: String): IndexedSeq[String] = {
    val src = Source.fromFile(s"$work/$name")
    try src.getLines().filter(_.nonEmpty).toIndexedSeq finally src.close()
  }
}

/** The closed loop: the initial full load (run 0), warm-ups, then timed runs
  * until `seconds` of wall time have passed. With tracing on, timed runs
  * alternate traced and untraced so both sides see the same JIT state and
  * input growth; their medians give the tracing overhead.
  */
final class Loop(wl: Workload, tracer: Tracer, out: PrintWriter, warmups: Int,
                 seconds: Double, trace: Boolean) {
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  private def once(i: Int, phase: String, traced: Boolean): Unit = {
    val prep = wl.prepare(i)
    tracer.beginRun(i, traced)
    if (tracer.traceRun) wl.probe(i)
    val gc0 = gcMs
    val start = Clock.nowUs
    var facts: Seq[(String, Any)] = Nil
    var error: String = null
    try facts = tracer.span("run")(wl.run(i))
    catch { case NonFatal(t) => error = s"${t.getClass.getName}: ${t.getMessage}" }
    val end = Clock.nowUs
    tracer.endRun()
    val rec = Seq("kind" -> "run", "run" -> i, "phase" -> phase, "traced" -> (tracer.enabled && traced),
      "start_us" -> start, "end_us" -> end, "gc_ms" -> (gcMs - gc0), "error" -> error) ++ prep ++ facts
    out.println(Json.obj(rec: _*))
    out.flush()
  }

  def run(): Unit = {
    once(0, "load", traced = false)
    (1 to warmups).foreach(i => once(i, "warmup", traced = false))
    val first = warmups + 1
    val t0 = Clock.nowUs
    out.println(Json.obj("kind" -> "timed_start", "start_us" -> t0))
    var i = first
    while (!wl.exhausted(i) && (i == first || (Clock.nowUs - t0) < seconds * 1e6)) {
      once(i, "timed", traced = trace && (i - first) % 2 == 0)
      i += 1
    }
    out.println(Json.obj("kind" -> "timed_end", "end_us" -> Clock.nowUs,
      "exhausted" -> wl.exhausted(i)))
  }
}

/** Star-schema workloads over a parquet fact directory, each run being
  * `IncrementalStarJob.run` with one parquet sink per report.
  */
abstract class StarParquet(spark: SparkSession, tracer: Tracer, work: String)
  extends Workload(spark, tracer, work) {
  val table = s"$work/table"
  val store = new BookmarkStore(s"$work/state")
  val ctx = "star_job"
  protected var committed: Option[Long] = None

  private def sink(i: Int)(name: String, df: DataFrame): Unit =
    tracer.span(s"sink.$name") {
      df.write.mode(SaveMode.Overwrite).parquet(s"$work/out/$name/run=$i")
    }

  def run(i: Int): Seq[(String, Any)] = {
    val r = IncrementalStarJob.run(spark, table, store, ctx)(sink(i))
    committed = r.committed
    Seq("rows_read" -> r.rowsRead, "committed" -> r.committed)
  }

  /** Fact frame creation (file listing included) and an idempotent
    * re-commit of the current bookmark: the Tables and Bookmarks calls
    * `IncrementalStarJob.run` makes internally, timed on their own.
    */
  override def probe(i: Int): Unit = {
    val files = tracer.span("tables.load") {
      Tables.load(spark, table, "lineitem").inputFiles.length
    }
    tracer.count("tables.files", files)
    committed.foreach(c => tracer.span("bookmarks.commit")(store.commit("lineitem", ctx, c)))
  }
}

/** Before each run one new fact file (about 0.5% of history) lands in the
  * table directory.
  */
final class Trickle(spark: SparkSession, tracer: Tracer, work: String)
  extends StarParquet(spark, tracer, work) {
  private val incoming = lines("batches.txt")
  def exhausted(i: Int): Boolean = i > incoming.size

  def prepare(i: Int): Seq[(String, Any)] =
    if (i == 0) Seq("batch" -> -1)
    else {
      val src = Paths.get(incoming(i - 1))
      Files.move(src, Paths.get(table, "lineitem.parquet", src.getFileName.toString),
        StandardCopyOption.ATOMIC_MOVE)
      Seq("batch" -> (i - 1))
    }
}

/** Before each run the bookmark is reset to a seeded midpoint, so every run
  * re-ingests about half of the fact table.
  */
final class Backfill(spark: SparkSession, tracer: Tracer, work: String)
  extends StarParquet(spark, tracer, work) {
  private val mids = lines("midpoints.txt").map(_.toLong)
  def exhausted(i: Int): Boolean = i > mids.size

  def prepare(i: Int): Seq[(String, Any)] =
    if (i == 0) Seq("midpoint" -> -1)
    else {
      store.commit("lineitem", ctx, mids(i - 1))
      Seq("midpoint" -> mids(i - 1))
    }

  /** As for trickle, but the re-commit repeats this run's reset. */
  override def probe(i: Int): Unit = {
    val files = tracer.span("tables.load") {
      Tables.load(spark, table, "lineitem").inputFiles.length
    }
    tracer.count("tables.files", files)
    if (i > 0) tracer.span("bookmarks.commit")(store.commit("lineitem", ctx, mids(i - 1)))
  }
}

/** The reference's source and sink shape: an embedded Derby source read over
  * JDBC stands in for RDS, and a second embedded Derby stands in for
  * Redshift, loaded through `JdbcSink.stagedBulkLoadExactlyOnce`. Every
  * fifth run redelivers the previous run (same bookmark window, so the same
  * run id); the ledger must turn it into a no-op. The odd period spreads
  * redeliveries evenly over the traced and untraced halves of a traced
  * invocation.
  */
final class RdsRedshift(spark: SparkSession, tracer: Tracer, work: String, cores: Int)
  extends Workload(spark, tracer, work) {
  private val srcUrl = s"jdbc:derby:$work/db/source;create=true"
  private val whUrl = s"jdbc:derby:$work/db/warehouse;create=true"
  private val props = new Properties()
  private val store = new BookmarkStore(s"$work/state")
  private val reader = new IncrementalReader(spark, s"$work/unused", store)
  private val ctx = "rds_job"
  private val incoming = lines("batches.txt")
  private val reports = Seq("supplier_report", "part_brand_report")
  private var nextBatch = 0
  private var previousLast: Option[Long] = None // the bookmark the last run started from

  def exhausted(i: Int): Boolean = !redelivery(i) && nextBatch >= incoming.size

  private def exec(url: String, sql: String*): Unit = {
    val c = DriverManager.getConnection(url, props)
    try { val st = c.createStatement(); try sql.foreach(st.execute) finally st.close() }
    finally c.close()
  }

  private def importCsv(table: String, path: String): String =
    s"CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, '$table', '$path', null, null, null, 0)"

  exec(srcUrl,
    """CREATE TABLE LINEITEM (L_ORDERKEY BIGINT, L_LINENUMBER INT, L_PARTKEY BIGINT,
      |L_SUPPKEY BIGINT, L_EXTENDEDPRICE DOUBLE, L_SHIPDATE DATE)""".stripMargin,
    "CREATE INDEX LINEITEM_KEY ON LINEITEM (L_ORDERKEY)",
    "CREATE TABLE SUPPLIER (S_SUPPKEY BIGINT PRIMARY KEY, S_NAME VARCHAR(32), S_NATIONKEY INT)",
    """CREATE TABLE PART (P_PARTKEY BIGINT PRIMARY KEY, P_BRAND VARCHAR(16),
      |P_TYPE VARCHAR(32), P_SIZE INT)""".stripMargin,
    importCsv("SUPPLIER", s"$work/source/supplier.csv"),
    importCsv("PART", s"$work/source/part.csv"),
    importCsv("LINEITEM", s"$work/source/history.csv"))
  exec(whUrl,
    """CREATE TABLE SUPPLIER_REPORT (S_SUPPKEY BIGINT, S_NAME VARCHAR(32),
      |REGISTER_DATE DATE, TOTAL DOUBLE)""".stripMargin,
    "CREATE TABLE PART_BRAND_REPORT (P_BRAND VARCHAR(16), REGISTER_DATE DATE, TOTAL DOUBLE)",
    JdbcSink.loadLedgerDdl("SUPPLIER_REPORT_LEDGER"),
    JdbcSink.loadLedgerDdl("PART_BRAND_REPORT_LEDGER"))

  private def redelivery(i: Int): Boolean = i > 0 && i % 5 == 0

  def prepare(i: Int): Seq[(String, Any)] =
    if (i == 0) Seq("batch" -> -1, "redelivery" -> false)
    else if (redelivery(i)) {
      // the previous run's loads committed but its completion was lost:
      // the scheduler runs the same window again
      previousLast.foreach(b => store.commit("LINEITEM", ctx, b))
      Seq("batch" -> -1, "redelivery" -> true)
    } else {
      exec(srcUrl, importCsv("LINEITEM", incoming(nextBatch)))
      nextBatch += 1
      Seq("batch" -> (nextBatch - 1), "redelivery" -> false)
    }

  private def derbyCopy(table: String, path: String): String = importCsv(table.toUpperCase, path)

  def run(i: Int): Seq[(String, Any)] = {
    val last = store.get("LINEITEM", ctx)
    previousLast = last
    val delta = tracer.span("bookmarks.readJdbc") {
      reader.readJdbc(srcUrl, "LINEITEM", "L_ORDERKEY", ctx, props, numPartitions = cores)
    }
    val newMax = tracer.span("bookmarks.maxKey")(reader.maxKey(delta, "L_ORDERKEY"))
    val runId = s"${last.getOrElse(0L)}-${newMax.getOrElse(0L)}"
    val supplier = spark.read.jdbc(srcUrl, "SUPPLIER", props)
    val part = spark.read.jdbc(srcUrl, "PART", props)
    val denorm = tracer.span("star.denormalizedFrom") {
      StarPipeline.denormalizedFrom(delta, supplier, part)
    }.cache()
    val parts = new java.util.concurrent.ConcurrentHashMap[String, Int]()
    def load(name: String, df: DataFrame): DataFrame = {
      parts.put(name, tracer.span(s"sink.$name") {
        JdbcSink.stagedBulkLoadExactlyOnce(df, whUrl, name.toUpperCase,
          s"$work/staging/$name", derbyCopy, runId, s"${name.toUpperCase}_LEDGER")
      })
      df
    }
    try {
      val specs = Seq(
        ParallelReports.ReportSpec("supplier_report", "1",
          df => load("supplier_report", StarPipeline.supplierReport(df))),
        ParallelReports.ReportSpec("part_brand_report", "2",
          df => load("part_brand_report", StarPipeline.partBrandReport(df))))
      tracer.span("reports.run")(ParallelReports.run(spark, denorm, specs)(identity))
      newMax.foreach(m => tracer.span("bookmarks.commit")(store.commit("LINEITEM", ctx, m)))
    } finally denorm.unpersist(blocking = true)
    Seq("last" -> last, "committed" -> newMax, "run_id" -> runId,
      "parts" -> reports.map(r => Option(parts.get(r)).map(_.intValue).getOrElse(-1)))
  }

  /** Dump the warehouse with plain JDBC for the checker (untimed). */
  override def finish(out: PrintWriter): Unit = {
    Files.createDirectories(Paths.get(s"$work/warehouse"))
    val c = DriverManager.getConnection(whUrl, props)
    try Seq("SUPPLIER_REPORT", "PART_BRAND_REPORT",
      "SUPPLIER_REPORT_LEDGER", "PART_BRAND_REPORT_LEDGER").foreach { t =>
      val rs = c.createStatement().executeQuery(s"SELECT * FROM $t")
      val w = new PrintWriter(new File(s"$work/warehouse/${t.toLowerCase}.csv"))
      try {
        val n = rs.getMetaData.getColumnCount
        while (rs.next()) w.println((1 to n).map(k => rs.getString(k)).mkString("|"))
      } finally { w.close(); rs.close() }
    } finally c.close()
  }
}

/** Near-duplicate detection over seeded document batches: MinHash-LSH pairs,
  * connected components, best member per cluster. Each stage's output is
  * written as parquet and the next stage reads it back, as a pipeline
  * persisting its intermediate results would.
  */
final class NearDup(spark: SparkSession, tracer: Tracer, work: String)
  extends Workload(spark, tracer, work) {
  private val batchDirs = lines("batches.txt")
  def exhausted(i: Int): Boolean = i >= batchDirs.size

  def prepare(i: Int): Seq[(String, Any)] = {
    Residue.drain(spark)
    Seq("batch" -> i)
  }

  override def finish(out: PrintWriter): Unit = Residue.drain(spark)

  def run(i: Int): Seq[(String, Any)] = {
    val docs = tracer.span("tables.load")(Tables.load(spark, batchDirs(i), "documents"))
    val o = s"$work/out"
    tracer.span("dedup.pairs") {
      Dedup.minhashLshPairs(docs).write.mode(SaveMode.Overwrite).parquet(s"$o/pairs/run=$i")
    }
    tracer.span("dedup.clusters") {
      Dedup.nearDupClusters(spark.read.parquet(s"$o/pairs/run=$i"))
        .write.mode(SaveMode.Overwrite).parquet(s"$o/clusters/run=$i")
    }
    tracer.span("dedup.keep_best") {
      Dedup.keepBestPerCluster(spark.read.parquet(s"$o/clusters/run=$i"), docs, col("n_chars"))
        .write.mode(SaveMode.Overwrite).parquet(s"$o/keep/run=$i")
    }
    Nil
  }
}
