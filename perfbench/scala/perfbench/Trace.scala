package perfbench

import java.io.PrintWriter
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** One clock for spans and Spark events: epoch microseconds, advanced by
  * `System.nanoTime` so spans are monotonic and still comparable with the
  * millisecond epoch stamps Spark puts on its listener events.
  */
object Clock {
  private val epochUs0 = {
    val i = Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000
}

final case class Span(id: Int, parent: Int, run: Int, name: String,
                      startUs: Long, endUs: Long, thread: String)

/** Spans around every call the benchmark makes into an engine layer.
  *
  * Spans stay in memory and are written out once, at the end. While a span
  * is open its id sits in the thread's `perfbench.span` Spark local property,
  * so every Spark job the call submits (including the ones AQE and broadcast
  * threads submit for it, which capture local properties) names the span it
  * ran under. When tracing is off, `span` only runs its body.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counts = new ConcurrentLinkedQueue[(Int, String, Long)]()
  // inheritable: ParallelReports' report threads are created by the run's
  // thread, so their sink spans get the run span as parent
  private val current = new InheritableThreadLocal[Int] { override def initialValue = 0 }
  @volatile var run: Int = -1
  @volatile var traceRun: Boolean = false

  /** Start run `i`; its spans and Spark jobs are recorded when `traced`. */
  def beginRun(i: Int, traced: Boolean): Unit = {
    run = i
    traceRun = enabled && traced
    sc.setLocalProperty("perfbench.run", if (traceRun) i.toString else null)
  }

  def endRun(): Unit = {
    traceRun = false
    sc.setLocalProperty("perfbench.run", null)
  }

  def span[T](name: String)(body: => T): T =
    if (!traceRun) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get
      val prevProp = sc.getLocalProperty("perfbench.span")
      current.set(id)
      sc.setLocalProperty("perfbench.span", id.toString)
      val start = Clock.nowUs
      try body
      finally {
        spans.add(Span(id, parent, run, name, start, Clock.nowUs,
          Thread.currentThread().getName))
        current.set(parent)
        sc.setLocalProperty("perfbench.span", prevProp)
      }
    }

  /** A count observed at a layer boundary of the current traced run. */
  def count(name: String, value: Long): Unit =
    if (traceRun) counts.add((run, name, value))

  def write(out: PrintWriter): Unit = {
    spans.asScala.toSeq.sortBy(_.id).foreach { s =>
      out.println(Json.obj("kind" -> "span", "id" -> s.id, "parent" -> s.parent,
        "run" -> s.run, "name" -> s.name, "start_us" -> s.startUs, "end_us" -> s.endUs,
        "thread" -> s.thread))
    }
    counts.asScala.foreach { case (run, name, v) =>
      out.println(Json.obj("kind" -> "count", "run" -> run, "name" -> name, "value" -> v))
    }
  }
}

/** Spark events of traced runs, each attributed to the span it ran under.
  *
  * Events arrive on the listener bus thread only, so the maps need no
  * locking while the run is live; `write` runs after `drained()` says every
  * recorded job has ended.
  */
final class TraceListener extends SparkListener {
  final class Job(val id: Int, val run: Int, val span: Int, val pool: String,
                  val group: String, val desc: String, val startMs: Long,
                  val stageIds: Seq[Int]) { var endMs: Long = -1 }
  final class Stage(val id: Int, val attempt: Int, val run: Int, val span: Int,
                    val numTasks: Int, val cachedRdds: Seq[Int]) {
    var submitMs = -1L; var completeMs = -1L; var firstLaunchMs = Long.MaxValue
    var tasks = 0; var recordsRead = 0L; var recordsWritten = 0L
    var shuffleWrite = 0L; var spill = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), Stage]
  private val rddRun = mutable.Map.empty[Int, Int]
  private val blocks = mutable.Map.empty[String, (Int, Long)]
  @volatile private var open = 0

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val run = prop(e.properties, "perfbench.run")
    if (run != null) {
      val span = Option(prop(e.properties, "perfbench.span")).map(_.toInt).getOrElse(0)
      val desc = Seq(prop(e.properties, "spark.job.description"),
        prop(e.properties, "spark.job.tags")).filter(_ != null).mkString(" ")
      jobs(e.jobId) = new Job(e.jobId, run.toInt, span,
        prop(e.properties, "spark.scheduler.pool"),
        prop(e.properties, "spark.jobGroup.id"), desc, e.time, e.stageIds)
      open += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach { j => j.endMs = e.time; open -= 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val run = prop(e.properties, "perfbench.run")
    if (run != null) {
      val info = e.stageInfo
      val span = Option(prop(e.properties, "perfbench.span")).map(_.toInt).getOrElse(0)
      val cached = info.rddInfos.filter(_.storageLevel.isValid).map(_.id)
      cached.foreach(id => rddRun.getOrElseUpdate(id, run.toInt))
      val s = new Stage(info.stageId, info.attemptNumber(), run.toInt, span,
        info.numTasks, cached.toSeq)
      s.submitMs = info.submissionTime.getOrElse(System.currentTimeMillis())
      stages((info.stageId, info.attemptNumber())) = s
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.get((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { s =>
      s.completeMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      s.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        s.recordsRead += m.inputMetrics.recordsRead
        s.recordsWritten += m.outputMetrics.recordsWritten
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rdd, _) if rddRun.contains(rdd) =>
        // largest size seen: unpersist reports the block again at size 0
        val size = info.memSize + info.diskSize
        val seen = blocks.get(info.blockId.name).map(_._2).getOrElse(0L)
        blocks(info.blockId.name) = (rddRun(rdd), math.max(seen, size))
      case _ =>
    }
  }

  /** True once every recorded job has ended. */
  def drained(): Boolean = open <= 0

  def write(out: PrintWriter): Unit = {
    jobs.values.foreach { j =>
      out.println(Json.obj("kind" -> "job", "id" -> j.id, "run" -> j.run, "span" -> j.span,
        "pool" -> j.pool, "group" -> j.group, "desc" -> j.desc,
        "start_us" -> j.startMs * 1000, "end_us" -> j.endMs * 1000,
        "stages" -> j.stageIds))
    }
    stages.values.foreach { s =>
      out.println(Json.obj("kind" -> "stage", "id" -> s.id, "attempt" -> s.attempt,
        "run" -> s.run, "span" -> s.span, "num_tasks" -> s.numTasks, "tasks" -> s.tasks,
        "submit_us" -> s.submitMs * 1000, "complete_us" -> s.completeMs * 1000,
        "first_launch_us" -> (if (s.firstLaunchMs == Long.MaxValue) -1L else s.firstLaunchMs * 1000),
        "records_read" -> s.recordsRead, "records_written" -> s.recordsWritten,
        "shuffle_write_bytes" -> s.shuffleWrite, "spill_bytes" -> s.spill,
        "cached_rdds" -> s.cachedRdds))
    }
    blocks.groupBy(_._2._1).foreach { case (run, bs) =>
      out.println(Json.obj("kind" -> "cache", "run" -> run,
        "bytes" -> bs.values.map(_._2).sum, "blocks" -> bs.size))
    }
  }
}

/** Minimal JSON writer for the result files (numbers, strings, lists). */
object Json {
  private def esc(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => esc(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case xs: Array[_] => value(xs.toSeq)
    case other => esc(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => esc(k) + ":" + value(v) }.mkString("{", ",", "}")
}
