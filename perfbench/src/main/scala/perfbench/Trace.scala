package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Job, stage and task counters of one Spark context, plus the wall
  * intervals of every job (for the time spent outside any job).
  */
final class SparkCounters extends SparkListener {
  private val c = Map(Seq("jobs", "stages", "tasks", "task_run_ms", "task_cpu_ns",
    "shuffle_write_bytes", "spill_bytes", "input_records", "input_bytes")
    .map(_ -> new AtomicLong): _*)
  private val running = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c("jobs").incrementAndGet(); running(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.remove(e.jobId).foreach(s => intervals += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    c("stages").incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      c("task_run_ms").addAndGet(m.executorRunTime)
      c("task_cpu_ns").addAndGet(m.executorCpuTime)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("input_records").addAndGet(m.inputMetrics.recordsRead)
      c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
    }
    ()
  }

  def snapshot: Map[String, Long] = c.map { case (k, v) => k -> v.get }

  /** Milliseconds of [from, to] during which at least one job ran. */
  def busyMs(from: Long, to: Long): Long = synchronized {
    val clipped = intervals.iterator
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Bytes and files under a table directory, split into data files and
  * the table's own metadata (log, manifests, stats, vectors).
  */
object TableDir {
  final case class Listing(files: Map[String, Long]) {
    def dataFiles: Map[String, Long] = files.filter { case (p, _) =>
      p.endsWith(".parquet") && !p.split('/').exists(_.startsWith("_"))
    }
  }

  def list(dir: String): Listing = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Listing(Map.empty)
    val s = Files.walk(root)
    try Listing(s.iterator.asScala.filter(p => Files.isRegularFile(p))
      .map(p => root.relativize(p).toString -> Files.size(p)).toMap)
    finally s.close()
  }
}

/** Spans recorded by the benchmark around its calls into graft: name,
  * start, duration, parent span and operation id, with the Spark
  * counters and (for table calls) the table-directory growth measured at
  * the same boundaries. Off, a span is just its body.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val counters = new SparkCounters
  if (enabled) spark.sparkContext.addSparkListener(counters)

  private val spans = mutable.ArrayBuffer.empty[java.util.Map[String, Any]]
  private var stack: List[Int] = Nil
  private var nextId = 0
  /** The timed operation the current spans belong to (-1 = set-up). */
  var op: Int = -1
  /** Recording can pause (the untimed idempotence re-run, the checks). */
  var recording: Boolean = true

  def span[T](name: String, tableDir: String = null)(body: => T): T =
    if (!enabled || !recording) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      PerfbenchBus.drain(spark.sparkContext)
      val before = counters.snapshot
      val dirBefore = Option(tableDir).map(TableDir.list)
      stack = id :: stack
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val durNs = System.nanoTime() - t0
        val endMs = System.currentTimeMillis()
        stack = stack.tail
        PerfbenchBus.drain(spark.sparkContext)
        val after = counters.snapshot
        val rec = new java.util.LinkedHashMap[String, Any]()
        rec.put("id", id); rec.put("name", name); rec.put("op", op)
        rec.put("parent", parent); rec.put("start_ms", startMs)
        rec.put("dur_s", durNs / 1e9)
        rec.put("busy_s", counters.busyMs(startMs, endMs) / 1e3)
        after.foreach { case (k, v) => rec.put(k, v - before(k)) }
        dirBefore.foreach { b =>
          val a = TableDir.list(tableDir)
          val added = a.files.filter { case (p, n) => b.files.get(p).forall(_ != n) }
          val dataAdded = added.filter { case (p, _) => a.dataFiles.contains(p) }
          rec.put("files_written", dataAdded.size)
          rec.put("bytes_written", dataAdded.values.sum)
          rec.put("log_bytes", added.values.sum - dataAdded.values.sum)
          rec.put("live_bytes", a.files.values.sum)
        }
        spans += rec
      }
    }

  /** Attach an extra measured value to the most recent span. */
  def note(key: String, value: Any): Unit =
    if (enabled && recording && spans.nonEmpty) { spans.last.put(key, value); () }

  def records: java.util.List[java.util.Map[String, Any]] = spans.asJava
}
