package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark run inside one JVM: `Main <spec.json>`. The spec (written
  * by `run.py`) names the workload, its generated inputs and the timed
  * sequence; the JVM writes `result.json` (timings, spans, environment)
  * and the dumps the checks read, next to the spec.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val code =
      try { run(args(0)); 0 }
      catch { case t: Throwable => t.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(specPath: String): Unit = {
    val spec = new ObjectMapper().readTree(new File(specPath))
    val spark = graft.GraftSession.local(spec.get("cpus").asInt)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val ctx = new Ctx(spark, spec, new Tracer(spark, spec.get("trace").asBoolean))
    spec.get("workload").asText match {
      case "etl_daily" => EtlDaily.run(ctx)
      case "analytic_queries" => AnalyticQueries.run(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ctx.result.put("env", env(spark))
    ctx.result.put("session_s", sessionS)
    ctx.result.put("ops", ctx.ops)
    ctx.result.put("spans", ctx.tracer.records)
    Json.write(ctx.path("result.json"), ctx.result)
    spark.stop()
  }

  private def env(spark: SparkSession): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("master", spark.sparkContext.master)
    m.put("default_parallelism", spark.sparkContext.defaultParallelism)
    m.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    m.put("heap_max_bytes", Runtime.getRuntime.maxMemory)
    m.put("spark_version", spark.version)
    m.put("java_version", System.getProperty("java.version"))
    m.put("jvm", System.getProperty("java.vm.name"))
    m
  }
}

/** What a workload needs: the session, its spec, the tracer, and the
  * timed-operation log that the end-to-end metrics come from.
  */
final class Ctx(val spark: SparkSession, val spec: JsonNode, val tracer: Tracer) {
  val result = new java.util.LinkedHashMap[String, Any]()
  val ops = new java.util.ArrayList[java.util.Map[String, Any]]()
  private val work = spec.get("work").asText
  private var gcAtStart, jitAtStart = 0L

  def path(name: String): String = s"$work/$name"
  def str(node: JsonNode, key: String): String = node.get(key).asText
  def list(node: JsonNode, key: String): Seq[JsonNode] = node.get(key).elements.asScala.toSeq

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Set-up ends here: from the JVM's own start to the first timed call. */
  def startTimed(): Unit = {
    result.put("setup_s",
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3)
    gcAtStart = gcMs
    jitAtStart = jitMs
  }

  def endTimed(): Unit = {
    result.put("gc_s", (gcMs - gcAtStart) / 1e3)
    result.put("jit_s", (jitMs - jitAtStart) / 1e3)
    tracer.op = -1
  }

  /** Run one timed operation; its wall time feeds the end-to-end metrics.
    * A failing operation is logged with its error and yields None.
    */
  def timeOp[T](kind: String, name: String)(body: => T): Option[T] = {
    tracer.op = ops.size
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("kind", kind); m.put("name", name)
    val jit0 = jitMs
    val t0 = System.nanoTime()
    val out =
      try Some(tracer.span(s"op.$kind")(body))
      catch { case NonFatal(e) => e.printStackTrace(); m.put("error", e.toString); None }
    m.put("dur_s", (System.nanoTime() - t0) / 1e9)
    m.put("jit_s", (jitMs - jit0) / 1e3)
    ops.add(m)
    out
  }

  /** Dumps for the checks run between timed operations, unrecorded. */
  def unrecorded[T](body: => T): T = {
    val was = tracer.recording
    tracer.recording = false
    try body finally tracer.recording = was
  }
}

object Json {
  private val mapper = new ObjectMapper()

  def write(path: String, v: Any): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(v))

  /** Rows as JSON lines of value arrays; timestamps as epoch micros. */
  def writeRows(path: String, rows: Seq[Row], schema: StructType): Unit = {
    val w = Files.newBufferedWriter(Paths.get(path))
    try rows.foreach { r =>
      val vals = new java.util.ArrayList[Any]()
      schema.fields.indices.foreach { i =>
        vals.add(r.get(i) match {
          case t: java.sql.Timestamp =>
            Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
          case v => v
        })
      }
      w.write(mapper.writeValueAsString(vals)); w.newLine()
    } finally w.close()
  }
}
