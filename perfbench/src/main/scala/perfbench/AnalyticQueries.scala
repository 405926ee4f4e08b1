package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row

import graft.SparkEntry

/** Read-only registry queries over a generated corpus: warm-up passes in
  * set-up, then timed passes over the same list. Each query is split
  * into the registry call (which runs eager `Staging` barriers), physical
  * planning and the action; each query's first result in the timed part
  * is written for the DuckDB oracle check.
  */
object AnalyticQueries {
  def run(ctx: Ctx): Unit = {
    val spec = ctx.spec.get("inputs")
    val dir = ctx.str(spec, "data_dir")
    val queries = ctx.list(spec, "queries").map(_.asText)
    val warm = spec.get("warm_passes").asInt
    val timed = spec.get("timed_passes").asInt
    val registry = SparkEntry.queries
    val tr = ctx.tracer
    val firstTimed = scala.collection.mutable.Map.empty[String, (Array[Row], org.apache.spark.sql.types.StructType)]

    def once(q: String): (Array[Row], org.apache.spark.sql.types.StructType) = {
      val df = tr.span("operators.build")(registry(q)(ctx.spark, dir))
      tr.span("operators.plan")(df.queryExecution.executedPlan)
      (tr.span("operators.exec")(df.collect()), df.schema)
    }

    (0 until warm).foreach(_ => queries.foreach(once))
    ctx.startTimed()
    (0 until timed).foreach { _ =>
      queries.foreach { q =>
        ctx.timeOp("query", q)(once(q)).foreach(out => if (!firstTimed.contains(q)) firstTimed(q) = out)
      }
    }
    ctx.endTimed()

    ctx.tracer.recording = false
    val oracle = new java.util.LinkedHashMap[String, String]()
    firstTimed.foreach { case (q, (rows, schema)) =>
      ctx.spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.parquet(ctx.path(s"results/$q"))
      oracle.put(q, SparkEntry.oracleSql(q))
    }
    Json.write(ctx.path("oracle.json"), oracle)
  }
}
