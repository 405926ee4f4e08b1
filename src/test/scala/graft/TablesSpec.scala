package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** The source-schema resolver ([[Tables.parquet]]): the schema it
  * supplies is the one Spark infers, a warm read runs no Spark job, and
  * a changed file set or parquet conf is inferred afresh.
  */
class TablesSpec extends SparkSpec {

  private val corpus = Seq("lineitem", "orders", "customer", "supplier", "part",
    "nation", "region", "documents", "embeddings", "events")

  test("every corpus table resolves to the schema Spark infers") {
    GraftSession.tune(spark)
    corpus.foreach { t =>
      val path = s"$sf001/$t.parquet"
      Tables.parquet(spark, path) // warm
      assert(Tables.parquet(spark, path).schema == spark.read.parquet(path).schema, t)
    }
  }

  test("a second Tables.orders build runs no Spark job") {
    Tables.orders(spark, sf001)
    assert(jobsOf(Tables.orders(spark, sf001)) == 0)
  }

  test("rewriting the files at a path is inferred afresh") {
    val path = Files.createTempDirectory("graft_tables").toString + "/t.parquet"
    spark.range(10).toDF("a").write.parquet(path)
    assert(Tables.parquet(spark, path).schema.fieldNames.toSeq == Seq("a"))
    spark.range(100).select(col("id").as("b"), col("id").cast("string").as("c"))
      .repartition(2).write.mode("overwrite").parquet(path)
    val again = Tables.parquet(spark, path)
    assert(again.schema == spark.read.parquet(path).schema)
    assert(again.schema.fieldNames.toSeq == Seq("b", "c"))
    assert(again.count() == 100)
  }

  test("inferTimestampNTZ toggles the resolved type as it does in plain Spark") {
    // a naive (isAdjustedToUTC=false) micros column in a file WITHOUT
    // Spark's schema in its footer — a Spark-written file would pin the
    // type whatever the conf says
    val path = Files.createTempDirectory("graft_tables_ntz").toString + "/ntz.parquet"
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 t (TIMESTAMP(MICROS,false)); }")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(s"$path/part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("t", 1704164645000000L))
    finally w.close()
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prior = spark.conf.get(key)
    try {
      val seen = Seq("true", "false").map { v =>
        spark.conf.set(key, v)
        Tables.parquet(spark, path) // warm
        val got = Tables.parquet(spark, path).schema("t").dataType
        assert(got == spark.read.parquet(path).schema("t").dataType, s"$key=$v")
        got
      }
      assert(seen == Seq(TimestampNTZType, TimestampType))
    } finally spark.conf.set(key, prior)
  }

  test("q05_star_revenue's frame builds with no Spark job once the resolver is warm") {
    val q05 = SparkEntry.queries("q05_star_revenue")
    q05(spark, sf001)
    assert(jobsOf(q05(spark, sf001)) == 0)
  }
}
