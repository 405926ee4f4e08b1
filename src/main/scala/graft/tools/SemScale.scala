package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}
import graft.operators.SimilaritySearch

/** Dev/round tool: time [[SimilaritySearch.semanticDedup]] with the
  * centroid count as a parameter — the documented C ∝ N scale lever
  * (Σ cell² candidate volume stays linear when cells track corpus
  * size). Usage: SemScale <sfDir> <nCentroids> [simThreshold]
  */
object SemScale {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val c = args(1).toInt
    val thr = args.lift(2).map(_.toDouble).getOrElse(0.4)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val e = Tables.embeddings(spark, dir)
    // centroids: the c lowest-id vectors (replica 0 of a ScaleUp dir) —
    // same selection rule as q109's fixed 8, scaled
    val cent = e.filter(col("vec_id") < c)
    for (pass <- 1 to 2) {
      val t0 = System.nanoTime()
      val n = SimilaritySearch.semanticDedup(
        e, "vec_id", "embedding", cent, "vec_id", "embedding", thr).count()
      println(f"TIME semdedup C=$c pass=$pass ${(System.nanoTime() - t0) / 1e9}%.2f s  rows=$n")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
