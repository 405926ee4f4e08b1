package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Tables}

/** Dev/round tool: synthesize an N×-scale copy of a testdata sf dir (for
  * constant-factor stress runs above the largest driver-provided SF —
  * the driver's parquet stays untouched; output goes to /tmp).
  *
  * Replication is SALTED so corpus statistics scale LINEARLY instead of
  * manufacturing an artificial duplicate structure:
  *   - documents: replica i maps the 10 most frequent letters through a
  *     rotation (translate), COMPOSED with a second rotation over the
  *     10 next-frequent letters keyed by i/10 — salt period 100, so no
  *     two replicas share text up to factor 100 (a single rotation
  *     wraps at 10 and factors beyond it manufacture exact 10-cliques —
  *     real web corpora DO look like that, but that duplication regime
  *     is its own benchmark, not a linear scaling run). Token/char
  *     distributions are preserved; cross-replica shingle overlap
  *     vanishes, so dedup candidate volume grows ~N×;
  *   - embeddings: replica i rotates the vector by i mod 64 positions
  *     and NEGATES it for i ≥ 64 — norms preserved, all directions
  *     distinct up to factor 128 (negation flips cosine sign, so
  *     negated replicas are maximally far from their rotation twins),
  *     so ANN cell/bucket occupancy scales;
  *   - events: user_id offset per replica (N× users, same time range);
  *   - orders/lineitem: orderkey offset per replica (N× facts over the
  *     same dimension tables — dims deliberately NOT scaled, the usual
  *     shape of fact-vs-dim growth);
  *   - region/nation/customer/supplier/part: copied as-is.
  *
  * Usage: ScaleUp [srcDir] [dstDir] [factor]
  */
object ScaleUp {

  private val Off = 10000000L
  private val Alpha = "etaoinsrhl"
  private val Alpha2 = "dcumfpgwyb" // disjoint from Alpha: composition is a permutation

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    require(n >= 1 && n <= 100, s"factor must be in [1,100], got $n")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String) = Tables.table(spark, src, t)
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")
    def rot(a: String, i: Int): String = { val r = i % a.length; a.drop(r) + a.take(r) }
    def replicate(base: DataFrame)(variant: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until n).map(i => variant(base, i)).reduce(_ unionByName _)

    write(replicate(read("documents")) { (d, i) =>
      d.select((col("doc_id") + i * Off).as("doc_id"),
        translate(translate(col("text"), Alpha, rot(Alpha, i)),
          Alpha2, rot(Alpha2, i / 10)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }, "documents")

    write(replicate(read("embeddings")) { (d, i) =>
      val r = i % 64
      val rotated = s"concat(slice(embedding, $r + 1, size(embedding) - $r), " +
        s"slice(embedding, 1, $r))"
      val salted = if (i >= 64) s"transform($rotated, x -> -x)" else rotated
      d.select((col("vec_id") + i * Off).as("vec_id"),
        expr(salted).as("embedding"), col("label"))
    }, "embeddings")

    write(replicate(read("events")) { (d, i) =>
      d.select((col("event_id") + i * Off).as("event_id"), col("ts"),
        (col("user_id") + i * Off).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }, "events")

    write(replicate(read("orders")) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + i * Off)
    }, "orders")

    write(replicate(read("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + i * Off)
    }, "lineitem")

    Seq("region", "nation", "customer", "supplier", "part")
      .foreach(t => write(read(t), t))

    println(s"SCALED $src -> $dst x$n")
    spark.stop()
  }
}
