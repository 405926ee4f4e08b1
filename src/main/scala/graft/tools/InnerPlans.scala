package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, Tables}

/** Dev tool: print the INNER plans of iterative/staged operators — the
  * plans the final query's explain cannot show because every round ends
  * at a staging barrier. Used to document the r14 optimization round's
  * plan claims (plans/r14/): what one BPE merge round / the unigram DP /
  * the WordPiece walk compile to.
  * Usage: InnerPlans <sfDir>
  */
object InnerPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, sfDir)

    println("==== bpe_round (one merge rewrite over the staged symbol table)")
    graft.operators.Bpe.explainRound(docs, "text")

    println("==== unigram_dp (per-word Viterbi fold, pre-rollup)")
    graft.operators.Unigram.explainDp(docs, "doc_id", "text", 300, 4, 16)

    println("==== wordpiece_walk (per-word greedy fold, pre-rollup)")
    graft.operators.WordPiece.explainWalk(docs, "doc_id", "text", 24, 4, 16)

    println("==== nnd_score (one NN-descent scoring pass, before/after r15)")
    graft.operators.SimilaritySearch.explainDescentScore(
      Tables.embeddings(spark, sfDir), "vec_id", "embedding", 6)

    spark.stop()
  }
}
