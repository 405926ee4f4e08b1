package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class StagingSpec extends SparkSpec {

  private def withStagingRoot[A](root: String)(body: => A): A = {
    spark.conf.set("graft.staging.dir", root)
    try body finally spark.conf.unset("graft.staging.dir")
  }

  test("staging-dir mode: stage materializes parquet, delete releases it") {
    val root = "file:" + Files.createTempDirectory("graft_stage_spec").toString
    withStagingRoot(root) {
      val df = spark.range(100).withColumn("x", col("id") * 2)
      val stageJobs = jobsOf(Staging.stage(df, "jobs").delete())
      val st = Staging.stage(df, "spec")
      assert(st.path.nonEmpty && st.path.startsWith(root))
      // the read-back carries the staged frame's schema: building it
      // runs no footer-inference job, so staging costs exactly its write
      assert(st.df.schema == spark.read.parquet(st.path).schema)
      val writeJobs = jobsOf(df.write.parquet(
        Files.createTempDirectory("graft_stage_plain").toString + "/p"))
      assert(stageJobs == writeJobs, s"stage ran $stageJobs jobs, its write $writeJobs")
      assert(st.df.count() == 100)
      val p = new org.apache.hadoop.fs.Path(st.path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(fs.exists(p), "staged parquet must exist while referenced")
      st.delete()
      assert(!fs.exists(p), "delete() must remove the staged path")
    }
  }

  test("exit cleanup removes the whole session root through the Hadoop FS API") {
    // a file:-SCHEME root (not a bare local path): the Hadoop Path code
    // path is exactly what a remote HDFS/S3 staging root exercises —
    // the old java.io.File walk silently no-op'd on any scheme'd URI
    val root = "file:" + Files.createTempDirectory("graft_stage_exit").toString
    withStagingRoot(root) {
      val st1 = Staging.stage(spark.range(10).toDF(), "one")
      val st2 = Staging.stage(spark.range(20).toDF(), "two")
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val sessionRoot = new org.apache.hadoop.fs.Path(st1.path).getParent
      assert(st2.path.startsWith(sessionRoot.toString.stripPrefix("file:")) ||
        st2.path.contains(sessionRoot.getName),
        "both stages share one jvm-scoped session root")
      assert(fs.exists(sessionRoot))
      Staging.exitCleanup() // the shutdown hook body, driven directly
      assert(!fs.exists(sessionRoot),
        "exit cleanup must remove the session root via the Hadoop FS")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(st1.path)))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(st2.path)))
    }
  }

  test("local mode (no staging dir): checkpoint-backed, path empty, delete unpersists") {
    assert(spark.conf.getOption("graft.staging.dir").isEmpty)
    val st = Staging.stage(spark.range(50).toDF(), "local")
    assert(st.path.isEmpty)
    assert(st.df.count() == 50)
    st.delete() // must not throw; blocks released
  }
}
