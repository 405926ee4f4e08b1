package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Host noise discipline, IN THE ARTIFACT (round-11 hardening): the
    // host shows sporadic multi-minute stall windows (external;
    // documented in NOTES_r2) that can inflate a single measurement
    // 10-50x — r10's committed artifact carried a 3.15x q62 outlier that
    // only hand-run extra sessions could disprove. So the bench now runs
    // N time-separated full passes (default 3), reports the per-query
    // MIN, and records EVERY pass's per-query time in bench_out.json
    // ("samples") — an outlier self-identifies as one inflated sample
    // among normal ones instead of requiring a re-measure.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // optional focused run: SPARK_GRAFT_BENCH_FILTER=q61,q62 (exact names)
    val filter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // the shipped session settings, not a copy of them
    val spark = GraftSession.local(cpus.toInt)
    // the effective configuration, in the artifact
    val parallelism = spark.sparkContext.defaultParallelism
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => filter.forall(_.contains(q._1)))
    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    val succeeded = scala.collection.mutable.Set.empty[String]
    for (_ <- 1 to passes; (name, fn) <- names) {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        samples(name) = samples.getOrElse(name, Nil) :+ dt
        succeeded += name
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      // cache cleared between queries so no query's pinned working set
      // distorts the next
      spark.catalog.clearCache()
    }
    val best = samples.map { case (k, v) => k -> v.min }
    // a query that never succeeded must not be recorded as a fast time
    val failed = names.map(_._1).filterNot(succeeded)
    val qs = names.map { case (k, _) =>
      "\"" + k + "\":" + (if (succeeded(k)) best(k) else -1.0)
    }.mkString("{", ",", "}")
    val sampleJson = names.map { case (k, _) =>
      "\"" + k + "\":" + samples.getOrElse(k, Nil).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val total = succeeded.toSeq.map(best).sum
    val failJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val note = s"per-query min of $passes time-separated passes; " +
      "all per-pass samples under 'samples'"
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"samples":$sampleJson,"failed":$failJson,"passes":$passes,"cpus":$cpus,"defaultParallelism":$parallelism,"note":"$note","sf":"$sfDir"}"""
    println(line)
    // ALSO write the JSON to its own file: the driver's log-tail parse
    // has arrived clipped before (BENCH_r05 recorded "parsed": null) —
    // a dedicated artifact can never be truncated by surrounding output
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
    spark.stop()
    // The driver's tail-parse reads only the last ~2,000 characters of
    // stdout, and the full per-query map (~8 KB for 229 queries) can
    // never survive that window whole — BENCH_r05/r07 arrived
    // "parsed": null. So the LAST line is a COMPACT summary (total, n,
    // failed — no per-query map); the full per-query + per-pass samples
    // line lives in bench_out.json above. Printed after spark.stop() so
    // no shutdown logging can land after it.
    val compact = s"""{"metric":"total","value":$total,"unit":"sec","n":${succeeded.size},"failed":$failJson,"passes":$passes,"cpus":$cpus,"defaultParallelism":$parallelism,"note":"per-query min of $passes passes; per-query map + per-pass samples in bench_out.json","sf":"$sfDir"}"""
    println(compact)
    System.out.flush()
  }
}
