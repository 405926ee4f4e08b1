package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Q-digest quantile sketch: compression semantics, the rank-error
  * bound vs the exact quantiles, and order-insensitive merging. Data is
  * integers 0..N-1 with lo=0, hi=65536, so leaf == value and ranks are
  * directly readable (count(data ≤ v) = v+1).
  */
class QdigestSpec extends SparkSpec {
  import spark.implicits._

  private val qs = Seq(100, 250, 500, 900, 990, 1000)

  test("k >= n disables compression: answers are the exact type-1 quantiles") {
    val n = 2000
    val df = (0 until n).map(_.toDouble).toDF("v")
    val st = Sketches.qdigestState(df, "v", lo = 0.0, hi = 65536.0, k = 1 << 20)
    // uncompressed state = raw leaf counts
    assert(st.count() == n)
    val got = Sketches.qdigestQuantile(st, 0.0, 65536.0, qs)
      .select("q_milli", "v_est").as[(Long, Double)].collect().toMap
    qs.foreach { q =>
      // exact type-1 quantile of 0..n-1 is value ceil(q*n/1000)-1; the
      // sketch answers its leaf's EXCLUSIVE upper bound = value+1
      val exact = math.ceil(q.toDouble * n / 1000).toLong - 1
      assert(got(q.toLong) == exact + 1.0, s"q=$q")
    }
  }

  test("compressed sketch: rank error bounded by L·t vs exact quantiles") {
    val n = 10000
    val k = 1024
    val df = (0 until n).map(_.toDouble).toDF("v")
    val st = Sketches.qdigestState(df, "v", lo = 0.0, hi = 65536.0, k = k)
    val nodes = st.count()
    assert(nodes < n / 2, s"compression must shrink the state, got $nodes nodes")
    val t = math.max(n / k, 1) // engine threshold
    val bound = 16L * t // L levels, each can defer < t counts upward
    val got = Sketches.qdigestQuantile(st, 0.0, 65536.0, qs)
      .select("q_milli", "v_est").as[(Long, Double)].collect().toMap
    qs.foreach { q =>
      val target = (q.toLong * n + 999) / 1000 // ceil(q*n/1000)
      val rankOfEst = math.min(got(q.toLong).toLong, n.toLong) // count(data ≤ est−1)=est, clamped
      assert(rankOfEst >= target,
        s"q=$q: est rank $rankOfEst below target $target — sketch may never undershoot")
      assert(rankOfEst <= target + bound,
        s"q=$q: est rank $rankOfEst exceeds target $target + bound $bound")
    }
  }

  test("merge is order-insensitive and answers within the bound at the merged n") {
    val n = 10000
    val k = 1024
    val evens = (0 until n by 2).map(_.toDouble).toDF("v")
    val odds = (1 until n by 2).map(_.toDouble).toDF("v")
    val sa = Sketches.qdigestState(evens, "v", 0.0, 65536.0, k)
      .localCheckpoint(true)
    val sb = Sketches.qdigestState(odds, "v", 0.0, 65536.0, k)
      .localCheckpoint(true)
    val ab = Sketches.qdigestMerge(Seq(sa, sb), k)
      .as[(Long, Long)].collect().toSeq.sorted
    val ba = Sketches.qdigestMerge(Seq(sb, sa), k)
      .as[(Long, Long)].collect().toSeq.sorted
    assert(ab === ba, "merge must not depend on argument order")
    val got = Sketches.qdigestQuantile(
        Sketches.qdigestMerge(Seq(sa, sb), k), 0.0, 65536.0, qs)
      .select("q_milli", "v_est").as[(Long, Double)].collect().toMap
    // merged sketch re-compresses pre-compressed halves: each level of
    // each compression stage defers < t, so 3 stages bound 3·L·t
    val t = math.max(n / k, 1)
    val bound = 3L * 16L * t
    qs.foreach { q =>
      val target = (q.toLong * n + 999) / 1000
      val rankOfEst = math.min(got(q.toLong).toLong, n.toLong)
      assert(rankOfEst >= target && rankOfEst <= target + bound,
        s"q=$q: merged est rank $rankOfEst vs target $target (bound $bound)")
    }
  }

  test("grouped sketch: each group answers from its OWN distribution; groups never mix") {
    val s = spark
    import s.implicits._
    // group a is 0..999, group b is 5000..5999 — disjoint ranges, so a
    // cross-group leak would be instantly visible in the answers
    val df = ((0 until 1000).map(i => ("a", i.toDouble)) ++
      (0 until 1000).map(i => ("b", 5000.0 + i))).toDF("g", "v")
    val st = Sketches.qdigestStateBy(df, "g", "v", 0.0, 65536.0, k = 1 << 20)
    val got = Sketches.qdigestQuantileBy(st, 0.0, 65536.0, Seq(500, 1000))
      .select("grp", "q_milli", "v_est").as[(String, Long, Double)]
      .collect().map { case (g, q, v) => (g, q) -> v }.toMap
    // uncompressed identity leaves: answer = exact value + 1 (upper edge)
    assert(got(("a", 500L)) == 500.0 && got(("a", 1000L)) == 1000.0)
    assert(got(("b", 500L)) == 5500.0 && got(("b", 1000L)) == 6000.0)
    // per-group merge: half-states recombine order-insensitively
    val h1 = Sketches.qdigestStateBy(df.filter($"v" % 2 === 0), "g", "v",
      0.0, 65536.0, 1024).localCheckpoint(true)
    val h2 = Sketches.qdigestStateBy(df.filter($"v" % 2 === 1), "g", "v",
      0.0, 65536.0, 1024).localCheckpoint(true)
    val ab = Sketches.qdigestMergeBy(Seq(h1, h2), 1024)
      .as[(String, Long, Long)].collect().toSeq.sorted
    val ba = Sketches.qdigestMergeBy(Seq(h2, h1), 1024)
      .as[(String, Long, Long)].collect().toSeq.sorted
    assert(ab === ba)
  }

  // Reference model: the level-by-level formulation, one chained
  // (grp, t, key) aggregate per level. Per level, a node at level l maps
  // to its parent id and every other node to itself, so each group
  // collects one decision's evidence (the ≤ 2 children and the parent's
  // own count); the children collapse into the parent when present and
  // children-sum + parent < t = max(n_g div k, 1).
  private def refCompress(nodes: DataFrame, k: Int): DataFrame = {
    val thr = nodes.groupBy("grp")
      .agg(greatest(expr(s"sum(cnt) div $k"), lit(1L)).as("t"))
    var cur = nodes.join(broadcast(thr), Seq("grp"))
    (16 to 1 by -1).foreach { l =>
      val lowId = 1L << l
      val highId = 1L << (l + 1)
      val key = when(col("id") >= lowId && col("id") < highId,
        expr("id div 2")).otherwise(col("id"))
      val childSum =
        "aggregate(filter(ns, n -> n.id != pid), 0L, (a, n) -> a + n.cnt)"
      val pCnt = "coalesce(filter(ns, n -> n.id = pid)[0].cnt, 0L)"
      val emit = expr(s"""
        CASE WHEN size(filter(ns, n -> n.id != pid)) > 0
              AND $childSum + $pCnt < t
             THEN array(named_struct('id', pid, 'cnt', $childSum + $pCnt))
             ELSE ns END""")
      cur = cur
        .groupBy(col("grp"), col("t"), key.as("pid"))
        .agg(collect_list(struct(col("id"), col("cnt"))).as("ns"))
        .select(col("grp"), col("t"), explode(emit).as("n"))
        .select(col("grp"), col("t"), col("n.id").as("id"),
          col("n.cnt").as("cnt"))
    }
    cur.select("grp", "id", "cnt")
  }

  private def refStateBy(df: DataFrame, grpCol: String, valCol: String,
                         lo: Double, hi: Double, k: Int): DataFrame = {
    val leaf = least(greatest(floor((col(valCol) - lo) * 65536 / (hi - lo)),
      lit(0.0)), lit(65535.0)).cast("long")
    refCompress(df.filter(col(valCol).isNotNull)
      .select(col(grpCol).as("grp"), (leaf + 65536L).as("id"))
      .groupBy("grp", "id").agg(count(lit(1)).as("cnt")), k)
  }

  private def refMergeBy(states: Seq[DataFrame], k: Int): DataFrame =
    refCompress(states.reduce(_ unionByName _)
      .groupBy("grp", "id").agg(sum(col("cnt")).as("cnt")), k)

  private def rows(state: DataFrame): Seq[(String, Long, Long)] =
    state.select("grp", "id", "cnt").as[(String, Long, Long)].collect().toSeq.sorted

  // Fixed-seed groups of 20,000 / 3,000 / 50 values over [0, 1000):
  // uniform spread, hot values (deep nodes), a tight cluster, values
  // clamped below lo and above hi, null values, and rows of a null group
  // (which yield no state in either formulation).
  private lazy val mixed: DataFrame = {
    val rnd = new scala.util.Random(20041103L)
    def draw(): Option[Double] = rnd.nextInt(20) match {
      case 0 => None
      case 1 => Some(-50.0 - rnd.nextInt(100))
      case 2 => Some(1000.0 + rnd.nextInt(100))
      case 3 | 4 | 5 => Some(Seq(7.0, 250.5, 999.99)(rnd.nextInt(3)))
      case 6 | 7 => Some(500.0 + rnd.nextGaussian() * 0.05)
      case _ => Some(rnd.nextDouble() * 1000.0)
    }
    val groups = Seq[(String, Int)](("a", 20000), ("b", 3000), ("c", 50), (null, 40))
    groups.flatMap { case (g, n) => Seq.fill(n)((g, draw())) }
      .toDF("g", "v").localCheckpoint(true)
  }

  test("one-pass compression equals the level-by-level formulation, row for row") {
    for (k <- Seq(2, 7, 64, 4096)) {
      val got = rows(Sketches.qdigestStateBy(mixed, "g", "v", 0.0, 1000.0, k))
      assert(got === rows(refStateBy(mixed, "g", "v", 0.0, 1000.0, k)),
        s"grouped state, k=$k")
      assert(got.map(_._1).distinct.sorted === Seq("a", "b", "c"))
      val one = mixed.filter(col("g") === "a")
      assert(rows(Sketches.qdigestState(one, "v", 0.0, 1000.0, k)
          .withColumn("grp", lit(""))) ===
        rows(refStateBy(one.withColumn("g", lit("")), "g", "v", 0.0, 1000.0, k)),
        s"single-group state, k=$k")
    }
  }

  test("merged states equal the level-by-level merge, in both orders") {
    for (k <- Seq(7, 64)) {
      val halves = Seq(0, 1).map { r =>
        Sketches.qdigestStateBy(
          mixed.filter(abs(hash(col("v"))) % 2 === r), "g", "v", 0.0, 1000.0, k)
      }
      val want = rows(refMergeBy(halves, k))
      assert(rows(Sketches.qdigestMergeBy(halves, k)) === want, s"k=$k")
      assert(rows(Sketches.qdigestMergeBy(halves.reverse, k)) === want, s"k=$k")
      assert(rows(refMergeBy(halves.reverse, k)) === want, s"k=$k")
      val single = halves.map(h => h.filter(col("grp") === "a").drop("grp"))
      assert(rows(Sketches.qdigestMerge(single, k).withColumn("grp", lit("a"))) ===
        want.filter(_._1 == "a"), s"single-group merge, k=$k")
    }
  }

  test("q-digest state plus quantiles stays within its job budget") {
    val df = (0 until 5000).map(i => (i * 7 % 1000).toDouble).toDF("v")
    val n = jobsOf {
      val st = Sketches.qdigestState(df, "v", 0.0, 1000.0, 64)
      Sketches.qdigestQuantile(st, 0.0, 1000.0, qs).collect()
      ()
    }
    info(s"qdigestState + qdigestQuantile: $n jobs")
    // a ceiling: the level-by-level formulation ran 25 jobs here
    assert(n <= 6, s"q-digest ran $n Spark jobs, budget 6")
  }

  test("validation: bad k, bad range, bad quantiles rejected") {
    val df = Seq(1.0).toDF("v")
    intercept[IllegalArgumentException](
      Sketches.qdigestState(df, "v", 0.0, 65536.0, k = 1))
    intercept[IllegalArgumentException](
      Sketches.qdigestState(df, "v", 5.0, 5.0, k = 64))
    val st = Sketches.qdigestState(df, "v", 0.0, 65536.0, k = 64)
    intercept[IllegalArgumentException](
      Sketches.qdigestQuantile(st, 0.0, 65536.0, Seq(0)))
    intercept[IllegalArgumentException](
      Sketches.qdigestQuantile(st, 0.0, 65536.0, Nil))
  }
}
