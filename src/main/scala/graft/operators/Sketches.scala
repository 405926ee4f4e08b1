package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.expr.{QdNode, QdigestAggregator}

/** Mergeable sketches for cardinality and frequency at 100 TB — the
  * sub-linear-state tier the exact operators (q17 distinct counts, q58
  * exact quantiles) escalate to when per-key exactness stops fitting.
  *
  * Both sketches here are ENGINE-PORTABLE by construction (the same
  * deliberate md5 discipline as the MinHash/SimHash operators): the hash
  * is the first 15 hex digits of md5 (60 bits — fits a signed long), bit
  * lengths come from `bin()` string lengths, and the HLL harmonic sum is
  * an INTEGER (Σ 2^(maxExp−rho) via shifts — a float sum of powers would
  * round order-dependently and break cross-engine equality). So even the
  * ESTIMATES hash-match a DuckDB oracle — unusual for sketches, and what
  * lets the driver verify them.
  */
object Sketches {

  /** 60-bit md5-derived hash of a key (15 hex digits → positive long). */
  private def h60(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("long")

  // ---------------------------------------------------------------- HLL

  /** HyperLogLog state over a key column: m = 2^b buckets, one row per
    * OCCUPIED bucket with the max rho (1 + leading zeros of the
    * (60−b)-bit hash suffix; all-zero suffix → 60−b+1). State is ≤ m
    * rows regardless of input size; map-side combining max.
    */
  def hllState(df: DataFrame, keyCol: String, b: Int): DataFrame = {
    require(b >= 4 && b <= 16, s"bucket bits b must be in [4, 16], got $b")
    val m = 1 << b
    val maxRho = 60 - b + 1
    df.select(h60(col(keyCol)).as("h"))
      .select((col("h") % m).as("bucket"), expr(s"h div $m").as("suffix"))
      .groupBy("bucket")
      .agg(max(when(col("suffix") === 0, lit(maxRho))
        .otherwise(lit(maxRho) - length(bin(col("suffix"))))).as("rho"))
  }

  /** Union of HLL states (bucket-wise max) — the distributed combine:
    * per-partition/per-day sketches merge into the global one without
    * touching raw data again.
    */
  def hllMerge(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "hllMerge needs at least one state")
    states.reduce(_ unionByName _).groupBy("bucket").agg(max(col("rho")).as("rho"))
  }

  /** Raw HLL estimate α_m·m²/Σ2^(−rho), computed over the EXACT integer
    * sum S = Σ 2^(maxExp−rho) (empty buckets contribute 2^maxExp):
    * (m_used, s, est_distinct). Raw estimator — valid for n ≳ 5/2·m;
    * below that, switch to linear counting on m_used (deliberately not
    * fused here: ln() is not correctly-rounded across engines).
    */
  def hllEstimate(state: DataFrame, b: Int): DataFrame = {
    val m = 1 << b
    val maxExp = 60 - b + 1
    // ((0.7213/(1+1.079/m))·m)·m — powers-of-two multiplies are exact,
    // so the only roundings are the two divisions, identical anywhere
    val alphaM2 = 0.7213 / (1 + 1.079 / m) * m * m
    state
      .agg(count(lit(1)).as("m_used"),
        sum(expr(s"shiftleft(cast(1 as bigint), $maxExp - rho)")).as("s_used"))
      .select(col("m_used"),
        (col("s_used") + (lit(m.toLong) - col("m_used")) * lit(1L << maxExp)).as("s"))
      .select(col("m_used"), col("s"),
        (lit(alphaM2) * lit((1L << maxExp).toDouble) / col("s")).as("est_distinct"))
  }

  /** Per-GROUP HyperLogLog state — "distinct keys per group" at corpus
    * scale (distinct users per day, distinct URLs per domain): one
    * [[hllState]] row-set per group key, ≤ |groups|·m rows total, still
    * one map-side-combining aggregate. Merge with [[hllMergeBy]];
    * estimate with [[hllEstimateBy]]. The group column travels as
    * `grp`.
    */
  def hllStateBy(df: DataFrame, grpCol: String, keyCol: String,
                 b: Int): DataFrame = {
    require(b >= 4 && b <= 16, s"bucket bits b must be in [4, 16], got $b")
    val m = 1 << b
    val maxRho = 60 - b + 1
    df.select(col(grpCol).as("grp"), h60(col(keyCol)).as("h"))
      .select(col("grp"), (col("h") % m).as("bucket"),
        expr(s"h div $m").as("suffix"))
      .groupBy("grp", "bucket")
      .agg(max(when(col("suffix") === 0, lit(maxRho))
        .otherwise(lit(maxRho) - length(bin(col("suffix"))))).as("rho"))
  }

  /** Union of per-group HLL states (group+bucket-wise max). */
  def hllMergeBy(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "hllMergeBy needs at least one state")
    states.reduce(_ unionByName _)
      .groupBy("grp", "bucket").agg(max(col("rho")).as("rho"))
  }

  /** Per-group raw HLL estimates — [[hllEstimate]]'s arithmetic, one
    * output row per group: (grp, m_used, s, est_distinct).
    */
  def hllEstimateBy(state: DataFrame, b: Int): DataFrame = {
    val m = 1 << b
    val maxExp = 60 - b + 1
    val alphaM2 = 0.7213 / (1 + 1.079 / m) * m * m
    state.groupBy("grp")
      .agg(count(lit(1)).as("m_used"),
        sum(expr(s"shiftleft(cast(1 as bigint), $maxExp - rho)")).as("s_used"))
      .select(col("grp"), col("m_used"),
        (col("s_used") + (lit(m.toLong) - col("m_used")) * lit(1L << maxExp)).as("s"))
      .select(col("grp"), col("m_used"), col("s"),
        (lit(alphaM2) * lit((1L << maxExp).toDouble) / col("s")).as("est_distinct"))
  }

  // --------------------------------------------------------- Count-min

  /** Count-min sketch state over a key column: d rows × w columns of
    * counters, counter (i, md5_i(key) mod w) incremented per input row.
    * One d-way explode + one map-side-combining count — state is ≤ d·w
    * cells regardless of input; merge = cell-wise sum (just union states
    * into [[cmsState]]'s aggregate shape and re-sum).
    */
  def cmsState(df: DataFrame, keyCol: String, d: Int, w: Int): DataFrame = {
    require(d >= 1 && w >= 2, s"need d >= 1 rows and w >= 2 columns, got ($d, $w)")
    val cells = (0 until d).map(i => struct(lit(i).as("r"),
      (conv(substring(md5(concat(lit(s"$i:"), col(keyCol).cast("string"))), 1, 15), 16, 10)
        .cast("long") % w).as("c")))
    df.select(explode(array(cells: _*)).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point frequency estimates for `keys`: min over the d counters —
    * an upper bound on the true count (≥, with overestimate probability
    * shrinking as (n_collisions/w)^d). The d·w-cell state broadcasts.
    */
  def cmsLookup(state: DataFrame, keys: DataFrame, keyCol: String,
                d: Int, w: Int): DataFrame = {
    val cells = (0 until d).map(i => struct(lit(i).as("r"),
      (conv(substring(md5(concat(lit(s"$i:"), col(keyCol).cast("string"))), 1, 15), 16, 10)
        .cast("long") % w).as("c")))
    keys.select(col(keyCol).as("key"), explode(array(cells: _*)).as("rc"))
      .select(col("key"), col("rc.r").as("r"), col("rc.c").as("c"))
      .join(broadcast(state), Seq("r", "c"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy("key").agg(min(col("cnt")).as("est"))
  }

  // -------------------------------------------------- Histogram sketch

  /** Fixed-range histogram sketch for quantiles — the bounded-state,
    * mergeable complement of the EXACT per-group order statistics
    * (q58): n equal-width buckets over [lo, hi), values clamped to the
    * edge buckets, one map-side-combining count per occupied bucket.
    * Error is bounded by one bucket width; state is ≤ n counters no
    * matter the input size; merge = bucket-wise sum. Every arithmetic
    * step is a single IEEE operation mirrored by the oracle, so the
    * sketch AND its quantile answers are engine-exact.
    */
  def histogramState(df: DataFrame, valCol: String, lo: Double, hi: Double,
                     n: Int): DataFrame = {
    require(n >= 1, s"bucket count must be >= 1, got $n")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val b = least(greatest(floor((col(valCol) - lo) * n / (hi - lo)), lit(0.0)),
      lit((n - 1).toDouble)).cast("long")
    df.filter(col(valCol).isNotNull)
      .select(b.as("bucket")).groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Merge histogram states (bucket-wise sum). */
  def histogramMerge(states: Seq[DataFrame]): DataFrame = {
    require(states.nonEmpty, "histogramMerge needs at least one state")
    states.reduce(_ unionByName _).groupBy("bucket").agg(sum(col("cnt")).as("cnt"))
  }

  /** Quantile answers from the cumulative histogram: for each p, the
    * LOWER EDGE of the first bucket whose cumulative count reaches
    * ⌈p·N⌉ — i.e. the true quantile rounded down to a bucket boundary.
    * The cumulative window runs over ≤ n state rows (bounded by the
    * sketch size, not the data).
    */
  def histogramQuantile(state: DataFrame, lo: Double, hi: Double, n: Int,
                        ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p <= 1),
      s"quantiles must lie in (0, 1], got $ps")
    val w = org.apache.spark.sql.expressions.Window.orderBy("bucket")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = state.agg(sum(col("cnt")).as("n_rows"))
    val cum = state.withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(tot))
    ps.map { p =>
      cum.filter(col("cum") >= ceil(lit(p) * col("n_rows")))
        .agg(min(col("bucket")).as("bucket"))
        .select(lit(p).as("p"), col("bucket"),
          (lit(lo) + col("bucket") * lit(hi - lo) / n).as("edge"))
    }.reduce(_ unionByName _)
  }

  // -------------------------------------------------- q-digest sketch

  /** Q-DIGEST quantile sketch (Shrivastava et al., SenSys 2004) — the
    * RANK-SPACE tier of the quantile ladder: [[Profiler.quantiles]] is
    * exact, [[histogramState]] bounds error in VALUE space (one bucket
    * width — useless under skew), the q-digest bounds error in RANK
    * space (≤ L·n/k with L=16 tree levels), so a hot value simply earns
    * a deep node. Chosen over KLL/t-digest deliberately: their
    * randomized, merge-order-sensitive compactions cannot be replayed
    * engine-exactly, while the q-digest's state is pure ADDITIVE counts
    * on a fixed dyadic tree with a deterministic bottom-up compression —
    * order-insensitive, mergeable, and the oracle replays every level.
    *
    * Universe: values clamp into 2^16 leaves over [lo, hi) (the
    * [[histogramState]] edge-clamp convention); tree nodes are
    * heap-numbered (root 1, leaves 2^16+leaf). Compression (canonical
    * rule, bottom-up level by level): a parent whose children-sum plus
    * own count stays BELOW t = max(n/k, 1) absorbs its children. State
    * size is O(k·L) regardless of input size.
    *
    * Scale shape: one corpus scan and ONE aggregation exchange. Each
    * group's rows fold into an id → count map ([[graft.expr.QdigestAggregator]],
    * summed map-side), so one group's state is bounded by the tree's
    * 2^17 − 1 nodes whatever the input size, and the whole 16-level
    * compression runs as a loop over that map inside the group's task;
    * different groups still run in different tasks. The output is
    * staged once. Merge = the same fold over the states' rows (node-wise
    * count sum) + recompress at the merged n — no raw data touched.
    */
  def qdigestState(df: DataFrame, valCol: String, lo: Double, hi: Double,
                   k: Int): DataFrame =
    qdigestStateBy(df.withColumn("__g", lit("")), "__g", valCol, lo, hi, k)
      .drop("grp")

  /** Per-GROUP q-digest state — one sketch per group key (the
    * ANALYZE-per-partition shape: per-day / per-language quantiles at
    * corpus scale). State ≤ |groups|·O(k·L) rows; each group compresses
    * at its own threshold max(n_g div k, 1) in its own fold, and nothing
    * is collected to the driver. The group column travels as `grp`.
    * Rows whose group key is null yield NO state (unlike a plain
    * `groupBy`, which keeps a null group): they get no sketch and no
    * quantile. The q202 oracle drops them the same way (its threshold
    * join never matches a null group).
    */
  def qdigestStateBy(df: DataFrame, grpCol: String, valCol: String,
                     lo: Double, hi: Double, k: Int): DataFrame = {
    require(k >= 2, s"compression factor k must be >= 2, got $k")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val leaf = least(greatest(floor((col(valCol) - lo) * 65536 / (hi - lo)),
      lit(0.0)), lit(65535.0)).cast("long")
    qdigestCompress(df.filter(col(valCol).isNotNull)
      .select(col(grpCol).as("grp"), (leaf + 65536L).as("id"), lit(1L).as("cnt")), k)
  }

  /** Merge q-digest states (additive counts) and recompress at the
    * merged total — the distributed/streaming combine step. Merging is
    * commutative by construction: the recompression sees only the
    * summed count map, never the merge order.
    */
  def qdigestMerge(states: Seq[DataFrame], k: Int): DataFrame = {
    require(states.nonEmpty, "qdigestMerge needs at least one state")
    qdigestCompress(
      states.map(_.withColumn("grp", lit(""))).reduce(_ unionByName _), k)
      .drop("grp")
  }

  /** Merge per-group q-digest states (group+node-wise sum + recompress).
    * State rows whose `grp` is null yield no merged state, as in
    * [[qdigestStateBy]].
    */
  def qdigestMergeBy(states: Seq[DataFrame], k: Int): DataFrame = {
    require(states.nonEmpty, "qdigestMergeBy needs at least one state")
    qdigestCompress(states.reduce(_ unionByName _), k)
  }

  private def qdigestCompress(nodes: DataFrame, k: Int): DataFrame = {
    // one aggregation exchange: each group's id → count map folds in one
    // task (≤ 2^17 − 1 nodes), and its finish runs all 16 levels
    val fold = udaf(new QdigestAggregator(k), Encoders.product[QdNode])
    val out = nodes.filter(col("grp").isNotNull)
      .groupBy(col("grp")).agg(fold(col("id"), col("cnt")).as("ns"))
      .select(col("grp"), explode(col("ns")).as("n"))
      .select(col("grp"), col("n.id").as("id"), col("n.cnt").as("cnt"))
    // staged once: qdigestQuantile reads the state twice
    Staging.stage(out, "qd_out").df
  }

  /** Quantile answers from a q-digest: nodes sort by their EXCLUSIVE
    * upper leaf bound (ties: deeper node first), the cumulative count
    * runs over the SKETCH rows only (≤ O(k·L)), and q‰ answers with the
    * first node whose cumulative reaches ⌈q·n/1000⌉ — est = the node's
    * upper value edge. True rank of the answer is within L·n/k below
    * the target (compression moves counts only UP the tree, never
    * right), the bound `QdigestSpec` checks against the exact
    * [[Profiler.quantiles]].
    */
  def qdigestQuantile(state: DataFrame, lo: Double, hi: Double,
                      qMilli: Seq[Int]): DataFrame = {
    require(qMilli.nonEmpty && qMilli.forall(q => q >= 1 && q <= 1000),
      s"quantiles must be in [1,1000] milli, got $qMilli")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val lvl = (length(expr("bin(id)")) - 1).cast("long")
    // exclusive upper leaf bound: (id+1) · 2^(16−level) − 2^16, with
    // 2^level from the binary-rendering length (exact in both engines)
    val ub = expr("(id + 1) * (65536 div CAST(pow(2.0D, " +
      "CAST(length(bin(id)) - 1 AS DOUBLE)) AS BIGINT)) - 65536")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ub"), col("lvl").desc, col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = state.agg(sum(col("cnt")).as("n_rows"))
    val cum = state.select(col("id"), col("cnt"), lvl.as("lvl"), ub.as("ub"))
      .withColumn("cum", sum(col("cnt")).over(w))
      .crossJoin(broadcast(tot))
    cum.select(col("ub"), col("cum"), col("n_rows"),
        explode(array(qMilli.map(q => lit(q.toLong)): _*)).as("q_milli"))
      .filter(col("cum") * 1000 >= col("q_milli") * col("n_rows"))
      .groupBy(col("q_milli")).agg(min(col("ub")).as("ub"))
      .select(col("q_milli"), col("ub"),
        (lit(lo) + col("ub").cast("double") * (hi - lo) / 65536).as("v_est"))
  }

  /** Per-group quantile answers from a [[qdigestStateBy]] state — the
    * [[qdigestQuantile]] extraction with every window PARTITIONED by
    * `grp` (each partition is one group's O(k·L)-row sketch, so the
    * cumulative never concentrates more than a sketch in one task).
    * Output (grp, q_milli, ub, v_est).
    */
  def qdigestQuantileBy(state: DataFrame, lo: Double, hi: Double,
                        qMilli: Seq[Int]): DataFrame = {
    require(qMilli.nonEmpty && qMilli.forall(q => q >= 1 && q <= 1000),
      s"quantiles must be in [1,1000] milli, got $qMilli")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val lvl = (length(expr("bin(id)")) - 1).cast("long")
    val ub = expr("(id + 1) * (65536 div CAST(pow(2.0D, " +
      "CAST(length(bin(id)) - 1 AS DOUBLE)) AS BIGINT)) - 65536")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("grp")
      .orderBy(col("ub"), col("lvl").desc, col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tot = state.groupBy("grp").agg(sum(col("cnt")).as("n_rows"))
    val cum = state.select(col("grp"), col("id"), col("cnt"),
        lvl.as("lvl"), ub.as("ub"))
      .withColumn("cum", sum(col("cnt")).over(w))
      .join(broadcast(tot), Seq("grp"))
    cum.select(col("grp"), col("ub"), col("cum"), col("n_rows"),
        explode(array(qMilli.map(q => lit(q.toLong)): _*)).as("q_milli"))
      .filter(col("cum") * 1000 >= col("q_milli") * col("n_rows"))
      .groupBy(col("grp"), col("q_milli")).agg(min(col("ub")).as("ub"))
      .select(col("grp"), col("q_milli"), col("ub"),
        (lit(lo) + col("ub").cast("double") * (hi - lo) / 65536).as("v_est"))
  }

  /** HEAVY HITTERS via the sketch→exact ESCALATION (the two-pass
    * pattern that makes exact heavy-key detection affordable when the
    * key space is huge but heavy keys are few): pass 1 builds the
    * count-min state; pass 2 screens each ROW by its key's CMS
    * estimate (d broadcast map-side lookups + `least` — no shuffle)
    * and only surviving rows reach the exact count, which then drops
    * the sketch's false positives. CMS never underestimates, so no
    * true heavy key is lost — the output is EXACT, but the exact
    * aggregation shuffles only candidate-key rows, not the key space.
    * Output (key, est, exact), both ≥ minCount.
    */
  def heavyHitters(df: DataFrame, keyCol: String, d: Int, w: Int,
                   minCount: Long): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val st = cmsState(df, keyCol, d, w)
    var cur = df.select(col(keyCol))
    val ests = (0 until d).map { i =>
      val sti = broadcast(st.filter(col("r") === i)
        .select(col("c").as(s"__c$i"), col("cnt").as(s"__cnt$i")))
      cur = cur.withColumn(s"__c$i",
        conv(substring(md5(concat(lit(s"$i:"), col(keyCol).cast("string"))), 1, 15), 16, 10)
          .cast("long") % w)
        .join(sti, Seq(s"__c$i"), "left")
      coalesce(col(s"__cnt$i"), lit(0L))
    }
    cur.withColumn("est", least(ests: _*))
      .filter(col("est") >= minCount)
      .groupBy(col(keyCol))
      .agg(min(col("est")).as("est"), count(lit(1)).as("exact"))
      .filter(col("exact") >= minCount)
  }

  // ------------------------------------------------- Cross-corpus overlap

  /** CROSS-CORPUS OVERLAP estimation via HLL inclusion–exclusion:
    * |A∩B| ≈ est(A) + est(B) − est(A∪B), where the union estimate comes
    * from [[hllMerge]] (bucket-wise max — identical to sketching the
    * concatenated input, which is what the oracle replays).
    *
    * This is the cheap pre-flight before any cross-corpus dedup or
    * decontamination run: two corpus scans, 2·2^b rows of state, ZERO
    * joins between the corpora — at 100 TB each side sketches where it
    * lives (even in different jobs / days; states are mergeable rows)
    * and the overlap decision costs a broadcast of ≤ m rows. A near-zero
    * intersection estimate means the expensive MinHash/exact cross-join
    * passes (q70/q124/q128) can be skipped entirely.
    *
    * One result row: per-side occupied buckets + estimates, the union
    * estimate, and the inclusion–exclusion intersection estimate. Every
    * number derives from exact integer state (the [[hllEstimate]]
    * discipline), so the estimates hash-match the oracle. The
    * intersection estimator inherits the raw-HLL error of all three
    * terms — it can go slightly negative for disjoint inputs; callers
    * clamp at 0 (kept unclamped here so the estimator's true output is
    * what gets verified).
    */
  def hllIntersect(a: DataFrame, b: DataFrame, keyCol: String, bits: Int): DataFrame = {
    def est(df: DataFrame, p: String): DataFrame =
      hllEstimate(df, bits).select(
        col("m_used").as(s"m_$p"), col("est_distinct").as(s"est_$p"))
    // each state feeds BOTH its own estimate and the merge — staged so
    // every corpus is scanned exactly once (each state is ≤ 2^b rows)
    val sa = Staging.stage(hllState(a, keyCol, bits), "hll_a")
    val sb = Staging.stage(hllState(b, keyCol, bits), "hll_b")
    val out = Staging.stage(
      est(sa.df, "a")
        .crossJoin(broadcast(est(sb.df, "b")))
        .crossJoin(broadcast(est(hllMerge(Seq(sa.df, sb.df)), "union")))
        .withColumn("est_intersect",
          col("est_a") + col("est_b") - col("est_union")),
      "hll_out")
    Seq(sa, sb).foreach(_.delete())
    out.df
  }
}
