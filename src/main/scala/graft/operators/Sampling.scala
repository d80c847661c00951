package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextKernels

/** Deterministic corpus sampling for training-data mixing (public
  * technique: temperature-based multinomial source re-weighting as used in
  * multilingual/ multi-corpus pretraining recipes; the α=0.5 "square-root
  * flattening" is the common default).
  *
  * Everything here is reproducible by construction: quotas come from pure
  * INTEGER arithmetic (floor-sqrt weights, integer division) and the
  * per-source admission order comes from an avalanched 64-bit hash of the
  * id — so the exact sampled set replays bit-identically in any engine,
  * which is what lets the driver hash-gate it (float `pow` sums are
  * summation-order-dependent and would flip floor() boundaries).
  */
object Sampling {

  /** splitmix64 finalizer over a long id: the admission shuffle. A UDF (JVM
    * wrap-around arithmetic; Spark 4's ANSI mode would reject the overflow
    * in pure SQL), one scalar per row, applied once pre-shuffle. */
  private val mixUdf = udf { (x: Long) => TextKernels.mix64(x) }

  /** Weight functions keeping quota math integer-exact across engines. */
  private def weightCol(n: Column, weight: String): Column = weight match {
    case "sqrt"    => floor(sqrt(n.cast("double"))).cast("long") // α = 0.5
    case "uniform" => lit(1L)                                    // α = 0
    case "prop"    => n.cast("long")                             // α = 1
    case other => throw new IllegalArgumentException(
      s"weight must be sqrt|uniform|prop, got $other (arbitrary α needs a " +
        "rational-exponent integer scheme to stay engine-portable)")
  }

  /** Deterministic corpus shuffle + shard assignment — the last step before
    * training ingest: a global random-looking order that is a pure function
    * of the ids (epoch-reproducible, resume-safe) with rows dealt into
    * `numShards` shards. Each `epoch` reshuffles deterministically by
    * stepping the id stream with the golden-gamma constant SplittableRandom
    * uses between streams. shard = mix64(id + epoch·γ) mod numShards
    * (non-negative),
    * ord = dense 0-based position within the shard in (mix64(id), id)
    * order. Training shards are conventionally a power of two — that also
    * keeps the modulus replayable in unsigned-only engines (the DuckDB
    * oracle's UHUGEINT mod equals Spark's signed pmod exactly when
    * numShards divides 2^64).
    *
    * 100 TB shape: the hash is one scalar per row; the only shuffle is the
    * per-shard window (= the partitioned write the shards feed anyway).
    * No global sort: ordering is per-shard, which is what a sharded reader
    * consumes — shards interleave sources because the hash, not the input
    * layout, decides membership. */
  def shuffleShards(df: DataFrame, idCol: String, numShards: Int,
                    epoch: Long = 0L): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    val mixed = df.withColumn("_mx_",
      mixUdf(checkedId(df, "shuffleShards", idCol) +
        lit(epoch * 0x9e3779b97f4a7c15L)))
      .withColumn("shard", pmod(col("_mx_"), lit(numShards.toLong)).cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(col("_mx_"), col(idCol))
    mixed.withColumn("ord", (row_number().over(w) - 1).cast("long"))
      .drop("_mx_")
  }

  /** Guarded id cast for every admission/shard hash in this object: a
    * NULL (or long-uncastable) id hashes to NULL, and a NULL hash is
    * never neutral — in the `hashSample` family the admission predicate
    * goes NULL and the row lands in NEITHER the holdout NOR its
    * complement (breaking the documented "complement of a holdout is
    * exactly the training set" invariant); in the window-admission
    * family (`groupSample`/`weightedPrioritySample`/`temperatureMix`) a
    * NULL hash sorts FIRST ascending, so dirty rows silently WIN
    * admission ahead of every real row; in [[shuffleShards]] the row
    * lands in shard NULL. Fail by name instead (round 18 — the same
    * defect class as the weight guard below). */
  private def checkedId(df: DataFrame, op: String, idCol: String) =
    Guards.longIdOrRaise(df, idCol, op)

  private def idHash(df: DataFrame, idCol: String, seed: Long) =
    shiftrightunsigned(mixUdf(checkedId(df, "hashSample", idCol) +
      lit(seed * 0x9e3779b97f4a7c15L)), 1)

  /** Deterministic Bernoulli sample by id hash — the stable eval-holdout
    * recipe: keep a row iff `(mix64(id + seed·γ) >>> 1) < floor(fraction ·
    * 2⁶³)`. Membership is a pure function of (id, seed): stable across
    * runs, engines, cluster sizes, and data growth (a doc sampled today is
    * still sampled after the corpus doubles — what keeps an eval set from
    * leaking into training as ingest continues). Different seeds give
    * independent draws; the complement of a holdout is exactly the
    * training set. Shuffle-free, one scalar hash per row; `fraction` in
    * [0, 1) (1.0 would need the 2⁶³ threshold a signed long can't hold —
    * callers wanting everything skip the filter). */
  def hashSample(df: DataFrame, idCol: String, fraction: Double,
                 seed: Long = 0L): DataFrame = {
    require(fraction >= 0.0 && fraction < 1.0, "fraction in [0, 1)")
    val thr = (fraction * 9223372036854775808.0).toLong
    df.where(idHash(df, idCol, seed) < lit(thr))
  }

  /** Stratified [[hashSample]]: a per-group keep fraction (downsample web
    * crawl, keep all of curated code, drop a poisoned source outright —
    * the per-source rate card every mixing recipe starts from). Same
    * single-hash admission as `hashSample`, so strata draws are mutually
    * consistent: the group rates only move the threshold, meaning a row
    * kept at 0.25 is also kept at 0.5 (nested samples — rate changes
    * between runs reuse, not reshuffle, the corpus). The rate card
    * compiles to a chained-`when` Column (groups are few by definition) —
    * no join, shuffle-free, codegen'd. `default` applies to groups not in
    * the map. */
  def stratifiedHashSample(df: DataFrame, idCol: String, groupCol: String,
                           fractions: Map[String, Double],
                           default: Double = 0.0,
                           seed: Long = 0L): DataFrame = {
    (fractions.values ++ Seq(default)).foreach(f =>
      require(f >= 0.0 && f < 1.0, s"fractions in [0, 1), got $f"))
    def thr(f: Double): Long = (f * 9223372036854775808.0).toLong
    val thrCol = fractions.toSeq.sortBy(_._1).foldLeft(lit(thr(default))) {
      case (acc, (g, f)) =>
        when(col(groupCol) === lit(g), lit(thr(f))).otherwise(acc)
    }
    df.where(idHash(df, idCol, seed) < thrCol)
  }

  /** Exact-k WEIGHTED sample without replacement per group — the
    * quality-weighted subset maker (keep k docs per source, favoring high
    * scores without going deterministic-top-k): each row draws an integer
    * priority `(mix64(id) >>> 1) div w` and the k SMALLEST priorities per
    * group win. A row with weight 2w beats a fixed competitor twice as
    * often (its priority halves), the draw is a pure function of
    * (id, weight) — stable across runs, engines, partitionings — and the
    * arithmetic is integer end to end, so a SQL oracle replays the
    * selected set exactly (the classic exponential-key A-ES scheme needs
    * `ln(u)/w` floats, which never replay bit-identically; this integer
    * priority keeps the same dominance structure). Weights must be ≥ 1 —
    * ENFORCED in-plan: any row with weight < 1 fails the job (a 0/negative
    * weight would otherwise yield a NULL/negative priority that silently
    * always wins the ascending admission window).
    *
    * One window per group, WindowGroupLimit → per-partition top-k, same
    * scale shape as [[groupSample]]. Output = winning rows + `priority`. */
  def weightedPrioritySample(df: DataFrame, idCol: String, groupCol: String,
                             weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // Enforce the weight contract IN-PLAN: with ANSI off, `_h_ div 0`
    // yields NULL, which sorts FIRST ascending — a zero/negative-weight
    // row would otherwise be silently always-selected. NULL and
    // fractional weights fail too (cast("long") would silently floor
    // 1.9 → 1, skewing the documented proportional dominance), and the
    // message coalesces the value so a NULL weight still reports itself
    // instead of null-propagating raise_error into a message-less error.
    // Integrality needs BOTH round-trips: the double compare catches
    // fractional parts below 2^53 but collapses wide decimals (a
    // DECIMAL(38,2) like 2^53 + 0.50 rounds to the same double as its
    // floor); the decimal(38,18) compare catches those but rounds away
    // sub-1e-18 fractions a double still sees. Residual blind spot:
    // scale>18 decimals with |fraction| < 5e-19 — quantize upstream.
    val wLong = col(weightCol).cast("long")
    val wChecked = when(
        wLong >= 1L &&
          col(weightCol).cast("double") === wLong.cast("double") &&
          col(weightCol).cast("decimal(38,18)") ===
            wLong.cast("decimal(38,18)"),
        wLong)
      .otherwise(raise_error(concat(
        lit(s"weightedPrioritySample: $weightCol must be an integer >= 1, got "),
        coalesce(col(weightCol).cast("string"), lit("NULL")))))
    val admit = Window.partitionBy(groupCol)
      .orderBy(col("priority"), col(idCol))
    df.withColumn("_h_",
        shiftrightunsigned(mixUdf(
          checkedId(df, "weightedPrioritySample", idCol)), 1))
      .withColumn("_w_", wChecked)
      .withColumn("priority", expr("_h_ div _w_"))
      .withColumn("_rk_", row_number().over(admit))
      .where(col("_rk_") <= k)
      .select((df.columns.map(col) :+ col("priority")): _*)
  }

  /** Exact-k uniform sample per group: each group's first `k` rows in
    * `(mix64(id), id)` admission order — the per-domain eval-subset /
    * debugging-slice maker. The sampled set is a PURE FUNCTION of the
    * data (no RNG state): stable under retries, partitioning, engines —
    * the [[temperatureMix]] admission specialized to a fixed quota. One
    * window per group; WindowGroupLimit turns the rank filter into
    * per-partition top-k, so only ~k rows per group per partition sort. */
  def groupSample(df: DataFrame, idCol: String, groupCol: String,
                  k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val admit = Window.partitionBy(groupCol)
      .orderBy(mixUdf(checkedId(df, "groupSample", idCol)), col(idCol))
    df.withColumn("_rk_", row_number().over(admit))
      .where(col("_rk_") <= k)
      .select(df.columns.map(col): _*)
  }

  /** Sample ~`targetSize` rows with per-group quotas ∝ weight(group size),
    * capped at the group's size; within a group, rows are admitted in
    * `(mix64(id), id)` order, so the sampled SET is a pure function of the
    * data. Output = the sampled rows (original columns).
    *
    * Scale: one count aggregate (tiny result, broadcast back), one
    * window-ranked pass partitioned by group. A group far larger than one
    * task's comfort is handled the same way as [[graft.queries.
    * PipelineQueries]] pp01's budget admission: pre-aggregate per shard,
    * allocate per-shard quotas from the group quota, then rank
    * shard-locally — the policy composes because the hash order is global
    * and stable. */
  def temperatureMix(df: DataFrame, idCol: String, groupCol: String,
                     targetSize: Long, weight: String = "sqrt"): DataFrame = {
    val counts = df.groupBy(groupCol).agg(count(lit(1)).as("_n_"))
    val weighted = counts.withColumn("_wt_", weightCol(col("_n_"), weight))
    val tot = weighted.agg(sum(col("_wt_")).as("_tw_"))
    val quotas = weighted.crossJoin(F.broadcast(tot))
      // quota product in DECIMAL(38,0): for weight="prop" _wt_ is the
      // group ROW COUNT, so targetSize * _wt_ blows past a signed 64-bit
      // at 100x scale (1e9 target x 2e11-row group = 2e20) and the plain
      // multiply would WRAP silently (ANSI off), emptying or mis-sizing
      // the largest groups; the quotient is <= targetSize, so the cast
      // back to BIGINT is always exact
      .withColumn("_quota_",
        least(col("_n_"), expr(
          s"cast((cast($targetSize as decimal(38,0)) * _wt_) div _tw_ " +
            "as bigint)")))
      .select(col(groupCol), col("_quota_"))
    val admit = Window.partitionBy(groupCol)
      .orderBy(mixUdf(checkedId(df, "temperatureMix", idCol)), col(idCol))
    df.join(F.broadcast(quotas), Seq(groupCol))
      .withColumn("_rk_", row_number().over(admit))
      .where(col("_rk_") <= col("_quota_"))
      .select(df.columns.map(col): _*)
  }

  /** Multi-epoch annealing schedule (the curriculum/data-annealing
    * pattern, public: train most of the run on the broad mix, shift the
    * final epochs toward the high-quality subset). Each epoch admits
    * rows per group under its OWN token budget, cumulative in `idCol`
    * order — the cumulative sums are computed ONCE (one window) and
    * every epoch's admission is a filter against its broadcast budget
    * row, so adding epochs adds no shuffles. Budgets are integers and
    * admission is a pure function of the data → engine-exact.
    * `idCol` must be NUMERIC (enforced by name in the sharded prefix
    * sum — string/uuid ids would silently mis-accumulate across groups);
    * rank-encode string ids before calling.
    * Output: one row per (epoch, admitted doc). */
  def annealingSchedule(df: DataFrame, idCol: String, groupCol: String,
                        weightCol: String,
                        epochBudgets: Seq[(Int, Map[String, Long])]): DataFrame = {
    require(epochBudgets.nonEmpty, "need at least one epoch")
    val spark = df.sparkSession
    val budgets = spark.createDataFrame(
      epochBudgets.flatMap { case (e, m) => m.map { case (g, b) => (e, g, b) } })
      .toDF("epoch", groupCol, "_budget_")
    // per-group running sum via the two-phase sharded prefix sum: the
    // group is a corpus SOURCE (few distinct values), so a plain
    // partitionBy(group) window funnels ~corpus/sources rows through ONE
    // sort task each — fatal at 100x; runningTotalSharded keeps every
    // sort partition-local with identical output
    df.transform(d => graft.operators.Packing.runningTotalSharded(
        d, idCol, weightCol, "_cum_", groupCols = Seq(groupCol)))
      .join(F.broadcast(budgets), Seq(groupCol))
      .where(col("_cum_") <= col("_budget_"))
      .select(col("epoch"), col(groupCol), col(idCol), col(weightCol),
        col("_cum_").as("cum_weight"))
  }

  /** Per-domain quota cap (the RefinedWeb/C4 anti-monoculture stage,
    * public recipe): within each domain keep at most `cap` documents,
    * best-quality first — a handful of mega-domains must not dominate
    * the corpus. Rows are RETAINED with (domain_rank, keep) rather than
    * filtered, so curation runs can audit exactly what a cap dropped.
    *
    * Scale: one domain-keyed window. A pathological domain (the
    * crawl-scale worst case is ~1e8 pages of one host) makes that
    * domain's task wide; the standard fix composes here — per-shard
    * top-`cap` first (any partitioning), then the global window over the
    * ≤ shards·cap survivors — because top-cap-of-top-caps = top-cap. */
  def perDomainCap(df: DataFrame, domainCol: String, qualityCol: String,
                   idCol: String, cap: Int): DataFrame = {
    require(cap > 0, "cap must be positive")
    // NaN sorts GREATER than every double in Spark, so NaN-quality rows
    // (a scorer's 0/0 failure mode) would rank FIRST and fill the cap
    // ahead of every real document — reject non-finite scores by name
    // (NULLs stay allowed: desc puts them last, the sensible default)
    val qchecked = graft.operators.Guards.finiteOrRaise(
      col(qualityCol), col(qualityCol),
      graft.operators.Guards.nonFiniteMsg("perDomainCap", "quality score",
        col(qualityCol)))
    val w = Window.partitionBy(domainCol)
      .orderBy(qchecked.desc, col(idCol))
    df.withColumn("domain_rank", row_number().over(w))
      .withColumn("keep", col("domain_rank") <= cap)
  }
}
