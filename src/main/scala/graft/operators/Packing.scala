package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence preparation for LLM training: split long documents into
  * token-window chunks, and pack a token stream into fixed-length training
  * sequences. Both are deterministic array/window programs — no UDFs — so
  * they replay exactly in a SQL oracle.
  */
object Packing {

  /** Overflow-safe contiguous shard assignment over the measured id span
    * [lo, hi]: the ceil-width and the per-row `(id - lo) div width` are
    * computed in BigInt / DECIMAL(38,0), because for a value domain
    * spanning more than 2^63 (hash-like ids, sentinel-extreme longs) the
    * naive LONG `hi - lo` and `id - lo` both wrap silently and assign
    * wrong shards. The id is TRUNCATED to bigint first — the same cast
    * the bounds probe uses — so every truncated id lands in [lo, hi] and
    * the quotient in [0, numShards): a direct double→decimal cast would
    * ROUND (HALF_UP), letting a fractional id above hi+0.5 shard to
    * exactly numShards and collide with the reserved nulls shard. The
    * bigint→decimal(38,0) subtraction after truncation stays exact and
    * wrap-free. */
  private def shardExpr(idCol: String, lo: Long, hi: Long,
                        numShards: Int): org.apache.spark.sql.Column = {
    val width: BigInt = ((BigInt(hi) - BigInt(lo)) / numShards + 1).max(1)
    expr(s"cast((cast(cast($idCol as bigint) as decimal(38,0)) - " +
      s"cast('$lo' as decimal(38,0)))" +
      s" div cast('$width' as decimal(38,0)) as bigint)")
  }

  /** Sharded prefix operators REQUIRE a numeric (or timestamp) id: shard
    * assignment casts the id to bigint, so a string/uuid id would null
    * the bounds probe (silently degrading the plan), and a NUMERIC-STRING
    * id is worse — it shards by the numeric cast but window-orders
    * LEXICOGRAPHICALLY ("10" < "9"), so the stitched prefix silently
    * diverges from both the numeric and the lexicographic total order.
    * Timestamps are safe: cast-to-bigint (epoch seconds) is MONOTONE with
    * timestamp ordering, so second-truncation only merges adjacent ids
    * into one shard — never reorders across shards. Fail by name
    * otherwise; callers with string ids rank-encode first.
    *
    * Returns the id's guarded form: floating ids additionally get the
    * in-plan non-finite rejection HERE (the defense belongs at this
    * altitude — cast(NaN as bigint) = 0 silently corrupts the bounds
    * probe and shard assignment for EVERY float-keyed caller, not just
    * the ones that remembered to pre-guard). */
  private def numericIdGuarded(df: DataFrame, idCol: String,
                               op: String): DataFrame = {
    val idType = df.select(col(idCol)).schema.head.dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        idType == org.apache.spark.sql.types.TimestampType,
      s"$op: idCol '$idCol' must be numeric or timestamp, got " +
        s"${idType.simpleString} — shard assignment casts ids to bigint, " +
        "so a non-numeric id either nulls the bounds probe or shards " +
        "numerically while ordering lexicographically (silent " +
        "divergence); rank-encode the id first")
    idType match {
      case org.apache.spark.sql.types.DoubleType |
           org.apache.spark.sql.types.FloatType =>
        df.withColumn(idCol, Guards.finiteOrRaise(col(idCol), col(idCol),
          Guards.nonFiniteMsg(op, s"ordering id $idCol", col(idCol))))
      case _ => df
    }
  }

  /** Lazy local checkpoint guarding a sharded operator's eager bounds
    * probe from re-executing an expensive upstream (the probe + main pass
    * — and ntile's total count — would otherwise each run it). Pure
    * caching, no semantics: PlanGuardSpec sets the system property to
    * bypass it so the FULL logical plan stays visible to the CI plan
    * guard (a localCheckpoint truncates lineage into an opaque
    * LogicalRDD, which would carve the upstream out of the audit). */
  def probeCache(df: DataFrame): DataFrame =
    if (sys.props.get("graft.test.noProbeCache").contains("1")) df
    else Materialize.lazyRound(df)

  /** Split each document into chunks of `chunkTokens` whitespace tokens,
    * consecutive chunks overlapping by `overlap` tokens (the sliding-window
    * context-preservation trick). Output: one row per chunk with
    * `chunk_index` (0-based) and `chunk_text`; a document shorter than one
    * chunk yields exactly its own text. Pure per-row explode — shuffle-free,
    * linear at any corpus size. */
  def chunkDocuments(df: DataFrame, textCol: String, idCol: String,
                     chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0 && overlap >= 0 && overlap < chunkTokens,
      s"need 0 <= overlap < chunkTokens, got overlap=$overlap chunk=$chunkTokens")
    val stride = chunkTokens - overlap
    df.select(col(idCol), split(col(textCol), " ").as("_w_"))
      // chunk starts: 1, 1+stride, ... while start <= len (so a final
      // partial window is kept); integer ceil-div keeps the count
      // bit-portable to any SQL engine (no float rounding at boundaries)
      .withColumn("_nc_", greatest(lit(1),
        expr(s"(size(_w_) - $overlap + ${stride - 1}) div $stride").cast("int")))
      .select(col(idCol), col("_w_"),
        explode(expr(s"sequence(0, _nc_ - 1)")).as("chunk_index"))
      .select(col(idCol), col("chunk_index"),
        expr(s"array_join(slice(_w_, chunk_index * $stride + 1, $chunkTokens), ' ')")
          .as("chunk_text"))
  }

  /** Pack a token-counted stream into fixed-`seqLen` training sequences by
    * the concat-and-chunk rule: documents are laid end to end in `idCol`
    * order and the token stream is cut every `seqLen` tokens; a document's
    * `seq_id` is the sequence its FIRST token lands in. Output adds
    * `seq_id` and `seq_offset` (the document's start position within its
    * sequence).
    *
    * Scale: the running sum is a single global window — one sequential
    * pass, fine up to one task's comfort. [[packSequencesSharded]] is the
    * 100 TB form: identical output, parallel across shards. Since round
    * 17 the lane is self-defending: an eager row-count probe raises by
    * name above `singleTaskRowBound` ([[Guards.SingleTaskRowBound]],
    * 2^22) instead of silently serializing a large input through one
    * task; `<= 0` opts into the sequential cost. */
  def packSequences(df: DataFrame, idCol: String, tokensCol: String,
                    seqLen: Int,
                    singleTaskRowBound: Long =
                      Guards.SingleTaskRowBound): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    Guards.singleTaskLaneProbe(df, "packSequences", singleTaskRowBound,
      "use packSequencesSharded (bit-identical output, parallel across " +
        "shards) or pass singleTaskRowBound = 0 to accept the cost")
    val w = Window.orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_cum_", sum(col(tokensCol)).over(w))
      .withColumn("_start_", col("_cum_") - col(tokensCol))
      // integer `div`, not `/`: double division loses exactness past 2^53
      // cumulative tokens, and this module's contract is bit-portability
      // at any magnitude
      .withColumn("seq_id", expr(s"_start_ div $seqLen").cast("long"))
      .withColumn("seq_offset", (col("_start_") % seqLen).cast("long"))
      .drop("_cum_", "_start_")
  }

  /** Sharded running total — the two-phase prefix-sum that replaces a
    * sequential `sum().over(orderBy(id))` window at 100 TB. Adds `cumCol`
    * = running sum of `tokensCol` in `idCol` order (within each
    * `groupCols` group if given), IDENTICAL to the single-window result:
    * a row's running total decomposes as (sum of all earlier shards'
    * totals) + (running sum within its own shard). Phase 1 aggregates one
    * total per (group, shard) — tiny; phase 2 prefix-sums those into
    * per-shard bases (a window over `numShards` rows per group,
    * negligible); phase 3 runs the running sum PER SHARD
    * (Window.partitionBy — parallel across shards) and adds the broadcast
    * base. No global window anywhere.
    *
    * Shards are contiguous `idCol` ranges cut from the id span (one
    * min/max aggregate). ANY order-preserving contiguous split yields the
    * same output — boundaries affect parallelism, never results — so skew
    * in the id space degrades speed, not correctness; size `numShards` so
    * one shard's rows fit a single task comfortably. Requires a numeric
    * `idCol` (doc ids) — enforced by name at plan-build time (see
    * [[numericIdGuarded]]). When `idCol` is not unique, pass `tieCols` to
    * make the within-shard order total — shard assignment depends only
    * on `idCol`, so tied rows always share a shard and the tie-broken
    * output is deterministic.
    *
    * NULL ids are unsupported by default (a NULL shard breaks the
    * earlier-shard inequality); with `nullsLast = true` NULL-id rows get
    * a dedicated LAST shard and with `nullsFirst = true` a dedicated
    * FIRST shard, ordered among themselves by `tieCols` — the
    * `ORDER BY x ASC NULLS LAST/FIRST` running totals.
    *
    * Cost note: the id-span bounds probe is an eager min/max action, so
    * `df`'s upstream plan executes once for the probe and again in the
    * main pass. Callers whose upstream is expensive (a wide aggregate, a
    * join) should wrap it in [[probeCache]] — see
    * [[Analytics.mannWhitneyU]]. */
  def runningTotalSharded(df: DataFrame, idCol: String, tokensCol: String,
                          cumCol: String, numShards: Int = 32,
                          groupCols: Seq[String] = Nil,
                          tieCols: Seq[String] = Nil,
                          nullsLast: Boolean = false,
                          nullsFirst: Boolean = false): DataFrame =
    runningTotalsSharded(df, idCol, Seq(tokensCol -> cumCol), numShards,
      groupCols, tieCols, nullsLast, nullsFirst)

  /** Multi-column twin of [[runningTotalSharded]] (optimization r19):
    * one prefix-sum pass producing SEVERAL running totals over the SAME
    * (id, tie) order — callers that need two cumulative columns
    * ([[graft.operators.Tuning.bestSplits]]' n/positives,
    * [[graft.operators.Analytics]]' survival counts) previously nested
    * two calls, and the outer call's bounds probe + main pass then
    * re-evaluated the inner call's whole window pipeline (~3 evaluations
    * of the upstream per extra column). Identical per-column results to
    * the single-column form by construction: every phase below is the
    * same program applied component-wise. */
  def runningTotalsSharded(df: DataFrame, idCol: String,
                           valCums: Seq[(String, String)],
                           numShards: Int = 32,
                           groupCols: Seq[String] = Nil,
                           tieCols: Seq[String] = Nil,
                           nullsLast: Boolean = false,
                           nullsFirst: Boolean = false): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    require(valCums.nonEmpty, "at least one (valCol, cumCol) pair")
    require(!(nullsLast && nullsFirst), "nullsLast and nullsFirst conflict")
    val df0 = numericIdGuarded(df, idCol, "runningTotalSharded")
    val bounds = df0.agg(min(col(idCol)).cast("long").as("lo"),
      max(col(idCol)).cast("long").as("hi")).head()
    if (bounds.isNullAt(0)) { // empty (or all-NULL-id) input: exact window,
      // partitioned by groupCols — the fallback must honor the same group
      // boundaries as the sharded path (an unpartitioned window here would
      // accumulate _cum_ ACROSS groups for all-NULL-id input)
      val wFallback = (if (groupCols.isEmpty) Window.partitionBy()
        else Window.partitionBy(groupCols.map(col): _*))
        .orderBy((idCol +: tieCols).map(col): _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      return valCums.foldLeft(df) { case (d, (v, c)) =>
        d.withColumn(c, sum(col(v)).over(wFallback))
      }
    }
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val rawShard = shardExpr(idCol, lo, hi, numShards)
    val sharded = df0.withColumn("_shard_",
      if (nullsLast) coalesce(rawShard, lit(numShards.toLong))
      else if (nullsFirst) coalesce(rawShard, lit(-1L))
      else rawShard)
    val keys = groupCols :+ "_shard_"
    val vi = valCums.indices
    val totals = sharded.groupBy(keys.map(col): _*)
      .agg(sum(col(valCums.head._1)).as("_tot_0_"),
        vi.tail.map(i => sum(col(valCums(i)._1)).as(s"_tot_${i}_")): _*)
    // phase 2: per-shard base = sum of strictly-earlier shards' totals.
    // The totals table is ≤ numShards rows per group BY CONSTRUCTION, so
    // a triangular self-join beats a window here: no single-partition
    // WindowExec funnel anywhere in the plan (a partition-less window
    // over the tiny table is correct but indistinguishable in the logs
    // from an accidental data-sized one), and the O(numShards²)-row
    // join is constant-sized
    val earlier = totals.select(
      keys.map(c => col(c).as(s"_e_$c")) ++
        vi.map(i => col(s"_tot_${i}_").as(s"_etot_${i}_")): _*)
    // null-safe group equality: a NULL group is one group (the window
    // this replaces partitioned NULLs together)
    val joinCond = groupCols
      .map(c => col(c) <=> col(s"_e_$c"))
      .foldLeft(col("_e__shard_") < col("_shard_"))(_ && _)
    val bases = totals.join(earlier, joinCond, "left")
      .groupBy(keys.map(col): _*)
      .agg(coalesce(sum(col("_etot_0_")), lit(0L)).as("_base_0_"),
        vi.tail.map(i =>
          coalesce(sum(col(s"_etot_${i}_")), lit(0L)).as(s"_base_${i}_")): _*)
    val wIn = Window.partitionBy(keys.map(col): _*)
      .orderBy((idCol +: tieCols).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // null-safe stitch: a using-column join would silently DROP rows of
    // a NULL group (found by PropertySpec's randomized parity check)
    val basesR = bases.select(
      keys.map(c => col(c).as(s"_b_$c")) ++
        vi.map(i => col(s"_base_${i}_")): _*)
    val stitchCond = keys.map(c => col(c) <=> col(s"_b_$c")).reduce(_ && _)
    val stitched = sharded.join(broadcast(basesR), stitchCond)
    val withCums = valCums.zipWithIndex.foldLeft(stitched) {
      case (d, ((v, c), i)) =>
        d.withColumn(c, col(s"_base_${i}_") + sum(col(v)).over(wIn))
    }
    withCums.select(df.columns.map(col) ++ valCums.map(p => col(p._2)): _*)
  }

  /** Sharded EXCLUSIVE running minimum — the prefix-min twin of
    * [[runningTotalSharded]]: adds `cumCol` = min of `valCol` over all
    * STRICTLY-earlier rows in `idCol` ascending order (NULL for the
    * globally first row), identical to
    * `min(val).over(orderBy(id).rowsBetween(unboundedPreceding, -1))`.
    * Same two-phase scheme: one min per shard (map-side combined), the
    * earlier-shard base via the ≤numShards² triangular join, the
    * within-shard exclusive prefix-min via a window PARTITIONED by shard;
    * `least` stitches base and within-shard min (it ignores NULLs, which
    * encode "no earlier row on this side"). Requires a numeric `idCol`
    * with no duplicates (the skyline/frontier shape: `idCol` comes out of
    * a groupBy); a NULL id sorts FIRST (the window default) via a
    * dedicated first shard; a non-numeric `idCol` is rejected by name
    * (see [[numericIdGuarded]] — a numeric-string id would shard
    * numerically but order lexicographically, a silent divergence). */
  def runningMinSharded(df: DataFrame, idCol: String, valCol: String,
                        cumCol: String, numShards: Int = 32): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val df0 = numericIdGuarded(df, idCol, "runningMinSharded")
    val bounds = df0.agg(min(col(idCol)).cast("long").as("lo"),
      max(col(idCol)).cast("long").as("hi")).head()
    val wGlobal = Window.orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    if (bounds.isNullAt(0)) // empty (or all-NULL-id) input: exact fallback
      return df.withColumn(cumCol, min(col(valCol)).over(wGlobal))
    val sharded = df0.withColumn("_shard_", coalesce(
      shardExpr(idCol, bounds.getLong(0), bounds.getLong(1), numShards),
      lit(-1L)))
    val totals = sharded.groupBy(col("_shard_"))
      .agg(min(col(valCol)).as("_tot_"))
    val earlier = totals.select(col("_shard_").as("_e__shard_"),
      col("_tot_").as("_etot_"))
    // base = min over strictly-earlier shards; stays NULL when none
    val bases = totals.join(earlier, col("_e__shard_") < col("_shard_"), "left")
      .groupBy(col("_shard_")).agg(min(col("_etot_")).as("_base_"))
    val wIn = Window.partitionBy(col("_shard_")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    sharded
      .join(broadcast(bases.withColumnRenamed("_shard_", "_b__shard_")),
        col("_shard_") === col("_b__shard_"))
      .withColumn(cumCol, least(col("_base_"), min(col(valCol)).over(wIn)))
      .select(df.columns.map(col) :+ col(cumCol): _*)
  }

  /** Global NTILE without a global window: the global rank in
    * (`idCol`, `tieCols`) ascending order comes from
    * [[runningTotalSharded]] over a constant-1 column, and the tier from
    * the closed-form ntile formula (bucket sizes differ by ≤ 1, earlier
    * buckets larger: `rank ≤ (b+1)·r → (rank−1) div (b+1) + 1, else
    * r + (rank−(b+1)·r−1) div b + 1` with `b = N div buckets`,
    * `r = N mod buckets`) — pure integer, bit-identical to any engine's
    * `ntile(buckets)` over the same total order, with no data-sized
    * single-partition WindowExec anywhere in the plan. Descending
    * semantics: negate the key; `nullsLast`/`nullsFirst` rank NULL keys
    * after/before every real key (ordered by `tieCols`), the
    * `ASC NULLS LAST/FIRST` total orders. Adds `bucketCol` (1-based). */
  def ntileSharded(df: DataFrame, idCol: String, buckets: Int,
                   numShards: Int = 32, tieCols: Seq[String] = Nil,
                   bucketCol: String = "bucket",
                   nullsLast: Boolean = false,
                   nullsFirst: Boolean = false): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val ranked = runningTotalSharded(
      df.withColumn("_one_", lit(1L)), idCol, "_one_", "_gr_",
      numShards = numShards, tieCols = tieCols, nullsLast = nullsLast,
      nullsFirst = nullsFirst)
    val n = df.agg(count(lit(1)).as("_n_"))
    val b = s"(_n_ div $buckets)"
    val r = s"(_n_ % $buckets)"
    // CASE is lazy, so the `div b` branch never runs when N < buckets
    // (b = 0 ⇒ every rank takes the THEN branch)
    ranked.crossJoin(broadcast(n))
      .withColumn(bucketCol,
        expr(s"""CASE WHEN _gr_ <= ($b + 1) * $r
                | THEN (_gr_ - 1) div ($b + 1) + 1
                | ELSE $r + (_gr_ - ($b + 1) * $r - 1) div $b + 1
                |END""".stripMargin))
      .select(df.columns.map(col) :+ col(bucketCol): _*)
  }

  /** Length-bucketed batching — the padding-waste reducer every training
    * dataloader runs: rows bucket by ⌊log2(tokens)⌋ (so batch members are
    * within 2x of each other), and within a bucket consecutive rows (by
    * `idCol`) form batches of `batchSize`. Padding cost is then bounded by
    * the bucket's upper edge instead of the global max length.
    *
    * Output adds: `bucket` (log2 tier), `batch_id` (globally unique:
    * bucket * 2^40 + ordinal — collision-free below 2^40 batches per
    * bucket), `pad_to` (the bucket's power-of-two upper edge, the tensor
    * width a loader allocates). All integer arithmetic — bit-portable and
    * SQL-replayable. 100 TB shape: one shuffle on the bucket key for the
    * per-bucket windows; no global window. */
  def lengthBucketedBatches(df: DataFrame, idCol: String, tokensCol: String,
                            batchSize: Int): DataFrame = {
    require(batchSize > 0, s"batchSize must be positive, got $batchSize")
    val bucketed = df.withColumn("bucket",
      // floor(log2(n)) as binary-string length, NOT float log2 (which can
      // land on either side of an exact power of two per engine): the
      // length of bin(n) minus 1 is exact integer arithmetic everywhere
      expr(s"cast(length(bin(cast(greatest($tokensCol, 1) as bigint))) - 1 as bigint)"))
    bucketed
      // `div`, not `/`: Column./ is double division (the exact pitfall the
      // pk01 seq_id fix removed)
      .withColumn("batch_id",
        col("bucket") * lit(1L << 40) +
          expr(s"cast((row_number() over (partition by bucket order by $idCol) - 1) div $batchSize as bigint)"))
      .withColumn("pad_to",
        expr("shiftleft(cast(1 as bigint), cast(bucket + 1 as int))"))
  }

  /** Two-phase sharded [[packSequences]] — the 100 TB plan promised
    * there, with IDENTICAL output: a document's (seq_id, seq_offset)
    * depends only on its global start position, which
    * [[runningTotalSharded]] reconstructs without a global window. */
  def packSequencesSharded(df: DataFrame, idCol: String, tokensCol: String,
                           seqLen: Int, numShards: Int = 32): DataFrame = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    runningTotalSharded(df, idCol, tokensCol, "_cum_", numShards)
      .withColumn("_start_", col("_cum_") - col(tokensCol))
      .withColumn("seq_id", expr(s"_start_ div $seqLen").cast("long"))
      .withColumn("seq_offset", (col("_start_") % seqLen).cast("long"))
      .drop("_cum_", "_start_")
  }

  /** Whole-document bin packing by BEST-FIT DECREASING — the packing a
    * dataloader uses when documents must NOT be split across training
    * sequences (instruction tuning, contrastive pairs), where
    * [[packSequences]]' concat-and-chunk rule cuts mid-document. Items are
    * taken longest-first (ties by id) and each is placed into the FULLEST
    * open bin that still fits it (ties: lowest bin id), opening a new bin
    * only when none fits — the classic 11/9·OPT + 6/9 guarantee
    * (Dósa 2007, public) against the ceil(Σtokens/capacity) lower bound.
    *
    * The fold is inherently sequential, so scale comes from sharding
    * (the [[runningTotalSharded]] discipline): items split into
    * `numShards` contiguous id ranges, BFD runs independently per shard
    * (one task each, items of one shard in memory), and bin ids are
    * namespaced `shard · 2^40 + local` (collision-free below 2^40 bins
    * per shard, the [[lengthBucketedBatches]] convention). Unlike the
    * prefix sum, BFD is order-sensitive ACROSS the whole item set, so
    * sharding is not output-neutral: each shard's packing is individually
    * valid and deterministic, and the waste bound degrades by at most one
    * underfull bin per shard — the price of parallelism, stated rather
    * than hidden. Items larger than `capacity` get a dedicated oversize
    * bin (flagged, never shared).
    *
    * Requires a numeric `idCol`. Output: one row per item —
    * (`idCol`, `tokensCol`, shard BIGINT, bin_id BIGINT, oversized
    * BOOLEAN). Per-bin fills are one groupBy away. */
  def packBestFitDecreasing(df: DataFrame, idCol: String, tokensCol: String,
                            capacity: Long, numShards: Int = 1): DataFrame = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val spark = df.sparkSession
    import spark.implicits._
    val bounds = df.agg(min(col(idCol)).cast("long").as("lo"),
      max(col(idCol)).cast("long").as("hi")).head()
    if (bounds.isNullAt(0))
      return spark.emptyDataset[(Long, Long, Long, Long, Boolean)]
        .toDF(idCol, tokensCol, "shard", "bin_id", "oversized")
    val lo = bounds.getLong(0)
    df.select(shardExpr(idCol, lo, bounds.getLong(1), numShards).as("_shard_"),
        col(idCol).cast("long").as("_id_"),
        col(tokensCol).cast("long").as("_w_"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (shard, it) =>
        val items = it.map { case (_, id, w) => (id, w) }.toArray
          .sortBy { case (id, w) => (-w, id) }
        val fills = scala.collection.mutable.ArrayBuffer.empty[Long]
        items.iterator.map { case (id, w) =>
          val bin =
            if (w > capacity) { fills += w; fills.length - 1 }
            else {
              // fullest bin that still fits; linear scan is O(bins) per
              // item — fine per shard; a fill-ordered tree drops it to
              // O(log bins) if a shard ever holds millions of items
              var best = -1
              var i = 0
              while (i < fills.length) {
                if (fills(i) + w <= capacity &&
                  (best < 0 || fills(i) > fills(best))) best = i
                i += 1
              }
              if (best < 0) { fills += w; fills.length - 1 }
              else { fills(best) += w; best }
            }
          (id, w, shard, shard * (1L << 40) + bin, w > capacity)
        }
      }
      .toDF(idCol, tokensCol, "shard", "bin_id", "oversized")
  }

  /** Shifted-right mix64 for modular cut-point draws: `mix64(x) >>> 1` is
    * always non-negative, so `% m` means the same thing to a signed engine
    * (Spark) and an unsigned one (the DuckDB oracle) for ANY modulus —
    * the trick that keeps arbitrary-modulus draws engine-portable where
    * [[Sampling.shuffleShards]] needs a power-of-two shard count. */
  private val mixShiftUdf = udf { (x: Long) =>
    graft.functions.TextKernels.mix64(x) >>> 1 }

  /** Fill-in-the-middle sample construction (Bavarian et al. 2022,
    * public): split each document's token stream into prefix / middle /
    * suffix at two cut points drawn deterministically from the id — two
    * independent mix64 streams (the second stepped by SplittableRandom's
    * golden gamma), each mapped to a cut in [1, n-1], ordered. Equal draws
    * give an empty middle (a real FIM case). Documents shorter than
    * `minTokens` pass through whole as prefix. The split is a pure
    * function of (id, text): reproducible across epochs, retries, and
    * engines — no RNG state anywhere.
    *
    * Per-row Columns + two scalar hashes — shuffle-free, linear. */
  def fimSplits(df: DataFrame, idCol: String, textCol: String,
                minTokens: Int = 4): DataFrame = {
    val gamma = lit(0x9e3779b97f4a7c15L)
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= "")
    val h1 = mixShiftUdf(col(idCol).cast("long"))
    val h2 = mixShiftUdf(col(idCol).cast("long") + gamma)
    df.select(col(idCol), toks.as("_ts_"), h1.as("_h1_"), h2.as("_h2_"))
      .withColumn("_n_", size(col("_ts_")))
      // greatest(..., 1): columns evaluate eagerly even under the when()
      // guards below, so a 1-token doc must not feed pmod a zero modulus
      .withColumn("_c1_", pmod(col("_h1_"), greatest(col("_n_") - 1, lit(1))) + 1)
      .withColumn("_c2_", pmod(col("_h2_"), greatest(col("_n_") - 1, lit(1))) + 1)
      .withColumn("_lo_", when(col("_n_") >= minTokens,
        least(col("_c1_"), col("_c2_"))))
      .withColumn("_hi_", when(col("_n_") >= minTokens,
        greatest(col("_c1_"), col("_c2_"))))
      .select(col(idCol), col("_n_").cast("int").as("n_tokens"),
        when(col("_lo_").isNull, array_join(col("_ts_"), " "))
          .otherwise(array_join(slice(col("_ts_"), lit(1), col("_lo_")), " "))
          .as("prefix"),
        when(col("_lo_").isNull, lit(""))
          .otherwise(array_join(
            slice(col("_ts_"), col("_lo_") + 1, col("_hi_") - col("_lo_")), " "))
          .as("middle"),
        when(col("_lo_").isNull, lit(""))
          .otherwise(array_join(
            slice(col("_ts_"), col("_hi_") + 1, col("_n_") - col("_hi_")), " "))
          .as("suffix"))
  }
}
