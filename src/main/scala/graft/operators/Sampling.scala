package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.md5Prefix60

/** Deterministic sampling and dataset splitting for training corpora.
  *
  * `df.sample()` / `sampleBy()` are partition-layout dependent (the
  * Bernoulli draw consumes a per-partition RNG stream), so a rerun,
  * a retry, or a different file split changes the sample — unacceptable
  * for reproducible corpus cuts. Here membership is a pure function of
  * the row's key: bucket = first 15 md5 hex chars of the key mod
  * `buckets`. Same row → same bucket on any engine, any partitioning,
  * any retry; disjoint rates compose (train/val/test) because buckets
  * partition the key space.
  *
  * md5 (not xxhash64) keeps the function portable across engines — the
  * same discipline as the gate's portable simhash/fingerprint.
  */
object Sampling {

  /** The top 60 bits of md5(key as a string) as a non-negative long —
    * the first 15 hex chars of `md5(key)` read as a number, computed
    * straight from the digest bytes by the codegen'd
    * [[graft.functions.Md5Prefix60]] kernel (one MD5 engine per
    * partition, no hex string, substring or base conversion). NULL keys
    * hash as the empty string.
    */
  private def keyHash(key: Column): Column =
    md5Prefix60(coalesce(key.cast("string"), lit("")))

  /** Stable bucket in [0, buckets) from the key column: [[keyHash]]
    * mod `buckets`, bit-identical to the portable formula
    * `pmod(conv(substring(md5(coalesce(cast(key as string), '')), 1, 15),
    * 16, 10), buckets)` any engine can evaluate. NULL keys map to the
    * empty string's bucket, so `deterministicSample` and `split` treat
    * them identically (dropping them in one and labelling them in the
    * other would break rate composition).
    */
  def bucketOf(key: Column, buckets: Int): Column = {
    require(buckets > 0, "buckets must be positive")
    pmod(keyHash(key), lit(buckets.toLong))
  }

  /** Keep rows whose bucket falls in [0, rateNum) of `rateDenom`
    * buckets — a deterministic `rateNum/rateDenom` sample.
    */
  def deterministicSample(df: DataFrame, keyCol: String, rateNum: Int, rateDenom: Int): DataFrame = {
    require(rateNum >= 0 && rateNum <= rateDenom, "need 0 <= rateNum <= rateDenom")
    df.filter(bucketOf(col(keyCol), rateDenom) < rateNum)
  }

  /** Deterministic importance RESAMPLING: keep each row with its OWN
    * per-row rate — `rateNumCol` (an integer column, e.g. a DSIR
    * importance weight scaled to parts-per-`denom`) over `denom`
    * buckets, clamped to [0, denom]. This is the thinning step an
    * importance-resampling pipeline runs AFTER scoring (keep row i
    * w.p. ∝ w_i): `deterministicSample` generalized from one global
    * rate to a weight column, with the same md5-bucket membership —
    * reproducible on any engine/partitioning/retry, and composable
    * with [[split]] because the bucket space is shared. All-integer:
    * no float rounding can disagree across engines.
    */
  def resampleByWeight(df: DataFrame, keyCol: String, rateNumCol: String,
                       denom: Int): DataFrame = {
    require(denom > 0, "denom must be positive")
    df.filter(bucketOf(col(keyCol), denom) <
      least(lit(denom.toLong), greatest(lit(0L), col(rateNumCol).cast("long"))))
  }

  /** Stratified deterministic sampling: per-stratum keep rates over the
    * same bucket space (e.g. downsample a dominant language while keeping
    * the rest — the standard corpus-rebalancing move). `rates` maps a
    * stratum value to its numerator over `denom` buckets; unlisted strata
    * use `defaultNum`. Membership stays a pure function of the key, so
    * rebalanced cuts are reproducible and compose with [[split]].
    */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       rates: Map[String, Int], defaultNum: Int,
                       denom: Int): DataFrame = {
    require((defaultNum +: rates.values.toSeq).forall(n => n >= 0 && n <= denom),
      "need 0 <= rate numerator <= denom for every stratum")
    val b = bucketOf(col(keyCol), denom)
    val rate = rates.toSeq.sortBy(_._1).foldRight(lit(defaultNum)) {
      case ((value, num), acc) => when(col(strataCol) === value, lit(num)).otherwise(acc)
    }
    df.filter(b < rate)
  }

  /** Square-root temperature rebalancing: keep each group at a rate
    * ∝ 1/√|group| (so kept counts go as √|group| — the α=0.5
    * "square-root sampling" every multilingual pretraining mix uses to
    * lift low-resource groups without letting the giant ones dominate).
    * `scale` calibrates the absolute level: a group of n rows keeps
    * ~min(1, scale/√n) of its rows.
    *
    * Fully deterministic AND engine-portable: membership is the md5
    * bucket of the key (as in [[deterministicSample]]) against
    * floor(denom·scale/√n) — √ is IEEE-correctly-rounded in every
    * engine (unlike pow), so the same rows are kept anywhere. This is
    * why the exponent is pinned at 0.5 rather than a free α: pow's
    * last-ulp differences across libm implementations could flip a
    * floor() on the rate boundary.
    *
    * Plan shape: one count aggregation over the group key (tiny —
    * |groups| rows, broadcast back) and a scan-side filter; no shuffle
    * of the data rows.
    */
  def sqrtTemperatureSample(df: DataFrame, keyCol: String, groupCol: String,
                            scale: Double, denom: Int = 10000): DataFrame = {
    require(scale > 0 && denom > 0, "need positive scale and denom")
    val counts = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__grp_n"))
      .select(col(groupCol).as("__grp_key"),
        least(lit(denom.toLong),
          floor(lit(denom.toDouble * scale) / sqrt(col("__grp_n").cast("double"))))
          .as("__rate_num"))
    // null-SAFE join: groupBy counts the NULL group (un-identified
    // language etc.), so membership must too — a plain equi-join would
    // silently drop every NULL-group row, violating the module's NULL
    // discipline (bucketOf maps NULL keys; stratifiedSample keeps NULL
    // strata)
    df.join(broadcast(counts), col(groupCol) <=> col("__grp_key"))
      .filter(bucketOf(col(keyCol), denom) < col("__rate_num"))
      .drop("__grp_key", "__rate_num")
  }

  /** Keep at most `k` rows per group, ranked by `rankBy` (which must be
    * a total order — include a unique tiebreak column — or the kept set
    * is nondeterministic). The standard per-domain/per-source cap of
    * corpus curation: no single origin may dominate the training mix.
    *
    * Scale shape: a naive `row_number() OVER (PARTITION BY group)` puts
    * every row of the hottest group through one task — exactly the skew
    * that kills domain caps at 100 TB (the web corpus always has one
    * giant domain). Instead rank in two stages: (1) within
    * (group, salt) shards — each shard keeps its own top-k, bounding any
    * task at |group|/shards rows and the survivor set at k·shards per
    * group; (2) re-rank the survivors within the group — at most
    * k·shards rows per group, driver-bounded constants. Survivors of
    * stage 1 are a superset of the true top-k (each shard keeps its
    * local top-k, and the global top-k land in *some* shard), so stage 2
    * ranks are exactly the global ranks: the result is row-identical to
    * the single-window form, only the physical plan differs.
    */
  def capPerGroup(df: DataFrame, groupCols: Seq[String], rankBy: Seq[Column],
                  k: Int, shards: Int = 16,
                  rankName: String = "rank_in_group"): DataFrame = {
    require(k > 0 && shards > 0, "need positive k and shards")
    require(!df.columns.contains("__shard_rank") && !df.columns.contains(rankName),
      s"input already has a '__shard_rank' or '$rankName' column — rename it " +
        "or pass a different rankName (withColumn would silently overwrite)")
    import org.apache.spark.sql.expressions.Window
    val salt = pmod(xxhash64(rankBy: _*), lit(shards.toLong))
    val w1 = Window.partitionBy((groupCols.map(col) :+ salt): _*)
      .orderBy(rankBy.map(_.asc): _*)
    val w2 = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(rankBy.map(_.asc): _*)
    df.withColumn("__shard_rank", row_number().over(w1))
      .filter(col("__shard_rank") <= k)
      .drop("__shard_rank")
      .withColumn(rankName, row_number().over(w2).cast("long"))
      .filter(col(rankName) <= k)
  }

  /** Rebalance the corpus to a TARGET mixture (the DoReMi-style static
    * domain-weights move): given per-group target weights `w_s / wDenom`,
    * keep the largest corpus whose group proportions match the target,
    * i.e. scale the total to T = min over weighted groups of
    * ⌊n_s · wDenom / w_s⌋ (the binding group keeps everything; every
    * other group downsamples to its quota ⌊w_s · T / wDenom⌋). Groups
    * with no listed weight (or weight 0) are dropped — they are not in
    * the target mix.
    *
    * All quota arithmetic is INTEGER (rational weights against integer
    * counts), and membership is the md5 hash of the key mod the group
    * size against the quota — a pure function of (row key, group
    * census), so the cut is retry/partition/engine invariant like every
    * sampler in this module. Quotas are hit in expectation (hash-mod
    * thins uniformly); exact-count quotas would need a per-group rank —
    * that is [[capPerGroup]]'s job, composable after this when exact
    * counts matter more than a scan-side plan.
    *
    * Plan shape at 100 TB: one count aggregation over the group key
    * (|groups| rows), a 1-row min-reduction for T, both broadcast back;
    * the data rows never shuffle — membership is a scan-side filter.
    */
  def mixToTarget(df: DataFrame, keyCol: String, groupCol: String,
                  weights: Map[String, Int], wDenom: Int): DataFrame = {
    require(wDenom > 0, "wDenom must be positive")
    require(weights.values.forall(_ >= 0), "weights must be non-negative")
    require(weights.values.sum <= wDenom,
      s"weights sum to ${weights.values.sum} > wDenom=$wDenom — the target mix must be a sub-distribution")
    require(weights.values.exists(_ > 0), "at least one group needs a positive weight")
    val weightOf = weights.toSeq.sortBy(_._1).foldRight(lit(0)) {
      case ((value, num), acc) => when(col(groupCol) === value, lit(num)).otherwise(acc)
    }
    val counts = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("__grp_n"))
      .withColumn("__grp_w", weightOf.cast("long"))
      .filter(col("__grp_w") > 0)
    // T = min_s floor(n_s * wDenom / w_s): the largest total for which
    // every group can fill its share. Integer division is exact — no
    // float rate ever enters the membership decision.
    val tMax = counts
      .agg(min(floor(col("__grp_n") * lit(wDenom.toLong) / col("__grp_w")).cast("long"))
        .as("__t_max"))
    val quotas = counts.crossJoin(broadcast(tMax))
      .select(col(groupCol).as("__grp_key"), col("__grp_n"),
        floor(col("__grp_w") * col("__t_max") / lit(wDenom.toLong)).cast("long")
          .as("__grp_quota"))
    val h = keyHash(col(keyCol))
    df.join(broadcast(quotas), col(groupCol) <=> col("__grp_key"))
      .filter(pmod(h, col("__grp_n")) < col("__grp_quota"))
      .drop("__grp_key", "__grp_n", "__grp_quota")
  }

  /** Keep rows per group until a cumulative TOKEN budget fills — "take
    * 50 B tokens from each source", the unit corpus procurement actually
    * budgets in (a doc-count cap over variable-length documents misses
    * by the length skew). Rows are consumed in md5(key) order (the same
    * portable hash as every sampler here), so the kept set is a pure
    * function of (key, group census) — retry/partition/engine
    * invariant — and a budget increase only ever ADDS documents (the
    * hash order is a fixed priority, so samples are nested).
    *
    * A row is kept iff its cumulative token sum (in hash order, within
    * its group) stays ≤ `budget`; negative/null token counts clamp to 0.
    * Ties in the hash order break by the key's string form — keys should
    * be unique per group or the cut within a tie set is arbitrary.
    *
    * Scale shape: the naive form is one window per group — the hottest
    * group funnels through one task. Instead the hash order is RANGE-
    * SHARDED: bucket = top bits of the 60-bit key hash, so buckets
    * partition the hash order. Global cumsum = (prefix of all earlier
    * buckets) + (cumsum within the bucket) EXACTLY, so the plan is: a
    * |groups|·shards-row bucket-sum aggregate, a window over that tiny
    * frame for the prefixes (≤ `shards` rows per group), a join back,
    * and per-(group, bucket) windows bounded at ~|group|/shards rows.
    * Row-identical to the single-window form at ANY shard count
    * (shards = 1 IS the single-window form; spec'd equal).
    */
  def tokenBudget(df: DataFrame, groupCol: String, keyCol: String,
                  tokenCol: String, budget: Long, shards: Int = 256): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(shards > 0 && (shards & (shards - 1)) == 0 && shards <= (1 << 20),
      s"shards must be a power of two in [1, 2^20], got $shards")
    val reserved = Seq("__h", "__b", "__t", "__bsum", "__prefix", "__cum")
    require(!df.columns.exists(reserved.contains),
      s"input may not use reserved columns ${reserved.mkString(", ")}")
    import org.apache.spark.sql.expressions.Window
    val h = keyHash(col(keyCol)) // 60 bits: exact in a long, never negative
    val shiftBits = 60 - Integer.numberOfTrailingZeros(shards)
    val t = greatest(coalesce(col(tokenCol).cast("long"), lit(0L)), lit(0L))
    val rows = df.withColumn("__h", h)
      .withColumn("__b", shiftright(col("__h"), shiftBits))
      .withColumn("__t", t)
    val bucketSums = rows.groupBy(col(groupCol), col("__b"))
      .agg(sum(col("__t")).as("__bsum"))
      .withColumn("__prefix", coalesce(
        sum(col("__bsum")).over(Window.partitionBy(col(groupCol))
          .orderBy(col("__b").asc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("__bsum")
    val wIn = Window.partitionBy(col(groupCol), col("__b"))
      .orderBy(col("__h").asc, col(keyCol).cast("string").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.join(bucketSums, Seq(groupCol, "__b"))
      .withColumn("__cum", col("__prefix") + sum(col("__t")).over(wIn))
      .filter(col("__cum") <= budget)
      .select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Label every row with a named split; fractions are (name, numerator)
    * over `denom` buckets and must sum to at most denom (rows beyond the
    * last range get the final split). Splits are disjoint and exhaustive
    * by construction.
    */
  def split(df: DataFrame, keyCol: String, fractions: Seq[(String, Int)], denom: Int): DataFrame = {
    require(fractions.nonEmpty && fractions.map(_._2).sum <= denom,
      "fractions must fit in denom buckets")
    val b = bucketOf(col(keyCol), denom)
    val bounds = fractions.scanLeft(0) { case (acc, (_, n)) => acc + n }.tail
    val labeled = fractions.zip(bounds).foldRight(lit(fractions.last._1)) {
      case (((name, _), bound), acc) => when(b < bound, lit(name)).otherwise(acc)
    }
    df.withColumn("split", labeled)
  }
}
