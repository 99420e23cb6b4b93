package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-corpus construction.
  *
  * Decisions are a pure function of (salt, id) — a portable integer hash,
  * not an RNG: the sample is reproducible across runs, engines and
  * repartitionings, a row's fate never depends on which partition scans it,
  * and the filter is a codegen'd scan-level predicate (no shuffle, no
  * state). Disjoint salts give independent samples; the same salt gives
  * nested samples (rate 100 ⊂ rate 500), which is what makes held-out
  * splits and progressive subsets consistent at 100 TB.
  */
object Sampling {

  /** Per-row sample coordinate in [0, 1000): portable 31-bit char fold of
    * `"salt:id"` (Dedup.arithHash31) DECORRELATED by two multiply +
    * xor-shift rounds before the band cut.
    *
    * The bare fold is LINEAR in the id text — consecutive ids fold to
    * consecutive values (step +1 inside a decade, +22 across one), so a
    * contiguous id block occupies a narrow residue window and a permille
    * band can capture far more or less than its nominal rate. Measured
    * (round 12): salt "demo" over ids 0..499 put every coordinate in
    * [181, 888] — a 900-permille "sample" captured 100% of the corpus
    * and the held-out bands were empty. Same defect class as the
    * round-10 LSH hyperplane weights, same cure and same discipline:
    * every intermediate stays below 2^59, so Spark longs and DuckDB
    * BIGINTs compute the mix exactly (the RhpSig lesson) and the oracle
    * replays it verbatim (PipelineQueries.samplePermilleSql — change
    * either side only with the other). Determinism, same-salt nesting
    * and growth stability are untouched: the coordinate is still a pure
    * function of (salt, id), just no longer a linear one. */
  def samplePermille(id: Column, salt: String): Column =
    mixCoord(id, salt) % 1000

  /** Full-width mixed coordinate in [0, 2^32): the char fold pushed
    * through the two-round mixer, WITHOUT the permille cut — the shared
    * primitive behind [[samplePermille]] and [[shuffleSharded]]'s
    * pseudo-random ordering key. Same portability discipline as above:
    * every intermediate < 2^59, exact in any 64-bit-integer engine. */
  def mixCoord(id: Column, salt: String): Column = {
    val f = Dedup.arithHash31(concat(lit(salt), lit(":"), id.cast("string")))
    // 32-bit finalizer shape (xor-shift 16 + odd multiply, twice, then a
    // final xor-shift): f < 2^31, products < 2^59 — integer-exact in any
    // engine with 64-bit arithmetic
    val x1 = pmod(f.bitwiseXOR(shiftright(f, 16)) * lit(SampleMixMult),
      lit(4294967296L))
    val x2 = pmod(x1.bitwiseXOR(shiftright(x1, 16)) * lit(SampleMixMult),
      lit(4294967296L))
    x2.bitwiseXOR(shiftright(x2, 16))
  }

  /** The mixer's odd multiplier (the 32-bit `0x45d9f3b` finalizer
    * constant) — shared with the DuckDB oracle builder. */
  val SampleMixMult: Long = 0x45d9f3bL

  /** Guard for operators that add fixed-name output or scratch columns:
    * `withColumn` silently REPLACES an existing column of the same name,
    * which would corrupt caller data with no error — fail loudly instead
    * and let the caller rename first. */
  private def requireColumnsAbsent(df: DataFrame, names: String*): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"input already has column(s) ${clash.mkString(", ")}; rename them " +
        "before calling — the operator adds columns with these names")
  }

  /** Uniform deterministic sample: keep rows whose coordinate falls below
    * `permille`. */
  def sample(df: DataFrame, idCol: String, permille: Int,
      salt: String = "s"): DataFrame =
    df.where(samplePermille(col(idCol), salt) < permille)

  /** Stratified deterministic sample: per-stratum keep rates (the training
    * mix — up/down-weight sources), `defaultPermille` for unlisted strata.
    * The rate lookup folds to a literal CASE chain, so the whole decision
    * stays a scan-level predicate. */
  def stratified(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Int], defaultPermille: Int,
      salt: String = "s"): DataFrame = {
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPermille)) {
      case (acc, (k, v)) => when(col(strataCol) === lit(k), lit(v)).otherwise(acc)
    }
    df.where(samplePermille(col(idCol), salt) < rate)
  }

  /** Deterministic n-way dataset split (train/val/test and friends): each
    * row's sample coordinate lands in exactly one half-open permille band
    * `[c_i, c_{i+1})` of the cumulative `splits` weights, and the row is
    * labeled with that band's name — the multi-way generalization of
    * [[sample]], with the same guarantees: a pure function of (salt, id),
    * so the split survives reruns, engines, repartitioning, and corpus
    * growth (an existing row NEVER changes split when new rows arrive —
    * the property time-based or row_number splits lack, and the one that
    * matters for held-out integrity at 100 TB). Weights must sum to ≤
    * 1000; any remainder books as NULL (excluded rows). The label is a
    * literal CASE chain over the coordinate — scan-level, no shuffle.
    *
    * Same-salt nesting with [[sample]]/[[stratified]] holds: a rate-100
    * sample of the corpus has the same per-split proportions, because
    * both read the same coordinate. Use a DIFFERENT salt for the split
    * than for any subsampling so the two decisions stay independent. */
  def assignSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Int)], salt: String = "split",
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0),
      s"split weights must be non-negative: $splits")
    require(splits.map(_._2).sum <= 1000,
      s"split weights exceed 1000 permille: $splits")
    df.withColumn(outCol, splitLabel(samplePermille(col(idCol), salt), splits))
  }

  /** The cumulative-band CASE chain shared by [[assignSplit]] and
    * [[groupAwareSplit]]: label = the half-open permille band the
    * coordinate lands in; weights-sum remainder books as NULL. */
  private def splitLabel(coord: Column, splits: Seq[(String, Int)]): Column = {
    val bounds = splits.scanLeft(0) { case (acc, (_, w)) => acc + w }
    splits.zip(bounds.zip(bounds.tail))
      .foldLeft(lit(null).cast("string")) { case (acc, ((name, _), (lo, hi))) =>
        when(coord >= lo && coord < hi, lit(name)).otherwise(acc)
      }
  }

  /** Group-aware n-way split (scikit's GroupShuffleSplit discipline, made
    * deterministic): every row sharing a non-NULL `groupCol` value lands
    * in the SAME split, because the sample coordinate is computed from the
    * group key instead of the row id — the leakage guard for
    * near-duplicate-rich corpora (two crawls of one site, many docs of one
    * author or host), where an id-keyed split puts one copy in train and
    * its twin in test and quietly inflates every eval number. NULL groups
    * carry no identity, so those rows fall back to the id coordinate
    * (independent assignment — the urlDedup no-key posture), under a
    * DIFFERENT salt suffix so a group literally equal to some id string
    * cannot correlate the two coordinate spaces.
    *
    * Same guarantees as [[assignSplit]]: a pure function of (salt, key) —
    * stable under reruns, engines, repartitioning, and corpus growth —
    * and the same execution shape: a scan-level CASE chain, no shuffle,
    * no group materialization (the group's rows agree because they
    * compute the same coordinate, not because they were brought
    * together). */
  def groupAwareSplit(df: DataFrame, idCol: String, groupCol: String,
      splits: Seq[(String, Int)], salt: String = "gsplit",
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0),
      s"split weights must be non-negative: $splits")
    require(splits.map(_._2).sum <= 1000,
      s"split weights exceed 1000 permille: $splits")
    val coord = when(col(groupCol).isNotNull,
        samplePermille(col(groupCol), salt + ":g"))
      .otherwise(samplePermille(col(idCol), salt + ":i"))
    df.withColumn(outCol, splitLabel(coord, splits))
  }

  /** Keep rates that hit a per-stratum token BUDGET: rate = min(1000,
    * 1000·budget div total) — integer division (engine-portable,
    * conservative: the expected kept mass never exceeds the budget).
    * One map-side-combined aggregation; only |strata| rows reach the
    * driver. Strata with no budget entry get rate 0 (dropped). */
  def tokenBudgetRates(df: DataFrame, strataCol: String, weightCol: String,
      budgets: String => Option[Long]): Map[String, Int] = {
    // null strata can't carry a budget and would NPE stratified()'s
    // rate-chain sort; null weight sums read as empty strata
    val totals = df.where(col(strataCol).isNotNull)
      .groupBy(col(strataCol))
      .agg(sum(col(weightCol)).cast("long").as("total"))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
    totals.map { case (s, t) =>
      val rate = budgets(s) match {
        // BigInt sidesteps b*1000 overflow for huge "no limit" budgets;
        // the clamp makes b >= t mean "keep the stratum whole"
        case Some(b) if t > 0 && b >= 0 =>
          (BigInt(b) * 1000 / t).min(1000).toInt
        case _ => 0
      }
      s -> rate
    }.toMap
  }

  /** Epoch-weighted mixture (repeat-factor upsampling): per-stratum target
    * epochs in permille — 2500 means every row appears twice and the
    * deterministic half of the stratum a third time; 300 means a 0.3×
    * downsample. The GPT-3/DoReMi-style mix where premium sources are
    * seen multiple times per training pass.
    *
    * Each emitted row carries a `copy` index (1..k) so downstream
    * shuffles, dedup keys, and packing treat repeats as distinct rows.
    * Deterministic: full epochs replicate unconditionally; the fractional
    * epoch keeps rows whose (salt, id) coordinate falls below the
    * fraction — the same portable hash as [[sample]], so replicas nest
    * across epoch changes. The per-stratum base/fraction fold into TWO
    * literal CASE chains (no runtime division); the explode multiplies
    * only by each row's own copy count, so output size is exactly the
    * epoch-weighted mass — scan-local, no shuffle, no state. */
  def withEpochs(df: DataFrame, idCol: String, strataCol: String,
      epochsPermille: Map[String, Int], defaultPermille: Int,
      salt: String = "s"): DataFrame = {
    require((epochsPermille.values ++ Seq(defaultPermille)).forall(_ >= 0),
      "epoch permilles must be non-negative")
    def chain(f: Int => Int): Column =
      epochsPermille.toSeq.sortBy(_._1).foldLeft(lit(f(defaultPermille))) {
        case (acc, (k, v)) =>
          when(col(strataCol) === lit(k), lit(f(v))).otherwise(acc)
      }
    val copies = chain(_ / 1000) +
      when(samplePermille(col(idCol), salt) < chain(_ % 1000), 1).otherwise(0)
    // the >0 guard must precede explode: Spark's sequence(1, 0) would step
    // DOWNWARD ([1, 0]), not produce the empty array DuckDB's
    // generate_series gives
    df.withColumn("__copies", copies)
      .where(col("__copies") > 0)
      .withColumn("copy", explode(sequence(lit(1), col("__copies"))))
      .drop("__copies")
  }

  /** Token-budget mixture (Pile/Dolma-style training-mix construction):
    * deterministically downsample each stratum so its kept token mass
    * approaches its budget, leaving under-budget strata whole. The derived
    * rates fold into [[stratified]]'s literal CASE chain, so the mixture
    * is still ONE scan-level predicate over the corpus — the aggregation
    * that sizes the strata is the only extra pass, and it is map-side
    * combined down to |strata| rows. */
  def tokenBudgetMix(df: DataFrame, idCol: String, strataCol: String,
      weightCol: String, budgetPerStratum: Long,
      salt: String = "s"): DataFrame =
    stratified(df, idCol, strataCol,
      tokenBudgetRates(df, strataCol, weightCol, _ => Some(budgetPerStratum)),
      defaultPermille = 0, salt = salt)

  /** Proportional-mixture keep rates: given target OUTPUT proportions per
    * stratum (permille of the final mix, summing to ≤1000) and the
    * stratum masses measured from the corpus, find the largest total
    * output mass T every target can be satisfied from WITHOUT upsampling
    * (the binding stratum is kept whole), then derive per-stratum permille
    * keep rates. This is the Pile/Dolma-style "hit a target distribution"
    * mix — the relative counterpart of [[tokenBudgetRates]]' absolute
    * budgets: change the corpus and the rates re-derive; the proportions
    * stay what was asked.
    *
    *   rate_i = min over targeted strata j of
    *            ⌊ p_i · avail_j · 1000 ∕ (p_j · avail_i) ⌋
    *
    * — the exact-rational form of "scale every stratum to the binding
    * one": the i = j term is exactly 1000, and for the binding stratum
    * (the argmin of avail∕p) every other term is ≥ 1000, so its rate is
    * EXACTLY 1000 — kept whole with no flooring loss. (The naive
    * two-step form — T = ⌊avail·1000∕p⌋ then ⌊p·T∕avail⌋ — floors twice
    * and books 999 for the binding stratum whenever avail·1000 is not
    * divisible by p.) All arithmetic is integer (BigInt against overflow
    * on 100 TB token masses), so an external engine replays the
    * derivation exactly — and since ⌊min(x_j)⌋ = min(⌊x_j⌋), the per-j
    * floor-then-min is the floor of the exact rational optimum.
    * Strata without a target get rate 0. One map-side-combined
    * aggregation; |strata| rows on the driver. */
  def mixtureRates(df: DataFrame, strataCol: String, weightCol: String,
      targetsPermille: Map[String, Int]): Map[String, Int] = {
    require(targetsPermille.values.forall(_ >= 0) &&
      targetsPermille.values.sum <= 1000,
      s"mixture targets must be non-negative permille summing to <= 1000: " +
        s"$targetsPermille")
    val avail = df.where(col(strataCol).isNotNull)
      .groupBy(col(strataCol))
      .agg(sum(col(weightCol)).cast("long").as("total"))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    val live = targetsPermille.toSeq.collect {
      case (s, p) if p > 0 && avail.getOrElse(s, 0L) > 0 =>
        (p, avail(s))
    }
    targetsPermille.map { case (s, p) =>
      val a = avail.getOrElse(s, 0L)
      val rate =
        if (p == 0 || a <= 0 || live.isEmpty) 0
        else live.map { case (pj, aj) =>
          BigInt(p) * aj * 1000 / (BigInt(pj) * a)
        }.min.toInt
      s -> rate
    }
  }

  /** [[mixtureRates]] applied through [[stratified]]'s literal CASE chain:
    * the whole mixture decision is ONE scan-level hash predicate over the
    * corpus; the sizing aggregation is the only extra pass. */
  def targetMixture(df: DataFrame, idCol: String, strataCol: String,
      weightCol: String, targetsPermille: Map[String, Int],
      salt: String = "mix"): DataFrame =
    stratified(df, idCol, strataCol,
      mixtureRates(df, strataCol, weightCol, targetsPermille),
      defaultPermille = 0, salt = salt)

  /** Exact integer k-th root: the largest r ≥ 0 with r^k ≤ n. The float
    * seed is corrected by exact integer comparison, so the result is
    * engine-portable (an external engine replays floor(n^(1/k)) plus the
    * same ±1 correction). k ∈ {2, 3} — the α = 1/2 and α = 1/3
    * temperature exponents. */
  def iroot(n: Long, k: Int): Long = {
    require(k == 2 || k == 3, s"iroot supports k in {2, 3}: $k")
    require(n >= 0, s"iroot needs a non-negative argument: $n")
    // overflow-guarded x^k <= n: above the largest root whose power fits a
    // Long (isqrt/icbrt of Long.MaxValue), the power logically exceeds any
    // n — a bare x*x would wrap negative near Long.MaxValue and the
    // correction loop would spin ~1.5e9 iterations before returning a
    // wrong root
    def powLe(x: Long, m: Long): Boolean =
      if (k == 2) x <= 3037000499L && x * x <= m
      else x <= 2097151L && x * x * x <= m
    var r = math.pow(n.toDouble, 1.0 / k).toLong
    while (r > 0 && !powLe(r, n)) r -= 1
    while (powLe(r + 1, n)) r += 1
    r
  }

  /** Temperature-scaled mixture rates, α = 1/invAlpha: per-stratum keep
    * rates such that the OUTPUT weight shares are proportional to
    * `total_s^α` — the standard multilingual/multi-source rebalance
    * (upweight the tail, damp the head; α = 1/2 and 1/3 are the common
    * exponents) — subject to no stratum upsampling. Same exact-rational
    * min form as [[mixtureRates]] with the target share p_s = the exact
    * integer root of the stratum's weight mass: rate_i = min_j
    * ⌊p_i·total_j·1000 ∕ (p_j·total_i)⌋. The binding stratum (the
    * smallest total, since total∕total^α is increasing in total) books
    * exactly 1000 — kept whole — and every larger stratum downsamples by
    * (total_i∕total_j*)^(α−1) < 1. Pure integer arithmetic end to end
    * (BigInt against overflow at 100 TB masses; the root is exact by
    * [[iroot]]), so an external engine replays the whole derivation.
    * One map-side-combined sizing aggregation; |strata| driver rows. */
  def temperatureRates(df: DataFrame, strataCol: String, weightCol: String,
      invAlpha: Int = 2): Map[String, Int] = {
    val avail = df.where(col(strataCol).isNotNull)
      .groupBy(col(strataCol))
      .agg(sum(col(weightCol)).cast("long").as("total"))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1)))
      .toMap
    val live = avail.toSeq.collect {
      case (_, t) if t > 0 => (iroot(t, invAlpha), t)
    }
    avail.map { case (s, t) =>
      val rate =
        if (t <= 0 || live.isEmpty) 0
        else live.map { case (pj, tj) =>
          BigInt(iroot(t, invAlpha)) * tj * 1000 / (BigInt(pj) * t)
        }.min.toInt
      s -> rate
    }
  }

  /** [[temperatureRates]] applied through [[stratified]]'s literal CASE
    * chain — like [[targetMixture]], the whole rebalance decision is ONE
    * scan-level hash predicate; the sizing aggregation is the only extra
    * pass. Strata are discovered from the data (anything seen gets a
    * rate; the unlisted-stratum default never fires on the sizing pass's
    * own strata but drops rows of strata that appear only later). */
  def temperatureMixture(df: DataFrame, idCol: String, strataCol: String,
      weightCol: String, invAlpha: Int = 2,
      salt: String = "temp"): DataFrame =
    stratified(df, idCol, strataCol,
      temperatureRates(df, strataCol, weightCol, invAlpha),
      defaultPermille = 0, salt = salt)

  /** Top-fraction selection by an integer score — the quality-percentile
    * gate ("keep the best 20% of documents by quality score"): the
    * threshold is the largest score value t such that at least
    * k = max(1, n·keepPermille ∕ 1000) rows score ≥ t; rows with score ≥ t
    * survive (ties at the threshold are kept, so the result has ≥ k rows
    * and shrinking the threshold further would overshoot no less).
    *
    * Exact AND scale-safe, without the exact-percentile traps: no global
    * sort (the row_number/ntile form sorts the corpus on one partition)
    * and no per-group value collection (Spark's exact `percentile`
    * aggregate holds every distinct value in memory). Instead the corpus
    * folds to a score histogram — map-side-combined, ≤ |distinct scores|
    * rows, which the caller bounds by supplying an integer-quantized score
    * (the permille metrics of [[TextAnalysis.qualityMetrics]] are already
    * on a ≤ few-thousand-point grid) — the threshold is read off the
    * histogram's running sum, and rejoins the scan as a broadcast 1-row
    * literal. Two passes over the corpus, zero wide shuffles.
    *
    * Deterministic and engine-portable: pure integer logic, so the DuckDB
    * oracle replays histogram, running sum, k and the cut verbatim.
    *
    * NULL scores are unrankable: they are excluded from the quota base n
    * AND from the output (counting them in n would inflate k while the
    * `>=` cut can never admit them — the fraction would silently apply
    * to the wrong denominator). The exclusion is arithmetic on the
    * post-aggregation histogram, NOT a `where` on the input: a pushed
    * filter would make the histogram branch's subtree structurally
    * different from the probe branch, breaking Catalyst's exchange reuse
    * between the two evaluations of the (possibly expensive) upstream —
    * measured 2× on a composed curation chain at sf1.
    *
    * `materializeInput = true` localCheckpoints the scored input before
    * the two consumers (histogram + probe) read it — the gate evaluates
    * the scoring projection TWICE otherwise (it is scan-level, so there
    * is no exchange for Catalyst to reuse between the branches). Worth it
    * exactly when the score is expensive relative to a write of the
    * projection (e.g. the 20-regex composite quality score — measured
    * ~2× the gate's cost at sf1, SCALE.md); leave it off for cheap
    * scores, where the checkpoint write costs more than the re-scan. The
    * checkpointed frame stays referenced by the returned plan — the
    * local-checkpoint lifetime discipline (never freed early) holds. */
  def keepTopByScore(df: DataFrame, scoreCol: String,
      keepPermille: Int, materializeInput: Boolean = false): DataFrame = {
    require(keepPermille > 0 && keepPermille <= 1000,
      s"keepPermille must be in (0, 1000]: $keepPermille")
    val in = if (materializeInput) df.localCheckpoint() else df
    val hist = in.groupBy(col(scoreCol).cast("long").as("__s"))
      .agg(count(lit(1)).as("__c"))
    // the window runs over the histogram (|distinct scores| rows), not the
    // corpus — the one place a single-partition window is the right shape.
    // The NULL score group sorts last under desc, so it can never be
    // elected threshold; zeroing it out of the running sum and the total
    // completes its exclusion without touching the input subtree.
    val nnc = when(col("__s").isNotNull, col("__c")).otherwise(lit(0L))
    val w = Window.orderBy(col("__s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.select(col("__s"), sum(nnc).over(w).as("__cum"),
      sum(nnc).over(Window.partitionBy()).as("__n"))
    // k = max(1, n·keepPermille div 1000) via the SQL integer-division
    // operator — Column `/` is IEEE double division, which rounds the
    // long operand itself beyond 2^53 and can land k on the wrong side of
    // an integer boundary; `div` is exact at ANY corpus size and matches
    // the DuckDB oracle's `//` bit-for-bit
    val prod = col("__n") * lit(keepPermille.toLong)
    val k = greatest(lit(1L),
      call_function("div", prod, lit(1000L)).cast("long"))
    val thr = cum.agg(
      max(when(col("__cum") >= k, col("__s"))).as("__thr"))
    in.join(broadcast(thr), col(scoreCol).cast("long") >= col("__thr"))
      .drop("__thr")
  }

  /** Exact per-key quantile VALUES over an integer-grid column — the
    * report form of the [[keepTopByScore]] machinery ("what sequence
    * length covers p99 of documents per source" is THE packing/seq-len
    * planning question): for each requested permille q, the smallest
    * value whose cumulative count reaches rank ⌈n·q∕1000⌉ (the
    * classical lower exact quantile — discrete, no interpolation).
    *
    * Same exact-percentile posture as keepTopByScore: the corpus folds
    * to a per-key value histogram (map-side-combined, ≤ |distinct
    * values| rows per key — bounded by the caller's integer grid), the
    * running sum walks the HISTOGRAM under a per-key window, each
    * quantile picks the unique bucket straddling its rank
    * (prev-cum < rank ≤ cum), all in exact integer arithmetic the
    * DuckDB oracle replays verbatim. No global sort, no per-group value
    * collection, no approx sketch. NULL values are excluded from both n
    * and the output. Returns (key, q_x1000, value, rank, n).
    *
    * Stored-count fast path (VERDICT r16 ask #8): `valueCol` is any
    * integer column — when the corpus already carries the measure (the
    * packing manifest's `n_tokens`, the documents table's `n_chars`),
    * feed THAT column and the whole operator is one cheap 2-column scan;
    * recomputing a regex token count per doc is the caller's opt-in, not
    * a structural cost of the quantile walk (which is scale-flat either
    * way). Stored ≡ recomputed is spec-pinned. */
  def exactQuantiles(df: DataFrame, keyCol: String, valueCol: String,
      qX1000: Seq[Int]): DataFrame = {
    require(qX1000.nonEmpty && qX1000.forall(q => q > 0 && q <= 1000),
      s"quantiles must be in (0, 1000]: $qX1000")
    val hist = df.where(col(valueCol).isNotNull)
      .groupBy(col(keyCol), col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("__v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(w))
      .withColumn("__n", sum(col("__c")).over(Window.partitionBy(col(keyCol))))
    cum.select(col(keyCol), col("__v"), col("__c"), col("__cum"),
      col("__n"),
      explode(array(qX1000.map(q => lit(q.toLong)): _*)).as("q_x1000"))
      // rank = ceil(n·q/1000) by integer arithmetic (div is exact at any
      // corpus size; Column `/` would round through IEEE double)
      .withColumn("__rank", call_function("div",
        col("__n") * col("q_x1000") + lit(999L), lit(1000L)).cast("long"))
      .where(col("__cum") >= col("__rank") &&
        col("__cum") - col("__c") < col("__rank"))
      .select(col(keyCol), col("q_x1000"), col("__v").as("value"),
        col("__rank").as("rank"), col("__n").as("n"))
  }

  /** [[keepTopByScore]] for CONTINUOUS scores — when no integer grid
    * bounds the histogram, the exact path's |distinct scores| guarantee is
    * gone; this variant reads the threshold from Spark's built-in
    * Greenwald–Khanna quantile sketch (`percentile_approx` — a mergeable
    * partial aggregate: map-side summaries of bounded size, one tiny
    * merge, never a value collection), then applies the same broadcast
    * 1-row `>=` cut. `accuracy` trades sketch memory for rank error
    * (≈ n/accuracy rows); the kept fraction is approximate, the
    * determinism is not (the sketch is deterministic for a given
    * partitioning — pin partitioning upstream if bit-stable reruns
    * matter, or quantize and use the exact path). */
  def keepTopByScoreApprox(df: DataFrame, scoreCol: String,
      keepPermille: Int, accuracy: Int = 10000): DataFrame = {
    require(keepPermille > 0 && keepPermille <= 1000,
      s"keepPermille must be in (0, 1000]: $keepPermille")
    val thr = df.agg(percentile_approx(col(scoreCol),
      lit((1000 - keepPermille) / 1000.0), lit(accuracy)).as("__thr"))
    df.join(broadcast(thr), col(scoreCol) >= col("__thr")).drop("__thr")
  }

  /** Exactly-k-per-stratum deterministic sample: keep the k rows of each
    * stratum whose mixed coordinate ranks first (ties break by id) — the
    * fixed-SIZE counterpart of [[stratified]]'s fixed-RATE sample, for
    * per-source eval/holdout sets that must have exactly k docs no matter
    * how skewed the sources are. Deterministic in (salt, id) like every
    * sampler here, and each selected set is itself a uniform sample of
    * its stratum.
    *
    * NOT growth-stable by construction — a new row with a smaller
    * coordinate displaces the current rank-k row (fixed size and fixed
    * membership are incompatible under growth; use [[sample]] when
    * membership stability matters more than exact size).
    *
    * Scale shape: the rank <= k predicate makes Catalyst plan the window
    * as WindowGroupLimit — per-partition partial top-k BEFORE the
    * stratum shuffle, so at most k rows per (stratum, input partition)
    * ever move, and the final per-stratum task touches k·partitions
    * rows, not the stratum (plan-pinned in PlanEvidenceSpec). */
  def exactPerStratum(df: DataFrame, idCol: String, strataCol: String,
      k: Int, salt: String = "s"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    requireColumnsAbsent(df, "__coord", "__rank")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("__coord"), col(idCol))
    df.withColumn("__coord", mixCoord(col(idCol), salt))
      .withColumn("__rank", row_number().over(w))
      .where(col("__rank") <= k)
      .drop("__coord", "__rank")
  }

  /** Exactly-k GLOBAL deterministic sample: the k rows of the whole corpus
    * whose mixed coordinate ranks first (ties by id) — the corpus-wide
    * fixed-size counterpart of [[exactPerStratum]], for eval sets and
    * debugging slices that must have exactly k rows. Like every sampler
    * here, a pure function of (salt, id): reruns, engines and
    * repartitionings reproduce the same k rows, and each result is a
    * uniform sample. NOT growth-stable (fixed size and fixed membership
    * are incompatible under growth — same caveat as exactPerStratum).
    *
    * Scale shape: `orderBy(...).limit(k)` plans as TakeOrdered — a
    * per-partition top-k heap and one k-row merge at the driver side of
    * the exchange; the corpus is never globally sorted and at most
    * k·partitions rows move. */
  def exactK(df: DataFrame, idCol: String, k: Int,
      salt: String = "s"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    requireColumnsAbsent(df, "__coord")
    df.withColumn("__coord", mixCoord(col(idCol), salt))
      .orderBy(col("__coord"), col(idCol))
      .limit(k)
      .drop("__coord")
  }

  /** Deterministic sharded shuffle — the training-order preparation step:
    * every row gets a `shard` in [0, nShards) and a 1-based `pos` within
    * its shard, such that reading the shards (each ordered by `pos`)
    * replays a reproducible pseudo-random permutation of the corpus.
    * Both coordinates are pure functions of (salt, id): re-runs, engine
    * swaps, and repartitioning reproduce the identical order, and a
    * grown corpus only INSERTS rows into the permutation (existing
    * relative order of surviving rows is stable under same-salt
    * subsampling, because all three decisions read the same hash family).
    *
    * Shard and order use derived salts (`salt#shard`, `salt#ord`), so
    * shard assignment and within-shard order are independent — a shard is
    * itself a uniform sample, and striping reads across shards does not
    * re-correlate with ids.
    *
    * Scale shape: the shard is a scan-level expression; the rank is a
    * window partitioned BY SHARD — never a single global window. Size
    * nShards to the cluster (hundreds to thousands at 100 TB) and each
    * window partition is corpus/nShards rows, one shuffle total; the
    * usual global-`orderBy` + `row_number` trap (one partition sorts the
    * world) never appears. Ties on the 32-bit coordinate break by id, so
    * the permutation is total and deterministic. */
  def shuffleSharded(df: DataFrame, idCol: String, nShards: Int,
      salt: String = "shuf"): DataFrame = {
    require(nShards > 0, s"nShards must be positive: $nShards")
    requireColumnsAbsent(df, "shard", "pos", "__ord")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__ord"), col(idCol))
    df.withColumn("shard",
        pmod(mixCoord(col(idCol), s"$salt#shard"), lit(nShards.toLong)))
      .withColumn("__ord", mixCoord(col(idCol), s"$salt#ord"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__ord")
  }

  /** DSIR-style data selection via importance resampling (Xie et al.,
    * "Data Selection for Language Models via Importance Resampling",
    * NeurIPS 2023): pick the `k` candidate documents whose hashed
    * bag-of-words distribution best matches a small TARGET corpus, by
    * Gumbel-top-k sampling proportional to the importance weight
    * p_target(doc)/p_raw(doc) under two smoothed hashed-unigram models.
    *
    * Rows where `isTarget` holds FIT the target model and are excluded
    * from selection; every other row is a candidate, fits the raw model,
    * and competes. Per bucket `b` (the same engine-portable 31-bit char
    * fold as [[graft.pipeline.TextAnalysis.classifierScore]], modulo
    * `buckets`), with add-1 smoothing over word totals T (target) and R
    * (raw):
    *
    *   llr(b) = ln((ct_b + 1)/(T + buckets)) − ln((cr_b + 1)/(R + buckets))
    *
    * quantized to micro-nats (`floor(1e6·llr)`, a long) so the per-doc
    * log-weight is an exact INTEGER sum of per-bucket terms — order-free
    * and replayable by any 64-bit engine; the only cross-engine surface
    * is one `ln` per live bucket (the q_text_lm/ccnet posture). The
    * Gumbel key adds `floor(1e6·(−ln(−ln(u))))` with `u = (mixCoord +
    * 0.5)/2^32` — u is a dyadic rational, so the division is EXACT and
    * the noise is a pure function of (salt, id): the resample is
    * deterministic, reproducible across engines and repartitionings, and
    * top-k by the integer key is sampling-without-replacement ∝ weight
    * (the Gumbel-max trick).
    *
    * Shape at 100 TB: ONE explode pass builds the (id, bucket, cnt)
    * feature frame (map-side-combined groupBy, ≤ docs×buckets rows,
    * localCheckpointed — the [[graft.pipeline.TextAnalysis.perceptronTrain]]
    * docFeats discipline); the model fit is one `buckets`-row aggregate of
    * it; scoring joins the ≤`buckets`-row llr table back BROADCAST (no
    * shuffle added); selection is `orderBy.limit(k)` — TakeOrderedAndProject,
    * per-partition top-k then a k-row driver merge, never a global sort.
    *
    * Returns the k selected rows as (id, score_x1e6, gumbel_x1e6,
    * key_x1e6), ordered by id. Wordless candidates score 0 and compete on
    * noise alone — the weight-1 posture of an empty feature vector. */
  def dsirResample(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, k: Int, buckets: Int = 64,
      salt: String = "dsir"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(buckets > 0 && buckets <= (1 << 20),
      s"buckets must be in [1, 2^20]: $buckets")
    val words = filter(split(lower(trim(col(textCol))), "\\s+"),
      w => w =!= "")
    val slim = df.select(col(idCol).cast("long").as("id"),
      isTarget.cast("boolean").as("__tgt"), words.as("__ws"))
    val docFeats = slim
      .select(col("id"), col("__tgt"), explode(col("__ws")).as("w"))
      .select(col("id"), col("__tgt"),
        (Dedup.arithHash31(col("w")) % buckets).cast("int").as("b"))
      .groupBy(col("id"), col("__tgt"), col("b"))
      .agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val bc = docFeats.groupBy(col("b")).agg(
      sum(when(col("__tgt"), col("cnt")).otherwise(0L)).as("ct"),
      sum(when(col("__tgt"), 0L).otherwise(col("cnt"))).as("cr"))
    val tot = bc.agg(sum(col("ct")).as("t"), sum(col("cr")).as("r"))
    val bD = lit(buckets.toDouble)
    val llr = bc.crossJoin(broadcast(tot))
      .select(col("b"),
        floor(lit(1e6) *
          (log((col("ct") + lit(1.0)) / (col("t") + bD)) -
            log((col("cr") + lit(1.0)) / (col("r") + bD))))
          .cast("long").as("llr"))
    val scores = docFeats.where(!col("__tgt"))
      .join(broadcast(llr), Seq("b"))
      .groupBy(col("id"))
      .agg(sum(col("cnt") * col("llr")).as("__sc"))
    // u in (0,1) is exact: mixCoord < 2^32 is integer-representable, +0.5
    // exact, and division by 2^32 only shifts the exponent
    val u = (mixCoord(col("id"), salt).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    val keyed = slim.where(!col("__tgt")).select(col("id"))
      .join(scores, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("__sc"), lit(0L)).as("score_x1e6"),
        floor(lit(1e6) * -log(-log(u))).cast("long").as("gumbel_x1e6"))
      .withColumn("key_x1e6", col("score_x1e6") + col("gumbel_x1e6"))
    keyed.orderBy(col("key_x1e6").desc, col("id")).limit(k)
      .orderBy(col("id"))
  }

  /** DoReMi-style domain reweighting, one multiplicative-weights step
    * (Xie et al. 2023: Domain Reweighting with Minimax Optimization):
    * starting from uniform domain weights, each domain's weight is scaled
    * by `exp(η · excess_d)` where `excess_d` is the domain's mean
    * per-document score minus the corpus mean — domains the proxy signal
    * says are under-served gain mass, over-served domains shed it — then
    * renormalized to a permille mixture that [[targetMixture]] /
    * [[mixtureRates]] can consume directly.
    *
    * `scoreCol` is any integer per-document signal (classifier margin,
    * micro-nat LM excess loss, quality score). Determinism discipline:
    * means are integer `div`s; the exp argument is `excess / 2048` — a
    * power-of-two divide, so the double is EXACT on both engines — and
    * the weight is quantized `floor(10⁴·exp(·))` before any further
    * arithmetic, putting all downstream normalization back in integer
    * space (ulp drift on `exp` would need to land within ~10⁻¹⁰ of a
    * floor boundary to show — the micro-nat `ln` posture). η is therefore
    * fixed at 1/2048 per score unit; callers tune by scaling `scoreCol`.
    *
    * Clamp: |excess/2048| is capped at 16 (exp ≤ 8.9·10⁶ fits the 10⁴
    * quantization comfortably; e¹⁶ overflow would need |excess| > 32768,
    * i.e. a degenerate proxy). Shape: one map-side-combined aggregation
    * to |domains| rows, then driver-free broadcast arithmetic — the
    * corpus is scanned exactly once. */
  def doremiStep(df: DataFrame, domainCol: String, scoreCol: String)
      : DataFrame = {
    val perDom = df.select(col(domainCol).as("d"),
        col(scoreCol).cast("long").as("s"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_docs"), sum(col("s")).as("ssum"))
    val tot = perDom.agg(sum(col("n_docs")).as("nt"), sum(col("ssum")).as("st"))
    val meanD = call_function("div", col("ssum"), col("n_docs"))
    val meanAll = call_function("div", col("st"), col("nt"))
    val weighted = perDom.crossJoin(broadcast(tot))
      .withColumn("mean_score", meanD)
      .withColumn("excess", meanD - meanAll)
      .withColumn("w_x1e4",
        floor(lit(1e4) * exp(
          greatest(lit(-16.0), least(lit(16.0),
            col("excess").cast("double") / lit(2048.0)))))
          .cast("long"))
    val wsum = weighted.agg(sum(col("w_x1e4")).as("wt"))
    weighted.crossJoin(broadcast(wsum))
      .select(col("d").as(domainCol), col("n_docs"), col("mean_score"),
        col("excess"),
        call_function("div", col("w_x1e4") * 1000L, col("wt"))
          .as("weight_permille"))
  }
}
