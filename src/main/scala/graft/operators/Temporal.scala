package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** As-of (point-in-time) join: attach to each probe row the newest state
  * row of the same key with state ts STRICTLY before the probe ts — the
  * temporal-join pattern (feature-store point-in-time correctness; here
  * "the last active state visible at each event's arrival"). One of the
  * operators SURVEY §7.4 lists as compose-don't-custom: the semantics fall
  * out of existing ops, no custom strategy needed.
  *
  * Spark-first shape: NO range join, NO per-probe re-scan. Probes and
  * states union into one tagged stream; ONE hash exchange on the key, one
  * in-partition sort by (ts, side), and `last(value, ignoreNulls)` over
  * the preceding frame carries the newest earlier state onto each probe
  * row. Cost is a sort-window over |probes| + |states| — linear per key
  * after the exchange, the same plan at 100 TB. Strictness: probes
  * sort BEFORE states at equal ts, so same-instant states are excluded;
  * callers wanting ≤ pre-shift probe ts. States must be unique per
  * (key, ts) — pre-aggregate (max_by) if not: ambiguity is resolved
  * before the join, not by engine luck.
  */
object Temporal {

  def asofJoin(probes: DataFrame, states: DataFrame, keyCol: String,
      tsCol: String, valCol: String, out: String = "asof_value"): DataFrame = {
    val vType = states.schema(valCol).dataType
    // The state value rides inside a single-field struct: `last(ignoreNulls)`
    // skips NULL cells, and a bare NULL state VALUE would be skipped too —
    // silently carrying an older state forward. Boxed, a null-valued state is
    // a non-null struct{null}, so it participates like any other state and
    // the probe correctly observes NULL. Probe rows carry a NULL struct
    // (skipped, as intended).
    val vBox = s"struct<v:${vType.sql}>"
    val pTag = probes.select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
      lit(0).as("__side"), lit(null).cast(vBox).as("__v"),
      struct(probes.columns.map(col): _*).as("__row"))
    val rowType = pTag.schema("__row").dataType
    val sTag = states.select(col(keyCol).as("__k"), col(tsCol).as("__ts"),
      lit(1).as("__side"), struct(col(valCol).cast(vType).as("v")).as("__v"),
      lit(null).cast(rowType).as("__row"))
    val w = Window.partitionBy(col("__k"))
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pTag.unionByName(sTag)
      .withColumn("__asof", last(col("__v"), ignoreNulls = true).over(w))
      .where(col("__side") === 0)
      .select(col("__row.*"), col("__asof.v").as(out))
  }

  /** Gap-based sessionization: per key, rows ordered by (ts, tie-break)
    * are grouped into sessions split wherever the gap to the previous row
    * exceeds `gapMs` — the standard event-analytics sessionizer (user
    * activity bursts, crawl visits, BGP flap episodes over the same log).
    *
    * Shape: ONE exchange on the key and one in-partition sort serve both
    * windows (the `lag` boundary flag and its running sum share
    * partitioning and ordering, so Catalyst stacks them in a single
    * WindowExec) — linear per key at any scale; never a global window.
    * Ties at equal ts can never straddle a boundary (their gap is 0), so
    * the assignment is deterministic even where the sort order between
    * them is not; `tieCol` pins the order fully anyway.
    *
    * Appends `out` = the 1-based session index within the key. */
  def sessionize(df: DataFrame, keyCol: String, tsCol: String,
      gapMs: Long, tieCol: String, out: String = "session"): DataFrame = {
    require(gapMs >= 0, s"gapMs must be non-negative: $gapMs")
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val prev = lag(unix_millis(col(tsCol)), 1).over(w)
    val boundary = when(
      prev.isNull || unix_millis(col(tsCol)) - prev > gapMs, 1L)
      .otherwise(0L)
    df.withColumn(out, sum(boundary)
      .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-key daily event-rate anomalies by EXACT integer z-score: flag
    * (key, day) cells whose count deviates from the key's own mean by at
    * least `zX1000/1000` standard deviations — the standard monitoring /
    * abuse-detection sweep (traffic spikes, scraper bursts), done
    * portably. SPIKE detection only: a day with ZERO events produces no
    * cell in the daily aggregate, so a feed that goes silent is invisible
    * here — outage detection needs the day grid densified with zero
    * cells (sequence() over the key's [min_day, max_day] span) before
    * the same inequality, which changes the operator's size from
    * |observed cells| to |keys × days|; this operator deliberately stays
    * on the sparse side.
    *
    * The z comparison never leaves integers: with n days, sum s and sum
    * of squares ss per key, `z² = (x·n − s)² ∕ (n·ss − s²)`, so the flag
    * is `(x·n − s)²·10⁶ ≥ zX1000²·(n·ss − s²)` — one cross-multiplied
    * inequality, no float mean/stddev/sqrt, so an external engine
    * replays the decision bit-for-bit (a float-stddev form drifts in the
    * last ulp and flips borderline cells). A zero-variance key flags
    * nothing (both sides 0 — `≥` would fire vacuously, so the variance
    * must be strictly positive).
    *
    * Overflow envelope: the two squares run in exact Decimal(38,0), not
    * long (a long left side would wrap/throw once |x·n − s| ≥ ~3.0e9 —
    * a single hot key with ~1e5 events/day over a year breaches that).
    * The inequality is evaluated as `dev² ≥ ceil(zX1000²·varN ∕ 10⁶)`
    * (integer ceiling via `(·+999999) div 10⁶`), which keeps the left
    * side exact for EVERY long deviation (dev² < 8.6e37 < 10³⁸) and the
    * right side exact while `zX1000²·(n·ss − s²) < 10³⁸` — with the
    * enforced zX1000 ≤ 10⁵ that is varN < 10²⁸, i.e. beyond ~10¹³ total
    * events per key over ~10⁵ days. `ss = Σx²` is itself accumulated in
    * Decimal(38,0) (a long would wrap at x ≥ 3.04e9 events in one cell).
    * The only remaining long product is `x·n − s`, whose inputs are row
    * counts: it needs rows-per-cell × days-per-key ≥ 2⁶³ to overflow,
    * unreachable for count data. An external engine replays the exact
    * same integers in any ≥127-bit integer type (the DuckDB oracle uses
    * HUGEINT with `//` floor division).
    *
    * Shape: two map-side-combined aggregations (daily cells, then per-key
    * moments — the second runs over the already-tiny cell table) and one
    * key-equi join of cells against |keys| moment rows. No window over
    * raw events, no global sort. */
  def rateAnomalies(df: DataFrame, keyCol: String, tsCol: String,
      zX1000: Long = 2000L): DataFrame = {
    require(zX1000 > 0 && zX1000 <= 100000L,
      s"zX1000 must be in (0, 1e5] (z ≤ 100) for the exact-integer " +
        s"envelope: $zX1000")
    val dec = DecimalType(38, 0)
    val daily = df.groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).cast("long").as("n_events"))
    val stats = daily.groupBy(col(keyCol))
      .agg(count(lit(1)).cast("long").as("__n"),
        sum(col("n_events")).cast("long").as("__s"),
        sum(col("n_events").cast(dec) * col("n_events").cast(dec))
          .cast(dec).as("__ss"))
    val dev = (col("n_events") * col("__n") - col("__s")).cast(dec)
    val varN = col("__n").cast(dec) * col("__ss") -
      col("__s").cast(dec) * col("__s").cast(dec)
    // dev² ≥ ceil(z²·varN/10⁶): exact Decimal(38,0) both sides; the
    // scale-6 quotient is exactly representable, so floor() is exact
    val rhs = floor((lit(zX1000 * zX1000).cast(dec) * varN +
      lit(999999L).cast(dec)) / lit(1000000L))
    daily.join(stats, keyCol)
      .where(col("__n") >= 2 && varN > 0 && dev * dev >= rhs)
      .withColumn("n_days", col("__n"))
      .select(col(keyCol), col("day"), col("n_events"), col("n_days"))
  }
}
