package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derives an sf1-scale measurement fixture from the sf0.1 tables (dev
  * tool: the driver only ships sf0.001/0.01/0.1, and the 100 TB posture
  * arguments need at least one measured scale point beyond sf0.1 —
  * SCALE.md records the sf0.1→sf1 per-family scaling exponents).
  *
  * Each fact table is replicated `factor`× with consistently shifted
  * keys, so referential joins keep their per-copy fan-in:
  *
  *   - customer/supplier/part/orders/lineitem: key shift `i * SHIFT`
  *     applied to both sides of every FK (orderkey↔lineitem,
  *     custkey↔orders, partkey/suppkey↔lineitem);
  *   - events: event_id/user_id shift + `i` seconds of ts offset, so no
  *     two copies collide at identical timestamps. The copies do NOT add
  *     route keys: `RouteEventGen.fromEvents` derives a v4 key from
  *     `uid % 256` and `slot % 16` (at most 5,120 ipv4u keys, which sf0.1
  *     already nearly fills), so the shifted user ids land on the same
  *     keys and each copy only deepens every key's history. A scale point
  *     with more routes needs shifted key spaces (ROADMAP item 9);
  *   - documents: every WORD gets a per-copy suffix (`w` → `w3`), which
  *     keeps each copy's internal near-duplicate structure intact while
  *     making copies mutually disjoint — scaling a dedup corpus by
  *     repeating texts verbatim would grow every shingle bucket 10× and
  *     the LSH pair joins 100×, a fixture artifact, not corpus growth;
  *   - embeddings: dimensions rotated by `i` — norms, pairwise cosines
  *     and cluster structure survive within a copy, and copies spread
  *     instead of stacking exactly on the sf0.1 centroids.
  *
  * region/nation stay as-is (fixed-cardinality dimensions).
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/target/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val shift = 100000000L
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def rd(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def copies(df: DataFrame)(mk: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(i => mk(df, i)).reduce(_ unionByName _)
    def wr(df: DataFrame, t: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaleup] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }

    wr(rd("region"), "region")
    wr(rd("nation"), "nation")
    wr(copies(rd("customer")) { (d, i) =>
      d.withColumn("c_custkey", col("c_custkey") + i * shift) }, "customer")
    wr(copies(rd("supplier")) { (d, i) =>
      d.withColumn("s_suppkey", col("s_suppkey") + i * shift) }, "supplier")
    wr(copies(rd("part")) { (d, i) =>
      d.withColumn("p_partkey", col("p_partkey") + i * shift) }, "part")
    wr(copies(rd("orders")) { (d, i) =>
      d.withColumn("o_orderkey", col("o_orderkey") + i * shift)
        .withColumn("o_custkey", col("o_custkey") + i * shift) }, "orders")
    wr(copies(rd("lineitem")) { (d, i) =>
      d.withColumn("l_orderkey", col("l_orderkey") + i * shift)
        .withColumn("l_partkey", col("l_partkey") + i * shift)
        .withColumn("l_suppkey", col("l_suppkey") + i * shift) }, "lineitem")
    // events go through Tables, the single ts-normalization seam: a raw
    // read of a TIMESTAMP(NANOS)-era fixture yields BIGINT ts under
    // nanosAsLong, and BIGINT + INTERVAL fails analysis (the verify-skill
    // gotcha: read fixtures ONLY through Tables)
    wr(copies(graft.queries.Tables(spark, src, "events")) { (d, i) =>
      d.withColumn("event_id", col("event_id") + i * shift)
        .withColumn("user_id", col("user_id") + i * shift)
        .withColumn("ts", col("ts") + expr(s"INTERVAL $i SECOND")) }, "events")
    wr(copies(rd("documents")) { (d, i) =>
      val t = if (i == 0) col("text")
              else regexp_replace(col("text"), "(\\S+)", s"$$1$i")
      d.withColumn("doc_id", col("doc_id") + i * shift)
        .withColumn("text", t)
        .withColumn("n_chars", length(t).cast("long")) }, "documents")
    wr(copies(rd("embeddings")) { (d, i) =>
      val dim = 64
      val rot = transform(sequence(lit(0), lit(dim - 1)), j =>
        element_at(col("embedding"), ((j + lit(i)) % dim) + 1))
      d.withColumn("vec_id", col("vec_id") + i * shift)
        .withColumn("embedding", rot) }, "embeddings")
    // pin the derived fixture's content identity so a later bench leg can
    // detect a rebuilt/regenerated fixture instead of silently producing
    // incomparable numbers (FixtureId scaladoc)
    println(s"[scaleup] ${FixtureId.fileName}: ${FixtureId.write(spark, out)}")
    spark.stop()
  }
}
