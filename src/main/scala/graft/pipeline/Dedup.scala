package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design: exact dedup is a single hash-shuffle on a 64-bit content
  * hash (never on the raw text). MinHash/SimHash compute signatures in one
  * narrow projection (no explode, no shuffle) using higher-order array
  * functions over the shingle array; candidate generation shuffles only
  * (band_id, band_hash, doc_id) tuples — the classic LSH layout that holds
  * at 100 TB because signature width, not document size, bounds the shuffle.
  */
object Dedup {

  /** Word k-shingles of a text column as an array column — one projection,
    * no explode. */
  def shingles(text: Column, k: Int): Column = {
    val words = split(text, "\\s+")
    val n = size(words)
    when(n >= k,
      transform(sequence(lit(0), n - k), i => concat_ws(" ", slice(words, i + 1, lit(k)))))
      .otherwise(array(concat_ws(" ", words)))
  }

  /** 64-bit hashes of the word k-shingles, hashing the k words directly —
    * no shingle-string materialization (the hot-path form: at corpus scale
    * the string build dominates shingling cost). Same identity as
    * xxhash-of-shingle modulo hash collisions. */
  def shingleHashes(text: Column, k: Int): Column =
    shingleHashesFromWords(split(text, "\\s+"), k)

  /** [[shingleHashes]] over an already-split words array. Pass a BOUND
    * attribute (a words column materialized by a previous projection) in
    * hot paths: a raw `split(...)` expression here is re-evaluated at every
    * lambda reference — k times per shingle (the O(words²·k) trap). */
  def shingleHashesFromWords(words: Column, k: Int): Column = {
    val n = size(words)
    when(n >= k,
      transform(sequence(lit(0), n - k), i =>
        xxhash64((1 to k).map(j => element_at(words, (i + j).cast("int"))): _*)))
      .otherwise(array(xxhash64(concat_ws(" ", words))))
  }

  /** Exploded (id, `out`) rows over word k-shingles — the scalable
    * shingling form: the text is split ONCE per row (posexplode), shingles
    * come from window `lead`s over word position, and `mk` maps the k word
    * columns of each shingle (or the single whole-text column for
    * sub-k-word documents) to the output column. Avoids the trap where
    * array-lambda shingling re-evaluates `split` per element (O(words²)
    * work per document). Multiset semantics (duplicates kept) —
    * `.distinct()` downstream where sets are needed. */
  private def explodedShingleCols(df0: DataFrame, idCol: String,
      textCol: String, k: Int, out: String)(mk: Seq[Column] => Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // id-keyed spread BEFORE the words explode (r18 opt round): the lead
    // window below requires hashpartitioning(id) anyway, so pre-spreading
    // a small/unsplittable input moves the exchange from AFTER the
    // explode (word rows, single-task explode) to BEFORE it (compact doc
    // rows, parallel explode) — same exchange count, less shuffled bytes,
    // and the explode+hash work runs at full parallelism. At production
    // scan sizes the spread is a no-op by condition. k = 1 has NO lead
    // window (no exchange to replace), so the spread would be a pure
    // extra exchange there — skipped.
    val df =
      if (k > 1) graft.queries.Tables.spread(df0.sparkSession, df0, idCol)
      else df0
    val words = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\\s+")).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val leads = (1 until k).map(j => lead(col("w"), j).over(byDoc))
    // a word starts a full k-shingle iff its (k-1)-th lead exists — the
    // same gate as `nw >= k && pos <= nw - k` without the second
    // WindowExec (+ sort) an unordered count-over-id window would cost
    val lastLeadOk = if (k > 1) leads.last.isNotNull else lit(true)
    val long = words
      .select(col("id"), mk(col("w") +: leads).as(out), lastLeadOk.as("__full"))
      .where(col("__full"))
      .select(col("id"), col(out))
    val short = df
      .where(size(split(col(textCol), "\\s+")) < k)
      .select(col(idCol).as("id"),
        mk(Seq(concat_ws(" ", split(col(textCol), "\\s+")))).as(out))
    long.unionByName(short)
  }

  /** Exploded (id, h) 64-bit shingle hashes — each shingle hashed directly
    * from its k words, no shingle-string materialization (the hot-path
    * form: at corpus scale the string build dominates shingling cost). */
  def explodedShingleHashes(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    explodedShingleCols(df, idCol, textCol, k, "h")(ws => xxhash64(ws: _*))

  /** Exploded (id, s) shingle strings — for the arithmetic-hash variants
    * whose hashes an external SQL engine can recompute (oracle path). */
  def explodedShingleStrings(df: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    explodedShingleCols(df, idCol, textCol, k, "s")(ws => concat_ws(" ", ws: _*))

  /** Polynomial character fold `(…(c0·m + c1)·m + c2…) mod q` — an
    * engine-portable hash: pure integer arithmetic over codepoints, so any
    * SQL engine reproduces it exactly (the cross-checkable alternative to
    * xxhash64; quality is lower but adequate for bucketing). The empty-
    * string filter drops the trailing empty element Spark's `split` keeps.
    * With q < 2^31 and codepoints < 2^21 the fold stays far below 2^63. */
  def charFold(s: Column, mult: Long, q: Long): Column =
    aggregate(filter(split(s, ""), c => c =!= ""), lit(0L),
      (acc, c) => (acc * mult + ascii(c)) % q)

  /** 31-bit portable shingle hash (drop-in for the masked xxhash64). */
  def arithHash31(s: Column): Column = charFold(s, 31L, 1073741789L)

  /** 63-bit portable shingle hash: two independent 31-bit folds spread
    * across the word — bits 33-62 from fold1 (folded to 30 bits first so
    * the shift can't overflow: SQL engines raise on signed-shift overflow
    * where the JVM wraps), bits 2-32 from fold2, low bits from their sum.
    * Always non-negative; bit 63 is never set (a simhash built on it has a
    * constant-zero top bit — irrelevant for bucketing/hamming). SQL
    * replica: `xor(xor((f1 % 2^30) << 33, f2 << 2), f1 + f2)`. */
  def arithHash64(s: Column): Column = {
    // Both folds in ONE pass over ONE split: two charFold calls would each
    // split+filter+walk the string (and project-collapse re-inlines shared
    // sub-expressions rather than sharing them). The pair accumulator walks
    // the codepoints once; the combine runs in the finish lambda, where the
    // final accumulator is a bound variable — referenced four times,
    // evaluated once.
    val cps = filter(split(s, ""), c => c =!= "")
    aggregate(cps,
      struct(lit(0L).as("f1"), lit(0L).as("f2")),
      (acc, c) => struct(
        ((acc.getField("f1") * 31L + ascii(c)) % 2147483647L).as("f1"),
        ((acc.getField("f2") * 131L + ascii(c)) % 2147483629L).as("f2")),
      acc => {
        val f1 = acc.getField("f1")
        val f2 = acc.getField("f2")
        shiftleft(f1 % 1073741824L, 33).bitwiseXOR(shiftleft(f2, 2))
          .bitwiseXOR(f1 + f2)
      })
  }

  /** Exact duplicate groups by 64-bit content hash: returns
    * (doc_id, content_hash, keep) where keep marks the canonical (min id)
    * member of each group. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = xxhash64(col(textCol))
    df.select(col(idCol), h.as("content_hash"))
      .withColumn("keep_id",
        min(col(idCol)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("content_hash"))))
      .withColumn("keep", col(idCol) === col("keep_id"))
      .drop("keep_id")
  }

  /** URL-keyed document dedup — the metadata-level pass a crawl pipeline
    * (Dolma's url-dedup stage) runs AHEAD of content dedup: two fetches
    * of the same page are duplicates by provenance alone, so collapsing
    * them on the normalized URL costs one 2-column shuffle instead of
    * any text work, and whatever survives feeds [[exact]] /
    * [[winnowNearDup]] for the content-level passes.
    *
    * Normalization, each step a single regex so an external SQL engine
    * replays it bit-identically: lowercase + trim; strip `#fragment`;
    * fold `http://` into `https://` (scheme variants of one page);
    * strip one leading `www.` from the host; strip trailing slashes.
    * Docs with a NULL/blank URL carry no provenance key and are KEPT
    * unconditionally (`url_norm` NULL, `keep` true) — content dedup
    * downstream still sees them.
    *
    * Keep-first = smallest id per normalized URL (the [[exact]] keep-min
    * election; ingest ids are arrival-ordered, so min-id IS first-fetch).
    * Returns (id, url_norm, keep, dup_of) for every input doc.
    *
    * Scale shape: normalization is scan-local codegen'd regex; the only
    * exchange is the min-window on `url_norm` — hash-partitioned by URL,
    * no global sort, no join. URL keys are near-unique by construction
    * so skew needs no salting. */
  /** The [[urlDedup]] normalization as a standalone column. NULL/blank
    * input → NULL (no provenance key). */
  private def urlNorm(url: Column): Column = {
    val norm = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(trim(url)), "#.*$", ""),
          "^http://", "https://"),
        "^https://www\\.", "https://"),
      "/+$", "")
    when(url.isNotNull && trim(url) =!= "", norm)
  }

  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame = {
    // NULL/blank-URL docs never consult the window (keep=true, dup_of
    // null by contract), so route them AROUND the url_norm exchange:
    // on a crawl corpus where URL-less docs are common, hashing them
    // all to the single NULL partition is exactly the skew the keyed
    // path is designed to avoid.
    val normed = df.select(col(idCol).as("id"),
      urlNorm(col(urlCol)).as("url_norm"))
    val keyed = normed.where(col("url_norm").isNotNull)
      .withColumn("keep_id",
        min(col("id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("url_norm"))))
      .select(col("id"), col("url_norm"),
        (col("id") === col("keep_id")).as("keep"),
        when(col("id") =!= col("keep_id"), col("keep_id"))
          .cast("long").as("dup_of"))
    val unkeyed = normed.where(col("url_norm").isNull)
      .select(col("id"), col("url_norm"), lit(true).as("keep"),
        lit(null).cast("long").as("dup_of"))
    keyed.unionAll(unkeyed)
  }

  /** Cross-source duplicate overlap matrix — the dataset-provenance
    * report ("how much of source A is literally in source B"), the first
    * question a training-mix audit asks before weighting sources: per
    * unordered source pair, the number of distinct normalized
    * fingerprints present in BOTH, with each side's unique-fingerprint
    * total and the overlap as a permille of the smaller side
    * (containment of the smaller corpus, so a full subset reads 1000).
    *
    * Shape: one distinct on (fp, source), then a groupBy(fp) whose
    * collect_set is bounded by |sources| (a handful even at 100 TB — the
    * mix table, not the corpus), pair expansion as an array HOF over the
    * SORTED source set (a < b by construction, ≤ |sources|²/2 structs
    * per fp), one map-side-combined pair count, and two broadcast joins
    * against the |sources|-row unique table. No all-pairs doc join
    * anywhere. Returns (source_a, source_b, n_shared, n_unique_a,
    * n_unique_b, overlap_x1000). */
  def crossSourceOverlap(df: DataFrame, textCol: String,
      srcCol: String): DataFrame = {
    val ps = df.select(TextAnalysis.fingerprint(col(textCol)).as("fp"),
      col(srcCol).as("source")).distinct()
    val uniq = ps.groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_unique"))
    val srcs = ps.groupBy(col("fp"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .where(size(col("srcs")) >= 2)
    val pairs = flatten(transform(col("srcs"), (x, i) =>
      transform(slice(col("srcs"), i + lit(2), size(col("srcs")) - i - 1),
        y => struct(x.as("source_a"), y.as("source_b")))))
    srcs.select(explode(pairs).as("p"))
      .groupBy(col("p.source_a").as("source_a"),
        col("p.source_b").as("source_b"))
      .agg(count(lit(1)).cast("long").as("n_shared"))
      .join(broadcast(uniq.select(col("source").as("source_a"),
        col("n_unique").as("n_unique_a"))), "source_a")
      .join(broadcast(uniq.select(col("source").as("source_b"),
        col("n_unique").as("n_unique_b"))), "source_b")
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("n_unique_a"), col("n_unique_b"),
        floor(col("n_shared").cast("double") * 1000.0 /
          least(col("n_unique_a"), col("n_unique_b")).cast("double"))
          .cast("long").as("overlap_x1000"))
  }

  /** MinHash signature: numHashes universal-hash minima over the shingle
    * set, all computed inside one projection. */
  def minhashSignature(sh: Column, numHashes: Int): Column = {
    val prime = 2305843009213693951L // 2^61 - 1
    val sigs = (0 until numHashes).map { i =>
      // 31-bit multiplier/offset over a 31-bit folded hash: products stay
      // below 2^62, so the arithmetic is exact under ANSI mode (no
      // wraparound semantics needed)
      val a = math.abs((0x9E3779B97F4A7C15L * (2 * i + 1)) >> 33) | 1L
      val b = math.abs((0xC2B2AE3D27D4EB4FL * (i + 1)) >> 33)
      array_min(transform(sh,
        s => pmod(xxhash64(s).bitwiseAND(lit(0x7FFFFFFFL)) * a + b, lit(prime))))
    }
    array(sigs: _*)
  }

  /** LSH candidate pairs: band the signature, bucket-join on
    * (band, hash-of-band), emit distinct (a < b) pairs.
    *
    * Buckets larger than `maxBucketSize` are dropped before the self-join:
    * an over-full bucket is non-discriminative (its members pair with
    * everything) and is exactly what turns LSH quadratic — the standard
    * guard in production dedup pipelines. */
  /** MinHash universal-hash multipliers/offsets, shared with the DuckDB
    * oracle generator (PipelineQueries builds the same constants into the
    * SQL text). */
  def minhashAB(i: Int): (Long, Long) = (
    math.abs((0x9E3779B97F4A7C15L * (2 * i + 1)) >> 33) | 1L,
    math.abs((0xC2B2AE3D27D4EB4FL * (i + 1)) >> 33))

  val MinhashPrime = 2305843009213693951L // 2^61 - 1

  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, bands: Int = 8,
      maxBucketSize: Int = 64, arithmeticHash: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rows = numHashes / bands
    // explode → hash each shingle ONCE → map-side-combinable min per hash
    // function; the groupBy is the materialization barrier so the banding
    // self-join reuses computed signatures instead of re-deriving them.
    // arithmeticHash swaps the masked xxhash64 for the portable char fold
    // (same machinery end-to-end, hash recomputable by the DuckDB oracle).
    val ex =
      if (arithmeticHash)
        explodedShingleStrings(df, idCol, textCol, k).distinct()
          .select(col("id"), arithHash31(col("s")).as("h31"))
      else
        explodedShingleHashes(df, idCol, textCol, k).distinct()
          .select(col("id"), col("h").bitwiseAND(lit(0x7FFFFFFFL)).as("h31"))
    val minCols = (0 until numHashes).map { i =>
      val (a, b) = minhashAB(i)
      min(pmod(col("h31") * a + b, lit(MinhashPrime))).as(s"m$i")
    }
    val sigs = ex.groupBy(col("id")).agg(minCols.head, minCols.tail: _*)
    // band bucket key: portable integer fold of the band's minima (the
    // bucketing key only needs dispersion, and the fold any engine can
    // recompute keeps the whole pipeline oracle-checkable)
    val bandCols = (0 until bands).map { b =>
      (b * rows until (b + 1) * rows).foldLeft(lit(0L)) { (acc, i) =>
        (acc * 1000003L + col(s"m$i") % 2147483647L) % 2147483647L }
    }
    val banded = sigs
      .select(col("id"), posexplode(array(bandCols: _*)))
      .toDF("id", "band", "band_hash")
    val capped = banded
      .withColumn("__bn", count(lit(1)).over(
        Window.partitionBy(col("band"), col("band_hash"))))
      .where(col("__bn") <= maxBucketSize)
      .drop("__bn")
    capped.as("l").join(capped.as("r"),
        col("l.band") === col("r.band") &&
          col("l.band_hash") === col("r.band_hash") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
  }

  /** S-curve-optimal MinHash banding: the (bands, rowsPerBand) split of a
    * `numHashes` budget that best approximates a step at Jaccard
    * `threshold`. A (b, r) banding collides a pair of similarity s with
    * probability 1−(1−s^r)^b; the optimizer integrates that curve's false-
    * positive mass below the threshold and false-negative mass above it
    * (midpoint rule, fixed 1000 steps — deterministic) and picks the
    * b·r ≤ numHashes split minimizing fpWeight·FP + fnWeight·FN — the
    * standard MinHash-LSH parameter rule (MMDS ch.3; the datasketch
    * library's sizing method, re-derived). Pure function of its
    * arguments: the DuckDB oracle bakes the same derived (b, r) into its
    * SQL at registration time.
    *
    * This is the knob a user hand-tunes otherwise, and the reason the
    * auto path's precision does not silently collapse when someone moves
    * the threshold: r rises with the threshold (sharper bands), b absorbs
    * the rest of the budget. */
  def minhashBandsFor(numHashes: Int, threshold: Double,
      fpWeight: Double = 0.5, fnWeight: Double = 0.5): (Int, Int) = {
    require(numHashes > 0, s"numHashes must be positive, got $numHashes")
    require(threshold > 0 && threshold < 1, s"threshold in (0,1), got $threshold")
    val steps = 1000
    var best = (1, 1); var bestErr = Double.MaxValue
    var b = 1
    while (b <= numHashes) {
      var r = 1
      while (b * r <= numHashes) {
        var fp = 0.0; var fn = 0.0; var i = 0
        while (i < steps) {
          val sFp = threshold * (i + 0.5) / steps
          fp += 1.0 - math.pow(1.0 - math.pow(sFp, r), b)
          val sFn = threshold + (1.0 - threshold) * (i + 0.5) / steps
          fn += math.pow(1.0 - math.pow(sFn, r), b)
          i += 1
        }
        val err = fpWeight * fp * threshold / steps +
          fnWeight * fn * (1.0 - threshold) / steps
        if (err < bestErr) { bestErr = err; best = (b, r) }
        r += 1
      }
      b += 1
    }
    best
  }

  /** The production MinHash near-dup entry (the [[cosineNearDupAuto]]
    * twin for the Jaccard family): sizes the banding itself via
    * [[minhashBandsFor]], generates candidates with the degenerate-bucket
    * cap, then VERIFIES each candidate pair with the exact shingle-set
    * Jaccard before emitting it — banding parameters affect only
    * recall/cost, never which emitted pair is a true near-duplicate.
    * Returns (a, b, inter, union_n) for pairs with Jaccard ≥ threshold
    * (compared integer-exactly as inter·1000 ≥ union·round(1000·t)).
    *
    * 100 TB posture: candidates ∝ corpus × bucket density (capped by
    * maxBucketSize exactly as in [[minhashCandidates]]); the verify join
    * is candidate-driven — each (a,b) pulls only its own two shingle
    * sets through an equi-join, so verification cost is candidate volume
    * × document size, never corpus². The verify stage RE-DERIVES the
    * exploded shingles rather than persisting the candidate stage's —
    * deliberate: the exploded set is larger than the source corpus, so
    * at scale a second linear scan beats materializing it, and both
    * derivations are one codegen'd projection chain off the same scan
    * shape. */
  def minhashNearDupAuto(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, numHashes: Int = 32, threshold: Double = 0.6,
      maxBucketSize: Int = 64): DataFrame = {
    val (bands, rows) = minhashBandsFor(numHashes, threshold)
    val cand = minhashCandidates(df, idCol, textCol, k,
      numHashes = bands * rows, bands = bands, maxBucketSize = maxBucketSize)
    val inv = explodedShingleHashes(df, idCol, textCol, k).distinct()
    val sizes = inv.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val thNum = math.round(threshold * 1000)
    val inter = cand
      .join(inv.select(col("id").as("a"), col("h")), "a")
      .join(inv.select(col("id").as("b"), col("h")), Seq("b", "h"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("id").as("b"), col("n").as("nb")), "b")
      .withColumn("union_n", col("na") + col("nb") - col("inter"))
      .where(col("inter") * 1000 >= col("union_n") * thNum)
      .select(col("a"), col("b"), col("inter").cast("long").as("inter"),
        col("union_n").cast("long").as("union_n"))
  }

  /** Exact word-k-gram Jaccard similarity for all pairs sharing at least
    * one shingle (inverted-index join — the verify step after LSH, or a
    * standalone exact near-dup pass at moderate scale). Returns
    * (a, b, inter, union_n). */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val inv = explodedShingleHashes(df, idCol, textCol, k).distinct()
      .withColumnRenamed("h", "s")
    val sizes = inv.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val pairs = inv.as("l").join(inv.as("r"),
        col("l.s") === col("r.s") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("a"), col("r.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n", "nb"), "b")
      .select(col("a"), col("b"), col("inter").cast("long").as("inter"),
        (col("na") + col("nb") - col("inter")).cast("long").as("union_n"))
  }

  /** Containment near-dup: pairs whose intersection covers at least
    * `threshold` of the SMALLER document's shingle set —
    * |A∩B| / min(|A|,|B|) ≥ threshold. This is the asymmetric measure
    * symmetric Jaccard misses: a 50-word notice quoted verbatim inside a
    * 5000-word page has Jaccard ≈ 0.01 but containment ≈ 1.0, and
    * doc-inside-doc duplication is exactly what web corpora are full of
    * (syndicated articles, quoted posts, boilerplate-wrapped reprints).
    *
    * Same inverted-index join as [[ngramJaccard]] (pairs materialize only
    * for docs sharing a shingle), plus the scale guard that matters here:
    * `maxDf` drops shingles whose posting list exceeds `maxDf` documents
    * BEFORE the self-join — a stopword-shingle ("of the and") posting
    * list of length m contributes m² candidate pairs, and at 100 TB the
    * df-cut is what keeps the join linear in real corpora. The cut only
    * loses pairs whose overlap is carried ENTIRELY by ubiquitous
    * shingles, which containment semantics want to ignore anyway.
    * `min_n` counts surviving (post-cut) shingles, so the ratio stays
    * internally consistent under the cut.
    *
    * Threshold compares in exact integer permille (inter·1000 ≥
    * min_n·⌈th·1000⌉) — engine-portable, no float comparison.
    * Returns (a, b, inter, min_n). */
  def containmentNearDup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.8,
      maxDf: Int = Int.MaxValue): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold: $threshold")
    val thNum = math.ceil(threshold * 1000).toLong
    val inv0 = explodedShingleHashes(df, idCol, textCol, k).distinct()
      .withColumnRenamed("h", "s")
    val inv =
      if (maxDf == Int.MaxValue) inv0
      else {
        // hot shingles are FEW by definition (df > maxDf), so the cut is a
        // map-side-combined count + broadcast anti-join — the posting set
        // itself never shuffles for the cut
        val hot = inv0.groupBy(col("s")).agg(count(lit(1)).as("df"))
          .where(col("df") > maxDf).select(col("s"))
        inv0.join(broadcast(hot), Seq("s"), "left_anti")
      }
    val sizes = inv.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val pairs = inv.as("l").join(inv.as("r"),
        col("l.s") === col("r.s") && col("l.id") < col("r.id"))
      .groupBy(col("l.id").as("a"), col("r.id").as("b"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.withColumnRenamed("id", "a").withColumnRenamed("n", "na"), "a")
      .join(sizes.withColumnRenamed("id", "b").withColumnRenamed("n", "nb"), "b")
      .withColumn("min_n", least(col("na"), col("nb")))
      .where(col("inter") * 1000 >= col("min_n") * thNum)
      .select(col("a"), col("b"), col("inter").cast("long").as("inter"),
        col("min_n").cast("long").as("min_n"))
  }

  /** Benchmark decontamination: flag training documents that share at least
    * `minShared` distinct word-k-shingles with any document of the eval
    * set — the standard guard against test-set leakage into training data.
    *
    * Returns (id, n_eval_docs, n_shared_shingles) for contaminated
    * training docs: how many eval docs it overlaps and how many DISTINCT
    * shingles it shares with the eval set as a whole.
    *
    * Scale shape: eval sets (benchmarks) are tiny next to the corpus, so
    * the eval shingle set is the broadcast side of the join and the corpus
    * never shuffles — contamination checking stays a scan + broadcast
    * semi-join at 100 TB. The join key is the 64-bit shingle hash, never
    * shingle text. */
  def decontaminate(df: DataFrame, idCol: String, textCol: String,
      isEval: Column, k: Int = 3, minShared: Int = 1): DataFrame = {
    val evalSh = explodedShingleHashes(df.where(isEval), idCol, textCol, k)
      .distinct().withColumnRenamed("id", "eval_id")
    val trainSh = explodedShingleHashes(df.where(!isEval), idCol, textCol, k)
      .distinct()
    trainSh.join(broadcast(evalSh), "h")
      .groupBy(col("id"))
      .agg(countDistinct(col("eval_id")).cast("long").as("n_eval_docs"),
        countDistinct(col("h")).cast("long").as("n_shared_shingles"))
      .where(col("n_shared_shingles") >= minShared)
  }

  /** Contamination ATTRIBUTION — the per-pair report behind
    * [[decontaminate]]'s per-train-doc rollup: one row per (train doc,
    * eval doc) sharing ≥ `minShared` distinct shingles, with the shared
    * count. This is what an eval-integrity review actually reads ("which
    * benchmark item leaked into which training document"), and the input
    * to an eval-side fix (drop the item) vs a train-side fix (drop the
    * doc). Same shape as the parent: eval shingles broadcast, the corpus
    * never shuffles, output is bounded by true contamination incidence —
    * tiny by definition (a large output IS the finding). */
  def decontaminatePairs(df: DataFrame, idCol: String, textCol: String,
      isEval: Column, k: Int = 3, minShared: Int = 1): DataFrame = {
    val evalSh = explodedShingleHashes(df.where(isEval), idCol, textCol, k)
      .distinct().withColumnRenamed("id", "eval_id")
    val trainSh = explodedShingleHashes(df.where(!isEval), idCol, textCol, k)
      .distinct()
    trainSh.join(broadcast(evalSh), "h")
      .groupBy(col("id"), col("eval_id"))
      .agg(countDistinct(col("h")).cast("long").as("n_shared_shingles"))
      .where(col("n_shared_shingles") >= minShared)
  }

  /** Per-EVAL-doc contamination fraction — the partial-overlap criterion
    * of the GPT-3/PaLM decontamination appendices (an eval example is
    * "dirty" when a high fraction of its n-grams occurs ANYWHERE in the
    * training corpus — PaLM drew the line at 70% of 8-grams). This is the
    * eval-side complement of [[decontaminate]]'s train-side report: that
    * answers "which training docs leak eval content", this answers "which
    * eval items are compromised, and how badly" — the number an eval
    * integrity review actually quotes, and partial overlap catches the
    * paraphrased/truncated leaks an exact-match gate misses.
    *
    * One row per eval doc: (id, n_grams, n_in_train, dirty_permille =
    * 1000·n_in_train div n_grams, dirty). Shingles are distinct per doc
    * (the [[decontaminate]] identity: hash-distinct ≡ string-distinct
    * modulo 64-bit collisions).
    *
    * Scale shape: the eval set is tiny next to the corpus, so its shingle
    * hashes BROADCAST and the train side — the 100 TB stream — is cut at
    * scan level by the broadcast equi-join and never shuffles; the
    * distinct that follows runs over a stream already bounded by the eval
    * shingle domain (map-side combine collapses repeats before the
    * exchange), and the final rollup joins two eval-sized frames. */
  def contaminationFraction(df: DataFrame, idCol: String, textCol: String,
      isEval: Column, k: Int = 8, dirtyPermille: Int = 700): DataFrame = {
    val evalSh = explodedShingleHashes(df.where(isEval), idCol, textCol, k)
      .distinct()
    val evalHashes = evalSh.select(col("h")).distinct()
    val inTrain = explodedShingleHashes(df.where(!isEval), idCol, textCol, k)
      .join(broadcast(evalHashes), "h")
      .select(col("h")).distinct()
      .withColumn("in_train", lit(1L))
    evalSh.join(inTrain, Seq("h"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_grams"),
        sum(coalesce(col("in_train"), lit(0L))).as("n_in_train"))
      .withColumn("dirty_permille",
        call_function("div", col("n_in_train") * 1000L, col("n_grams")))
      .withColumn("dirty", col("dirty_permille") >= dirtyPermille)
  }

  /** Bloom-prefiltered decontamination — the 100 TB form of
    * [[decontaminate]], with the IDENTICAL result: the eval n-gram set
    * folds into a two-probe Bloom bit table (a plan-constant long-array
    * literal), the corpus-side gram stream drops everything the table
    * rejects BEFORE the distinct exchange and the join, and the broadcast
    * equi-join verify that follows removes the Bloom's false positives.
    * No false negatives exist (every eval gram sets its own bits), so
    * output == exact decontamination at ANY bloomBits; the knob only
    * moves the prefilter's selectivity. The payoff at corpus scale: the
    * exploded train-gram stream — the dominant data volume — is cut at
    * scan level by pure bit arithmetic (codegen'd, no UDF), so the
    * distinct and the join see only the grams that might matter, instead
    * of shuffling every gram of a 100 TB corpus to discover that ~all of
    * them miss.
    *
    * The bit table builds DISTRIBUTED: probes fold to per-word bit_or
    * aggregates, so the driver collects ≤ bloomBits/64 rows (1024 longs
    * at the default 2^16 bits) — never the eval grams themselves. Probe
    * arithmetic is xxhash64-derived (`h & mask`, `xxhash64(h) & mask`)
    * and lives entirely in-plan on both the build and probe sides, so
    * the two can never disagree. */
  /** Two-probe Bloom bit table over a 64-bit hash column `hCol`, built
    * DISTRIBUTED: probes fold to per-word `bit_or` aggregates, the driver
    * collects ≤ bloomBits/64 longs — never the hashes themselves. Probe
    * arithmetic (`h & mask`, `xxhash64(h) & mask`) lives in-plan here AND
    * in [[bloomMightContain]], so build and test can never disagree. */
  def bloomBitTable(hashes: DataFrame, hCol: String,
      bloomBits: Int): Array[Long] = {
    require(bloomBits >= 64 && (bloomBits & (bloomBits - 1)) == 0,
      s"bloomBits must be a power of two >= 64: $bloomBits")
    val mask = (bloomBits - 1).toLong
    val words = new Array[Long](bloomBits / 64)
    hashes.select(explode(array(
        col(hCol).bitwiseAND(lit(mask)),
        xxhash64(col(hCol)).bitwiseAND(lit(mask)))).as("b"))
      .select(call_function("shiftright", col("b"), lit(6)).cast("int").as("w"),
        call_function("shiftleft", lit(1L),
          col("b").bitwiseAND(lit(63L)).cast("int")).as("bit"))
      .groupBy(col("w")).agg(call_function("bit_or", col("bit")).as("m"))
      .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** Scan-level membership test against a [[bloomBitTable]]: pure bit
    * arithmetic over a plan-constant long-array literal — codegen'd, no
    * UDF, no broadcast exchange. May admit false positives, never false
    * negatives. */
  def bloomMightContain(h: Column, words: Array[Long],
      bloomBits: Int): Column = {
    val mask = (bloomBits - 1).toLong
    val wordsLit = lit(words)
    def bitSet(idx: Column): Column =
      call_function("shiftright",
        element_at(wordsLit,
          (call_function("shiftright", idx, lit(6)) + 1).cast("int")),
        idx.bitwiseAND(lit(63L)).cast("int")).bitwiseAND(lit(1L)) === 1L
    bitSet(h.bitwiseAND(lit(mask))) && bitSet(xxhash64(h).bitwiseAND(lit(mask)))
  }

  def decontaminateBloom(df: DataFrame, idCol: String, textCol: String,
      isEval: Column, k: Int = 3, minShared: Int = 1,
      bloomBits: Int = 1 << 16): DataFrame = {
    // checkpoint: the eval gram set is read by TWO actions (the bit-table
    // build collect, then the verify join) — without it the corpus scan
    // behind df.where(isEval) runs twice (the duplicateClusters lesson);
    // the frame stays referenced by the returned plan, never freed early
    val evalSh = explodedShingleHashes(df.where(isEval), idCol, textCol, k)
      .distinct().withColumnRenamed("id", "eval_id").localCheckpoint()
    val words = bloomBitTable(evalSh, "h", bloomBits)
    val trainSh = explodedShingleHashes(df.where(!isEval), idCol, textCol, k)
      .where(bloomMightContain(col("h"), words, bloomBits))
      .distinct()
    trainSh.join(broadcast(evalSh), "h")
      .groupBy(col("id"))
      .agg(countDistinct(col("eval_id")).cast("long").as("n_eval_docs"),
        countDistinct(col("h")).cast("long").as("n_shared_shingles"))
      .where(col("n_shared_shingles") >= minShared)
  }

  /** Winnowing fingerprints (the MOSS scheme, Schleimer/Wilkerson/Aiken
    * "Winnowing: Local Algorithms for Document Fingerprinting"): hash the
    * word k-shingles, slide a window of `w` consecutive hashes, and keep
    * each window's RIGHTMOST minimum — the classic guarantee follows:
    * any shared run of at least w+k-1 words between two documents yields
    * at least one IDENTICAL selected (hash) fingerprint, while only
    * ~2/(w+1) of all shingles are kept. The selected set is the standard
    * plagiarism / overlap-detection index: orders of magnitude smaller
    * than the full shingle set, yet positionally robust (unlike MinHash,
    * matches localize to positions).
    *
    * Returns (id, fp_pos, fp_hash) — one row per distinct selected
    * (position, hash) pair; adjacent windows electing the same shingle
    * dedup away, which is exactly the winnowing density bound. Documents
    * shorter than w shingles contribute their single overall minimum.
    * fp_hash is the production xxhash64 masked to 43 bits (see the
    * packing note below), or the 31-bit arithmetic char fold
    * ([[arithHash31]]) with `arithmeticHash = true` — the oracle mode, in
    * which the selection is engine-portable by construction: the
    * tie-break is "larger position wins at equal hash" and both sides
    * flatten the (hash, pos) choice to the same integer.
    *
    * Scale shape: explode to (doc, pos, hash) rows, ONE doc-keyed
    * exchange, and a native sliding-frame `min(struct(hash, −pos))`
    * window (w−1 FOLLOWING) — rightmost minimum as a lexicographic
    * struct min, then distinct over the ~2/(w+1)-density selection. The
    * window is per-document (never global), the frame is w rows, and
    * every operator is native WindowExec/HashAggregate — the first cut
    * computed the same selection with nested interpreted HOFs and
    * measured ~4× slower (isolated sf1: ~80 s vs ~20 s; see the inline
    * notes below for the two traps). The output is the index you then
    * bucket-join on fp_hash, where each posting list is winnow-sparse
    * rather than shingle-dense. */
  def winnowFingerprints(df0: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 8, arithmeticHash: Boolean = false): DataFrame =
    winnowPick(shingleBase(df0, idCol, textCol, k, arithmeticHash), w)

  /** The winnow-tokenized exploded shingle-hash MULTISET with positions —
    * (id, __nsh, pos, h), one row per shingle occurrence, `__nsh` the
    * doc's shingle count (1 for sub-k-word docs, which carry their
    * whole-text hash at pos 0). [[winnowFingerprints]] is the w-window
    * minimum over this frame; `select(id, h)` (+ distinct) is the exact
    * verify's shingle set. Split out (r19 opt round) so operators that
    * need BOTH — the epoch loop materializes fingerprints and shingles
    * per epoch — pay the explode+lead-window pass once instead of twice.
    * Tokenization is the winnow discipline (trim + drop empty tokens);
    * [[explodedShingleHashes]] keeps raw-split tokenization for its
    * public contract. */
  private[graft] def shingleBase(df0: DataFrame, idCol: String,
      textCol: String, k: Int, arithmeticHash: Boolean = false): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    // same id-keyed pre-explode spread as explodedShingleCols: the two
    // per-doc windows below need hashpartitioning(id) anyway
    val df = graft.queries.Tables.spread(df0.sparkSession, df0, idCol)
    // Shingle rows come from the explodedShingleCols discipline — explode
    // WORDS once, form each shingle from window `lead`s — never from an
    // array-lambda pipeline: the first cut built a per-doc hash ARRAY with
    // nested HOFs and measured ~5× slower (the lambda re-evaluated the
    // doc split per shingle — the O(words²·k) trap — and the generator's
    // inferred not-null constraint re-evaluated the whole array expression
    // again at scan level). Production hashes the k words directly
    // (xxhash64, the same shingle identity the verify join uses);
    // arithmeticHash swaps in the 31-bit portable fold over the shingle
    // string so a DuckDB oracle replays the selection bit-for-bit. The
    // winnowing GUARANTEE (a shared run of ≥ w+k−1 words forces a shared
    // selected fingerprint) holds under ANY hash family.
    import org.apache.spark.sql.expressions.Window
    // trim + drop empty tokens so leading/trailing whitespace never
    // injects an empty-string word that would shift every position —
    // the same tokenization as chunkDocument (r13 advice item)
    val wordsArr = filter(split(trim(col(textCol)), "\\s+"), w => w =!= "")
    val words = df.select(col(idCol).as("id"),
      (size(wordsArr) - (k - 1)).as("__nsh"),
      posexplode(wordsArr).as(Seq("pos", "w")))
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val leads = (1 until k).map(j => lead(col("w"), j).over(byDoc))
    val lastLeadOk = if (k > 1) leads.last.isNotNull else lit(true)
    def hashOf(parts: Seq[Column]): Column =
      if (arithmeticHash) arithHash31(concat_ws(" ", parts: _*))
      else xxhash64(parts: _*)
    val long = words
      .select(col("id"), col("__nsh"), col("pos"),
        hashOf(col("w") +: leads).as("h"), lastLeadOk.as("__full"))
      .where(col("__full"))
      .select(col("id"), col("__nsh"), col("pos"), col("h"))
    val short = df.where(size(wordsArr) < k)
      .select(col(idCol).as("id"), lit(1).as("__nsh"), lit(0).as("pos"),
        hashOf(Seq(concat_ws(" ", wordsArr))).as("h"))
    long.unionByName(short)
  }

  /** The winnow SELECTION over a [[shingleBase]] frame — pass a
    * materialized frame when several consumers need both the selection
    * and the underlying shingle set (the epoch loop). */
  private[graft] def winnowPick(base: DataFrame, w: Int): DataFrame = {
    require(w > 0, s"w must be positive: $w")
    import org.apache.spark.sql.expressions.Window
    // rightmost minimum of each w-frame as ONE primitive long min: pack
    // (hash masked to 43 bits) above (2^20-1 - pos), so the smaller hash
    // wins and, at equal hash, the LARGER position (latest index) does —
    // the identical packing the DuckDB oracle uses. Envelope: positions
    // < 2^20 shingles per document, and the production fingerprint is the
    // masked-to-43-bit hash — mask collisions only ever ADD candidates,
    // which the verify stage kills. Window starts: pos <= nsh-w for long
    // docs (full frames only); the single pos-0 frame (clipped at the
    // partition end) for docs shorter than w shingles.
    val posMask = (1L << 20) - 1
    val ord = col("h").bitwiseAND(lit((1L << 43) - 1)) * lit(1L << 20) +
      (lit(posMask) - col("pos"))
    val win = Window.partitionBy(col("id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, w - 1)
    base
      .withColumn("__pick", min(ord).over(win))
      .where(col("pos") <= greatest(col("__nsh") - w, lit(0)))
      .select(col("id"),
        (lit(posMask) - col("__pick").bitwiseAND(lit(posMask)))
          .cast("long").as("fp_pos"),
        shiftright(col("__pick"), 20).as("fp_hash"))
      .distinct()
  }

  /** Winnowed near-dup: candidate pairs share ≥1 rare winnowing
    * fingerprint ([[winnowFingerprints]] hashes — positions deliberately
    * ignored, so reordered/shifted copies still match), then an EXACT
    * word-shingle Jaccard verify keeps only pairs at or above
    * `threshold` — the minhashNearDupAuto discipline: the index stage
    * moves recall and cost, the verify stage owns precision, so no
    * below-threshold pair can ever surface. The winnowing guarantee
    * makes the candidate stage the cheap overlap detector (any shared
    * run of ≥ w+k−1 words forces a shared fingerprint under ANY hash
    * family), and the self-join runs over the ~2/(w+1)-density selected
    * index instead of the full shingle set — the same join shape as
    * [[decontaminate]] but on a far smaller table. Hot fingerprints
    * (boilerplate) are capped by `maxDf` like the containment path's
    * stop-shingles. Returns (a, b, inter, union_n), verified rows only.
    *
    * Oracle note: the DuckDB replica selects with the portable
    * arithmetic hash while production selects with xxhash64; outputs
    * agree because every VERIFIED pair (true J ≥ threshold) overlaps in
    * long runs, where the guarantee makes candidate recall
    * hash-independent — a scattered-short-overlap pair at the exact
    * threshold margin is the theoretical divergence case, absent from
    * real near-dup families. The `maxDf` cap is the second (r13-advice)
    * divergence surface: df is counted over each hash family's OWN
    * selected set, so a pair whose only shared fingerprints sit near the
    * cap could be df-capped under one family and not the other. The
    * df ≥ 2 floor is immune (any pair-producing fingerprint has df ≥ 2
    * under its own family by construction — pure pruning); only the
    * upper cap can bind differently. The pinned oracle configuration
    * therefore requires fixture headroom: PipelineSpec's
    * "winnow fingerprint df headroom" test asserts the max df under
    * BOTH families stays ≤ maxDf/2 on the fixture, so a fixture
    * regeneration that grows boilerplate-hot fingerprints fails loudly
    * in the unit suite instead of silently diverging the oracle board.
    * Measured headroom (r14, arith selection in DuckDB): max df = 6 at
    * sf0.001/sf0.01 and 23 at sf0.1 AND sf1 — flat across the 10×
    * scale-up because ScaleUp's per-copy word suffixes keep copies
    * shingle-disjoint, so the cap (1000) sits 43× above the fixture
    * ceiling under either family. */
  def winnowNearDup(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 8, threshold: Double = 0.6,
      maxDf: Int = 1000, arithmeticHash: Boolean = false): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    require(maxDf > 1, s"maxDf must be > 1: $maxDf")
    // The candidate stage reads the fingerprint set three times (df count
    // + both self-join sides) — left LAZY deliberately: AQE's runtime
    // exchange reuse collapses the identical fingerprint subtrees inside
    // the one query execution, and an eager localCheckpoint here measured
    // SLOWER at sf0.1 (extra job barriers outweigh the reuse it
    // duplicates; r18 opt round, tried both).
    val fps = winnowFingerprints(df, idCol, textCol, k, w, arithmeticHash)
      .select(col("id"), col("fp_hash")).distinct()
    val cand = winnowCandidatesFromFps(fps, maxDf)
    // verify over the UNPRUNED corpus shingles, deliberately: a broadcast
    // semi-prune of the text to candidate ids (the dedupAgainstIndex
    // shape) re-evaluates the candidate self-join for the broadcast and
    // measured ~2× slower here in BOTH eager and lazy forms (r18 opt
    // round, tried twice) — within this one job the unpruned explode is
    // a single parallel pass the prune cannot beat at sf0.1. No
    // `.distinct()` ahead of the verify: its per-doc collect_set is
    // set-semantics already, so the (id, h) pre-dedup exchange was a
    // pure extra stage (r19).
    val inv = explodedShingleHashes(df, idCol, textCol, k)
    verifyJaccardPairs(cand, inv, threshold)
  }

  /** Candidate pairs sharing ≥1 rare winnowing fingerprint, from a
    * PRECOMPUTED (id, fp_hash) set — pass a MATERIALIZED frame: `fps` is
    * read three times (the df count and both self-join sides). */
  private[graft] def winnowCandidatesFromFps(fps: DataFrame,
      maxDf: Int): DataFrame = {
    val rare = fps.groupBy(col("fp_hash"))
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDf && col("__df") >= 2)
      .select(col("fp_hash"))
    val slim = fps.join(rare, "fp_hash")
    slim.as("l").join(slim.as("r"),
        col("l.fp_hash") === col("r.fp_hash") && col("l.id") < col("r.id"))
      .select(col("l.id").as("a"), col("r.id").as("b")).distinct()
  }

  /** Candidate-driven exact word-shingle Jaccard verify over a
    * PRECOMPUTED exploded-distinct (id, h) shingle set: each pair pulls
    * only its own two shingle sets through the equi-joins (no all-pairs
    * index join). `cand` is read twice — pass a materialized
    * frame; `inv` must cover every candidate doc id (a superset is fine:
    * per-doc sizes and intersections only read candidate ids) and MAY
    * carry duplicate (id, h) rows — the per-doc collect_set is set
    * semantics, so callers need no pre-distinct.
    *
    * Shape (r19 opt round, guide §2.3 "shuffle fewer bytes"): the shingle
    * sets ride as per-doc ARRAYS attached to each candidate pair, and the
    * intersection is `array_intersect` in whole-stage codegen. The r18
    * exploded form — join candidates to the (id, h) rows twice and
    * count — pushed |cand| × |shingles-per-doc| rows through the shuffle
    * (measured 8.7 M intermediate rows for 167 k candidates at sf0.1, and
    * the verify stage was the single biggest piece of q_dedup_winnow at
    * 2.0–2.15 s with BOTH inputs pre-materialized); the array form ships
    * each pair as ONE row (~25× fewer shuffled rows, 2.04 → 0.42 s same
    * harness). Arrays are bounded by per-doc shingle counts (≤ words), so
    * no row can grow with the corpus; results are bit-identical — same
    * distinct-set intersection/union counts, same threshold gate. */
  private[graft] def verifyJaccardPairs(cand: DataFrame, inv: DataFrame,
      threshold: Double): DataFrame = {
    val sets = inv.groupBy(col("id")).agg(collect_set(col("h")).as("hs"))
    val thNum = math.round(threshold * 1000)
    cand
      .join(sets.select(col("id").as("a"), col("hs").as("__ha")), "a")
      .join(sets.select(col("id").as("b"), col("hs").as("__hb")), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("__ha"), col("__hb"))).cast("long")
          .as("inter"),
        (size(col("__ha")) + size(col("__hb"))).cast("long").as("__nab"))
      .withColumn("union_n", col("__nab") - col("inter"))
      .where(col("inter") * 1000 >= col("union_n") * thNum)
      .select(col("a"), col("b"), col("inter"), col("union_n"))
  }

  /** Shared-span report for winnow-verified near-dup pairs — the
    * LOCALIZATION winnowing buys that MinHash structurally cannot: which
    * extents of each document pair actually overlap (the MOSS use case —
    * show the match, not just the score).
    *
    * For every verified pair, shared fingerprints (equal `fp_hash`) are
    * plotted as (pos_a, pos_b) points and merged along DIAGONALS
    * (`pos_a − pos_b` constant — a contiguous shared run keeps both
    * positions advancing in lockstep, so its points share one diagonal),
    * splitting where consecutive selected positions sit more than `w`
    * apart: inside a shared run the winnowing density guarantee places a
    * selected fingerprint in every w-window, so a gap > w means the run
    * ended. Off-diagonal incidental hash matches (boilerplate repeats)
    * start their own 1-point "spans" instead of corrupting real extents.
    *
    * Returns (a, b, start_a, end_a, start_b, end_b, n_fps), one row per
    * merged span, positions in shingle coordinates (a span covers words
    * [start, end + k − 1] of its document). `pairs` overrides the
    * verified-pair source (callers that already ran [[winnowNearDup]]
    * pass its output; default recomputes).
    *
    * Scale shape: the fingerprint joins are candidate-driven (pairs ×
    * winnow-sparse postings, never corpus × corpus) and both the lag
    * split and the span rollup key on (pair, diagonal) — co-partitioned
    * window + aggregate, nothing global. */
  def winnowSharedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 8, threshold: Double = 0.6,
      maxDf: Int = 1000, arithmeticHash: Boolean = false,
      pairs: Option[DataFrame] = None): DataFrame = {
    // winnowNearDup's guards, restated: the default-pairs path now
    // derives candidates inline from the materialized fingerprint frame
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    require(maxDf > 1, s"maxDf must be > 1: $maxDf")
    import org.apache.spark.sql.expressions.Window
    // The fingerprint frame is materialized ONCE and feeds BOTH halves
    // (r18 verdict ask #4): the verified-pair derivation (df count +
    // both candidate self-join sides, via the slim projection) and the
    // two span joins — five references to the winnow window that the
    // final adaptive plan previously re-executed per consumer (the
    // distinct exchanges above it differ per projection, so stage reuse
    // never matched them). r18's "eager checkpoint measured slower"
    // negative was re-tested this round under the size-capped spread and
    // INVERTED: 5.12 s bench median → ~3.1 s (JobProfile warm reps and
    // the full-board quiet pin agree). When `pairs` is supplied the
    // caller already ran winnowNearDup — only the span-side frame is
    // materialized then.
    val fps = winnowFingerprints(df, idCol, textCol, k, w, arithmeticHash)
      .localCheckpoint()
    val vp = pairs.getOrElse {
        val slim = fps.select(col("id"), col("fp_hash")).distinct()
        val inv = explodedShingleHashes(df, idCol, textCol, k)
        verifyJaccardPairs(winnowCandidatesFromFps(slim, maxDf), inv,
          threshold)
      }
      .select(col("a"), col("b"))
    val mt = vp
      .join(fps.select(col("id").as("a"), col("fp_pos").as("pa"),
        col("fp_hash").as("h")), "a")
      .join(fps.select(col("id").as("b"), col("fp_pos").as("pb"),
        col("fp_hash").as("h")), Seq("b", "h"))
      .select(col("a"), col("b"), (col("pa") - col("pb")).as("diag"),
        col("pa"))
      .distinct()
    val byDiag = Window.partitionBy(col("a"), col("b"), col("diag"))
      .orderBy(col("pa"))
    val spans = mt
      .withColumn("__gap",
        when(col("pa") - lag(col("pa"), 1).over(byDiag) > w, 1L)
          .otherwise(0L))
      .withColumn("__span", sum(col("__gap")).over(
        byDiag.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    spans.groupBy(col("a"), col("b"), col("diag"), col("__span"))
      .agg(min(col("pa")).as("s"), max(col("pa")).as("e"),
        count(lit(1)).cast("long").as("n_fps"))
      .select(col("a"), col("b"),
        col("s").cast("long").as("start_a"),
        col("e").cast("long").as("end_a"),
        (col("s") - col("diag")).cast("long").as("start_b"),
        (col("e") - col("diag")).cast("long").as("end_b"),
        col("n_fps"))
  }

  /** Multi-epoch incremental dedup with index MAINTENANCE — the loop
    * [[dedupAgainstIndex]] is one step of, closed (r14 ask #4): epochs
    * arrive in order, each is deduped against the standing index built
    * by its PREDECESSORS, its intra-epoch duplicates are removed by
    * [[winnowNearDup]], and only the ADMITTED (non-duplicate) docs
    * append their fingerprints to the index for the next epoch — the
    * Feed.compact-shaped batch cycle a crawl pipeline actually runs.
    *
    * Verdict per document, deterministic:
    *   - `index_dup` — verified (J ≥ threshold) against an admitted doc
    *     of an EARLIER epoch; `dup_of` = smallest such base id. Index
    *     precedence over intra: the standing corpus owns the canonical
    *     copy.
    *   - `intra_dup` — the larger side of a verified same-epoch pair;
    *     `dup_of` = smallest such partner (keep-min election, the
    *     [[exact]] discipline).
    *   - `kept` — admitted; fingerprints join the index.
    *
    * Returns (id, epoch, status, dup_of) for EVERY input doc — the
    * complete per-epoch admission ledger (what `n_docs − kept` attrition
    * a crawl operator watches).
    *
    * Scale shape: each epoch step is the [[dedupAgainstIndex]] probe
    * (bucketed candidate join + candidate-pruned verify) plus one
    * intra-epoch [[winnowNearDup]]; the index grows by admitted-survivor
    * fingerprints only. The per-epoch signature and ledger frames are
    * localCheckpointed — each epoch is a separate batch in production
    * (the index lives in storage between crawls), and without the cut
    * the epoch-e plan would re-derive every predecessor epoch's verify
    * once per downstream reference. The driver-side loop is over the
    * EPOCH LIST (a handful), never over rows. */
  def epochDedup(df: DataFrame, idCol: String, textCol: String,
      epochCol: String, epochs: Seq[Long], k: Int = 3, w: Int = 8,
      threshold: Double = 0.6, maxDf: Int = 1000): DataFrame =
    epochDedupWithState(df, idCol, textCol, epochCol, epochs, k, w,
      threshold, maxDf)._1

  /** [[epochDedup]] plus the loop's final internal state — (ledger,
    * index, baseShingles) — so specs can pin that BOTH accumulators are
    * lineage-truncated: after E epochs each must be a single
    * materialized-RDD scan, not an E-deep union replaying earlier
    * epochs' derivations.
    *
    * r18 optimization-round shape: each epoch computes its fingerprint
    * set and its exploded shingle set EXACTLY ONCE (materialized), and
    * every consumer — the index probe's candidates, the intra-epoch
    * candidates, both exact verifies, and the index append — reads the
    * materialized frames. The pre-r18 form recomputed the winnow window
    * up to 3× per epoch (probe fingerprints, intra fingerprints,
    * admitted-doc fingerprints) and the shingle explode twice (intra
    * verify, probe verify), which dominated the query's wall
    * (q_dedup_epoch 18.4 s baseline). The standing corpus is likewise
    * accumulated as its SHINGLE set (id, h) instead of raw text — the
    * probe verify needs exactly that, and filtering a materialized frame
    * by admitted id replaces a per-epoch re-shingling of admitted text.
    * Selection is per-document, so epoch- or admission-filtered
    * fingerprints equal fingerprints of the filtered corpus.
    *
    * Doc ids must be GLOBALLY unique across epochs (r18 advice): the
    * cross-epoch verify unions the increment's and the standing corpus's
    * shingle sets by id, so an id recurring in a later epoch (a re-crawl
    * reusing ids) would double-count that id's shingles in the Jaccard
    * sizes. Epoch membership is a partition of the corpus here
    * (`epochCol` is a column of `df`), which guarantees it as long as
    * `idCol` itself is unique — the fixture's primary-key contract. */
  private[graft] def epochDedupWithState(df: DataFrame, idCol: String,
      textCol: String, epochCol: String, epochs: Seq[Long], k: Int = 3,
      w: Int = 8, threshold: Double = 0.6, maxDf: Int = 1000)
      : (DataFrame, DataFrame, DataFrame) = {
    require(epochs.nonEmpty, "epochs must be non-empty")
    require(epochs.distinct == epochs, s"epochs must be distinct: $epochs")
    // the winnowNearDup/dedupAgainstIndex guards, restated here (r18
    // advice): the epoch loop no longer routes through either entry
    // point, and an out-of-range threshold would mis-gate silently
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    require(maxDf > 1, s"maxDf must be > 1: $maxDf")
    // ONE materialization job per accumulator step (the r18 shape,
    // re-validated by measurement this round): fingerprint rows (kind 0,
    // v = fp_hash) and shingle rows (kind 1, v = h) ride the SAME tagged
    // frame, so each epoch pays three checkpoint jobs — signature,
    // ledger, accumulator append. Three r19 restructures toward the
    // 2-jobs-per-epoch form the r18 verdict sketched ALL measured worse
    // at 32 cpus (JobProfile, warm reps, equal spread): (a) accumulator
    // pieces as lazy semi-joins of sig × kept-ids — 87 → 114 jobs, warm
    // 8.3–9.5 → 9.7–10.3 s (every probe read re-ran E broadcast
    // builds); (b) ledger + admitted-sig folded into one tagged
    // checkpoint — 94 jobs, 10.2 s (the ledger subtree re-ran above its
    // exchanges per union branch); (c) materializing the shingle-hash
    // multiset (shingleBase) instead of the distinct sig and deriving
    // fingerprints/shingles lazily — 96 jobs, 11.3–12.9 s (the winnow
    // window re-ran per consumer job). The driver-paced job COUNT is not
    // the lever at this shape; overlapping the independent signature
    // jobs is (below). Within each job the repeated reads of the
    // materialized inputs are collapsed by AQE's runtime exchange reuse.
    //
    // The per-epoch SIGNATURE checkpoints are mutually independent
    // (sig_e reads only epoch e's documents), so they are submitted
    // CONCURRENTLY up front from a small thread pool (guide §2.6 —
    // later jobs back-fill executors freed by an earlier job's straggler
    // tail; each sig's window stage ends in few busy tasks at 32 cpus).
    // Only the ledger → accumulator chain is inherently sequential.
    val sigPool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(3, epochs.size))
    val sigs: Seq[DataFrame] =
      try {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(sigPool)
        Await.result(Future.sequence(epochs.map { e => Future {
          val de = df.where(col(epochCol) === lit(e))
          winnowFingerprints(de, idCol, textCol, k, w)
            .select(col("id"), lit(0).as("kind"), col("fp_hash").as("v"))
            .distinct()
            .unionByName(explodedShingleHashes(de, idCol, textCol, k)
              .select(col("id"), lit(1).as("kind"), col("h").as("v"))
              .distinct())
            .localCheckpoint()
        }}), Duration.Inf)
      } finally sigPool.shutdown()
    var acc: Option[DataFrame] = None // admitted (id, kind, v), all epochs
    val ledgers = epochs.zip(sigs).map { case (e, sig) =>
      val de = df.where(col(epochCol) === lit(e))
      val deFps = sig.where(col("kind") === 0)
        .select(col("id"), col("v").as("fp_hash"))
      val deSh = sig.where(col("kind") === 1)
        .select(col("id"), col("v").as("h"))
      val idxDups = acc match {
        case Some(a) =>
          val ix = a.where(col("kind") === 0)
            .select(col("id"), col("v").as("fp_hash"))
          val bsh = a.where(col("kind") === 1)
            .select(col("id"), col("v").as("h"))
          // candidate stage: increment fps × standing index, maxDf
          // stop-cap on the index-side posting lists (the
          // dedupAgainstIndex contract — no df >= 2 floor cross-epoch)
          val ok = ix.groupBy(col("fp_hash"))
            .agg(count(lit(1)).as("__df"))
            .where(col("__df") <= maxDf).select(col("fp_hash"))
          val cand = deFps.select(col("id").as("a"), col("fp_hash"))
            .join(ix.select(col("id").as("b"), col("fp_hash"))
              .join(ok, "fp_hash"), "fp_hash")
            .select(col("a"), col("b")).distinct()
          // exact verify against the materialized shingle frames: the
          // increment side joins its own epoch's frame, the base side
          // the standing accumulator — both candidate-driven
          verifyJaccardPairs(cand, deSh.unionByName(bsh), threshold)
            .groupBy(col("a").as("id"))
            .agg(min(col("b")).as("__dup_idx"))
        case _ =>
          de.select(col(idCol).as("id"), lit(null).cast("long")
            .as("__dup_idx")).limit(0)
      }
      val intraDups = verifyJaccardPairs(
          winnowCandidatesFromFps(deFps, maxDf), deSh, threshold)
        .groupBy(col("b").as("id"))
        .agg(min(col("a")).as("__dup_intra"))
      val ledger = de.select(col(idCol).as("id"))
        .join(idxDups, Seq("id"), "left")
        .join(intraDups, Seq("id"), "left")
        .select(col("id"), lit(e).as("epoch"),
          when(col("__dup_idx").isNotNull, "index_dup")
            .when(col("__dup_intra").isNotNull, "intra_dup")
            .otherwise("kept").as("status"),
          coalesce(col("__dup_idx"), col("__dup_intra")).cast("long")
            .as("dup_of"))
        .localCheckpoint()
      val admitted = ledger.where(col("status") === "kept")
        .select(col("id"))
      // the admitted union is lineage-truncated per epoch: a
      // checkpoint-free chain would re-derive epoch-1 signatures through
      // an E-deep union (each leg re-running its ledger semi-join) on
      // every downstream reference of a later epoch's probe
      val admittedSig = sig.join(admitted, Seq("id"), "left_semi")
      val prev = acc
      acc = Some(prev match {
        case Some(a) => a.unionByName(admittedSig).localCheckpoint()
        case None => admittedSig.localCheckpoint()
      })
      // superseded frames are never read again once the new accumulator
      // is materialized (r18 advice item #4): the epoch's sig feeds only
      // admittedSig (now folded into acc), and the old acc is wholly
      // contained in the new one — free both eagerly instead of letting
      // their blocks squat in the block manager for the rest of the run
      org.apache.spark.sql.GraftBridge.freeCheckpoint(sig)
      prev.foreach(org.apache.spark.sql.GraftBridge.freeCheckpoint)
      ledger
    }
    val accF = acc.get
    (ledgers.reduce(_.unionByName(_)),
      accF.where(col("kind") === 0)
        .select(col("id"), col("v").as("fp_hash")),
      accF.where(col("kind") === 1).select(col("id"), col("v").as("h")))
  }

  /** 64-bit SimHash over word shingles, one projection: bit j is set when
    * more than half the shingle hashes have bit j set. */
  /** Incremental near-dup against a FROZEN fingerprint index — the
    * operational pattern a 100 TB pipeline actually runs: each crawl
    * increment is deduped against the standing corpus's MATERIALIZED
    * index, never against the raw corpus. `index` is the persisted
    * output of [[winnowFingerprints]] over the base corpus (columns
    * `id, fp_hash`, extra columns ignored) — built once, appended as
    * increments are admitted, NEVER recomputed here; at scale it is a
    * parquet table bucketed on `fp_hash` so the candidate join is
    * exchange-free on the index side. The increment's fingerprints are
    * computed fresh (the increment is the small side by construction).
    *
    * Candidates: increment fingerprints equi-joined to index
    * fingerprints on `fp_hash`. Unlike [[winnowNearDup]] there is no
    * df ≥ 2 floor — cross-epoch, a base fingerprint with df = 1 can
    * still pair with an increment doc — but the index-side posting
    * lists keep the `maxDf` stop-cap (a boilerplate-hot fingerprint
    * shared by m base docs would otherwise fan every matching
    * increment doc into m candidates). The same hash-family df-parity
    * caveat as winnowNearDup applies and the same fixture-headroom spec
    * covers it (base-subset df ≤ full-corpus df ≪ maxDf).
    *
    * Verify: candidate-driven EXACT word-k-shingle Jaccard, the
    * discipline that owns precision everywhere in this file. `baseDf`
    * (the standing corpus text, which the data lake retains even when
    * its fingerprints are frozen) is semi-join-pruned to candidate ids
    * BEFORE its shingles are computed, so the base text scanned is
    * proportional to the candidate count, not the corpus — the
    * broadcast of the (small) candidate id set is what makes this an
    * index probe rather than a corpus pass. Returns
    * (new_id, base_id, inter, union_n), verified pairs only. Increment
    * docs duplicating EACH OTHER are out of scope here — run
    * [[winnowNearDup]] on the increment for that half, then union. */
  def dedupAgainstIndex(incDf: DataFrame, baseDf: DataFrame,
      index: DataFrame, idCol: String, textCol: String,
      k: Int = 3, w: Int = 8, threshold: Double = 0.6,
      maxDf: Int = 1000, arithmeticHash: Boolean = false): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold in (0,1]: $threshold")
    require(maxDf > 0, s"maxDf must be positive: $maxDf")
    val incFps = winnowFingerprints(incDf, idCol, textCol, k, w,
      arithmeticHash)
      .select(col("id").as("new_id"), col("fp_hash")).distinct()
    val idxFps = index.select(col("id").as("base_id"), col("fp_hash"))
      .distinct()
    val ok = idxFps.groupBy(col("fp_hash"))
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") <= maxDf).select(col("fp_hash"))
    // materialize the candidate set ONCE: it is read four times (both
    // text prunes, the verify join, and — through them — the sizes), and
    // every un-materialized read replays the increment fingerprint window
    // plus the index distinct (r18 opt round: the q_dedup_incremental
    // initial plan carried 182 Exchanges — the same fingerprint subtree
    // replicated under each consumer)
    val cand = incFps.join(idxFps.join(ok, "fp_hash"), "fp_hash")
      .select(col("new_id"), col("base_id")).distinct().localCheckpoint()
    // prune BOTH text sides to candidate docs before any shingle explode:
    // the candidate id sets are small (near-dup density), so these are
    // broadcast semi-joins and the exact-verify explode touches only the
    // docs it will actually score
    val basePruned = baseDf.join(
      broadcast(cand.select(col("base_id").as(idCol)).distinct()),
      Seq(idCol), "left_semi")
    val incPruned = incDf.join(
      broadcast(cand.select(col("new_id").as(idCol)).distinct()),
      Seq(idCol), "left_semi")
    // per-doc shingle-hash ARRAYS + array_intersect (the
    // verifyJaccardPairs r19 shape, guide §2.3): the candidate pairs ride
    // the joins as one row each instead of fanning out to
    // |cand| × |shingles-per-doc| exploded rows; collect_set is set
    // semantics, so no pre-distinct pass either. Same exact
    // intersection/union counts, bit-identical output.
    val incSets = explodedShingleHashes(incPruned, idCol, textCol, k)
      .groupBy(col("id")).agg(collect_set(col("h")).as("hs"))
    val baseSets = explodedShingleHashes(basePruned, idCol, textCol, k)
      .groupBy(col("id")).agg(collect_set(col("h")).as("hs"))
    val thNum = math.round(threshold * 1000)
    cand
      .join(incSets.select(col("id").as("new_id"), col("hs").as("__ha")),
        "new_id")
      .join(baseSets.select(col("id").as("base_id"), col("hs").as("__hb")),
        "base_id")
      .select(col("new_id"), col("base_id"),
        size(array_intersect(col("__ha"), col("__hb"))).cast("long")
          .as("inter"),
        (size(col("__ha")) + size(col("__hb"))).cast("long").as("__nab"))
      .withColumn("union_n", col("__nab") - col("inter"))
      .where(col("inter") * 1000 >= col("union_n") * thNum)
      .select(col("new_id"), col("base_id"), col("inter"), col("union_n"))
  }

  def simhash(text: Column, k: Int): Column = {
    val hashes = shingleHashes(text, k)
    val n = size(hashes)
    val bits = transform(sequence(lit(0), lit(63)), j =>
      when(size(filter(hashes,
        h => call_function("shiftright", h, j.cast("int")).bitwiseAND(lit(1L)) === 1L)) * 2 > n,
        lit(1L)).otherwise(lit(0L)))
    aggregate(
      zip_with(bits, sequence(lit(0), lit(63)), (b, j) => call_function("shiftleft", b, j.cast("int"))),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash via explode + aggregate — same result as [[simhash]] but with
    * a materialization barrier (each shingle hashed once, map-side-combined
    * bit counts), the shape that scales and keeps self-joins cheap. */
  def simhashGrouped(df: DataFrame, idCol: String, textCol: String, k: Int,
      arithmeticHash: Boolean = false): DataFrame = {
    val ex =
      if (arithmeticHash)
        explodedShingleStrings(df, idCol, textCol, k)
          .select(col("id"), arithHash64(col("s")).as("h"))
      else explodedShingleHashes(df, idCol, textCol, k)
    val bitSums = (0 until 64).map(j =>
      sum(call_function("shiftright", col("h"), lit(j)).bitwiseAND(lit(1L))).as(s"b$j"))
    val agged = ex.groupBy(col("id"))
      .agg(count(lit(1)).as("n"), bitSums: _*)
    val sig = (0 until 64).map(j =>
      when(col(s"b$j") * 2 > col("n"), lit(1L << j)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agged.select(col("id"), sig.as("sig"))
  }

  /** SimHash near-dup candidates: exact match on any 16-bit chunk of the
    * 64-bit simhash (guarantees recall for hamming distance ≤ 3 by
    * pigeonhole), then exact hamming verify. Returns (a, b, hamming).
    * Over-full buckets dropped as in [[minhashCandidates]]. */
  def simhashCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, maxHamming: Int = 3, maxBucketSize: Int = 64,
      arithmeticHash: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withSig = simhashGrouped(df, idCol, textCol, k, arithmeticHash)
    val chunked = withSig.select(col("id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(3)),
        c => call_function("shiftright", col("sig"), (c * 16).cast("int")).bitwiseAND(lit(0xFFFFL)))))
      .toDF("id", "sig", "chunk", "chunk_val")
      .withColumn("__bn", count(lit(1)).over(
        Window.partitionBy(col("chunk"), col("chunk_val"))))
      .where(col("__bn") <= maxBucketSize)
      .drop("__bn")
    // hamming-verify BEFORE the multi-chunk-collision distinct (the same
    // order as lshCandidatePairs): failing pairs never enter the distinct
    // exchange, and the signatures ride it only for the output column
    val pairs = chunked.as("l").join(chunked.as("r"),
        col("l.chunk") === col("r.chunk") &&
          col("l.chunk_val") === col("r.chunk_val") && col("l.id") < col("r.id"))
      .where(bit_count(col("l.sig").bitwiseXOR(col("r.sig"))) <= maxHamming)
      .select(col("l.id").as("a"), col("r.id").as("b"),
        col("l.sig").as("siga"), col("r.sig").as("sigb"))
      .distinct()
    pairs.withColumn("hamming", bit_count(col("siga").bitwiseXOR(col("sigb"))))
      .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
  }

  /** Connected components over candidate pairs — resolves pairwise near-dup
    * evidence into duplicate CLUSTERS and elects a canonical member, the
    * step that turns an LSH candidate list into an actual keep/drop
    * decision per document. Returns (id, cluster_id, keep_flag) for every
    * id appearing in a pair; cluster_id is the component minimum and
    * keep_flag marks its canonical (min-id) member.
    *
    * Min-label propagation: each round is one shuffle join on id plus a
    * map-side-combined min; rounds needed = component diameter, and real
    * near-dup clusters are shallow (near-cliques out of LSH buckets), so
    * this converges in a handful of rounds. `localCheckpoint` truncates
    * lineage so plans don't grow with iteration count; at cluster scale the
    * same loop runs with reliable checkpointing, and adversarial
    * chain-shaped graphs swap in `algorithm = "star"` — the large-star/
    * small-star alternation of [[starClusters]] (O(log n) rounds, spec-
    * pinned on a 1000-link chain). Convergence is detected from the label sum, which
    * strictly decreases until fixpoint — one cheap scalar agg per round,
    * no full-frame diff.
    *
    * Composition at corpus scale: this is the expensive step of the dedup
    * chain (the candidate self-join feeding it dominates), so when SEVERAL
    * consumers need the clusters — [[keepBest]] representatives, a
    * [[clusterSizeHistogram]] audit, a curation chain — materialize the result
    * ONCE (write to parquet, or `localCheckpoint()` within a job) and fan
    * the consumers out from the materialized frame, instead of letting
    * each consumer re-run the LSH join + label propagation. The engine's
    * independent bench queries deliberately re-run the chain (each is a
    * self-contained oracle); a production pipeline should not
    * ([[keepBestFromClusters]] is the seam for that pattern). */
  def duplicateClusters(pairs: DataFrame, aCol: String = "a",
      bCol: String = "b", maxIters: Int = 25,
      algorithm: String = "label"): DataFrame = {
    require(algorithm == "label" || algorithm == "star",
      s"algorithm must be 'label' or 'star', got '$algorithm'")
    // Materialize the candidate pairs ONCE before fanning them out: the
    // undirected union reads `pairs` twice and the edges union reads THAT
    // twice. AQE's runtime exchange reuse only collapses the shared
    // EXCHANGE subtree — the post-exchange work (the verify aggregate and
    // size joins of an ngramJaccard producer) re-runs per union branch,
    // measured ~2× on the cluster family when this checkpoint was
    // dropped (r18 opt round — tried, reverted; same lesson as r12).
    val base = pairs
      .select(col(aCol).cast("long").as("x"), col(bCol).cast("long").as("y"))
      .localCheckpoint()
    // eagerly free superseded checkpoints (GraftBridge.checkpointRdd doc):
    // a local checkpoint cannot be recomputed, so ONLY frames provably
    // never read again are freed — the returned labels frame never is
    val free = org.apache.spark.sql.GraftBridge.freeCheckpoint _
    val undirected = base
      .unionByName(base.select(col("y").as("x"), col("x").as("y")))
      .distinct()
    if (algorithm == "star") {
      val r = starClusters(undirected, maxIters)
      free(base) // star's own checkpoints materialized during the call
      return r
    }
    // self-loops fold the "keep own label" term into the SAME join: per
    // round, new(x) = min over {lbl(y) : y ∈ neighbors(x) ∪ {x}} — ONE
    // join + one map-side-combined min instead of the propagate-then-merge
    // two-join form (measured ~40% of per-round wall time)
    val edges = undirected
      .unionByName(undirected.select(col("x"), col("x").as("y")).distinct())
      .localCheckpoint()
    free(base) // edges is materialized; base is never read again
    // labels init stays lazy over the edges checkpoint (both hop reads of
    // round 1 share its exchange), and the initial label sum is replaced
    // by a sentinel: the init state cannot be the fixpoint while any real
    // edge exists, so the up-front full-scan action bought nothing
    var labels = edges.select(col("x").as("id")).distinct()
      .select(col("id"), col("id").as("lbl"))
    def lblSum(df: DataFrame): Long =
      Option(df.agg(sum(col("lbl"))).head.get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    var prev = Long.MinValue // sentinel — no real label sum before round 1
    var done = false
    var it = 0
    def hop(lbl: DataFrame): DataFrame =
      edges.join(lbl, col("y") === col("id"))
        .groupBy(col("x")).agg(min(col("lbl")).as("nlbl"))
        .select(col("x").as("id"), col("nlbl").as("lbl"))
    while (!done && it < maxIters) {
      // TWO propagation hops per materialization: min-label propagation is
      // monotone, so fusing hops changes nothing semantically — it halves
      // the localCheckpoint/action count per converged component diameter.
      // In-bench effect at sf0.1 is within run noise (the joins are cheap
      // on LSH near-cliques); the win grows with component diameter, where
      // rounds — not join width — are the cost.
      val next = hop(hop(labels)).localCheckpoint()
      val s = lblSum(next)
      done = s == prev
      prev = s
      free(labels) // superseded round (or the init frame) — next is live
      labels = next
      it += 1
    }
    free(edges) // the loop is over; only the final labels frame survives
    labels.select(col("id"), col("lbl").as("cluster_id"),
      (col("id") === col("lbl")).cast("long").as("keep_flag"))
  }

  /** Cluster-size histogram over a [[duplicateClusters]] result — the
    * dedup AUDIT view (how much mass sits in 2-clusters vs giant
    * near-dup families; a sudden fat tail is the classic symptom of a
    * too-loose threshold or a degenerate blocking key). Two
    * map-side-combined aggregations over the already-cluster-sized
    * frame; output is |distinct sizes| rows — tiny at any corpus scale.
    * Returns (cluster_size, n_clusters, n_docs). */
  def clusterSizeHistogram(clusters: DataFrame,
      clusterCol: String = "cluster_id"): DataFrame =
    clusters.groupBy(col(clusterCol))
      .agg(count(lit(1)).cast("long").as("__sz"))
      .groupBy(col("__sz").as("cluster_size"))
      .agg(count(lit(1)).cast("long").as("n_clusters"),
        sum(col("__sz")).cast("long").as("n_docs"))

  /** Quality-aware cluster-representative election — the decision rule
    * real curation pipelines want instead of [[duplicateClusters]]' min-id
    * canonical member: within each duplicate cluster keep the HIGHEST-
    * QUALITY document (ties break to the lowest id), and keep every
    * document that appears in no near-dup pair at all. Returns one row per
    * row of `df`: (id, cluster_id, keep_flag), with cluster_id = the
    * component minimum for paired docs and the doc's own id for
    * singletons — so `where(keep_flag === 1)` is the deduplicated corpus
    * and (cluster_id, keep_flag=1) locates each cluster's survivor.
    *
    * Shape: the component resolution is [[duplicateClusters]] (label
    * propagation or large-star/small-star via `algorithm`); the election
    * is a single `row_number` window partitioned BY CLUSTER over a slim
    * (id, cluster, score) projection — cluster cardinality is bounded by
    * the near-dup semantics (LSH near-cliques), so no window partition can
    * grow with the corpus, and the label join is the only wide shuffle
    * added on top of the component loop. */
  def keepBest(df: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, aCol: String = "a", bCol: String = "b",
      maxIters: Int = 25, algorithm: String = "label"): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    // an integer score contract, enforced rather than silently truncated:
    // casting a fractional quality score to long would corrupt the
    // election (1.9 and 1.2 both become 1, the tie-break elects the wrong
    // doc with no warning) — quantize to an integer grid first (the
    // qualityMetrics permille pattern)
    val st = df.schema(scoreCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(st),
      s"keepBest needs an integer-typed score, got $st for '$scoreCol' — " +
        "quantize fractional scores to an integer grid first")
    keepBestFromClusters(df, idCol, scoreCol,
      duplicateClusters(pairs, aCol, bCol, maxIters, algorithm))
  }

  /** [[keepBest]]'s election stage on its own, over an ALREADY-RESOLVED
    * clusters frame (`(id, cluster_id, ...)`, the [[duplicateClusters]]
    * contract) — the composition seam for the materialize-once pattern:
    * at corpus scale, resolve components once, persist the labels, and
    * feed every consumer (this election, [[clusterSizeHistogram]], a
    * curation chain) from the materialized frame instead of re-running
    * the candidate join + label loop per consumer (see
    * [[duplicateClusters]]' scaladoc). Same output contract as
    * [[keepBest]]. */
  def keepBestFromClusters(df: DataFrame, idCol: String, scoreCol: String,
      clusters: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType}
    val st = df.schema(scoreCol).dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(st),
      s"keepBest needs an integer-typed score, got $st for '$scoreCol' — " +
        "quantize fractional scores to an integer grid first")
    val labels = clusters.select(col("id"), col("cluster_id"))
    val slim = df.select(col(idCol).cast("long").as("id"),
      col(scoreCol).cast("long").as("__score"))
    val labeled = slim.join(labels, Seq("id"), "left")
      .select(col("id"), col("__score"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("__score").desc, col("id"))
    labeled
      .select(col("id"), col("cluster_id"),
        (row_number().over(w) === 1).cast("long").as("keep_flag"))
  }

  /** SoftDedup-style duplicate REWEIGHTING (the reweight-don't-remove
    * alternative of He et al., "SoftDedup: an Efficient Data Reweighting
    * Method for Speeding Up Language Model Pre-training", ACL 2024):
    * instead of electing one survivor per near-dup cluster and dropping
    * the rest, EVERY document survives with a sampling weight inversely
    * proportional to how duplicated it is — `weight_permille =
    * 1000 div cluster_size` (integer floor division, engine-portable) —
    * so a 4-way near-dup family contributes ~one document's worth of
    * expected training mass instead of four, without the information loss
    * of hard removal. Singletons (docs in no pair) keep weight 1000.
    *
    * `pairs` is the near-dup candidate graph (any of the LSH /
    * n-gram-Jaccard / SimHash producers); components resolve via
    * [[duplicateClusters]]. Returns one row per row of `df`:
    * (id, cluster_id, cluster_size, weight_permille) with cluster_id =
    * the component minimum for paired docs and the doc's own id for
    * singletons. Downstream, `samplePermille(id, salt) < weight_permille`
    * is the deterministic soft-dedup keep gate, and `sum(weight_permille)
    * / 1000` is the corpus's effective (deduplicated) size.
    *
    * Shape: the component loop dominates (see [[duplicateClusters]]);
    * this adds one left equi-join of the corpus against the (sparse)
    * label frame, one map-side-combined size count over cluster ids, and
    * one keyed join back — cluster cardinality is bounded by the near-dup
    * semantics, so no key can grow with the corpus. For several consumers
    * over the same clusters, resolve once and use
    * [[softDedupFromClusters]] (the materialize-once seam, as with
    * [[keepBestFromClusters]]). */
  def softDedupWeights(df: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "a", bCol: String = "b", maxIters: Int = 25,
      algorithm: String = "label"): DataFrame =
    softDedupFromClusters(df, idCol,
      duplicateClusters(pairs, aCol, bCol, maxIters, algorithm))

  /** [[softDedupWeights]]' weighting stage over an ALREADY-RESOLVED
    * clusters frame ((id, cluster_id, ...), the [[duplicateClusters]]
    * contract) — the composition seam for the materialize-once pattern. */
  def softDedupFromClusters(df: DataFrame, idCol: String,
      clusters: DataFrame): DataFrame = {
    val labels = clusters.select(col("id"), col("cluster_id"))
    val labeled = df.select(col(idCol).cast("long").as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
    val sizes = labeled.groupBy(col("cluster_id"))
      .agg(count(lit(1)).cast("long").as("cluster_size"))
    // EXACT integer division (IntegralDivide): both operands non-negative,
    // so truncation equals floor in every 64-bit engine
    labeled.join(sizes, Seq("cluster_id"))
      .select(col("id"), col("cluster_id"), col("cluster_size"),
        call_function("div", lit(1000L), col("cluster_size"))
          .as("weight_permille"))
  }

  /** Large-star/small-star alternation (the public two-phase connected-
    * components scheme of Kiveris et al., "Connected Components in
    * MapReduce and Beyond") — the [[duplicateClusters]] `algorithm="star"`
    * knob for adversarial chain-shaped graphs, where min-label
    * propagation needs diameter-many rounds but the alternation contracts
    * the component in O(log n):
    *
    *   large-star: every node's strictly-LARGER neighbors re-attach to the
    *   minimum of its closed neighborhood; small-star: the smaller
    *   neighbors (and the node itself) do. Both emit only intra-component
    *   edges and preserve the node set, so components never merge or
    *   split; the joint fixpoint is a star per component centered on its
    *   minimum — exactly the (id, component-min) contract of the label
    *   loop.
    *
    * Each half-round is one groupBy-min + one equi-join on the current
    * edge set (both map-side combinable), the same shuffle discipline as
    * a label round; the win is ROUND COUNT, not round cost. Fixpoint is
    * detected from (edge count, bit_xor of edge hashes) — order-
    * independent and overflow-free under ANSI; stable across a round ⇒
    * stars. If maxIters is exhausted first, the min-aggregation
    * on the final edge set still yields each node's best-known root (a
    * correct coarsening, possibly not fully merged — same failure mode as
    * the label loop's cap). */
  private def starClusters(symEdges: DataFrame, maxIters: Int): DataFrame = {
    def sym(e: DataFrame): DataFrame =
      e.unionByName(e.select(col("y").as("x"), col("x").as("y"))).distinct()
    // m(u) = min of the closed neighborhood — the attachment target
    def minsOf(s: DataFrame): DataFrame =
      s.groupBy(col("x")).agg(min(col("y")).as("mn"))
        .select(col("x"), least(col("x"), col("mn")).as("m"))
    def half(e: DataFrame, large: Boolean): DataFrame = {
      val s = sym(e)
      val m = minsOf(s)
      val moved = s.join(m, "x")
        .where(if (large) col("y") > col("x") else col("y") < col("x"))
        .select(col("y").as("x"), col("m").as("y"))
      moved.unionByName(m.select(col("x"), col("m").as("y")))
        .where(col("x") =!= col("y")).distinct()
    }
    def sig(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        expr("bit_xor(xxhash64(x, y))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // node set pinned up front: half()'s self-loop drop would otherwise
    // lose a node whose ONLY membership is a self-pair (a, a) — the label
    // loop keeps it, and the two algorithms must agree on the contract
    val nodes = symEdges.select(col("x").as("id")).distinct().localCheckpoint()
    var edges = symEdges.where(col("x") =!= col("y")).localCheckpoint()
    var prev = sig(edges)
    var done = false
    var it = 0
    // same checkpoint hygiene as the label loop: superseded rounds are
    // freed; the FINAL edges and the pinned nodes survive (the result
    // reads both)
    val free = org.apache.spark.sql.GraftBridge.freeCheckpoint _
    while (!done && it < maxIters) {
      val next = half(half(edges, large = true), large = false).localCheckpoint()
      val s = sig(next)
      done = s == prev
      prev = s
      free(edges)
      edges = next
      it += 1
    }
    // converged edges are (member, root); the groupBy-min also covers the
    // not-fully-converged cap case (scaladoc), and the pinned node set
    // restores self-pair-only nodes as their own singleton roots
    edges.select(col("x").as("id"), col("y").as("lbl"))
      .unionByName(edges.select(col("y").as("id"), col("y").as("lbl")))
      .unionByName(nodes.select(col("id"), col("id").as("lbl")))
      .groupBy(col("id")).agg(min(col("lbl")).as("cluster_id"))
      .select(col("id"), col("cluster_id"),
        (col("id") === col("cluster_id")).cast("long").as("keep_flag"))
  }

  /** Band-count sizing for the LSH path of [[cosineNearDup]]: the number
    * of distinct buckets per band is 2^(planes/chunks), so a FIXED
    * (planes, chunks) means bucket occupancy — and with it the per-band
    * candidate-pair join — grows linearly (quadratically) with the corpus.
    * The round-10 sf0.1→sf1 measurement caught exactly this shape on the
    * blocked path (SCALE.md "Measured scaling"): blocking keys must scale
    * with the corpus, the same discipline as semanticDedup's `nlist`.
    *
    * Rule encoded here: bits-per-band = ceil(log2(n / targetOccupancy)),
    * keeping expected bucket occupancy ~targetOccupancy as n grows (the
    * standard random-hyperplane tuning: recall per band falls as p^bits,
    * which is why `bands` stays a caller choice — more bands buy back the
    * recall that more bits spend). Floor of 4 bits (tiny corpora), cap of
    * 63/bands bits (the signature is one long; beyond ~2^15-bucket bands
    * at bands=4 a multi-long signature would be needed — at that point
    * occupancy grows again and the cap is the documented limit, not a
    * silent wrap). */
  def lshParamsFor(n: Long, bands: Int = 4, targetOccupancy: Int = 8)
      : (Int, Int) = {
    require(bands >= 1 && bands <= 15, "bands must be in [1, 15]")
    val wanted = math.ceil(math.log(math.max(1L, n).toDouble /
      math.max(1, targetOccupancy)) / math.log(2.0)).toInt
    val bits = math.min(63 / bands, math.max(4, wanted))
    (bands * bits, bands)
  }

  /** Embedding cosine near-duplicates — ALWAYS blocked (no all-pairs path;
    * VERDICT r1 item 10). `blockCol` supplies an explicit blocking stage
    * (label, shard, …); with `None` the operator blocks on random-hyperplane
    * LSH signature chunks (Similarity.rhpSignature): candidates must share
    * at least one of `chunks` sign-bit bands, then exact cosine verifies.
    * Identical vectors share every band, so true duplicates are never lost;
    * near-duplicates below signature agreement may be missed (recall < 1 by
    * construction — the standard scale/recall trade, pinned by spec).
    * Cosine computed in double precision via zip_with.
    *
    * 100 TB posture: `blockCol` with a fixed-cardinality key is quadratic
    * within blocks BY SEMANTICS (score all same-key pairs) — fine for
    * bounded blocks (a shard, a time bucket), a measured scale-killer for
    * corpus-spanning keys (SCALE.md round 10: 7.9× time on 10× data).
    * The LSH path is the corpus-scale default, and its (planes, chunks)
    * must grow with the corpus: size them with [[lshParamsFor]].
    *
    * `maxBlockSize` (blockCol path only): the blocked semantics are
    * quadratic per block BY DEFINITION (score all same-key pairs), so one
    * adversarial block — a null-ish default key, a degenerate shard —
    * silently turns the job quadratic in that block's population. The cap
    * applies the same discipline as the LSH path's `maxBucketSize`: blocks
    * larger than the cap are DROPPED before the self-join (their members
    * lose only the pairs that block would have produced), so the worst
    * block costs at most cap² comparisons. None (default) keeps the
    * uncapped semantics for bounded blocking keys.
    *
    * `maxHamming` (LSH path only): prune candidate pairs whose FULL
    * signatures disagree in more than this many sign bits before the
    * vector re-attach joins — the same cheap pre-verification
    * simhashCandidates applies. Band collision alone admits the
    * moderately-similar tail (pairs agreeing on one band but far from
    * `threshold`), and every admitted pair costs the distinct shuffle,
    * two joins and a full-dimension dot; the hamming cut removes that
    * tail for the price of one bit_count on sign bits already computed.
    * Recall trade (banding already makes one): a true pair at the
    * threshold loses ~P[Binom(planes, θ/π) > h] — at planes=32,
    * cos 0.93 (θ/π ≈ 0.12, mean 3.8 disagreeing bits, σ 1.8), h=10 is
    * a +3.4σ keep. None (default) disables the cut. `maxBucketSize`
    * (LSH path only) caps degenerate band buckets before the self-join —
    * see [[lshCandidatePairs]] for the trade. */
  def cosineNearDup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blockCol: Option[String] = None,
      planes: Int = 16, chunks: Int = 4,
      maxHamming: Option[Int] = None,
      maxBucketSize: Option[Int] = None,
      maxBlockSize: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val v = emb.select(col(idCol).as("id") +:
      transform(col(vecCol), x => x.cast("double")).as("v") +:
      blockCol.map(col).toSeq: _*)
    val withNorm0 = v.withColumn("norm", graft.functions.VecDot.norm(col("v")))
    // degenerate-block guard (scaladoc): count-per-block window + filter,
    // BEFORE the self-join — the join must never see the oversized block
    val withNorm = (blockCol, maxBlockSize) match {
      case (Some(b), Some(cap)) =>
        withNorm0.withColumn("__bn", count(lit(1)).over(
            Window.partitionBy(col(b))))
          .where(col("__bn") <= cap).drop("__bn")
      case _ => withNorm0
    }
    val pairs = blockCol match {
      case Some(b) =>
        withNorm.as("l").join(withNorm.as("r"),
          col(s"l.$b") === col(s"r.$b") && col("l.id") < col("r.id"))
          .select(col("l.id").as("a"), col("r.id").as("b"),
            col("l.v").as("va"), col("r.v").as("vb"),
            col("l.norm").as("na"), col("r.norm").as("nb"))
      case None =>
        val idPairs = lshCandidatePairs(withNorm.select(col("id"), col("v")),
          planes, chunks, maxHamming, maxBucketSize)
        idPairs
          .join(withNorm.select(col("id").as("a"), col("v").as("va"),
            col("norm").as("na")), "a")
          .join(withNorm.select(col("id").as("b"), col("v").as("vb"),
            col("norm").as("nb")), "b")
    }
    pairs
      .withColumn("dot", graft.functions.VecDot(col("va"), col("vb")))
      .withColumn("cosine", col("dot") / (col("na") * col("nb")))
      .where(col("cosine") >= threshold)
      .select(col("a"), col("b"), col("cosine"))
  }

  /** Derive the `maxHamming` pre-verification cut for a cosine threshold:
    * a true pair at cosine `threshold` disagrees on a plane with
    * probability θ/π (θ = acos(threshold)), so its full-signature hamming
    * distance is ~Binom(planes, θ/π); keep out to +3σ above the mean so
    * the cut removes the moderately-similar tail, not true pairs. */
  def hammingCutFor(threshold: Double, planes: Int): Int = {
    val p = math.acos(math.max(-1.0, math.min(1.0, threshold))) / math.Pi
    math.min(planes,
      math.ceil(planes * p + 3.0 * math.sqrt(planes * p * (1 - p))).toInt)
  }

  /** [[cosineNearDup]] LSH path with corpus-sized parameters: counts the
    * corpus ONCE (an explicit, documented eager action — one metadata-cheap
    * count against the source), then applies [[lshParamsFor]] for the band
    * layout and [[hammingCutFor]] for the pre-verification cut. The
    * packaged form of the round-10 sizing discipline: callers that reach
    * for the LSH path at unknown scale get bands that grow with the
    * corpus instead of a silently quadratic fixed layout, plus the
    * degenerate-bucket cap at 64× the occupancy target. */
  def cosineNearDupAuto(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 4, targetOccupancy: Int = 8): DataFrame = {
    val n = emb.count()
    val (planes, chunks) = lshParamsFor(n, bands, targetOccupancy)
    cosineNearDup(emb, idCol, vecCol, threshold, blockCol = None,
      planes = planes, chunks = chunks,
      maxHamming = Some(hammingCutFor(threshold, planes)),
      // a bucket at 64x its expected occupancy is degenerate (a dense
      // duplicate clique or sign-degenerate region); cap it before the
      // self-join — the minhashCandidates guard, sized to the same
      // occupancy target the band bits were derived from
      maxBucketSize = Some(64 * targetOccupancy))
  }

  /** Candidate stage of the LSH path of [[cosineNearDup]], exposed so the
    * candidate-pair count — the structural scale measure: it IS the
    * downstream shuffle/score volume — can be observed directly
    * (SCALE.md "Measured scaling").
    *
    * LSH banding: explode signature chunks, equi-join per band — the same
    * shuffle-safe shape as simhashCandidates/lshTopK. Only (id, chunk,
    * chunk_val) rides the band join, and the multi-band-collision dedup
    * distincts BARE ID PAIRS — carrying the embeddings through the
    * distinct exchange would ship ~KBs of redundant vector payload per
    * candidate at 1k-dim (VERDICT r9 item 5); [[cosineNearDup]] re-attaches
    * vectors afterwards via two equi-joins against the corpus (AQE-sized,
    * broadcast when pairs are few). The full signature (8 bytes — not the
    * vector) DOES ride the band join so `maxHamming` can prune the
    * moderately-similar tail BEFORE the distinct, shrinking the distinct
    * exchange along with everything after it.
    *
    * `maxBucketSize`: drop band buckets larger than this BEFORE the
    * self-join — the same degenerate-bucket guard [[minhashCandidates]]
    * applies, and the one cut `maxHamming` cannot make: the hamming
    * filter runs ON the joined pairs, so a single over-full bucket (a
    * dense duplicate clique, or a sign-degenerate region) still
    * materializes its quadratic join before anything can drop it. The
    * trade is explicit: members of a capped bucket lose the pairs that
    * only that bucket would have produced (a clique of exact duplicates
    * beyond the cap is better handled by exact/fingerprint dedup first).
    * Input must have columns (id, v). */
  private[graft] def lshCandidatePairs(withV: DataFrame, planes: Int,
      chunks: Int, maxHamming: Option[Int] = None,
      maxBucketSize: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunkBits = planes / chunks
    val sig = withV.withColumn("__sig",
      graft.pipeline.Similarity.rhpSignature(col("v"), planes))
    val bandedAll = sig.select(col("id"), col("__sig"),
      posexplode(transform(sequence(lit(0), lit(chunks - 1)), c =>
        call_function("shiftright", col("__sig"), (c * chunkBits).cast("int"))
          .bitwiseAND(lit((1L << chunkBits) - 1)))))
      .toDF("id", "sg", "chunk", "chunk_val")
    val banded = maxBucketSize.fold(bandedAll)(m =>
      bandedAll.withColumn("__bn", count(lit(1)).over(
          Window.partitionBy(col("chunk"), col("chunk_val"))))
        .where(col("__bn") <= m)
        .drop("__bn"))
    // Self-join note: at bench scale AQE broadcasts one side, so the
    // signature subtree evaluates twice (measured: forcing a band-key
    // repartition to get a ReusedExchange costs MORE here — the extra
    // shuffle outweighs the duplicate signature pass on a small corpus).
    // At corpus scale the band join is sort-merge: both sides then carry
    // the identical Exchange and the second becomes a ReusedExchange, so
    // the corpus is scanned and signed once — no code change needed.
    val joined = banded.as("l").join(banded.as("r"),
      col("l.chunk") === col("r.chunk") &&
        col("l.chunk_val") === col("r.chunk_val") && col("l.id") < col("r.id"))
    maxHamming.fold(joined)(h => joined.where(
        call_function("bit_count", col("l.sg").bitwiseXOR(col("r.sg"))) <= h))
      .select(col("l.id").as("a"), col("r.id").as("b"))
      .distinct()
  }

  /** Semantic dedup, SemDeDup-style (cluster-then-prune): partition the
    * embedding space with the deterministic k-means (Similarity
    * .kmeansAssign — broadcast centroid literals, the corpus never
    * shuffles for assignment), then inside each cluster drop every vector
    * that has a MORE CENTRAL near-duplicate (pairwise cosine ≥
    * `threshold`). Centrality is the cosine to the own cluster's centroid;
    * ties break on lower id — the keep decision is a deterministic
    * pairwise domination, no transitive closure, so the DuckDB oracle can
    * replay it exactly. Cross-cluster near-duplicates are missed by
    * construction — the standard SemDeDup recall/scale trade (the
    * clustering IS the blocking stage).
    *
    * Returns one row per vector: (id, cluster, keep_flag).
    *
    * 100 TB posture: assignment and centrality are scan-level projections
    * against literal centroids (no join); the only shuffle keys on
    * `cluster`, and the pair join is quadratic ONLY within a cluster — at
    * corpus scale `nlist` grows with the corpus (SemDeDup practice:
    * ~√n..n/10k clusters) so cluster populations stay bounded; hot
    * clusters are ordinary AQE skew-join territory. */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double, nlist: Int = 16, iters: Int = 2): DataFrame = {
    import graft.pipeline.Similarity
    val cents = Similarity.ivfCentroids(emb, idCol, vecCol, nlist, iters)
    // (id, v, cluster) + per-row norm and centroid cosine: element_at over
    // arrays of per-centroid dot/norm literals — ONE dot-array and ONE
    // norm evaluation per row (norm inside the per-centroid expressions
    // would re-evaluate the aggregate 16×, the IVF inlining trap). The
    // division shape dot / (‖v‖ · ‖c‖) matches the DuckDB replica's
    // association exactly, and exact-direction copies (the planted tie
    // case) scale both operands by the same power of two, so the
    // domination tie stays bit-exact in both engines.
    val cnorm = cents.map(w => math.sqrt(w.map(x => x * x).sum))
    val cdots = array(cents.map(w =>
      graft.functions.VecDot(col("v"), lit(w))): _*)
    val cns = array(cnorm.map(lit): _*)
    val withC = Similarity.kmeansAssign(emb, idCol, vecCol, nlist, iters)
      .withColumn("n", graft.functions.VecDot.norm(col("v")))
      .withColumn("ccos", element_at(cdots, col("cluster") + 1) /
        (col("n") * element_at(cns, col("cluster") + 1)))
    val l = withC.select(col("id").as("a"), col("v").as("va"),
      col("n").as("na"), col("cluster").as("cl"), col("ccos").as("ca"))
    val r = withC.select(col("id").as("b"), col("v").as("vb"),
      col("n").as("nb"), col("cluster").as("cr"), col("ccos").as("cb"))
    // directed domination pairs: a outranks b within the cluster
    val dominated = l.join(r,
        col("cl") === col("cr") && col("a") =!= col("b") &&
          (col("ca") > col("cb") ||
            (col("ca") === col("cb") && col("a") < col("b"))))
      .withColumn("cosine",
        graft.functions.VecDot(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cosine") >= threshold)
      .select(col("b")).distinct()
    withC.join(dominated, withC("id") === dominated("b"), "left_outer")
      .select(col("id"), col("cluster").cast("long").as("cluster"),
        when(col("b").isNull, 1L).otherwise(0L).as("keep_flag"))
  }

  /** Substring-level dedup: mark the token spans covered by word k-grams
    * that repeat anywhere in the corpus (including elsewhere in the same
    * document) — the span-removal signal of exact-substring training-data
    * dedup, where document-level dedup misses long passages pasted into
    * otherwise-distinct pages.
    *
    * Output: one row per document — `id, n_tokens, n_dup_tokens` (tokens
    * covered by the UNION of repeated k-gram spans) and the integer
    * permille `dup_x1000`. Documents shorter than k carry zero coverage.
    *
    * Shape: gram rows are linear in corpus tokens (one per k-gram start,
    * built by a scan-level `transform(sequence(...))` over the split —
    * the k words fold into a portable 31-bit hash, so the shuffle key is
    * a long, not a string). One exchange counts gram occurrences
    * (map-side combined); occurrences keep their span via a LEFT SEMI
    * join against the repeated set (no row multiplication — AQE
    * broadcasts the repeated side when it is small, its usual state); the
    * span union explodes k token indices ONLY for repeated occurrences,
    * then one per-doc rollup exchange. Never all-pairs, never a global
    * sort; the hot-gram skew case is the boilerplate skew case and gets
    * the same AQE treatment (SkewSpec). At corpus scale swap
    * [[arithHash31]] for [[arithHash64]] if the ~2³¹ gram-key space
    * saturates. */
  def repeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minCount: Int = 2): DataFrame = {
    require(k > 0 && minCount >= 2, s"k=$k must be positive, minCount=$minCount >= 2")
    val words = df.select(col(idCol).as("id"),
        split(trim(col(textCol)), "\\s+").as("ws"))
      .select(col("id"), col("ws"), size(col("ws")).cast("long").as("n_tokens"))
    val grams = words.where(col("n_tokens") >= k)
      .select(col("id"), col("n_tokens"),
        posexplode(expr(
          s"transform(sequence(0, cast(n_tokens as int) - $k), i -> array_join(slice(ws, i + 1, $k), ' '))")))
      .select(col("id"), col("n_tokens"), col("pos"),
        arithHash31(col("col")).as("g"))
    val repeated = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("c")).where(col("c") >= minCount)
      .select(col("g"))
    val covered = grams.join(repeated, Seq("g"), "left_semi")
      .select(col("id"), explode(expr(s"sequence(pos, pos + ${k - 1})")).as("tok"))
      .groupBy(col("id"))
      .agg(countDistinct(col("tok")).cast("long").as("n_dup_tokens"))
    words.select(col("id"), col("n_tokens"))
      .join(covered, Seq("id"), "left")
      .withColumn("n_dup_tokens", coalesce(col("n_dup_tokens"), lit(0L)))
      .withColumn("dup_x1000", expr("n_dup_tokens * 1000 div n_tokens"))
  }

  /** Exact-substring span REMOVAL — the rewrite [[repeatedSpans]] only
    * measures (the "dedup the substring, keep the document" practice of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better": corpus-repeated passages are excised, the surrounding
    * novel text survives — doc-level dedup would either keep the pasted
    * boilerplate or drop the whole document). A token position is
    * removed when ANY corpus-repeated word-k-gram covers it; the
    * surviving tokens rejoin in order. Returns (id, n_tokens, n_kept,
    * cleaned_text); a fully-boilerplate doc books an empty string (the
    * caller's length gate then drops it).
    *
    * Shape: identical candidate machinery to [[repeatedSpans]] (gram
    * rows linear in tokens, 31-bit portable hash keys, LEFT SEMI against
    * the ≥minCount set), plus a per-doc reassembly aggregation:
    * `array_sort(collect_list(struct(pos, word)))` — bounded by DOC
    * length, never corpus-sized (the lineDedup rebuild posture), with
    * the sort inside the array kernel rather than a window, so the only
    * exchanges are the gram count and the per-doc rollup. */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, minCount: Int = 2): DataFrame = {
    require(k > 0 && minCount >= 2,
      s"k=$k must be positive, minCount=$minCount >= 2")
    val words = df.select(col(idCol).as("id"),
        split(trim(col(textCol)), "\\s+").as("ws"))
      .select(col("id"), col("ws"),
        size(col("ws")).cast("long").as("n_tokens"))
    val grams = words.where(col("n_tokens") >= k)
      .select(col("id"), posexplode(expr(
        s"transform(sequence(0, cast(n_tokens as int) - $k), i -> array_join(slice(ws, i + 1, $k), ' '))")))
      .select(col("id"), col("pos"), arithHash31(col("col")).as("g"))
    val repeated = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("c")).where(col("c") >= minCount)
      .select(col("g"))
    val covered = grams.join(repeated, Seq("g"), "left_semi")
      .select(col("id"),
        explode(expr(s"sequence(pos, pos + ${k - 1})")).as("tok"))
      .distinct()
    val kept = words
      .select(col("id"), col("n_tokens"),
        posexplode(col("ws")).as(Seq("tok", "w")))
      .join(covered, Seq("id", "tok"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_kept"),
        expr("array_join(transform(array_sort(" +
          "collect_list(struct(tok, w))), x -> x.w), ' ')")
          .as("cleaned_text"))
    words.select(col("id"), col("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
  }
}
