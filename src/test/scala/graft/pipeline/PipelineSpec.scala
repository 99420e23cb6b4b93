package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Semantics + recall checks for the pipeline operators that have no SQL
  * oracle (LSH families): each approximate operator is pinned against its
  * exact counterpart on the sf0.001 corpus. */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** Independent reference model of Sampling.mixCoord — fold plus the
    * two-round mixer, recomputed from scratch (not via the engine). */
  private def fullMix(salt: String, id: Long): Long = {
    val f = s"$salt:$id".foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1073741789L)
    val m = 0x45d9f3bL
    val x1 = ((f ^ (f >> 16)) * m) % 4294967296L
    val x2 = ((x1 ^ (x1 >> 16)) * m) % 4294967296L
    x2 ^ (x2 >> 16)
  }

  /** ... and Sampling.samplePermille = the mix's %1000 band. */
  private def mixedCoord(salt: String, id: Long): Long =
    fullMix(salt, id) % 1000
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet")
    .select(col("doc_id"), regexp_replace(trim(col("text")), "\\s+", " ").as("text"))
  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("urlDedup: normalization variants collapse, null URLs always kept") {
    // one page in 5 spellings (scheme / www / trailing slash / fragment /
    // uppercase) → one survivor (min id); a distinct page survives; a
    // NULL and a blank URL are both kept with url_norm NULL
    val d = Seq(
      (1L, "https://Ex.com/a"),
      (2L, "http://ex.com/a"),           // scheme folds
      (3L, "https://www.ex.com/a"),      // www strips
      (4L, "https://ex.com/a/"),         // trailing slash strips
      (5L, "https://ex.com/a#frag"),     // fragment strips
      (6L, "https://ex.com/b"),          // distinct page
      (7L, null.asInstanceOf[String]),   // no URL: kept
      (8L, "  ")                         // blank URL: kept
    ).toDF("doc_id", "url")
    val got = Dedup.urlDedup(d, "doc_id", "url").collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)),
        r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    val a = Some("https://ex.com/a")
    assert(got == Map(
      1L -> ((a, true, -1L)), 2L -> ((a, false, 1L)),
      3L -> ((a, false, 1L)), 4L -> ((a, false, 1L)),
      5L -> ((a, false, 1L)),
      6L -> ((Some("https://ex.com/b"), true, -1L)),
      7L -> ((None, true, -1L)), 8L -> ((None, true, -1L))))
  }

  test("property: urlDedup equals the Scala normalization model on random URLs") {
    // random URLs over a small host/path space with random variant noise
    // (scheme, www, trailing slashes, fragments, case, padding) vs an
    // independently-written Scala normalizer + keep-min fold
    val rnd = new scala.util.Random(2025)
    def randUrl(): String = {
      if (rnd.nextInt(12) == 0) return if (rnd.nextBoolean()) null else "  "
      val scheme = if (rnd.nextBoolean()) "http://" else "https://"
      val www = if (rnd.nextBoolean()) "www." else ""
      val host = s"H${rnd.nextInt(3)}.Example.com"
      val path = s"/P${rnd.nextInt(4)}"
      val slashes = "/" * rnd.nextInt(3)
      val frag = if (rnd.nextBoolean()) s"#sec${rnd.nextInt(3)}" else ""
      val pad = if (rnd.nextInt(4) == 0) " " else ""
      s"$pad$scheme$www$host$path$slashes$frag$pad"
    }
    def model(u: String): Option[String] = {
      if (u == null || u.trim.isEmpty) return None
      var s = u.trim.toLowerCase
      s = s.replaceAll("#.*$", "")
      s = s.replaceAll("^http://", "https://")
      s = s.replaceAll("^https://www\\.", "https://")
      Some(s.replaceAll("/+$", ""))
    }
    val rows = (0 until 200).map(i => (i.toLong, randUrl()))
    val got = Dedup.urlDedup(rows.toDF("doc_id", "url"), "doc_id", "url")
      .collect()
      .map(r => r.getLong(0) -> ((Option(r.getString(1)), r.getBoolean(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))).toMap
    val norms = rows.map { case (i, u) => i -> model(u) }.toMap
    val keepOf = rows.flatMap { case (i, u) => model(u).map(_ -> i) }
      .groupBy(_._1).map { case (n, xs) => n -> xs.map(_._2).min }
    rows.foreach { case (i, _) =>
      val n = norms(i)
      val expKeep = n.forall(keepOf(_) == i)
      val expDup = n.filterNot(_ => expKeep).map(keepOf)
      assert(got(i) == ((n, expKeep, expDup)), s"id $i: ${got(i)}")
    }
    assert(got.values.exists(!_._2), "fixture must plant collisions")
  }

  test("exact dedup marks canonical member per duplicate group") {
    val d = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"), (4L, "a b c"))
      .toDF("doc_id", "text")
    val r = Dedup.exact(d, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> x.getBoolean(2)).toMap
    assert(r == Map(1L -> true, 2L -> false, 3L -> true, 4L -> false))
  }

  test("markup strip: tags removed, entities single-decoded, ws collapsed") {
    val d = Seq(
      (1L, "<div class=\"a\"><h1>Title</h1>body &amp; more</div>"),
      (2L, "no markup at all"),
      (3L, "&amp;lt;double&amp;gt; &quot;q&quot; &#39;s&#39; <br/>")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.stripMarkup(d, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getString(2)))).toMap
    assert(r(1L) == ((4L, "Title body & more")))
    assert(r(2L) == ((0L, "no markup at all")))
    // &amp; decodes LAST: "&amp;lt;" must yield the literal "&lt;", not "<"
    assert(r(3L) == ((1L, "&lt;double&gt; \"q\" 's'")))
  }

  test("bigram LM score matches the closed-form model on a tiny corpus") {
    val d = Seq((1L, "a b a"), (2L, "a b"), (3L, "solo"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.bigramLmScore(d, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // counts: c(a)=4 (3 in doc1+doc2... recounted below), V={a,b,solo}
    // unigrams: doc1 a,b,a; doc2 a,b; doc3 solo → c(a)=3, c(b)=2, c(solo)=1, V=3
    val v = 3
    val pBA = (2 + 0.5) / (3 + 0.5 * v) // c(a b)=2 (doc1, doc2), c(a)=3
    val pAB = (1 + 0.5) / (2 + 0.5 * v) // c(b a)=1 (doc1), c(b)=2
    val e1 = math.floor((math.log(pBA) + math.log(pAB)) / 2 * 1e6).toLong
    val e2 = math.floor(math.log(pBA) * 1e6).toLong
    assert(r(1L) == ((2L, e1)))
    assert(r(2L) == ((1L, e2)))
    assert(r(3L) == ((0L, 0L))) // single-word doc: no bigrams, zero score
  }

  test("bigram LM construction is lazy: no Spark job until an action") {
    // |V| must ride the plan as a 1-row aggregate, not a driver-side
    // count() at construction (VERDICT r9 item 4) — a listener counts the
    // jobs launched while merely BUILDING the DataFrame
    val d = Seq((1L, "a b a"), (2L, "a b")).toDF("doc_id", "text")
    val tracker = spark.sparkContext.statusTracker
    // compare MAX job id, not the retained-list length: the tracker evicts
    // old jobs past spark.ui.retainedJobs, so in a long shared session the
    // list can SHRINK while new jobs run (caught at 299 suite tests)
    def maxJob(): Int = {
      val ids = tracker.getJobIdsForGroup(null)
      if (ids.isEmpty) -1 else ids.max
    }
    val before = maxJob()
    val df = TextAnalysis.bigramLmScore(d, "doc_id", "text")
    // an eager count() blocks until its job completes, so after a short
    // listener-bus drain any construction-time job is visible here
    Thread.sleep(300)
    assert(maxJob() == before, "constructing bigramLmScore launched a job")
    assert(df.collect().nonEmpty) // the action still computes
    assert(maxJob() > before)
  }

  test("line dedup keeps first corpus occurrence, reassembles in order") {
    val d = Seq(
      (1L, "alpha beta\nShare This\ngamma"),
      (2L, "share  this\ndelta\nalpha beta"), // "share this" normalizes into doc 1's line
      (3L, "delta\nepsilon")                  // delta already seen in doc 2
    ).toDF("doc_id", "text")
    val r = TextAnalysis.lineDedup(d, "doc_id", "text").collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    // doc 1: all three lines are corpus-first
    assert(r(1L) == ((3L, 3L, "alpha beta\nShare This\ngamma")))
    // doc 2: "share  this" (≡ "Share This") and "alpha beta" drop, delta survives
    assert(r(2L) == ((3L, 1L, "delta")))
    // doc 3: delta seen in doc 2 → drops; epsilon survives
    assert(r(3L) == ((2L, 1L, "epsilon")))
  }

  test("semantic dedup: planted copies dropped, keepers dominate, total preserved") {
    // plant exact-direction copies (ids +1000): SemDeDup must drop them in
    // favor of the more-central original (exact ccos tie → lower id wins)
    val base = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val copies = base.where(col("vec_id") % 7 === 0)
      .select((col("vec_id") + 1000).as("vec_id"),
        transform(col("v"), x => x * lit(0.25d)).as("v"))
    val planted = base.unionByName(copies)
    val out = Dedup.semanticDedup(planted, "vec_id", "v", 0.95)
    val rows = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == planted.count())
    val dropped = rows.filter(_._3 == 0L).map(_._1).toSet
    val kept = rows.filter(_._3 == 1L).map(_._1).toSet
    // every planted copy whose cluster matches its original must be dropped,
    // and the original kept (same direction → cosine 1 ≥ τ, ccos exact tie,
    // lower id dominates); cross-cluster landings are the documented miss
    val cluster = rows.map(r => r._1 -> r._2).toMap
    val copyIds = rows.map(_._1).filter(id => id >= 1000 && cluster.contains(id - 1000))
    val sameCell = copyIds.filter(id => cluster(id) == cluster(id - 1000))
    assert(sameCell.nonEmpty, "no copy landed in its original's cluster")
    sameCell.foreach { id =>
      assert(dropped.contains(id), s"copy $id not dropped")
      assert(kept.contains(id - 1000), s"original ${id - 1000} not kept")
    }
    // internal consistency: every dropped vector has a same-cluster keeper
    // at cosine >= threshold (recomputed independently here)
    val vecs = planted.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    dropped.foreach { id =>
      val witnesses = kept.filter(k => cluster(k) == cluster(id) &&
        cos(vecs(k), vecs(id)) >= 0.95)
      assert(witnesses.nonEmpty, s"dropped $id has no qualifying keeper")
    }
  }

  test("minhash LSH recall vs exact jaccard >= 0.8 on near-dup pairs") {
    val exact = Dedup.ngramJaccard(docs, "doc_id", "text", 3)
      .where(col("inter") * 10 >= col("union_n") * 8) // jaccard >= 0.8
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact.nonEmpty) {
      val recall = exact.count(cand.contains).toDouble / exact.size
      assert(recall >= 0.8, s"recall=$recall over ${exact.size} true pairs")
    } else {
      // corpus has no >=0.8 pairs: LSH must then produce only sub-threshold
      // candidates, which is fine — just assert it runs and bounds output
      assert(cand.size < 5000 * 50)
    }
  }

  test("semantic dedup recall floor vs brute-force cosine ground truth") {
    // SemDeDup's clustering IS its blocking stage, so cross-cluster
    // near-duplicates are missed by construction — the same scale/recall
    // trade the IVF/PQ specs pin. Ground truth: exact all-pairs cosine at
    // the dedup threshold over a planted corpus (base + exact-direction
    // 0.5-scaled copies, cosine exactly 1.0). A pair is CAUGHT when the
    // dedup drops at least one endpoint. A clustering regression (bad
    // seeding, broken assignment) surfaces here as a recall drop.
    val th = 0.99
    val base = emb.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val copies = base.where(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("v"), x => x * lit(0.5d)).as("v"))
    val planted = base.unionByName(copies)
    val dropped = Dedup.semanticDedup(planted, "vec_id", "v", th)
      .where(col("keep_flag") === 0).select("id")
      .collect().map(_.getLong(0)).toSet
    val vecs = planted.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val ids = vecs.keys.toArray.sorted
    val truth = for {
      i <- ids.indices; j <- (i + 1) until ids.length
      if cos(vecs(ids(i)), vecs(ids(j))) >= th
    } yield (ids(i), ids(j))
    assert(truth.size >= 100, s"planted corpus lost its near-dup pairs: ${truth.size}")
    val caught = truth.count { case (a, b) => dropped(a) || dropped(b) }
    val recall = caught.toDouble / truth.size
    // measured 0.92 on the fixture: k-means assignment (dot - |c|^2/2) is
    // NOT scale-invariant, so a handful of 0.5-scaled copies cross the
    // cluster boundary of their original and are missed — exactly the
    // cross-cluster blind spot this spec exists to bound; pinned at 0.85
    // with headroom for centroid jitter if the fixture regenerates
    assert(recall >= 0.85, s"recall=$recall over ${truth.size} true pairs")
    // soundness floor too: dropping MORE than the near-dup population
    // would mean the domination rule fires on non-duplicates
    assert(dropped.size <= truth.size * 2,
      s"dropped=${dropped.size} vs ${truth.size} true pairs")
  }

  test("simhash: identical docs collide at hamming 0") {
    val d = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val pairs = Dedup.simhashCandidates(d, "doc_id", "text", k = 3, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.contains((1L, 2L, 0L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash grouped form equals array form") {
    val d = docs.limit(50)
    val arr = d.select(col("doc_id"), Dedup.simhash(col("text"), 3).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val grp = Dedup.simhashGrouped(d, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(arr == grp)
  }

  test("lsh ANN recall@10 vs brute force") {
    val probes = emb.where(col("vec_id").isin(0L, 17L, 42L))
    val bf = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(lsh.contains).toDouble / bf.size
    // deterministic 0.40 on this fixture since the round-10 decorrelated
    // mixer (the correlated-plane weights measured 0.2-0.3); floor at 0.3
    // so a mixer/banding regression trips before it reaches chance level
    assert(recall >= 0.3, s"recall=$recall")
    assert(lsh.size <= 30)
  }

  test("multiprobe LSH: recall@10 jumps, expansion stays probe-side") {
    val probes = emb.where(col("vec_id").isin(0L, 17L, 42L))
    val bf = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mp = Similarity.lshTopK(emb, probes, "vec_id", "embedding", 10,
      multiprobe = 1)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(mp.contains).toDouble / bf.size
    // deterministic 0.97 on this fixture (single-bucket probing: 0.40);
    // floor 0.8 trips on any regression in the 1-bit-flip key expansion
    assert(recall >= 0.8, s"recall=$recall")
    assert(mp.size <= 30)
  }

  test("binary quantization: codes match an independent bit-pack; ANN reduces to brute force at full cand") {
    // codes vs a from-scratch model: sign bit per dim, 32 bits per word
    val rows = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    val model = rows.map { case (id, v) =>
      val words = v.grouped(32).map(_.zipWithIndex.foldLeft(0L) {
        case (acc, (x, j)) => acc | (if (x > 0f) 1L << j else 0L)
      }).toSeq
      id -> words
    }.toMap
    val got = Similarity.binaryQuantize(emb, "vec_id", "embedding")
      .as[(Long, Seq[Long])].collect().toMap
    assert(got.keySet == model.keySet)
    got.foreach { case (id, code) => assert(code == model(id), s"vec $id") }
    // cand >= corpus makes the Hamming stage a no-op filter: exact equality
    // with brute force, ranks included
    val probes = emb.where(col("vec_id").isin(0L, 17L, 42L))
    val n = emb.count().toInt
    def triples(df: org.apache.spark.sql.DataFrame) =
      df.select(col("probe_id"), col("id"), col("rank"))
        .as[(Long, Long, Long)].collect().toSet
    val bfFull = triples(Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 10))
    val binFull = triples(Similarity.binaryTopK(emb, probes, "vec_id", "embedding", 10, cand = n))
    assert(binFull == bfFull)
  }

  test("binary ANN recall@10 vs brute force at a real cand cut") {
    val probes = emb.where(col("vec_id").isin(0L, 17L, 42L))
    val bf = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val bin = Similarity.binaryTopK(emb, probes, "vec_id", "embedding", 10, cand = 30)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(bin.contains).toDouble / bf.size
    // deterministic 0.467 on this fixture: the corpus is isotropic with
    // no trained sign structure, so 64 sign bits at cand=3k is the
    // honest surrogate quality; floor 0.4 trips a packing/Hamming
    // regression before it reaches chance
    assert(recall >= 0.4, s"binary recall=$recall")
    assert(bin.size <= 30)
  }

  test("pq ANN: codes well-formed, recall@10 vs brute force") {
    val probes = emb.where(col("vec_id").isin(0L, 17L, 42L))
    val bf = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Similarity.pqTopK(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(pq.contains).toDouble / bf.size
    // coarse 8-cell codebooks + top-50 rerank cut; must clearly beat chance
    assert(recall >= 0.3, s"recall=$recall")
    assert(pq.size == 30) // exactly k per probe: the ADC scan sees all rows
    val books = Similarity.pqCodebooks(emb, "vec_id", "embedding")
    assert(books.length == 4 && books.forall(_.length == 8) &&
      books.forall(_.forall(_.length == 16)))
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      .select(col("codes")).as[Seq[Int]].collect()
    assert(codes.forall(c => c.length == 4 && c.forall(x => x >= 0 && x < 8)))
    // encoding is deterministic across invocations
    val codes2 = Similarity.pqEncode(emb, "vec_id", "embedding", books)
      .select(col("codes")).as[Seq[Int]].collect()
    assert(codes.toSeq == codes2.toSeq)
  }

  test("boilerplate ratio: hand fixture + hashed form equals string form") {
    // shared shingle "terms of service" appears in 3 docs (>= minDocs=3);
    // doc 4 is original prose; doc 5 is short (<k words → whole-text arm)
    val d = Seq(
      (1L, "terms of service apply here"),
      (2L, "terms of service apply now"),
      (3L, "read the terms of service"),
      (4L, "completely original text content"),
      (5L, "tiny doc")).toDF("doc_id", "text")
    val r = TextAnalysis.boilerplateRatio(d, "doc_id", "text", k = 3,
      minDocs = 3, hashed = false).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    // doc 1: shingles {terms of service, of service apply, service apply here}
    //   → 1 of 3 common → 333‰
    assert(r(1L) == ((3L, 1L, 333L)))
    assert(r(2L) == ((3L, 1L, 333L)))
    assert(r(3L) == ((3L, 1L, 333L)))
    assert(r(4L) == ((2L, 0L, 0L)))
    assert(r(5L) == ((1L, 0L, 0L)))
    // the xxhash64 production path computes identical ratios on the corpus
    val str = TextAnalysis.boilerplateRatio(docs, "doc_id", "text",
      hashed = false).orderBy("id").collect().map(_.toSeq).toSeq
    val hsh = TextAnalysis.boilerplateRatio(docs, "doc_id", "text",
      hashed = true).orderBy("id").collect().map(_.toSeq).toSeq
    assert(str == hsh)
  }

  test("kmeans clustering partitions the corpus; cluster sample is nested-deterministic") {
    val assigned = Similarity.kmeansAssign(emb, "vec_id", "embedding")
    val n = emb.count()
    // every vector lands in exactly one cluster
    assert(assigned.count() == n)
    assert(assigned.select("id").distinct().count() == n)
    val nClusters = assigned.select("cluster").distinct().count()
    assert(nClusters > 1 && nClusters <= 16)
    // balanced sample: per-cluster keep decision is deterministic and a
    // strict subset; a lower uniform rate nests inside a higher one
    val s1 = Sampling.stratified(
      assigned.withColumn("cs", col("cluster").cast("string")),
      "id", "cs", Map("0" -> 200), 600, salt = "cb")
      .select("id").collect().map(_.getLong(0)).toSet
    val s2 = Sampling.stratified(
      assigned.withColumn("cs", col("cluster").cast("string")),
      "id", "cs", Map("0" -> 200), 600, salt = "cb")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty && s1.size < n)
    val s3 = Sampling.stratified(
      assigned.withColumn("cs", col("cluster").cast("string")),
      "id", "cs", Map("0" -> 100), 300, salt = "cb")
      .select("id").collect().map(_.getLong(0)).toSet
    assert(s3.subsetOf(s1))
  }

  test("ivf ANN recall@10 vs brute force") {
    val probes = emb.where(col("vec_id").isin(0L, 17L, 42L))
    val bf = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(ivf.contains).toDouble / bf.size
    assert(recall >= 0.2, s"recall=$recall") // nprobe/nlist = 1/4 of the space
    assert(ivf.size <= 30)
  }

  test("ivf sampled-subset training keeps the recall floor, deterministically") {
    // the 100 TB seam: Lloyd iterations over a hash-sample (~1/4 of the
    // corpus here) must not collapse recall vs full-corpus training, and
    // the sample is a pure function of the ids — same centroids, same
    // results, every run
    val probes = emb.where(col("vec_id").isin(0L, 17L, 42L))
    val bf = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = emb.count()
    def run() = Similarity.ivfTopK(emb, probes, "vec_id", "embedding", 10,
        maxTrain = n / 4)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sampled = run()
    val recall = bf.count(sampled.contains).toDouble / bf.size
    assert(recall >= 0.2, s"sampled-trained recall=$recall")
    assert(run() == sampled) // deterministic across invocations
    // a budget the corpus already fits inside trains full-corpus: the
    // memoized plan is shared, so the centroid matrices are eq-identical
    assert(Similarity.ivfCentroids(emb, "vec_id", "embedding", maxTrain = n * 2)
      .zip(Similarity.ivfCentroids(emb, "vec_id", "embedding"))
      .forall { case (a, b) => a.sameElements(b) })
  }

  test("star alternation converges on a 1000-link chain where label-prop cannot") {
    // the documented chain-graph weakness: min-label propagation needs
    // diameter-many hops (999 here, beyond any sane round cap), while
    // large-star/small-star contracts in O(log n) — 12 rounds must suffice
    val chain = (0L until 1000L).map(i => (i, i + 1)).toDF("a", "b")
    val star = Dedup.duplicateClusters(chain, maxIters = 12, algorithm = "star")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(star.length == 1001)
    assert(star.forall(_._2 == 0L), "every node labels to the component min")
    assert(star.count(_._3 == 1L) == 1 && star.find(_._3 == 1L).get._1 == 0L)
    // the same cap leaves label propagation visibly short of the fixpoint
    // (24 fused hops << 999) — the reason the knob exists
    val lbl = Dedup.duplicateClusters(chain, maxIters = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lbl.exists(_._2 != 0L))
    // and on a realistic near-clique graph both algorithms agree exactly —
    // including a degenerate self-pair (a node whose only edge is (4,4)),
    // which the star path must keep as its own singleton root
    val clique = Seq((1L, 2L), (2L, 3L), (1L, 3L), (7L, 9L), (4L, 4L))
      .toDF("a", "b")
    def res(algo: String) = Dedup.duplicateClusters(clique, algorithm = algo)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(res("star") == res("label"))
  }

  test("maxBlockSize drops an adversarial block before the quadratic join") {
    // block "big" holds 5 identical vectors (10 pairs), block "ok" a
    // planted duplicate pair; cap 4 must erase big's pairs entirely while
    // leaving ok untouched — and uncapped must still find all 11
    val vecs = (0L until 5L).map(i => (i, "big", Array(1.0f, 0.0f))) ++
      Seq((10L, "ok", Array(0.0f, 1.0f)), (11L, "ok", Array(0.0f, 1.0f)))
    val d = vecs.toDF("vec_id", "label", "v")
    def pairs(cap: Option[Int]) =
      Dedup.cosineNearDup(d, "vec_id", "v", 0.99, blockCol = Some("label"),
        maxBlockSize = cap)
        .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs(None).size == 11)
    assert(pairs(Some(4)) == Set((10L, 11L)))
  }

  test("native NearestCell is bit-identical to the composed cellOf reference") {
    // the codegen'd kernel must reproduce the composed score-array argmax
    // exactly: sequential-sum doubles, first-max ties, null element /
    // wrong-length rows → null — across small and corpus-sized nlist
    val vecs: Seq[(Long, Array[java.lang.Double])] = Seq.tabulate(40)(k =>
      (k.toLong, Array.tabulate[java.lang.Double](8)(i =>
        java.lang.Double.valueOf(((k * 13 + i * 5) % 17 - 8) / 8.0)))) ++ Seq(
      (96L, Array.tabulate[java.lang.Double](8)(_ =>
        java.lang.Double.valueOf(0.5))), // tie candidate (uniform vector)
      (94L, Array[java.lang.Double](0.5, Double.NaN, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6)),
      (95L, Array[java.lang.Double](0.5, Double.PositiveInfinity, 0.1, 0.2,
        0.3, 0.4, 0.5, 0.6)), // NaN/Inf scores must follow SQL total order
      (97L, Array[java.lang.Double](0.5, -0.25)), // wrong length
      (98L, Array[java.lang.Double](0.5, null, 0.1, 0.2, 0.3, 0.4, 0.5, 0.6)),
      (99L, null))
    val d = vecs.toDF("vec_id", "v")
    for (nlist <- Seq(3, 17, 142)) {
      val cents = Array.tabulate(nlist, 8)((c, j) =>
        ((c * 7 + j * 3) % 11 - 5) / 5.0)
      val both = d.select(col("vec_id"),
        graft.functions.NearestCell(col("v"), cents).as("native"),
        Similarity.cellOfRef(col("v"), cents).as("ref")).collect()
      both.foreach { r =>
        val n = if (r.isNullAt(1)) null else r.getInt(1)
        val f = if (r.isNullAt(2)) null else r.getInt(2)
        assert(n == f, s"nlist=$nlist vec ${r.getLong(0)}: native $n != ref $f")
      }
      // the malformed rows really take the null path
      assert(both.filter(r => r.getLong(0) >= 97L).forall(_.isNullAt(1)))
    }
  }

  test("int8 quantization: codes bounded, reconstruction within half a step, zero-vector safe") {
    val joined = emb.select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .join(Similarity.quantizeInt8(emb, "vec_id", "embedding"),
        col("vec_id") === col("id"))
      .select(col("vec_id"), col("scale"),
        array_max(transform(col("q"), c => abs(c))).as("maxc"),
        array_max(zip_with(col("v"), col("q"),
          (x, c) => abs(x - c.cast("double") * col("scale") / lit(127.0d))))
          .as("err"))
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getInt(2) <= 127, s"code out of range for ${r.getLong(0)}")
      // |x - q·step| ≤ step/2 with step = scale/127 (+ tiny fp slack)
      assert(r.getDouble(3) <= r.getDouble(1) / 127.0 / 2.0 + 1e-12,
        s"reconstruction error ${r.getDouble(3)} for ${r.getLong(0)}")
    }
    // zero vector: scale 0, all-zero codes, no div-by-zero
    val z = Seq((1L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val zr = Similarity.quantizeInt8(z, "vec_id", "embedding").collect()(0)
    assert(zr.getDouble(1) == 0.0 && zr.getSeq[Int](2).forall(_ == 0))
  }

  test("int8 ANN recall@10 vs exact brute force") {
    val probes = emb.where(col("vec_id").isin(0L, 17L, 42L))
    val bf = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val i8 = Similarity.int8TopK(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = bf.count(i8.contains).toDouble / bf.size
    assert(recall >= 0.8, s"int8 recall=$recall") // quantization-step ordering noise only
  }

  test("mrl ANN: full-prefix run IS brute force; truncated keeps recall") {
    val probes = emb.where(col("vec_id").isin(0L, 17L, 42L))
    val bf = Similarity.bruteForceTopK(emb, probes, "vec_id", "embedding", 10)
      .select("probe_id", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // with nothing truncated and no candidate cut the two stages reduce to
    // the exact scan — ranks included, not just membership
    val n = emb.count().toInt
    val full = Similarity.mrlTopK(emb, probes, "vec_id", "embedding", 10,
      prefixDims = 64, cand = n)
      .select("probe_id", "id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == bf)
    // recall leg runs on the FRONT-LOADED corpus (dim i scaled 2^-(i/8),
    // the PipelineQueries.mrlEmb transform): MRL truncation presumes the
    // embedding was trained to concentrate signal in its prefix, and the
    // raw fixture is isotropic noise — prefix-16 recall over it measured
    // 0.27, which says nothing about the operator, only about the corpus
    val w = array((0 until 8).map(k => lit(1.0 / (1 << k))): _*)
    val damp = emb.select(col("vec_id"),
      zip_with(transform(col("embedding"), x => x.cast("double")),
        sequence(lit(0), lit(63)),
        (x, i) => x * element_at(w, (i / 8).cast("int") + 1)).as("embedding"))
    val dprobes = damp.where(col("vec_id").isin(0L, 17L, 42L))
    val dbf = Similarity.bruteForceTopK(damp, dprobes, "vec_id", "embedding", 10)
      .select("probe_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mrl = Similarity.mrlTopK(damp, dprobes, "vec_id", "embedding", 10,
      prefixDims = 16, cand = 30)
      .select("probe_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = dbf.count(mrl.contains).toDouble / dbf.size
    assert(recall >= 0.7, s"mrl recall=$recall")
    assert(mrl.size <= 30)
  }

  test("minhashBandsFor: budget respected, optimum sharpens with threshold") {
    // pin the default the oracle bakes in at registration — if the
    // optimizer drifts, this fails before the oracle silently diverges
    assert(Dedup.minhashBandsFor(32, 0.6) == (6, 5))
    val (b1, r1) = Dedup.minhashBandsFor(128, 0.9)
    val (b2, r2) = Dedup.minhashBandsFor(128, 0.3)
    assert(b1 * r1 <= 128 && b2 * r2 <= 128)
    assert(r1 > r2, s"rows should rise with the threshold: $r1 !> $r2")
  }

  test("minhash auto: sound vs exact jaccard, planted duplicate found") {
    val origId = docs.orderBy(col("doc_id")).limit(1)
      .select("doc_id").head.getLong(0)
    val planted = docs.union(docs.orderBy(col("doc_id")).limit(1)
      .select(lit(999999L).as("doc_id"), col("text")))
    val out = Dedup.minhashNearDupAuto(planted, "doc_id", "text")
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact copy must surface
    assert(out.contains((origId, 999999L)), s"planted pair missing from $out")
    // soundness: the verify stage means NO emitted pair may be below the
    // exact-Jaccard threshold (banding affects recall only, never truth)
    val exact6 = Dedup.ngramJaccard(planted, "doc_id", "text", 3)
      .where(col("inter") * 1000 >= col("union_n") * 600)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.subsetOf(exact6), s"unsound pairs: ${out.diff(exact6)}")
    // recall on comfortably-above-threshold pairs: the (6,5) S-curve
    // collides a J=0.8 pair with p≈0.91, so 0.8 is a real regression floor
    val exact8 = Dedup.ngramJaccard(planted, "doc_id", "text", 3)
      .where(col("inter") * 10 >= col("union_n") * 8)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    if (exact8.nonEmpty) {
      val recall = exact8.count(out.contains).toDouble / exact8.size
      assert(recall >= 0.8, s"recall=$recall over ${exact8.size} true pairs")
    }
  }

  test("arithmetic charFold matches the SQL-replica constant") {
    // independently computed: ((0*31+97)%q*31+98)%q... over "ab c"
    val d = Seq("ab c").toDF("s")
    val got = d.select(Dedup.charFold(col("s"), 31L, 1073741789L)).as[Long].collect()(0)
    assert(got == 2984996L)
  }

  test("arithmetic-hash minhash/simhash find identical docs, skip distinct") {
    val d = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")).toDF("doc_id", "text")
    val mh = Dedup.minhashCandidates(d, "doc_id", "text", arithmeticHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == Set((1L, 2L)))
    val sh = Dedup.simhashCandidates(d, "doc_id", "text", k = 3, maxHamming = 3,
      arithmeticHash = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(sh.contains((1L, 2L, 0L)))
    assert(!sh.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("native vec_dot is bit-identical to the HOF fold") {
    import graft.functions.VecDot
    val d = emb.limit(100)
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding"), _.cast("double")).as("vd"))
    // float×float, double×double, float×literal-double — all vs the fold
    val mism = d.select(
      (VecDot(col("embedding"), col("embedding")) =!=
        aggregate(zip_with(col("vd"), col("vd"), (x, y) => x * y),
          lit(0.0d), (acc, x) => acc + x)).as("m1"),
      (VecDot(col("vd"), col("vd")) =!=
        aggregate(col("vd"), lit(0.0d), (acc, x) => acc + x * x)).as("m2"),
      (VecDot.norm(col("vd")) =!=
        sqrt(aggregate(col("vd"), lit(0.0d), (acc, x) => acc + x * x))).as("m3"))
      .where(col("m1") || col("m2") || col("m3")).count()
    assert(mism == 0L)
    val lit64 = lit(Array.tabulate(64)(i => (i - 32) * 0.125d))
    val mixed = d.select(
      (VecDot(col("embedding"), lit64) =!=
        aggregate(zip_with(col("vd"), lit64, (x, y) => x * y),
          lit(0.0d), (acc, x) => acc + x)).as("m"))
      .where(col("m")).count()
    assert(mixed == 0L)
  }

  test("cosine near-dup is symmetric-free and thresholded") {
    val d = Seq(
      (1L, Array(1.0f, 0.0f), 0),
      (2L, Array(0.999f, 0.04f), 0),
      (3L, Array(0.0f, 1.0f), 0)).toDF("vec_id", "embedding", "label")
    // default path = LSH-chunk blocking (no all-pairs join reachable)
    val pairs = Dedup.cosineNearDup(d, "vec_id", "embedding", 0.99)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
    // explicit block column still honored
    val blocked = Dedup.cosineNearDup(d, "vec_id", "embedding", 0.99,
      blockCol = Some("label"))
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked == Set((1L, 2L)))
  }

  test("native RhpSig is bit-identical to the HOF reference, nulls included") {
    // the codegen'd kernel must reproduce the composed-HOF signature
    // exactly — including the HOF tree's null semantics (null array or
    // null element books every bit as 0) and a mixed-length corpus
    val vecs: Seq[(Long, Array[java.lang.Float])] = Seq.tabulate(20)(k =>
      (k.toLong, Array.tabulate[java.lang.Float](64)(i =>
        java.lang.Float.valueOf(((k * 31 + i * 7) % 19 - 9) / 9.0f)))) ++ Seq(
      (97L, Array[java.lang.Float](0.5f, -0.25f, 0.125f)), // short row
      (96L, Array.empty[java.lang.Float]),                 // empty (non-null) array
      (98L, Array[java.lang.Float](0.5f, null, 0.125f)),   // null element
      (99L, null))                                         // null array
    val d = vecs.toDF("vec_id", "embedding")
    for (planes <- Seq(16, 32, 64)) {
      val both = d.select(col("vec_id"),
        Similarity.rhpSignature(col("embedding"), planes).as("native_sig"),
        Similarity.rhpSignatureRef(col("embedding"), planes).as("ref_sig"))
        .collect()
      assert(both.length == 24)
      both.foreach(r => assert(r.getLong(1) == r.getLong(2),
        s"planes=$planes vec ${r.getLong(0)}: " +
          s"native ${r.getLong(1)} != ref ${r.getLong(2)}"))
      // the empty/null rows really take the documented 0L path
      val nullSigs = both.filter(r => Set(96L, 98L, 99L)(r.getLong(0))).map(_.getLong(1))
      assert(nullSigs.forall(_ == 0L), nullSigs.toSeq)
    }
  }

  test("lshParamsFor: bits-per-band follows log2(n/occupancy), floored and capped") {
    // tiny corpus: the 4-bit floor (16 buckets/band)
    assert(Dedup.lshParamsFor(100L) == (16, 4))
    // the sf0.1 planted corpus (~2k vectors) at occupancy 8: 8-bit bands —
    // the constants q_dedup_cosine_lsh pins
    assert(Dedup.lshParamsFor(2048L) == (32, 4))
    // 10x corpus -> +4 bits (log2 rule): occupancy stays ~8, bucket count
    // grows with n instead of occupancy growing with n
    assert(Dedup.lshParamsFor(2048L * 16) == (48, 4))
    // single-long signature cap: 63/bands bits, stated not silently wrapped
    assert(Dedup.lshParamsFor(Long.MaxValue) == (60, 4))
    assert(Dedup.lshParamsFor(Long.MaxValue, bands = 8) == (56, 8))
    // fewer bands leave headroom under the 63-bit cap at the same bits
    assert(Dedup.lshParamsFor(2048L, bands = 2) == (16, 2))
  }

  test("hammingCutFor: +3 sigma keep above the threshold's expected flips") {
    // planes=32 at cos 0.93: mean 3.83 flips, sigma 1.84 -> cut 10
    assert(Dedup.hammingCutFor(0.93, 32) == 10)
    // planes=48 at cos 0.93: mean 5.74, sigma 2.25 -> cut 13
    assert(Dedup.hammingCutFor(0.93, 48) == 13)
    // degenerate thresholds stay in range
    assert(Dedup.hammingCutFor(1.0, 32) == 0)
    assert(Dedup.hammingCutFor(-1.0, 32) == 32)
  }

  test("cosineNearDupAuto finds planted duplicates with derived parameters") {
    val base = Seq.tabulate(40)(k =>
      (k.toLong, Array.tabulate(8)(i => ((k * 13 + i * 5) % 17 - 8) / 8.0f)))
    // plant exact-direction rescales: cosine 1.0 with their source
    val planted = base.take(6).map { case (id, v) =>
      (id + 1000L, v.map(_ * 0.5f)) }
    val d = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = Dedup.cosineNearDupAuto(d, "vec_id", "embedding", 0.999)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(planted.forall { case (pid, _) => pairs.contains((pid - 1000L, pid)) },
      s"missing planted pairs in $pairs")
  }

  test("LSH degenerate-bucket cap bounds the candidate join") {
    // 120 copies of one direction (a degenerate clique: every band bucket
    // holds all 120) + distinct vectors. Uncapped, the clique alone joins
    // 120*119/2 = 7140 pairs; capped below the clique size, its buckets
    // drop entirely while small-bucket pairs survive.
    val clique = Seq.tabulate(120)(k =>
      ((1000 + k).toLong, Array(0.6f, -0.3f, 0.2f, 0.4f)))
    val pairA = Seq((1L, Array(0.2f, 0.9f, -0.1f, 0.3f)),
      (2L, Array(0.2f, 0.9f, -0.1f, 0.3f))) // exact dup pair, bucket of 2
    val d = (clique ++ pairA).toDF("vec_id", "embedding")
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val uncapped = Dedup.lshCandidatePairs(d, planes = 32, chunks = 4).count()
    assert(uncapped >= 7140L)
    val capped = Dedup.lshCandidatePairs(d, planes = 32, chunks = 4,
      maxBucketSize = Some(50))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.contains((1L, 2L))) // small buckets unaffected
    assert(!capped.exists { case (a, b) => a >= 1000L && b >= 1000L },
      s"clique pairs leaked through the cap: ${capped.size}")
  }

  test("ivfParamsFor: sqrt(n) cells, floored and capped") {
    assert(Similarity.ivfParamsFor(0L) == 8)
    assert(Similarity.ivfParamsFor(100L) == 10)
    assert(Similarity.ivfParamsFor(1000000L) == 1000)
    assert(Similarity.ivfParamsFor(Long.MaxValue) == 65536)
  }

  test("cosine near-dup LSH blocking never loses identical vectors") {
    val d = Seq(
      (10L, Array(0.3f, -0.7f, 0.2f)),
      (11L, Array(0.3f, -0.7f, 0.2f)), // exact duplicate: every band agrees
      (12L, Array(-0.7f, 0.3f, 0.9f))).toDF("vec_id", "embedding")
    val pairs = Dedup.cosineNearDup(d, "vec_id", "embedding", 0.999)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((10L, 11L)))
  }

  test("langid on clear fixtures") {
    val d = Seq("the cat and the dog sat in the house",
      "der hund und die katze ist gut",
      "qwerty zxcvb").toDF("text")
    val got = d.select(TextAnalysis.langId(col("text"))).as[String].collect().toSeq
    assert(got == Seq("en", "de", "und"))
  }

  test("token and word counts") {
    val d = Seq("hello, world 123").toDF("text")
    val r = d.select(TextAnalysis.tokenCount(col("text")),
      TextAnalysis.wordCount(col("text"))).collect()(0)
    assert(r.getInt(0) == 4) // hello , world 123
    assert(r.getInt(1) == 3)
  }

  test("vocabulary coverage: top-K membership permille with deterministic ties") {
    // corpus counts: the=4, cat=4, dog=2, zebra=1, ant=1 → top-2 = {cat, the}
    val d = Seq(
      (1L, "the cat the cat"),          // 4/4 in vocab → 1000
      (2L, "the dog cat dog"),          // 2/4 → 500
      (3L, "zebra ant the cat")         // 2/4 → 500
    ).toDF("doc_id", "text")
    val cov = TextAnalysis.vocabCoverage(d, "doc_id", "text", topK = 2)
      .orderBy("id").collect()
    assert(cov.map(_.getLong(3)).toSeq == Seq(1000L, 500L, 500L))
    assert(cov.map(_.getLong(1)).toSeq == Seq(4L, 4L, 4L))
    // tie-break is (count desc, word asc): at K=4 the tied singletons
    // admit alphabetically — ant in, zebra out → vocab {cat,the,dog,ant}
    val covK4 = TextAnalysis.vocabCoverage(d, "doc_id", "text", topK = 4)
      .orderBy("id").collect()
    assert(covK4.map(_.getLong(3)).toSeq == Seq(1000L, 1000L, 750L))
  }

  test("repeated spans: cross-doc, within-doc, short-doc and unique cases") {
    val d = Seq(
      (1L, "a b c d e f"),                 // shares "a b c d e" with doc 2
      (2L, "x a b c d e y"),
      (3L, "q r s t u v q r s t u v"),     // repeats its own 5-grams
      (4L, "m n o p"),                     // shorter than k: zero coverage
      (5L, "zz yy xx ww vv uu")            // all grams unique
    ).toDF("doc_id", "text")
    val r = Dedup.repeatedSpans(d, "doc_id", "text", k = 5)
      .orderBy("id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq == Seq(
      (1L, 6L, 5L, 833L),    // tokens 0-4 covered
      (2L, 7L, 5L, 714L),    // tokens 1-5 covered
      (3L, 12L, 12L, 1000L), // union of [0,5)∪[1,6)∪[6,11)∪[7,12) = all
      (4L, 4L, 0L, 0L),
      (5L, 6L, 0L, 0L)))
  }

  test("fingerprint normalizes case and whitespace") {
    val d = Seq(("A  B\tC", 1), ("a b c", 2), ("a b d", 3)).toDF("text", "id")
    val fps = d.select(TextAnalysis.fingerprint(col("text"))).as[Long].collect()
    assert(fps(0) == fps(1) && fps(0) != fps(2))
  }

  test("arithHash64 one-pass dual fold is bit-identical to the two-fold form") {
    val d = Seq("", "a", "hello world", "the quick brown fox jumps", "ünïcödé")
      .toDF("s")
    val f1 = Dedup.charFold(col("s"), 31L, 2147483647L)
    val f2 = Dedup.charFold(col("s"), 131L, 2147483629L)
    val twoPass = shiftleft(f1 % 1073741824L, 33)
      .bitwiseXOR(shiftleft(f2, 2)).bitwiseXOR(f1 + f2)
    val rows = d.select(Dedup.arithHash64(col("s")).as("one"), twoPass.as("two"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("type-token ratio: diversity permille, case-folded") {
    val d = Seq(
      "spam spam spam spam",       // 1 distinct / 4 → 250
      "The quick brown fox",       // 4 / 4 → 1000
      "The the THE word",          // 2 / 4 → 500
      "one").toDF("text")          // 1 / 1 → 1000
    val got = d.select(TextAnalysis.typeTokenRatio(col("text"))).as[Long].collect()
    assert(got.toSeq == Seq(250L, 1000L, 500L, 1000L))
  }

  test("compressibility equals the Scala set model on random strings") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val texts: Seq[String] = (0 until 40).map { i =>
      sample(Gen.listOfN(sample(Gen.choose(0, 30), 7L + i),
        Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString), 900L + i)
    }
    val sig = TextAnalysis.compressibilitySignals(col("text"))
    val got = texts.toDF("text")
      .select(sig.map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Long, Long)].collect().toSeq
    texts.zip(got).foreach { case (t, (n, d, px)) =>
      val total = math.max(t.length - 3, 0)
      val distinct =
        if (total == 0) 0 else t.sliding(4).toSet.size
      assert(n == total && d == distinct, s"text '$t'")
      val exp = if (total == 0) 0L
        else math.floor(distinct * 1000.0 / total).toLong
      assert(px == exp, s"text '$t'")
    }
  }

  test("crossSourceOverlap equals the brute set model on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val rowGen = Gen.zip(Gen.oneOf("s1", "s2", "s3", "s4"),
      Gen.choose(0, 9).map(i => s"doc text $i"))
    (0 until 3).foreach { trial =>
      val rows = sample(Gen.listOfN(50, rowGen), 300L + trial)
      val bySrc = rows.groupBy(_._1).view
        .mapValues(_.map(_._2.toLowerCase).toSet).toMap
      val model = (for {
        a <- bySrc.keys; b <- bySrc.keys if a < b
        shared = (bySrc(a) & bySrc(b)).size if shared > 0
      } yield (a, b) -> ((shared.toLong, bySrc(a).size.toLong,
        bySrc(b).size.toLong,
        math.floor(shared * 1000.0 /
          math.min(bySrc(a).size, bySrc(b).size)).toLong))).toMap
      val got = Dedup.crossSourceOverlap(
        rows.toDF("source", "text"), "text", "source").collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
      assert(got == model, s"trial $trial")
    }
  }

  test("exactQuantiles: ceil ranks, tie buckets, null exclusion, singleton") {
    val d = Seq(
      ("A", Some(1L)), ("A", Some(2L)), ("A", Some(2L)), ("A", Some(3L)),
      ("A", Some(10L)), ("A", None),     // null: excluded from n and output
      ("B", Some(7L))
    ).toDF("k", "v")
    val got = Sampling.exactQuantiles(d, "k", "v", Seq(200, 500, 900))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(got == Map(
      ("A", 200L) -> ((1L, 1L, 5L)),   // rank ceil(1.0)=1 → value 1
      ("A", 500L) -> ((2L, 3L, 5L)),   // rank ceil(2.5)=3 → tie bucket 2
      ("A", 900L) -> ((10L, 5L, 5L)),  // rank ceil(4.5)=5 → max value
      ("B", 200L) -> ((7L, 1L, 1L)),
      ("B", 500L) -> ((7L, 1L, 1L)),
      ("B", 900L) -> ((7L, 1L, 1L))))
  }

  test("property: exactQuantiles equals the sorted-rank model on random grids") {
    // r17 ANSI-hazard sweep: the histogram walk vs an independent
    // sort-and-index model over random keys/values — negative values,
    // heavy ties, singleton groups, all-null groups (must vanish), and
    // the q=1000 / q=1 rank edges the planted fixture never exercises
    val rnd = new scala.util.Random(4242)
    val qs = Seq(1, 250, 500, 777, 1000)
    for (trial <- 0 until 3) {
      val rows = (0 until 300).map { _ =>
        val k = "k" + rnd.nextInt(5)
        val v: java.lang.Long =
          if (k == "k4" || rnd.nextInt(10) == 0) null
          else java.lang.Long.valueOf(rnd.nextInt(15) - 7L)
        (k, v)
      }
      val got = Sampling.exactQuantiles(rows.toDF("k", "v"), "k", "v", qs)
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      val model = rows.filter(_._2 != null).groupBy(_._1)
        .flatMap { case (k, kvs) =>
          val sorted = kvs.map(_._2.longValue).sorted
          val n = sorted.size.toLong
          qs.map { q =>
            val rank = (n * q + 999) / 1000
            (k, q.toLong) -> ((sorted((rank - 1).toInt), rank, n))
          }
        }.toMap
      assert(got == model, s"trial $trial")
      assert(!got.keySet.exists(_._1 == "k4"), "all-null group must vanish")
    }
  }

  test("exactQuantiles stored-count fast path equals inline recompute") {
    // r16 ask #8: the quantile walk must be a pure function of the value
    // column — a count STORED in the table (written once, read back from
    // parquet, the packing-manifest / n_chars shape) must yield the
    // bit-identical report to recomputing the same count inline per doc.
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("source"), col("text"))
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_stored_q").toString
    d.select(col("doc_id"), col("source"),
        TextAnalysis.tokenCount(col("text")).as("n_tok"))
      .write.mode("overwrite").parquet(tmp)
    val stored = spark.read.parquet(tmp)
    def report(df: org.apache.spark.sql.DataFrame) =
      Sampling.exactQuantiles(df, "source", "n_tok", Seq(500, 900, 990))
        .collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val viaStored = report(stored)
    val viaInline = report(d.select(col("source"),
      TextAnalysis.tokenCount(col("text")).as("n_tok")))
    assert(viaStored == viaInline)
    assert(viaStored.nonEmpty)
  }

  test("recallAtK: intersection permille, short truth, rank>k ignored") {
    val truth = Seq(
      (1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2),              // only 2 truth rows: k_eff=2
      (1L, 99L, 4)                              // rank 4 > k: ignored
    ).toDF("probe_id", "id", "rank")
    val approx = Seq(
      (1L, 10L, 1), (1L, 12L, 2), (1L, 77L, 3), // 2 of 3 hit
      (2L, 55L, 1), (2L, 56L, 2),               // 0 of 2 hit
      (1L, 11L, 4)                               // rank 4 > k: NOT a hit
    ).toDF("probe_id", "id", "rank")
    val got = Similarity.recallAtK(truth, approx, k = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      1L -> ((2L, 3L, 666L)),
      2L -> ((0L, 2L, 0L))))
  }

  test("crossSourceOverlap: pair counts, subset permille, normalized fps") {
    val d = Seq(
      ("A", "alpha text"), ("A", "beta  text"), ("A", "gamma text"),
      ("B", "Alpha text"),                     // case-folds onto A's alpha
      ("B", "beta text"),                      // whitespace-folds onto A's beta
      ("C", "gamma text"), ("C", "delta text"),
      ("C", "gamma text")                      // intra-source dup: one fp
    ).toDF("source", "text")
    val got = Dedup.crossSourceOverlap(d, "text", "source").collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == Map(
      ("A", "B") -> ((2L, 3L, 2L, 1000L)),   // B is a full subset of A
      ("A", "C") -> ((1L, 3L, 2L, 500L))))   // B∩C empty: no row
  }

  test("compressibility signals: char-4-gram distinct permille") {
    val d = Seq(
      "aaaaaaaa",     // 5 grams, all "aaaa" → 1 distinct → 200
      "abcdefgh",     // 5 grams, all distinct → 1000
      "abcabcabc",    // 6 grams, 3 distinct (abc/bca/cab rotations) → 500
      "abc",          // shorter than n → 0 grams
      "").toDF("text")
    val sig = TextAnalysis.compressibilitySignals(col("text"))
    val got = d.select(sig.map { case (n, c) => c.as(n) }: _*)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((5L, 1L, 200L), (5L, 5L, 1000L), (6L, 3L, 500L),
      (0L, 0L, 0L), (0L, 0L, 0L)))
  }

  test("quality keep gate") {
    val good = "the quick brown fox jumps over the lazy dog and runs to the house in town"
    val bad = "@@ ## $$ %% ^^"
    val d = Seq(good, bad).toDF("text")
    val keeps = d.select(TextAnalysis.qualityKeep(col("text"))).as[Boolean].collect()
    assert(keeps(0) && !keeps(1))
  }

  test("duplicate clusters: components and canonical election over a chain") {
    // chain 1-2-3-7 (diameter 3 forces multiple propagation rounds),
    // pair 5-6, chain 8-9-10, and 42-43 via reversed pair order
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 7L), (5L, 6L),
      (8L, 9L), (9L, 10L), (43L, 42L)).toDF("a", "b")
    val r = Dedup.duplicateClusters(pairs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getLong(2))).toMap
    assert(r == Map(
      1L -> (1L, 1L), 2L -> (1L, 0L), 3L -> (1L, 0L), 7L -> (1L, 0L),
      5L -> (5L, 1L), 6L -> (5L, 0L),
      8L -> (8L, 1L), 9L -> (8L, 0L), 10L -> (8L, 0L),
      42L -> (42L, 1L), 43L -> (42L, 0L)))
  }

  test("duplicate clusters: empty pair set yields empty result") {
    val pairs = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.duplicateClusters(pairs).count() == 0)
  }

  test("sample coordinate is decorrelated: contiguous ids spread across bands") {
    // the round-12 defect: the bare linear fold put ALL of ids 0..499
    // (salt "demo") in [181, 888] — a 900-permille "sample" captured 100%
    // of the corpus and the held-out bands were EMPTY. The mixed
    // coordinate must spread contiguous ids near-proportionally across
    // every band, for any salt (the bound is ±3 sigma of Binomial(500,
    // 0.1); all 8 in-tree salts measured 39-64)
    val n = 500
    val hi = (0 until n).count(i => mixedCoord("demo", i.toLong) >= 900)
    assert(hi > 25 && hi < 75, s"$hi of $n ids in the top decile")
    // and the engine column agrees with this independent reference model
    val d = spark.range(0, 50).toDF("id")
    val got = d.select(col("id"),
        Sampling.samplePermille(col("id"), "demo").as("c"))
      .as[(Long, Long)].collect().toMap
    (0L until 50L).foreach(i => assert(got(i) == mixedCoord("demo", i), s"id $i"))
  }

  test("sharded shuffle: total deterministic permutation, shard-local ranks, stable under subsampling") {
    val d = spark.range(0, 300).toDF("doc_id")
    val out = Sampling.shuffleSharded(d, "doc_id", nShards = 8, salt = "shuf")
      .select(col("doc_id"), col("shard"), col("pos"))
      .as[(Long, Long, Long)].collect()
    // every shard's positions are contiguous 1..n_s (a total permutation)
    out.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $sh positions not contiguous")
    }
    // agrees with the independent model: shard = mix(salt#shard) % n,
    // rank of (mix(salt#ord), id) within the shard
    val model = (0L until 300L).map(i =>
        (i, fullMix("shuf#shard", i) % 8, fullMix("shuf#ord", i)))
      .groupBy(_._2).flatMap { case (sh, rows) =>
        rows.sortBy(r => (r._3, r._1)).zipWithIndex
          .map { case (r, k) => (r._1, sh, k + 1L) }
      }.toSet
    assert(out.toSet == model)
    // shards are balanced: Binomial(300, 1/8) ±3 sigma ≈ [20, 55]
    out.groupBy(_._2).foreach { case (sh, rows) =>
      assert(rows.length > 15 && rows.length < 62, s"shard $sh size ${rows.length}")
    }
    // growth stability: on a subsampled corpus every surviving row keeps
    // its shard, and within-shard RELATIVE order is unchanged (positions
    // renumber, the permutation restricted to survivors does not reorder)
    val fullByDoc = out.map(r => r._1 -> (r._2, r._3)).toMap
    val sub = Sampling.sample(d, "doc_id", 500, salt = "other")
    val subOut = Sampling.shuffleSharded(sub, "doc_id", nShards = 8, salt = "shuf")
      .select(col("doc_id"), col("shard"), col("pos"))
      .as[(Long, Long, Long)].collect()
    assert(subOut.length > 100 && subOut.length < 200)
    subOut.foreach { case (id, sh, _) => assert(fullByDoc(id)._1 == sh) }
    subOut.groupBy(_._2).foreach { case (_, rows) =>
      val byPos = rows.sortBy(_._3).map(_._1).toSeq
      val byFullPos = rows.sortBy(r => fullByDoc(r._1)._2).map(_._1).toSeq
      assert(byPos == byFullPos)
    }
  }

  test("exact-k per stratum: sizes exact under skew, selection matches the independent model") {
    // skewed strata: A=40 rows, B=3 (under k), C=12
    val d = ((1L to 40L).map((_, "A")) ++ (41L to 43L).map((_, "B")) ++
      (44L to 55L).map((_, "C"))).toDF("doc_id", "source")
    val got = Sampling.exactPerStratum(d, "doc_id", "source", k = 5, salt = "xk")
      .as[(Long, String)].collect().toSet
    val sizes = got.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes == Map("A" -> 5, "B" -> 3, "C" -> 5))
    // independent model: first k of each stratum by (mixed coordinate, id)
    val model = ((1L to 40L).map((_, "A")) ++ (41L to 43L).map((_, "B")) ++
      (44L to 55L).map((_, "C")))
      .groupBy(_._2).flatMap { case (_, rows) =>
        rows.sortBy(r => (fullMix("xk", r._1), r._1)).take(5)
      }.toSet
    assert(got == model)
  }

  test("containment near-dup: doc-inside-doc that Jaccard misses; exact threshold; df-cut") {
    // B = 60 words of filler + A verbatim: containment(A,B) = 1.0, but
    // Jaccard(A,B) ~ 4/69 — the asymmetric measure is the whole point
    val a = "alpha beta gamma delta epsilon zeta"
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val d = Seq((1L, a), (2L, s"$filler $a"), (3L, "totally different content here now"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentNearDup(d, "doc_id", "text", k = 3, threshold = 0.8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 4L, 4L)))
    val j = Dedup.ngramJaccard(d, "doc_id", "text", 3)
      .where(col("inter") * 10 >= col("union_n") * 6).count()
    assert(j == 0L)
    // integer-exact boundary: inter=4 of min_n=5 is exactly 0.8 — kept at
    // threshold 0.8 (4000 >= 4000), dropped at 0.81 (4000 < 4050)
    val a5 = "a1 a2 a3 a4 a5 a6 a7" // 5 shingles
    val b4 = s"$filler a1 a2 a3 a4 a5 a6" // contains 4 of them
    val e = Seq((1L, a5), (2L, b4)).toDF("doc_id", "text")
    assert(Dedup.containmentNearDup(e, "doc_id", "text", 3, 0.8).count() == 1L)
    assert(Dedup.containmentNearDup(e, "doc_id", "text", 3, 0.81).count() == 0L)
    // maxDf guard: five single-shingle docs share one ubiquitous shingle
    // (df=5) — all 10 pairs flagged without the cut, zero with maxDf=4,
    // because the only carrying shingle is exactly the stop-shingle case
    val f = (10L to 14L).map(i => (i, "the same thing")).toDF("doc_id", "text")
    assert(Dedup.containmentNearDup(f, "doc_id", "text", 3, 0.8).count() == 10L)
    assert(Dedup.containmentNearDup(f, "doc_id", "text", 3, 0.8, maxDf = 4).count() == 0L)
  }

  test("property: containment-at-t dominates Jaccard-at-t on random corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // inter/min >= inter/union always, so every pair Jaccard flags at a
    // threshold must be flagged by containment at the same threshold —
    // checked on random corpora over a small vocabulary (collisions
    // guaranteed), with one planted doc-inside-doc pair per round so the
    // assertion is never vacuous
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(41L + i)))
    val vocab = Vector("red", "blue", "green", "ox", "ant", "bee", "cat",
      "dog", "elk", "fox")
    val docGen = for {
      n <- Gen.choose(3, 12)
      ws <- Gen.listOfN(n, Gen.oneOf(vocab))
    } yield ws.mkString(" ")
    (0 until 3).foreach { round =>
      val base = samples(docGen, 30).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val texts = base :+ (100L, s"pad$round one two ${base(round)._2}")
      val d = texts.toDF("doc_id", "text")
      val jac = Dedup.ngramJaccard(d, "doc_id", "text", 3)
        .where(col("inter") * 1000 >= col("union_n") * 700)
        .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
      val con = Dedup.containmentNearDup(d, "doc_id", "text", 3, 0.7)
        .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
      assert(jac.subsetOf(con), s"round $round: ${jac -- con}")
      assert(con.exists(_._2 == 100L), s"round $round: planted pair missed")
    }
  }

  test("property: iroot exact on random magnitudes (BigInt model)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val gen = Gen.oneOf(
      Gen.choose(0L, 1000L),
      Gen.choose(0L, 1L << 40),
      Gen.choose((1L << 60), Long.MaxValue))
    (0 until 60).foreach { i =>
      val n = sample(gen, 1000L + i)
      for (k <- Seq(2, 3)) {
        val r = Sampling.iroot(n, k)
        assert(BigInt(r).pow(k) <= n && BigInt(r + 1).pow(k) > n,
          s"iroot($n, $k) = $r")
      }
    }
  }

  test("property: dominantScript equals an independent model on random mixes") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val pools: Seq[IndexedSeq[Char]] = Seq(
      ('a' to 'z') ++ ('A' to 'Z'),
      '0' to '9',
      (0x0400 to 0x04FF).map(_.toChar),
      (0x0370 to 0x03FF).map(_.toChar),
      (0x3040 to 0x30FF).map(_.toChar) ++ (0x4E00 to 0x4E80).map(_.toChar),
      (0x0600 to 0x06FF).map(_.toChar))
    val noise: IndexedSeq[Char] = " .,!?-".toIndexedSeq
    val charGen = Gen.oneOf(pools.flatten ++ noise)
    val strGen = for {
      n <- Gen.choose(0, 40)
      cs <- Gen.listOfN(n, charGen)
    } yield cs.mkString
    val texts = (0 until 80).map(i => (i.toLong, sample(strGen, 7000L + i)))
    def model(t: String): String = {
      val counts = pools.map(p => t.count(p.contains(_)).toLong)
      val names = TextAnalysis.scriptRanges.map(_._1)
      val out = counts.zipWithIndex.collectFirst {
        case (c, i) if c > 0 && counts.drop(i + 1).forall(c >= _) => names(i)
      }
      out.getOrElse("none")
    }
    val got = texts.toDF("id", "text")
      .select(col("id"), TextAnalysis.dominantScript(col("text")).as("dom"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    texts.foreach { case (id, t) =>
      assert(got(id) == model(t), s"id $id text '$t'")
    }
  }

  test("property: winnowFingerprints equals the reference model and honors the guarantee") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    def cf(s: String): Long =
      s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1073741789L)
    // independent model: k=3 shingle hashes, rightmost-min over w=8 windows
    def model(text: String): Set[(Long, Long)] = {
      val ws = text.split(" ")
      val hs = if (ws.length >= 3)
        (0 to ws.length - 3).map(i => cf(ws.slice(i, i + 3).mkString(" ")))
      else Seq(cf(ws.mkString(" ")))
      val wEff = math.min(8, hs.length)
      (0 to hs.length - wEff).flatMap { p =>
        var best = (Long.MaxValue, -1)
        (0 until wEff).foreach { j =>
          if (hs(p + j) <= best._1) best = (hs(p + j), p + j)
        }
        Some((best._2.toLong, best._1))
      }.toSet
    }
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    (0 until 3).foreach { round =>
      val texts = (0 until 12).map { i =>
        val n = sample(Gen.choose(1, 40), round * 100L + i)
        (i.toLong, (0 until n)
          .map(j => sample(wordGen, round * 10000L + i * 100L + j))
          .mkString(" "))
      }
      val got = Dedup.winnowFingerprints(
        texts.toDF("doc_id", "text"), "doc_id", "text", k = 3, w = 8,
        arithmeticHash = true)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      texts.foreach { case (id, t) =>
        assert(got.getOrElse(id, Set.empty) == model(t), s"doc $id '$t'")
      }
    }
    // the winnowing guarantee: a shared run of >= w+k-1 = 10 words forces
    // at least one shared fingerprint HASH between the two documents
    val run = "one two three four five six seven eight nine ten"
    val docs = Seq((1L, s"prefix words here $run and a tail"),
      (2L, s"$run entirely different continuation text now"))
    val fps = Dedup.winnowFingerprints(
      docs.toDF("doc_id", "text"), "doc_id", "text", k = 3, w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val h1 = fps.collect { case (1L, h) => h }.toSet
    val h2 = fps.collect { case (2L, h) => h }.toSet
    assert((h1 & h2).nonEmpty)
  }

  test("repetitionSignals matches hand-computed values on a planted doc") {
    // doc 1: 2 paragraphs, the second duplicated; a duplicated line
    // inside para 1; a 4x 2-word phrase. Every numerator is checked by
    // hand, including the count-then-mass top-gram tie-break.
    val text = "alpha beta gamma\ndup line\ndup line\n\npromo body\n\npromo body"
    //            lines: [alpha beta gamma, dup line, dup line, promo body, promo body]
    //            paras: [alpha beta gamma\ndup line\ndup line, promo body, promo body]
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(d, "doc_id", "text")
      .collect()(0)
    val m = r.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      n -> r.get(i) }.toMap
    assert(m("n_chars") == text.length.toLong)
    assert(m("n_lines") == 5L && m("dup_line_n") == 2L)
    // line chars: 16 + 8 + 8 + 10 + 10 = 52; dup surplus: 8 + 10 = 18
    assert(m("line_chars") == 52L && m("dup_line_chars") == 18L)
    assert(m("n_paras") == 3L && m("dup_para_n") == 1L)
    // para chars: 34 + 10 + 10 = 54; surplus copy of "promo body" = 10
    assert(m("para_chars") == 54L && m("dup_para_chars") == 10L)
    // 2-grams: "dup line" x2 wins (c=2, 8 chars -> mass 16) over
    // "promo body" x2 (10 chars -> mass 20)? No: both c=2, tie breaks
    // to the LARGER mass -> promo body, 20. "line dup" c=1 etc lose.
    assert(m("top2_chars") == 20L)
    // 3-grams: all c=1 (line breaks are whitespace) -> top = max single
    // mass = len("alpha beta gamma") = len("promo body promo") = 16
    assert(m("top3_chars") == 16L)
    assert(m("repetition_ok") == false)
  }

  test("dedupAgainstIndex equals the cross-epoch slice of winnowNearDup") {
    // the frozen-index probe must agree with the all-at-once operator on
    // exactly the cross-epoch pairs: same selection, same verify, the
    // only difference is WHICH pairs are eligible. Intra-increment
    // duplicates are out of scope by contract (run winnowNearDup on the
    // increment for those), and a df=1 index fingerprint must still pair
    // (no df >= 2 floor cross-epoch — winnowNearDup would need BOTH
    // copies to build df=2, the index probe needs only the base copy).
    val d = docs.where(col("doc_id") % 5 === 0)
    val base = d.where(col("doc_id") % 2 === 0)
    val inc = d.where(col("doc_id") % 2 === 1)
    val index = Dedup.winnowFingerprints(base, "doc_id", "text", k = 3, w = 8)
    val got = Dedup.dedupAgainstIndex(inc, base, index, "doc_id", "text",
      k = 3, w = 8, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    val cross = Dedup.winnowNearDup(d, "doc_id", "text", k = 3, w = 8,
      threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
      .filter { case (a, b, _, _) => a % 2 != b % 2 }
      .map { case (a, b, i, u) =>
        if (a % 2 == 1) (a, b, i, u) else (b, a, i, u) }
      .toSet
    assert(got == cross, s"got ${got.size} cross ${cross.size}")
    assert(got.nonEmpty, "fixture slice must plant cross-epoch pairs")
  }

  test("epochDedup: index grows with admissions, drops never feed it") {
    // three epochs; the decisive rows are doc 7 (dup of an EPOCH-1
    // admission — flags index_dup only because the index grew past the
    // seed epoch) and docs 2/6 (intra drops whose fingerprints must NOT
    // enter the index — their copies in later epochs resolve to the
    // ADMITTED canonical, never to the dropped twin).
    def txt(seed: String) = (0 until 20).map(i => s"$seed$i").mkString(" ")
    val d = Seq(
      (1L, 0L, txt("a")), (2L, 0L, txt("a")), (3L, 0L, txt("c")),
      (4L, 1L, txt("a")), (5L, 1L, txt("e")), (6L, 1L, txt("e")),
      (7L, 2L, txt("e")), (8L, 2L, txt("c")), (9L, 2L, txt("z")))
      .toDF("doc_id", "epoch", "text")
    val got = Dedup.epochDedup(d, "doc_id", "text", "epoch",
        Seq(0L, 1L, 2L), k = 3, w = 8, threshold = 0.6)
      .orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) -1L else r.getLong(3))).toSeq
    assert(got == Seq(
      (1L, 0L, "kept", -1L), (2L, 0L, "intra_dup", 1L),
      (3L, 0L, "kept", -1L),
      (4L, 1L, "index_dup", 1L), (5L, 1L, "kept", -1L),
      (6L, 1L, "intra_dup", 5L),
      (7L, 2L, "index_dup", 5L), (8L, 2L, "index_dup", 3L),
      (9L, 2L, "kept", -1L)), got.toString)
  }

  test("winnowSharedSpans merges diagonals and splits at real gaps") {
    // hand fixture, PRODUCTION hash (the merging logic is hash-agnostic;
    // only exact extents shift with the family — asserted as ranges):
    // docs 1/2 share words [0..24] and [41..99] around a 16-word edit,
    // so every shared fingerprint sits on diagonal 0 (all words distinct
    // within a doc) in two runs separated by > w — exactly two spans,
    // one per run. Docs 3/4 are identical: one span covering the whole
    // selection. Jaccard(1,2) = 80/116 ≈ 0.69 >= 0.6 stays verified.
    val wordsA = (0 until 100).map(i => s"wa$i")
    val wordsB = wordsA.zipWithIndex.map { case (w, i) =>
      if (i >= 25 && i <= 40) s"xb$i" else w }
    val same = (0 until 30).map(i => s"s$i").mkString(" ")
    val d = Seq(
      (1L, wordsA.mkString(" ")), (2L, wordsB.mkString(" ")),
      (3L, same), (4L, same)).toDF("doc_id", "text")
    val got = Dedup.winnowSharedSpans(d, "doc_id", "text",
        k = 3, w = 8, threshold = 0.6)
      .orderBy(col("a"), col("b"), col("start_a"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    val p12 = got.filter(t => t._1 == 1L && t._2 == 2L)
    val p34 = got.filter(t => t._1 == 3L && t._2 == 4L)
    assert(got.size == p12.size + p34.size, got.toString)
    // pair (1,2): exactly two diagonal-0 spans, one per shared run —
    // shingle positions sharing content are [0..22] and [41..97]
    assert(p12.size == 2, p12.toString)
    p12.foreach { case (_, _, sa, ea, sb, eb, nf) =>
      assert(sa == sb && ea == eb, "all matches sit on diagonal 0")
      assert(nf >= 1)
      assert((ea <= 22 && sa >= 0) || (sa >= 41 && ea <= 97), (sa, ea))
    }
    assert(p12.head._4 <= 22 && p12(1)._3 >= 41, p12.toString)
    // pair (3,4): identical docs -> one span over the whole selection
    assert(p34.size == 1 && p34.head._3 == p34.head._5, p34.toString)
  }

  test("winnow fingerprint df headroom holds under both hash families") {
    // winnowNearDup's maxDf cap counts df over each hash family's OWN
    // selected set, so production (xxhash64) and oracle (arith fold)
    // could cap DIFFERENT fingerprints if any df approached the cap
    // (r13 advice). The pinned q_dedup_winnow configuration relies on
    // fixture headroom instead: assert the max df under BOTH families
    // stays <= maxDf/2 = 500, so a fixture regeneration that plants
    // boilerplate-hot fingerprints fails here, loudly, not as a silent
    // oracle divergence.
    for (arith <- Seq(false, true)) {
      val maxDf = Dedup.winnowFingerprints(docs, "doc_id", "text",
        k = 3, w = 8, arithmeticHash = arith)
        .select(col("id"), col("fp_hash")).distinct()
        .groupBy(col("fp_hash")).agg(count(lit(1)).as("df"))
        .agg(max(col("df"))).collect()(0).getLong(0)
      assert(maxDf <= 500, s"arith=$arith max fingerprint df $maxDf")
    }
  }

  test("property: chunkDocument covers every word with the declared overlap") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    (0 until 3).foreach { round =>
      val n = sample(Gen.choose(1, 300), 31L + round)
      val words = (0 until n).map(i => s"w$i")
      val df = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
      val chunks = TextAnalysis.chunkDocument(df, "doc_id", "text",
        chunkWords = 64, strideWords = 48)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4))).sortBy(_._1)
      // chunk count = ceil(n/48); starts stride by 48; lengths clip
      assert(chunks.length == (n - 1) / 48 + 1)
      chunks.foreach { case (cid, start, len, text) =>
        assert(start == cid * 48)
        assert(len == math.min(64, n - start))
        assert(text == words.slice(start.toInt, start.toInt + 64).mkString(" "))
      }
      // coverage: the union of [start, start+len) is exactly [0, n)
      val covered = chunks.flatMap { case (_, s, l, _) => s until (s + l) }.toSet
      assert(covered == (0L until n.toLong).toSet)
    }
    // empty / whitespace-only docs emit nothing
    val empty = TextAnalysis.chunkDocument(
      Seq((1L, "   "), (2L, "")).toDF("doc_id", "text"), "doc_id", "text")
    assert(empty.count() == 0L)
  }

  test("rateAnomalies stays exact past the long cross-multiply envelope") {
    // Regression for the r12 advice find: the old long-arithmetic form
    // computed dev²·10⁶ in a long, which wraps (or throws under ANSI)
    // once |dev| ≥ ~3.04e6 — a single hot key with a few million events
    // in one day breaches it. Three days (a, a, b) give closed-form
    // moments: varN = 2(a−b)², dev_b = 2(b−a) → z_b² = 2, dev_a = a−b →
    // z_a² = 1/2. With zX1000 = 1400 (z² = 1.96) exactly the b-day must
    // flag, and dev_b = 4e6 puts dev²·10⁶ ≈ 1.6e19 > 2⁶³ — the old form
    // dies here; the Decimal(38,0) ceil-div form is exact.
    val dayMs = 86400000L
    val base = 1700000000000L // 2023-11-14T22:13:20Z
    def day(d: Int, rows: Long) =
      spark.range(rows).select(lit(7L).as("user_id"),
        timestamp_millis(lit(base + d * dayMs) + col("id")).as("ts"))
    val df = day(0, 100L).unionAll(day(1, 100L)).unionAll(day(2, 2000100L))
    val got = graft.operators.Temporal
      .rateAnomalies(df, "user_id", "ts", zX1000 = 1400L)
      .select(col("day").cast("string"), col("n_events"))
      .as[(String, Long)].collect().toSet
    assert(got == Set(("2023-11-16", 2000100L)))
  }

  test("property: rateAnomalies equals the moment fold model on random grids") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val dayMs = 86400000L
    val baseTs = 1700000000000L
    val cellGen = for {
      k <- Gen.choose(1, 5)
      d <- Gen.choose(0, 9)
      x <- Gen.choose(1, 25)
    } yield (k.toLong, d, x)
    (0 until 3).foreach { round =>
      val cells = (0 until 40).map(i => sample(cellGen, round * 1000L + i))
        .groupBy(c => (c._1, c._2)).map { case ((k, d), cs) =>
          (k, d, cs.map(_._3).sum) }.toSeq
      val rows = cells.flatMap { case (k, d, x) =>
        (0 until x).map(i =>
          (k, new java.sql.Timestamp(baseTs + d * dayMs + i * 1000L)))
      }
      val got = graft.operators.Temporal.rateAnomalies(
        rows.toDF("user_id", "ts"), "user_id", "ts", zX1000 = 1500L)
        .select(col("user_id"), col("day").cast("string").as("day"),
          col("n_events"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val expect = cells.groupBy(_._1).flatMap { case (k, cs) =>
        val n = cs.size.toLong
        val s = cs.map(_._3.toLong).sum
        val ss = cs.map(c => c._3.toLong * c._3).sum
        val varN = n * ss - s * s
        if (n < 2 || varN <= 0) Nil
        else cs.collect {
          case (_, d, x) if {
            val dev = x * n - s
            dev * dev * 1000000L >= 1500L * 1500L * varN
          } =>
            val date = java.time.Instant.ofEpochMilli(baseTs + d * dayMs)
              .atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
            (k, date, x.toLong)
        }
      }.toSet
      assert(got == expect, s"round $round")
    }
  }

  test("property: sharded shuffle is a permutation for random id sets and salts") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    (0 until 3).foreach { round =>
      val ids = sample(Gen.listOfN(120, Gen.choose(0L, 100000L)), 7L + round)
        .distinct
      val salt = "s" + sample(Gen.alphaLowerStr.map(_.take(6)), 19L + round)
      val out = Sampling.shuffleSharded(ids.toDF("doc_id"), "doc_id",
          nShards = 5, salt = salt)
        .select(col("doc_id"), col("shard"), col("pos"))
        .as[(Long, Long, Long)].collect()
      // every input id appears exactly once, shards in range, positions
      // contiguous from 1 within each shard
      assert(out.map(_._1).sorted.toSeq == ids.sorted)
      assert(out.forall(r => r._2 >= 0 && r._2 < 5))
      out.groupBy(_._2).foreach { case (sh, rows) =>
        assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
          s"round $round shard $sh")
      }
      // physical layout independence: a repartitioned input permutes the
      // same way
      val out2 = Sampling.shuffleSharded(
          ids.toDF("doc_id").repartition(7), "doc_id", nShards = 5, salt = salt)
        .select(col("doc_id"), col("shard"), col("pos"))
        .as[(Long, Long, Long)].collect()
      assert(out2.toSet == out.toSet, s"round $round")
    }
  }

  test("deterministic sampling: stable, nested across rates, stratified = per-stratum union") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").as[Long].collect().toSet
    val s100 = ids(Sampling.sample(d, "doc_id", 100, "t"))
    val s500 = ids(Sampling.sample(d, "doc_id", 500, "t"))
    assert(s100 == ids(Sampling.sample(d, "doc_id", 100, "t"))) // stable
    assert(s100.subsetOf(s500)) // nested under the same salt
    assert(s500.nonEmpty && s500.size < 500) // actually selective
    val strat = Sampling.stratified(d, "doc_id", "source",
      Map("src0" -> 1000, "src1" -> 0), defaultPermille = 500, salt = "t")
    val byodSrc0 = ids(strat.where(col("source") === "src0"))
    assert(byodSrc0 == ids(d.where(col("source") === "src0"))) // rate 1000 = all
    assert(ids(strat.where(col("source") === "src1")).isEmpty) // rate 0 = none
    assert(ids(strat.where(col("source") === "src2")) ==
      ids(Sampling.sample(d.where(col("source") === "src2"), "doc_id", 500, "t")))
  }

  test("n-way split: partition of the coordinate, growth-stable, sample-consistent") {
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val splits = Seq("train" -> 800, "val" -> 100, "test" -> 50)
    val lab = Sampling.assignSplit(d, "doc_id", splits, salt = "sp")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // every row labeled or excluded; bands are disjoint by construction,
    // and the 50-permille remainder books as null
    assert(lab.size == d.count())
    val byLabel = lab.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byLabel.keySet.subsetOf(Set("train", "val", "test", null)))
    assert(byLabel("train") > byLabel("val"))
    // growth stability: adding rows never relabels an existing row — the
    // held-out-integrity property row_number/time splits lack
    val half = d.where(col("doc_id") % 2 === 0)
    val labHalf = Sampling.assignSplit(half, "doc_id", splits, salt = "sp")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    labHalf.foreach { case (id, s) => assert(lab(id) == s, s"doc $id moved") }
    // same-salt consistency with sample(): a rate-800 sample IS the train
    // band when both read the same coordinate
    val s800 = Sampling.sample(d, "doc_id", 800, "sp")
      .select("doc_id").as[Long].collect().toSet
    assert(s800 == lab.collect { case (id, "train") => id }.toSet)
    // weights over 1000 refuse loudly
    intercept[IllegalArgumentException] {
      Sampling.assignSplit(d, "doc_id", Seq("a" -> 900, "b" -> 200))
    }
  }

  test("decontamination flags exactly the train docs sharing eval shingles") {
    val d = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"), // eval
      (1L, "a quick brown fox jumps over a fence today"), // shares 2 shingles
      (2L, "the quick brown fox sleeps"), // shares 2 shingles
      (3L, "completely unrelated text about databases and sparks"),
      (4L, "the quick brown fox jumps over whatever")) // shares 3 shingles
      .toDF("doc_id", "text")
    // eval shingle set (doc 0): {the quick brown, quick brown fox, brown fox
    // jumps, fox jumps over, jumps over the, over the lazy, the lazy dog}
    val r = Dedup.decontaminate(d, "doc_id", "text", col("doc_id") === 0L,
        k = 3, minShared = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(2)).toMap
    // doc1 shares {quick brown fox, brown fox jumps, fox jumps over} = 3
    // doc2 shares {the quick brown, quick brown fox} = 2
    // doc4 shares {the quick brown, quick brown fox, brown fox jumps,
    //              fox jumps over} = 4
    assert(r == Map(1L -> 3L, 2L -> 2L, 4L -> 4L))
  }

  test("repetition: duplicate-3-gram permille, zero for distinct text") {
    val d = Seq(
      (1L, "a b c a b c a b c"), // 7 shingles, 4 dups (3 distinct: abc bca cab)
      (2L, "one two three four five"), // all distinct
      (3L, "x y")) // sub-k: single whole-text shingle
      .toDF("doc_id", "text")
    val r = TextAnalysis.withRepetition(d, "text", k = 3)
      .select("doc_id", "repetition_x1000")
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> math.floor(4 * 1000.0 / 7).toLong, 2L -> 0L, 3L -> 0L))
  }

  test("pii redaction: urls before emails before ips, counts consistent") {
    val d = Seq(
      "mail bob@x.com or see http://a.b/c?u=p@q.io from 10.0.0.1 now",
      "no pii here at all").toDF("text")
    val r = d.select(TextAnalysis.redactPii(col("text")),
      TextAnalysis.redactionCount(col("text"))).collect()
    assert(r(0).getString(0) == "mail <EMAIL> or see <URL> from <IP> now")
    assert(r(0).getLong(1) == 3L)
    assert(r(1).getString(0) == "no pii here at all")
    assert(r(1).getLong(1) == 0L)
  }

  test("hashed linear classifier agrees with an independent Scala model") {
    val weights = (0 until 16).map(b => (b * 5 + 2) % 7)
    def refScore(text: String): Long = {
      val words = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
      words.map { w =>
        val f = w.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1073741789L)
        weights((f % 16).toInt).toLong
      }.sum
    }
    val texts = Seq("The cat sat on the mat", "mat the on sat cat The",
      "", "zebra", "Mixed CASE words HERE")
    val d = texts.toDF("text")
    val got = d.select(TextAnalysis.classifierScore(col("text"), weights))
      .as[Long].collect().toSeq
    assert(got == texts.map(refScore))
    assert(got(0) == got(1)) // bag-of-words: order-invariant
    val m = d.select(TextAnalysis.classifierMargin(col("text"), weights))
      .as[Long].collect().toSeq
    val expM = texts.map { t =>
      val n = math.max(t.toLowerCase.trim.split("\\s+").count(_.nonEmpty), 1)
      refScore(t) * 1000 / n
    }
    assert(m == expM)
    assert(m(2) == 0L) // empty doc scores margin 0, not an error
    // keep gate is the margin threshold
    val k = d.select(TextAnalysis.classifierKeep(col("text"), weights, m(0)))
      .as[Boolean].collect().toSeq
    assert(k(0) && k(1))
  }

  test("token-budget mix: under-budget strata whole, over-budget rated down") {
    // A: 2 docs x 5 words = 10, budget 20 -> rate min(1000, 20000/10) = 1000
    // B: 8 docs x 5 words = 40, budget 20 -> rate 20*1000/40 = 500
    val d = (Seq((1L, "A"), (2L, "A")) ++ (10L to 17L).map(i => (i, "B")))
      .map { case (i, s) => (i, s, "a b c d e") }
      .toDF("doc_id", "source", "text")
      .withColumn("n_words", TextAnalysis.wordCount(col("text")).cast("long"))
    val rates = Sampling.tokenBudgetRates(d, "source", "n_words", _ => Some(20L))
    assert(rates == Map("A" -> 1000, "B" -> 500))
    val kept = Sampling.tokenBudgetMix(d, "doc_id", "source", "n_words", 20L,
      salt = "mx").select("doc_id").as[Long].collect().toSet
    def coord(id: Long) = mixedCoord("mx", id)
    val expect = Set(1L, 2L) ++ (10L to 17L).filter(coord(_) < 500)
    assert(kept == expect)
    // no-budget strata drop; zero-total strata never divide by zero
    val r0 = Sampling.tokenBudgetRates(d, "source", "n_words",
      s => if (s == "A") Some(20L) else None)
    assert(r0 == Map("A" -> 1000, "B" -> 0))
    // null strata are ignored (not an NPE in the rate chain) and a huge
    // "no limit" budget keeps strata whole instead of overflowing negative
    val dn = d.unionByName(
      Seq((99L, null.asInstanceOf[String], "a b"))
        .toDF("doc_id", "source", "text")
        .withColumn("n_words",
          TextAnalysis.wordCount(col("text")).cast("long")))
    val rBig = Sampling.tokenBudgetRates(dn, "source", "n_words",
      _ => Some(Long.MaxValue))
    assert(rBig == Map("A" -> 1000, "B" -> 1000))
    assert(Sampling.tokenBudgetMix(dn, "doc_id", "source", "n_words",
      Long.MaxValue).count() == 10L)
  }

  test("epoch mixture: full copies plus deterministic fractional epoch") {
    val d = (1L to 30L).map(i =>
        (i, if (i <= 10) "A" else if (i <= 20) "B" else "C"))
      .toDF("doc_id", "source")
    def coord(id: Long) = mixedCoord("ep", id)
    val out = Sampling.withEpochs(d, "doc_id", "source",
      Map("A" -> 2500, "B" -> 300), defaultPermille = 1000, salt = "ep")
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .as[(Long, Long)].collect().toMap
    val expect = (1L to 30L).flatMap { i =>
      val copies =
        if (i <= 10) 2 + (if (coord(i) < 500) 1 else 0)
        else if (i <= 20) (if (coord(i) < 300) 1 else 0)
        else 1
      if (copies > 0) Some(i -> copies.toLong) else None
    }.toMap
    assert(out == expect)
    // copy indices are 1..k, distinct per repeat
    val copies = Sampling.withEpochs(d, "doc_id", "source",
      Map("A" -> 2500), 1000, "ep")
      .where(col("doc_id") === 1L).select("copy").as[Int].collect().sorted
    assert(copies.toSeq == (1 to (2 + (if (coord(1) < 500) 1 else 0))))
  }

  test("proportional mixture: no-upsampling cap, binding stratum whole, unlisted dropped") {
    // A mass 100, B mass 1000, C mass 400, D untargeted
    // T = min(100k/500, 1000k/300, 400k/200) = 200
    // rates: A 500*200/100=1000 (binding, whole), B 300*200/1000=60, C 200*200/400=100
    val rows =
      (1L to 10L).map((_, "A", 10L)) ++
      (11L to 110L).map((_, "B", 10L)) ++
      (111L to 150L).map((_, "C", 10L)) ++
      (151L to 160L).map((_, "D", 10L))
    val d = rows.toDF("doc_id", "source", "w")
    val targets = Map("A" -> 500, "B" -> 300, "C" -> 200)
    val rates = Sampling.mixtureRates(d, "source", "w", targets)
    assert(rates == Map("A" -> 1000, "B" -> 60, "C" -> 100))
    val kept = Sampling.targetMixture(d, "doc_id", "source", "w", targets,
      salt = "pm").select("doc_id", "source").as[(Long, String)]
      .collect().toSet
    def coord(id: Long) = mixedCoord("pm", id)
    val expect = rows.collect {
      case (id, s, _) if rates.getOrElse(s, 0) > coord(id) => (id, s)
    }.toSet
    assert(kept == expect)
    assert(!kept.exists(_._2 == "D")) // untargeted stratum drops entirely
    assert(kept.count(_._2 == "A") == 10) // rate-1000 stratum kept whole
    // infeasible corner: no targeted stratum has mass -> all rates 0
    val empty = Sampling.mixtureRates(d.where(col("source") === "D"),
      "source", "w", targets)
    assert(empty.values.forall(_ == 0))
    // non-divisible masses: the binding stratum books EXACTLY 1000 (the
    // two-step floor form booked 999 for any avail·1000 not divisible
    // by p); the other stratum's rate is the exact-rational floor
    val rows2 = (1L to 19L).map((_, "A", 53L)) ++
      (100L to 130L).map((_, "B", 97L))
    val d2 = rows2.toDF("doc_id", "source", "w")
    val t2 = Map("A" -> 300, "B" -> 100)
    val r2 = Sampling.mixtureRates(d2, "source", "w", t2)
    val (aA, aB) = (19L * 53L, 31L * 97L) // 1007, 3007
    assert(r2("A") == 1000) // binding: 1007/300 < 3007/100
    assert(r2("B") ==
      (BigInt(100) * aA * 1000 / (BigInt(300) * aB)).toInt)
  }

  test("iroot is the exact integer k-th root") {
    for (n <- Seq(0L, 1L, 2L, 3L, 4L, 8L, 9L, 15L, 16L, 24L, 26L, 27L,
        99L, 100L, 10000L, (1L << 40) - 1, 1L << 40, (1L << 40) + 1,
        999999999999L)) {
      for (k <- Seq(2, 3)) {
        val r = Sampling.iroot(n, k)
        def p(x: Long) = if (k == 2) x * x else x * x * x
        assert(p(r) <= n && p(r + 1) > n, s"iroot($n, $k) = $r")
      }
    }
    // top-of-Long band: x^k of (root+1) overflows a Long — the guarded
    // comparison must neither wrap nor spin
    assert(Sampling.iroot(Long.MaxValue, 2) == 3037000499L)
    assert(Sampling.iroot(Long.MaxValue, 3) == 2097151L)
    assert(Sampling.iroot(3037000499L * 3037000499L, 2) == 3037000499L)
    assert(Sampling.iroot(3037000499L * 3037000499L - 1, 2) == 3037000498L)
    assert(Sampling.iroot(2097151L * 2097151L * 2097151L, 3) == 2097151L)
  }

  test("temperatureMixture: output shares track sqrt mass, binding stratum whole") {
    // masses 10000 / 100 / 2500 -> isqrt 100 / 10 / 50; binding stratum is
    // the smallest (B: total/p = 10), so B keeps rate 1000 and the others
    // land at p_i*total_B*1000/(p_B*total_i): A -> 100, C -> 200
    val rows = (1L to 100L).map((_, "A", 100L)) ++
      (200L to 209L).map((_, "B", 10L)) ++
      (300L to 349L).map((_, "C", 50L))
    val d = rows.toDF("doc_id", "source", "w")
    val rates = Sampling.temperatureRates(d, "source", "w")
    assert(rates == Map("A" -> 100, "B" -> 1000, "C" -> 200))
    // expected kept-mass shares proportional to isqrt(total): 10:1:5
    assert(rates("A") * 10000L == 1000L * 1000L &&
      rates("C") * 2500L == 500L * 1000L)
    val kept = Sampling.temperatureMixture(d, "doc_id", "source", "w",
      salt = "tmx").select("doc_id", "source").as[(Long, String)]
      .collect().toSet
    val expect = rows.collect {
      case (id, s, _) if mixedCoord("tmx", id) < rates(s) => (id, s)
    }.toSet
    assert(kept == expect)
    assert(kept.count(_._2 == "B") == 10) // binding stratum kept whole
    // non-perfect-square masses: exact roots, exact rational floor
    val d2 = (Seq((1L, "A", 7L), (2L, "A", 6L)) ++
      (10L to 29L).map((_, "B", 50L))).toDF("doc_id", "source", "w")
    val r2 = Sampling.temperatureRates(d2, "source", "w")
    // totals 13 / 1000 -> p 3 / 31; binding A (13/3 < 1000/31)
    assert(r2("A") == 1000)
    assert(r2("B") == (BigInt(31) * 13 * 1000 / (BigInt(3) * 1000)).toInt)
    // invAlpha = 3: cube roots flatten harder toward uniform
    val r3 = Sampling.temperatureRates(d, "source", "w", invAlpha = 3)
    // totals 10000/100/2500 -> icbrt 21/4/13; binding B (100/4 = 25)
    assert(r3("B") == 1000)
    assert(r3("A") == (BigInt(21) * 100 * 1000 / (BigInt(4) * 10000)).toInt)
    assert(r3("C") == (BigInt(13) * 100 * 1000 / (BigInt(4) * 2500)).toInt)
  }

  test("tfidfKeywords: distinctive words outrank shared ones, k and ties hold") {
    val d = Seq(
      (1L, "the cat sat on the mat the cat"),
      (2L, "the dog ran in the park"),
      (3L, "the bird flew over the park"),
      (4L, "zz aa")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidfKeywords(d, "doc_id", "text", k = 2)
    val rows = out.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3), r.getLong(4)))
    val byDoc = rows.groupBy(_._1)
    // doc 1: cat tf=2 df=1 -> 2*4*1000/1 = 8000; mat/sat/on tf=1 df=1 ->
    // 4000; "the" tf=3 df=3 -> 4000 ties with them, word order decides
    val d1 = byDoc(1L).sortBy(_._2)
    assert(d1.exists(t => t._2 == "cat" && t._3 == 2 && t._4 == 1 &&
      t._5 == 8000))
    // second keyword after cat: score-4000 candidates (mat, on, sat, the)
    // tie-break by word asc -> "mat"
    assert(d1.map(_._2).toSet == Set("cat", "mat"))
    // doc 4 has two distinct words -> exactly k = 2 rows; both df=1
    assert(byDoc(4L).map(_._2).toSet == Set("zz", "aa"))
    // every doc yields at most k rows
    assert(byDoc.values.forall(_.length <= 2))
  }

  test("clusterSizeHistogram: clusters and doc mass per size") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L), (6L, 7L), (8L, 9L),
      (10L, 11L)).toDF("a", "b")
    val got = Dedup.clusterSizeHistogram(Dedup.duplicateClusters(pairs))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // one 3-chain {1,2,3} and four 2-clusters
    assert(got == Set((2L, 4L, 8L), (3L, 1L, 3L)))
  }

  test("decontaminateBloom equals exact decontamination at any table size") {
    // planted overlap: docs 10/20 share eval doc 0's text fragments
    val d = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (10L, "x alpha beta gamma delta y"),
      (20L, "alpha beta gamma q r s t"),
      (30L, "nothing shared here at all now"),
      (40L, "beta gamma delta epsilon tail words"))
      .toDF("doc_id", "text")
    val isEval = col("doc_id") === 0L
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = rows(Dedup.decontaminate(d, "doc_id", "text", isEval, k = 3))
    assert(exact.nonEmpty)
    // 64 bits: maximal false-positive pressure; 2^16: realistic. Both must
    // equal the exact path — the verify join owns correctness, the table
    // only owns selectivity
    for (bits <- Seq(64, 1 << 16)) {
      val got = rows(Dedup.decontaminateBloom(d, "doc_id", "text", isEval,
        k = 3, bloomBits = bits))
      assert(got == exact, s"bloomBits=$bits")
    }
  }

  test("scriptCounts/dominantScript: range counts and precedence election") {
    val rows = Seq(
      (1L, "hello world 42"),                          // latin dominant
      (2L, "\u041F\u0440\u0438\u0432\u0435\u0442 ok"), // cyrillic 6 vs latin 2
      (3L, "\u4F60\u597D\u4E16\u754C\u3042"),          // cjk (ideographs + kana)
      (4L, "123 456"),                                 // digits only
      (5L, "... !!"),                                  // no class hit -> none
      (6L, "ab \u03B1\u03B2"),                         // latin/greek tie -> latin
      (7L, "\u0645\u0631\u062D\u0628\u0627 x"))        // arabic 5 vs latin 1
      .toDF("id", "text")
    val out = TextAnalysis.scriptCounts(col("text"))
      .foldLeft(rows) { case (d, (n, c)) => d.withColumn(n, c) }
      .withColumn("dom", TextAnalysis.dominantScript(col("text")))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("dom") == "latin")
    assert(out(1L).getAs[Long]("n_latin") == 10 &&
      out(1L).getAs[Long]("n_digit") == 2)
    assert(out(2L).getAs[String]("dom") == "cyrillic" &&
      out(2L).getAs[Long]("n_cyrillic") == 6)
    assert(out(3L).getAs[String]("dom") == "cjk" &&
      out(3L).getAs[Long]("n_cjk") == 5)
    assert(out(4L).getAs[String]("dom") == "digit")
    assert(out(5L).getAs[String]("dom") == "none")
    assert(out(6L).getAs[String]("dom") == "latin") // tie -> earlier class
    assert(out(7L).getAs[String]("dom") == "arabic")
  }

  test("mgHeavy residual floor: heavy items survive, singleton tail does not") {
    val stream = Seq.fill(40)("hh") ++ (1 to 200).map(i => s"x$i") ++
      Seq.fill(25)("h2")
    // capacity for phi=500 permyriad (5%): 2*20 = 40; thresholds: m=265,
    // counter*20000 >= 265*500 -> counter >= 7
    val out = TextAnalysis.mgHeavy(stream.iterator, capacity = 40,
      phiPermyriad = 500).toSet
    assert(out.contains("hh") && out.contains("h2"))
    assert(!out.exists(_.startsWith("x"))) // the filler tail is pruned
  }

  test("keepTopByScore: threshold minimal, ties kept, full-keep at 1000") {
    val d = Seq((1L, 10L), (2L, 20L), (3L, 20L), (4L, 5L), (5L, 1L),
      (6L, 20L), (7L, 15L), (8L, 3L), (9L, 8L), (10L, 12L))
      .toDF("id", "score")
    def kept(p: Int): Set[Long] =
      Sampling.keepTopByScore(d, "score", p)
        .select("id").as[Long].collect().toSet
    // n=10, p=300 -> k=3; three 20s reach the quota exactly
    assert(kept(300) == Set(2L, 3L, 6L))
    // p=400 -> k=4; threshold drops to 15
    assert(kept(400) == Set(2L, 3L, 6L, 7L))
    // p=100 -> k=1; all ties AT the threshold survive (>= semantics)
    assert(kept(100) == Set(2L, 3L, 6L))
    // p=1000 keeps the corpus; p floor keeps at least one row
    assert(kept(1000).size == 10)
    assert(kept(1) == Set(2L, 3L, 6L))
    // NULL scores: out of the quota base AND the output — n=10 non-null
    // of 12 rows, p=300 still means k=3 (not ceil of 12·0.3)
    val dn = d.unionByName(Seq((11L, Option.empty[Long]),
      (12L, Option.empty[Long])).toDF("id", "score"))
    val keptN = Sampling.keepTopByScore(dn, "score", 300)
      .select("id").as[Long].collect().toSet
    assert(keptN == Set(2L, 3L, 6L))
  }

  test("keepTopByScore materializeInput: identical result either way") {
    val d = ((1L to 200L).map(i => (i, Some((i * 7) % 40))) ++
      Seq((201L, Option.empty[Long]), (202L, Option.empty[Long])))
      .toDF("id", "score")
    val plain = Sampling.keepTopByScore(d, "score", 250)
      .select("id").as[Long].collect().toSet
    val mat = Sampling.keepTopByScore(d, "score", 250,
      materializeInput = true).select("id").as[Long].collect().toSet
    assert(plain.nonEmpty && plain == mat)
  }

  test("exactK: global fixed-size deterministic sample") {
    val d = (1L to 300L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val got = Sampling.exactK(d, "doc_id", 25, salt = "gk")
      .select("doc_id").as[Long].collect().toSet
    assert(got.size == 25)
    val expect = (1L to 300L).sortBy(i => (fullMix("gk", i), i)).take(25).toSet
    assert(got == expect)
    assert(Sampling.exactK(d, "doc_id", 1000).count() == 300) // k > n
  }

  test("frequentPhrases: exact counts, partition-invariant, sub-threshold excluded") {
    // 60 docs: every 2nd carries the hot template (3 trigrams @30 each),
    // every 15th a cold one (@4); filler words are unique per doc
    val rows = (0L until 60L).map { i =>
      val filler = s"u${i}a u${i}b u${i}c u${i}d"
      val hot = if (i % 2 == 0) " sign up free today" else ""
      val cold = if (i % 15 == 0) " rare promo line" else ""
      (i, filler + hot + cold)
    }
    val d = rows.toDF("doc_id", "text")
    // total trigrams: 60 docs x (4-2) + 30 x 3(+2 boundary... exact below)
    def run(parts: Int): Map[String, Long] =
      TextAnalysis.frequentPhrases(d.repartition(parts), "text",
          n = 3, phiPermyriad = 500)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = run(4)
    // independent exact model
    val phrases = rows.flatMap { case (_, t) =>
      val w = t.trim.split("\\s+")
      if (w.length >= 3) w.sliding(3).map(_.mkString(" ")).toSeq else Seq.empty
    }
    val counts = phrases.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val total = phrases.size.toLong
    val expect = counts.filter { case (_, c) => c * 10000 >= total * 500 }
    assert(got == expect)
    assert(got.contains("sign up free") && got.contains("up free today"))
    assert(!got.contains("rare promo line")) // cold template stays out
    // the MG candidate set varies with partitioning; the OUTPUT must not
    assert(run(1) == got && run(7) == got)
  }

  test("property: clusters + keepBest agree with a union-find model on random graphs") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val genGraph = for {
      n <- Gen.choose(2, 14)
      m <- Gen.choose(0, 20)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n.toLong - 1)
        b <- Gen.choose(0L, n.toLong - 1)
      } yield (a, b))
    } yield (n, edges.filter { case (a, b) => a != b })
    (0 until 12).foreach { i =>
      val (n, rawEdges) = sample(genGraph, 1234L + i)
      // union-find reference model
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      rawEdges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val modelRoot = (0 until n).map(x => x.toLong ->
        // path-compress fully for the min-label contract
        Iterator.iterate(x)(find).drop(1).next().toLong).toMap
      // min id per component = duplicateClusters' cluster_id contract
      val byComp = modelRoot.groupBy(_._2).values
        .flatMap(g => { val mn = g.keys.min; g.keys.map(_ -> mn) }).toMap
      if (rawEdges.nonEmpty) {
        val pairs = rawEdges.toDF("a", "b")
        Seq("label", "star").foreach { alg =>
          val got = Dedup.duplicateClusters(pairs, algorithm = alg)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val inPairs = rawEdges.flatMap(e => Seq(e._1, e._2)).toSet
          val expect = byComp.filter { case (k, _) => inPairs(k) }
          assert(got == expect, s"seed ${1234 + i} alg $alg")
        }
        // keepBest: scores = id*7 % 13 — keeper must be the component
        // argmax (ties to lowest id), singletons keep themselves
        val docs = (0L until n.toLong).map(x => (x, x * 7 % 13)).toDF("doc_id", "q")
        val kb = Dedup.keepBest(docs, "doc_id", "q", rawEdges.toDF("a", "b"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        val score = (x: Long) => x * 7 % 13
        kb.groupBy(_._2).foreach { case (comp, rows) =>
          val members = rows.map(_._1)
          val best = members.minBy(x => (-score(x), x))
          assert(rows.count(_._3 == 1L) == 1, s"one keeper in comp $comp")
          assert(rows.find(_._3 == 1L).get._1 == best,
            s"keeper of $comp is argmax")
        }
        // every doc appears exactly once, labeled by its true component
        assert(kb.map(_._1).toSet == (0L until n.toLong).toSet)
        kb.foreach { case (id, comp, _) =>
          assert(comp == byComp.getOrElse(id, id), s"doc $id component")
        }
      }
    }
  }

  test("property: sessionize agrees with a fold model on random event times") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.apply(Gen.Parameters.default, Seed(seed)).get
    val genEvents = Gen.listOfN(40, for {
      k <- Gen.choose(0, 3)
      t <- Gen.choose(0L, 5000L)
    } yield (k.toLong, t))
    (0 until 8).foreach { i =>
      val evs = sample(genEvents, 77L + i).zipWithIndex
        .map { case ((k, t), id) => (id.toLong, k, t) }
      val df = evs.toDF("event_id", "k", "ms")
        .withColumn("ts", expr("timestamp_millis(ms)"))
      val got = graft.operators.Temporal
        .sessionize(df, "k", "ts", gapMs = 700L, tieCol = "event_id")
        .select("event_id", "session").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // fold model: per key, sort by (ts, id), split on gap > 700
      val model = evs.groupBy(_._2).flatMap { case (_, rows) =>
        val sorted = rows.sortBy(r => (r._3, r._1))
        var s = 0L
        var prev = Long.MinValue / 2
        sorted.map { case (id, _, t) =>
          if (t - prev > 700L) s += 1
          prev = t
          id -> s
        }
      }
      assert(got == model, s"seed ${77 + i}")
    }
  }

  test("mgSummary: superset of every φ-heavy item, bounded size") {
    val stream = Seq.fill(40)("hh") ++ (1 to 200).map(i => s"x$i") ++
      Seq.fill(25)("h2")
    val out = TextAnalysis.mgSummary(stream.iterator, capacity = 20).toSet
    assert(out.contains("hh") && out.contains("h2")) // 40/265, 25/265 > 1/21
    assert(out.size <= 20)
  }

  test("keepTopByScoreApprox: near-target fraction, converges to exact on a grid") {
    val d = (1L to 1000L).map(i => (i, (i * 37L) % 997L)).toDF("id", "score")
    val kept = Sampling.keepTopByScoreApprox(d, "score", 250).count()
    // GK rank error at accuracy 10000 over 1000 rows is < 1 rank
    assert(math.abs(kept - 250L) <= 5L, s"kept $kept of 1000 at 250 permille")
    // on an integer grid at high accuracy the approx threshold matches the
    // exact histogram threshold's row set
    val exact = Sampling.keepTopByScore(d, "score", 250)
      .select("id").as[Long].collect().toSet
    val approx = Sampling.keepTopByScoreApprox(d, "score", 250)
      .select("id").as[Long].collect().toSet
    assert((approx diff exact).size + (exact diff approx).size <= 10,
      s"approx/exact sets diverge by ${(approx diff exact).size + (exact diff approx).size}")
  }

  test("keepBest: cluster keeps highest score (tie to lowest id), singletons survive") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val d = Seq((1L, 10L), (2L, 30L), (3L, 30L), (5L, 7L), (6L, 7L),
      (7L, 1L)).toDF("doc_id", "q")
    val got = Dedup.keepBest(d, "doc_id", "q", pairs)
      .select("id", "cluster_id", "keep_flag")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == Map(
      1L -> (1L, 0L), 2L -> (1L, 1L), 3L -> (1L, 0L), // 30-tie -> id 2
      5L -> (5L, 1L), 6L -> (5L, 0L),                 // 7-tie -> id 5
      7L -> (7L, 1L)))                                // unpaired singleton
    // exactly one keeper per cluster
    val perCluster = got.values.groupBy(_._1).view
      .mapValues(_.count(_._2 == 1L)).toMap
    assert(perCluster.values.forall(_ == 1))
  }

  test("property: classifier score = bag-of-words hash sum on random texts") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(41L + i)))
    val w = (0 until 32).map(b => (b * 11 + 5) % 9)
    def ref(text: String): Long =
      text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).map { t =>
        val f = t.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1073741789L)
        w((f % 32).toInt).toLong
      }.sum
    val genWord = Gen.choose(1, 8)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf('a' to 'f')).map(_.mkString))
    val genText = Gen.choose(0, 12)
      .flatMap(n => Gen.listOfN(n, genWord).map(_.mkString(" ")))
    val texts = samples(genText, 40)
    val d = texts.map(t => (t, t.split(" ").reverse.mkString(" ")))
      .toDF("t1", "t2")
    val got = d.select(TextAnalysis.classifierScore(col("t1"), w),
        TextAnalysis.classifierScore(col("t2"), w))
      .as[(Long, Long)].collect().toSeq
    got.zip(texts).foreach { case ((s1, s2), t) =>
      assert(s1 == ref(t), t)  // engine == independent model
      assert(s1 == s2, t)      // order invariance
    }
  }

  test("property: line dedup model equivalence on random multi-line corpora") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(13L + i)))
    // small line alphabet → plenty of cross-doc collisions
    val genLine = Gen.oneOf("alpha beta", "Alpha  Beta", "share this",
      "gamma", "delta five", "delta  FIVE", "unique tail")
    val genDoc = Gen.choose(1, 6)
      .flatMap(n => Gen.listOfN(n, genLine).map(_.mkString("\n")))
    val corpus = samples(genDoc, 30).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    def normKey(l: String) =
      l.trim.toLowerCase.replaceAll("\\s+", " ")
    // reference model: global keep-first over (doc, pos) order
    val seen = scala.collection.mutable.Set.empty[String]
    val expect = corpus.map { case (id, t) =>
      val lines = t.split("\n", -1)
      val kept = lines.filter(l => seen.add(normKey(l)))
      id -> ((lines.length.toLong, kept.length.toLong, kept.mkString("\n")))
    }.toMap
    val got = TextAnalysis.lineDedup(corpus.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(x =>
        x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getString(3)))).toMap
    assert(got == expect)
  }

  test("decontaminatePairs: per-pair attribution, rollup equals decontaminate") {
    val d = Seq(
      (97L, "alpha beta gamma delta epsilon"),      // eval (id%97==0)
      (194L, "one two three four five"),            // eval
      (1L, "alpha beta gamma delta zzz"),           // shares 3-shingles w/ 97
      (2L, "one two three four qqq"),               // shares w/ 194
      (3L, "alpha beta gamma delta one two three four"), // 2 shingles w/ BOTH
      (4L, "totally novel words here"))             // clean
      .toDF("doc_id", "text")
    val pairs = Dedup.decontaminatePairs(d, "doc_id", "text",
      col("doc_id") % 97 === 0, k = 3, minShared = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(pairs.map(p => (p._1, p._2)) ==
      Set((1L, 97L), (2L, 194L), (3L, 97L), (3L, 194L)))
    // rollup consistency: per-train distinct eval docs == parent operator
    val parent = Dedup.decontaminate(d, "doc_id", "text",
      col("doc_id") % 97 === 0, k = 3, minShared = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rolled = pairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(rolled.keySet == parent.keySet)
    rolled.foreach { case (id, n) => assert(parent(id) == n, s"doc $id") }
  }

  test("hostStats: case-fold, port/path cut, multi-URL docs, no-URL docs") {
    val d = Seq(
      (1L, "see https://A.Example.COM/path and http://a.example.com:8080/x"),
      (2L, "plain text no urls at all"),
      (3L, "http://b.example/q?u=1 twice http://b.example#frag"),
      (4L, "ftp://not.matched/ and https://a.example.com"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.hostStats(d, "doc_id", "text")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(got == Map(
      "a.example.com" -> ((2L, 3L)), // doc 1 twice (case + port), doc 4 once
      "b.example" -> ((1L, 2L))))    // one doc, two URLs
  }

  test("perceptronTrain equals an independent batch-update model") {
    val dim = 8
    val rows = Seq(
      (1L, true, "good solid prose with verbs"),
      (2L, true, "good words good order"),
      (3L, false, "zzz zzz spam spam spam"),
      (4L, false, "buy buy buy zzz"),
      (5L, true, "prose and order and verbs"),
      (6L, false, "spam buy zzz spam"))
    val d = rows.toDF("doc_id", "is_good", "text")
    val got = TextAnalysis.perceptronTrain(d, "doc_id", "text",
      col("is_good"), dim, epochs = 3)
    // independent model: same fold, batch update per epoch in plain Scala
    def bucket(t: String): Int = {
      val f = t.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1073741789L)
      (f % dim).toInt
    }
    val feats = rows.map { case (_, lbl, text) =>
      val y = if (lbl) 1L else -1L
      val counts = text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
        .groupBy(bucket).view.mapValues(_.length.toLong).toMap
      (y, counts)
    }
    var w = Vector.fill(dim)(0L)
    (1 to 3).foreach { e =>
      val wrong = feats.filter { case (y, c) =>
        y * c.map { case (b, n) => n * w(b) }.sum <= 0 }
      val nw = wrong.size.toLong
      val upd = wrong.flatMap { case (y, c) =>
        c.map { case (b, n) => b -> y * n } }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      w = w.zipWithIndex.map { case (x, b) => x + upd.getOrElse(b, 0L) }
      val (ge, gw, gn) = got(e - 1)
      assert(ge == e)
      assert(gw == w.toSeq, s"epoch $e weights")
      assert(gn == nw, s"epoch $e errors")
    }
    // the trained gate must actually separate the fixture classes
    val finalW = got.last._2
    def score(text: String): Long =
      text.toLowerCase.trim.split("\\s+").filter(_.nonEmpty)
        .map(t => finalW(bucket(t))).sum
    rows.foreach { case (_, lbl, text) =>
      assert((score(text) > 0) == lbl, text)
    }
  }

  test("removeRepeatedSpans: excises covered tokens, keeps novel remainder") {
    // doc 1 and doc 2 share the 5-gram "a b c d e" (cross-doc repeat);
    // doc 3 repeats its own 5-gram twice (within-doc); doc 4 is novel;
    // doc 5 is shorter than k and must survive whole
    val d = Seq(
      (1L, "x1 x2 a b c d e y1 y2"),
      (2L, "a b c d e z1 z2 z3 z4"),
      (3L, "p q r s t u p q r s t u"),
      (4L, "n1 n2 n3 n4 n5 n6"),
      (5L, "s1 s2 s3")).toDF("doc_id", "text")
    val got = Dedup.removeRepeatedSpans(d, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((9L, 4L, "x1 x2 y1 y2")))
    assert(got(2L) == ((9L, 4L, "z1 z2 z3 z4")))
    // doc 3: grams (pqrst), (qrstu), ... repeat at offset 6 -> the
    // 6-token period covers EVERY position: fully excised
    assert(got(3L) == ((12L, 0L, "")))
    assert(got(4L) == ((6L, 6L, "n1 n2 n3 n4 n5 n6")))
    assert(got(5L) == ((3L, 3L, "s1 s2 s3")))
    // consistency with the measuring twin: n_tokens - n_kept = dup tokens
    val spans = Dedup.repeatedSpans(d, "doc_id", "text", k = 5)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("n_dup_tokens"))
      .toMap
    got.foreach { case (id, (nt, nk, _)) =>
      assert(nt - nk == spans(id), s"doc $id") }
  }

  test("ccnetBuckets: ceil-third cut model, per-language, ties promote") {
    // texts engineered only for score DIVERSITY — the expected buckets are
    // recomputed from the operator's own (lang, q) output by an
    // independent model of the histogram/cut logic, so the assertion pins
    // the partition mechanics without re-deriving the LM
    val rows = (0 until 14).map { i =>
      val lang = if (i < 9) "en" else "de"
      val text = if (i % 3 == 0) "the cat sat on the mat the cat sat"
        else if (i % 3 == 1) s"the cat ran uniq$i over uniq${i}x fences"
        else s"zzz$i qqq$i www$i rrr$i ttt$i yyy$i"
      (i.toLong, lang, text)
    }
    val d = rows.toDF("doc_id", "lang", "text")
    val got = TextAnalysis.ccnetBuckets(d, "doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3)))
    assert(got.length == 14)
    // independent model: per language, classes descending by q; a class is
    // head when strictly-better count < ceil(n/3), middle under ceil(2n/3)
    val expected = got.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      val n = g.length
      val (k1, k2) = ((n + 2) / 3, (2 * n + 2) / 3)
      val classCounts = g.groupBy(_._3).view.mapValues(_.length).toMap
      g.map { case (id, lang, q, _) =>
        val better = classCounts.collect {
          case (qq, c) if qq > q => c }.sum
        (id, if (better < k1) "head"
        else if (better < k2) "middle" else "tail")
      }
    }.toMap
    got.foreach { case (id, _, _, bucket) =>
      assert(bucket == expected(id), s"doc $id")
    }
    // same class ⇒ same bucket, and bucket order follows q order
    got.groupBy(g => (g._2, g._3)).values.foreach { cls =>
      assert(cls.map(_._4).distinct.length == 1)
    }
    val rank = Map("head" -> 0, "middle" -> 1, "tail" -> 2)
    got.groupBy(_._2).values.foreach { g =>
      g.sortBy(-_._3).map(x => rank(x._4)).foldLeft(0) { (prev, r) =>
        assert(r >= prev); r
      }
    }
    // the fixture actually exercises all three buckets in the big language
    assert(got.filter(_._2 == "en").map(_._4).distinct.sorted.toSeq ==
      Seq("head", "middle", "tail"))
  }

  test("softDedupWeights: 1000/cluster_size per doc, singletons keep 1000") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val d = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val got = Dedup.softDedupWeights(d, "doc_id", pairs)
      .select("id", "cluster_id", "cluster_size", "weight_permille")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got == Map(
      1L -> (1L, 3L, 333L), 2L -> (1L, 3L, 333L), 3L -> (1L, 3L, 333L),
      4L -> (4L, 1L, 1000L),
      5L -> (5L, 2L, 500L), 6L -> (5L, 2L, 500L),
      7L -> (7L, 1L, 1000L)))
    // every doc survives (reweight, don't remove), and the effective mass
    // of each cluster is ~1 doc (integer floor: 999 for the 3-cluster)
    assert(got.size == 7)
    val massByCluster = got.values.groupBy(_._1).view
      .mapValues(_.map(_._3).sum).toMap
    assert(massByCluster == Map(1L -> 999L, 4L -> 1000L, 5L -> 1000L,
      7L -> 1000L))
  }

  test("dsirResample equals an independent importance-resampling model") {
    // target (tgt=true) speaks the {alpha..delta} vocabulary; candidates
    // split between target-like and off-distribution {zulu..xray} docs.
    // 24-word docs make the llr score dominate the Gumbel noise, but the
    // spec does NOT rely on that: the reference model below recomputes
    // score, noise and the top-k cut from scratch.
    val tWords = Seq("alpha", "beta", "gamma", "delta")
    val oWords = Seq("zulu", "yankee", "xray", "whiskey")
    def doc(ws: Seq[String], seed: Int): String =
      (0 until 24).map(i => ws((i * 7 + seed) % ws.size)).mkString(" ")
    val rows =
      (0L until 6L).map(i => (i, doc(tWords, i.toInt), true)) ++
        (10L until 18L).map(i => (i, doc(tWords, i.toInt), false)) ++
        (20L until 28L).map(i => (i, doc(oWords, i.toInt), false)) ++
        Seq((30L, "   ", false)) // wordless candidate: score 0, noise only
    val d = rows.toDF("doc_id", "text", "tgt")
    val k = 9
    val got = Sampling.dsirResample(d, "doc_id", "text", col("tgt"),
      k = k, buckets = 64, salt = "dsp")
      .as[(Long, Long, Long, Long)].collect().toSeq

    // independent model: fold-hash buckets, add-1 smoothed llr in
    // micro-nats, integer doc scores, fullMix-based Gumbel keys, top-k
    def words(t: String): Seq[String] =
      t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    def bucket(w: String): Int =
      (w.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1073741789L) % 64).toInt
    val tgtCnt = rows.filter(_._3).flatMap(r => words(r._2)).groupBy(bucket)
      .view.mapValues(_.size.toLong).toMap
    val rawCnt = rows.filterNot(_._3).flatMap(r => words(r._2)).groupBy(bucket)
      .view.mapValues(_.size.toLong).toMap
    val tTot = tgtCnt.values.sum
    val rTot = rawCnt.values.sum
    def llr(b: Int): Long =
      math.floor(1e6 * (math.log((tgtCnt.getOrElse(b, 0L) + 1.0) / (tTot + 64.0))
        - math.log((rawCnt.getOrElse(b, 0L) + 1.0) / (rTot + 64.0)))).toLong
    def gumbel(id: Long): Long = {
      val u = (fullMix("dsp", id) + 0.5) / 4294967296.0
      math.floor(1e6 * -math.log(-math.log(u))).toLong
    }
    val refAll = rows.filterNot(_._3).map { case (id, t, _) =>
      val score = words(t).map(w => llr(bucket(w))).sum
      (id, score, gumbel(id), score + gumbel(id))
    }
    val refSel = refAll.sortBy(r => (-r._4, r._1)).take(k).sortBy(_._1)
    assert(got == refSel)
    // targets never selected; the wordless candidate scored exactly 0 in
    // the model (so its fate rode on noise alone)
    assert(got.forall(r => r._1 >= 10L))
    assert(refAll.find(_._1 == 30L).get._2 == 0L)
    // with this signal strength the selected set is exactly the
    // target-like candidates (8 of them) plus one noise-elected outlier
    assert(got.count(r => r._1 >= 10L && r._1 < 18L) == 8)
    // deterministic and partitioning-invariant
    val again = Sampling.dsirResample(d.repartition(7), "doc_id", "text",
      col("tgt"), k = k, buckets = 64, salt = "dsp")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(again == got)
  }

  test("zipfSlope equals the integer-OLS Scala model on the fixture corpus") {
    val d = docs.withColumn("g", lit("all"))
    val got = TextAnalysis.zipfSlope(d, "g", "text", topR = 64, minFreq = 2L)
      .as[(String, Long, Long, Long)].collect().toSeq
    // independent model: word frequencies, the (freq desc, word asc) rank,
    // milli-nat floors, the four power sums and the magnitude division
    val freq = docs.as[(Long, String)].collect()
      .flatMap(_._2.toLowerCase.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
    val ranked = freq.sortBy { case (w, f) => (-f, w) }.zipWithIndex
      .map { case ((_, f), i) => (i + 1L, f) }
      .filter { case (r, f) => r <= 64 && f >= 2 }
    val pts = ranked.map { case (r, f) =>
      (math.floor(1000.0 * math.log(r.toDouble)).toLong,
        math.floor(1000.0 * math.log(f.toDouble)).toLong) }
    val n = pts.size.toLong
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val slope = ((sx * sy - n * sxy) * 1000L) / (n * sxx - sx * sx)
    assert(got == Seq(("all", freq.size.toLong, n, slope)))
    // a genuinely Zipfian corpus reads ~1000: plant freq ∝ 1/rank
    val zipfy = (1 to 50).flatMap(r => Seq.fill(600 / r)(s"w$r"))
    val zd = Seq((1L, zipfy.mkString(" "))).toDF("doc_id", "text")
      .withColumn("g", lit("z"))
    val zg = TextAnalysis.zipfSlope(zd, "g", "text", topR = 64, minFreq = 2L)
      .as[(String, Long, Long, Long)].collect().head
    assert(math.abs(zg._4 - 1000L) < 60,
      s"planted 1/rank corpus should fit near 1000, got ${zg._4}")
    // partitioning-invariant
    val again = TextAnalysis.zipfSlope(d.repartition(7), "g", "text",
      topR = 64, minFreq = 2L).as[(String, Long, Long, Long)].collect().toSeq
    assert(again == got)
  }

  test("rankAuc: brute-force pair model, ties, and the degenerate cases") {
    // mixed scores WITH ties across labels; expected AUC from the O(n²)
    // Mann-Whitney definition (1 per win, ½ per tie)
    val rows = Seq((10L, true), (10L, false), (8L, true), (6L, false),
      (6L, true), (4L, false), (2L, false), (12L, true))
    val d = rows.zipWithIndex.map { case ((s, l), i) => (s"g", s, l) }
      .toDF("g", "s", "l")
    val got = TextAnalysis.rankAuc(d, "g", "s", "l")
      .as[(String, Long, Long, Long)].collect().toSeq
    val pos = rows.filter(_._2).map(_._1)
    val neg = rows.filterNot(_._2).map(_._1)
    val u2 = (for (p <- pos; q <- neg) yield
      if (p > q) 2L else if (p == q) 1L else 0L).sum
    val auc = u2 * 1000000L / (2L * pos.size * neg.size)
    assert(got == Seq(("g", pos.size.toLong, neg.size.toLong, auc)))
    // perfect separation → 1e6; inverted → 0; identical scores → exactly ½
    def auc1(rows: Seq[(Long, Boolean)]): Seq[Long] =
      TextAnalysis.rankAuc(rows.map(r => ("g", r._1, r._2)).toDF("g", "s", "l"),
        "g", "s", "l").as[(String, Long, Long, Long)].collect().map(_._4).toSeq
    assert(auc1(Seq((5L, true), (6L, true), (1L, false))) == Seq(1000000L))
    assert(auc1(Seq((1L, true), (5L, false), (6L, false))) == Seq(0L))
    assert(auc1(Seq((7L, true), (7L, false), (7L, true))) == Seq(500000L))
    // single-class groups are dropped, multi-group independence holds
    val multi = Seq(("a", 3L, true), ("a", 1L, false),
      ("b", 9L, true), ("c", 2L, false)).toDF("g", "s", "l")
    val m = TextAnalysis.rankAuc(multi, "g", "s", "l")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(m == Seq(("a", 1L, 1L, 1000000L)))
  }

  test("doremiStep: hand-built excesses, the exp clamp, uniform fixpoint") {
    // A mean 2048, B mean 0 → mean_all 1024, excesses ±1024 → exp(±½)
    val d = Seq(("A", 3072L), ("A", 1024L), ("B", 0L), ("B", 0L))
      .toDF("dom", "sc")
    val got = Sampling.doremiStep(d, "dom", "sc")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val wA = math.floor(1e4 * math.exp(0.5)).toLong   // 16487
    val wB = math.floor(1e4 * math.exp(-0.5)).toLong  //  6065
    assert(got == Seq(
      ("A", 2L, 2048L, 1024L, wA * 1000L / (wA + wB)),
      ("B", 2L, 0L, -1024L, wB * 1000L / (wA + wB))))
    // uniform scores → uniform mixture (the DoReMi fixpoint)
    val u = Seq(("A", 7L), ("B", 7L), ("C", 7L), ("A", 7L)).toDF("dom", "sc")
    val ug = Sampling.doremiStep(u, "dom", "sc")
      .as[(String, Long, Long, Long, Long)].collect()
    assert(ug.forall(r => r._4 == 0L && r._5 == 333L))
    // a runaway excess hits the ±16 clamp instead of overflowing
    val big = Seq(("A", 10000000L), ("B", 0L), ("B", 0L)).toDF("dom", "sc")
    val bg = Sampling.doremiStep(big, "dom", "sc")
      .as[(String, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    val wHi = math.floor(1e4 * math.exp(16.0)).toLong
    val wLo = math.floor(1e4 * math.exp(-16.0)).toLong // floor → 0
    assert(wLo == 0L && bg.map(_._5) ==
      Seq(wHi * 1000L / (wHi + wLo), wLo * 1000L / (wHi + wLo)))
  }

  test("bitextMine: mutual argmax + ratio margin on hand-built geometry") {
    // s1↔t11 (cos 1, margin 1.2095), s2↔t21 (cos 1, margin 1.4776),
    // s3 has no counterpart: its argmax t11 points back to s1 → not mutual
    val src = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, Array(0.0, 1.0, 0.0, 0.0)),
      (3L, Array(0.6, 0.0, 0.8, 0.0))
    ).toDF("vec_id", "v").withColumn("blk", lit(0))
    val tgt = Seq(
      (11L, Array(2.0, 0.0, 0.0, 0.0)),   // s1 scaled
      (12L, Array(0.5, 0.5, 0.0, 0.0)),   // equidistant distractor
      (21L, Array(0.0, 3.0, 0.0, 0.0))    // s2 scaled
    ).toDF("vec_id", "v").withColumn("blk", lit(0))
    def mine(m: Long) = Similarity.bitextMine(src, tgt, "vec_id", "v",
      "blk", k = 2, marginX1000 = m).as[(Long, Long)].collect().sorted.toSeq
    assert(mine(1100L) == Seq((1L, 11L), (2L, 21L)))
    // raising the margin bar drops the hubbier pair first (s1's top-2
    // neighborhood is denser → smaller margin), never the cleaner one
    assert(mine(1300L) == Seq((2L, 21L)))
    assert(mine(3000L) == Seq())
    // partitioning-invariant
    val again = Similarity.bitextMine(src.repartition(5), tgt.repartition(3),
      "vec_id", "v", "blk", k = 2, marginX1000 = 1100L)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(again == Seq((1L, 11L), (2L, 21L)))
  }

  test("contaminationFraction: partial overlap, the dirty cut, short docs") {
    // eval ids are odd. E1 "a b c d" has shingles {a b c, b c d}; train T2
    // carries "a b c" only → 1/2 in train → 500‰, dirty at threshold 500.
    // E3 shares nothing → 0‰. E5 is a sub-3-word doc whose WHOLE-TEXT
    // shingle matches train T6 verbatim → 1/1 → 1000‰.
    val d = Seq(
      (1L, "a b c d"), (2L, "a b c x y"), (3L, "p q r s"),
      (4L, "u v w"), (5L, "zz yy"), (6L, "zz yy")
    ).toDF("id", "text")
    val got = Dedup.contaminationFraction(d, "id", "text",
        col("id") % 2 === 1, k = 3, dirtyPermille = 500)
      .as[(Long, Long, Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, 2L, 1L, 500L, true),
      (3L, 2L, 0L, 0L, false),
      (5L, 1L, 1L, 1000L, true)))
    // repeated shingles in one doc count once (distinct identity), and a
    // train-side repeat cannot double-count either
    val rep = Seq((1L, "m n o m n o"), (2L, "m n o m n o m n o"))
      .toDF("id", "text")
    val r = Dedup.contaminationFraction(rep, "id", "text",
        col("id") === 1, k = 3, dirtyPermille = 700)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSeq
    // "m n o m n o" → distinct shingles {m n o, n o m, o m n, m n o} = 3;
    // the longer train doc contains all three
    assert(r == Seq((1L, 3L, 3L, 1000L, true)))
  }

  test("groupAwareSplit: co-assignment, null fallback, the excluded band") {
    val splits = Seq("train" -> 800, "val" -> 100, "test" -> 50)
    val rows = (1L to 400L).map(i =>
      (i, if (i % 5 == 0) s"h${i % 9}" else null))
    val d = rows.toDF("id", "grp")
    val got = Sampling.groupAwareSplit(d, "id", "grp", splits, salt = "t")
      .select(col("id"), col("grp"), col("split"))
      .as[(Long, String, String)].collect().toSeq
    // every non-null group maps to exactly ONE split (possibly null for
    // the excluded 950..999 band)
    val perGroup = got.filter(_._2 != null).groupBy(_._2)
      .view.mapValues(_.map(_._3).distinct).toMap
    assert(perGroup.nonEmpty && perGroup.values.forall(_.size == 1))
    // group rows follow the group coordinate under salt "t:g": the same
    // assignment as splitting the GROUP KEYS themselves by id
    val keyed = Sampling.assignSplit(
        got.filter(_._2 != null).map(_._2).distinct.toDF("id"),
        "id", splits, salt = "t:g")
      .as[(String, String)].collect().toMap
    assert(got.filter(_._2 != null).forall(r => keyed(r._2) == r._3))
    // null-group rows follow the id coordinate under salt "t:i"
    val ids = Sampling.assignSplit(d.where(col("grp").isNull), "id",
        splits, salt = "t:i")
      .select(col("id"), col("split")).as[(Long, String)].collect().toMap
    assert(got.filter(_._2 == null).forall(r => ids(r._1) == r._3))
    // 400 rows with a 5% excluded band: expect some null assignments and
    // a dominant train share (sanity that the bands actually spread)
    assert(got.exists(_._3 == null))
    assert(got.count(_._3 == "train") > got.count(_._3 == "test"))
  }

  test("fuseSignals: exact CDFs, the integer mean, duplicate-name guard") {
    val d = Seq(
      (1L, 10L, 1L), (2L, 10L, 2L), (3L, 20L, 2L), (4L, 30L, 4L)
    ).toDF("id", "a", "b")
    val got = TextAnalysis.fuseSignals(d, "id",
        Seq("a" -> col("a"), "b" -> col("b")))
      .select(col("id"), col("a_cdf_x1000"), col("b_cdf_x1000"),
        col("fused_x1000"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // a: cdf(10)=500, cdf(20)=750, cdf(30)=1000
    // b: cdf(1)=250, cdf(2)=750, cdf(4)=1000
    assert(got == Seq(
      (1L, 500L, 250L, 375L),
      (2L, 500L, 750L, 625L),
      (3L, 750L, 750L, 750L),
      (4L, 1000L, 1000L, 1000L)))
    // ties share one rank on BOTH sides of the fusion; partitioning-
    // invariant like every deterministic operator here
    val again = TextAnalysis.fuseSignals(d.repartition(7), "id",
        Seq("a" -> col("a"), "b" -> col("b")))
      .select(col("id"), col("a_cdf_x1000"), col("b_cdf_x1000"),
        col("fused_x1000"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(again == got)
    intercept[IllegalArgumentException] {
      TextAnalysis.fuseSignals(d, "id", Seq("a" -> col("a"), "a" -> col("b")))
    }
    // the opt-out path (no localCheckpoint) computes the identical result
    val plain = TextAnalysis.fuseSignals(d, "id",
        Seq("a" -> col("a"), "b" -> col("b")), materializeInput = false)
      .select(col("id"), col("a_cdf_x1000"), col("b_cdf_x1000"),
        col("fused_x1000"))
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(plain == got)
  }

  test("dedupLinesWithinDoc: in-place first-keep, intra-only, blanks") {
    val d = Seq(
      (1L, "a\nb\na\nc\nb"),     // repeats of a and b removed in place
      (2L, "x\n\ny\n\nx"),       // blank lines dedup like any line
      (3L, "solo"),              // no separator → untouched
      (4L, "k\nk"), (5L, "k")    // cross-doc repeats NOT touched
    ).toDF("id", "text")
    val got = TextAnalysis.dedupLinesWithinDoc(d, "id", "text")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "a\nb\nc", 5L, 3L),
      (2L, "x\n\ny", 5L, 3L),
      (3L, "solo", 1L, 1L),
      (4L, "k", 2L, 1L),
      (5L, "k", 1L, 1L)))
    // scan-local: the plan has no Exchange at all
    val plan = TextAnalysis.dedupLinesWithinDoc(d, "id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected no shuffle:\n$plan")
  }

  test("farthestPointSample: greedy geometry, radius curve, duplicate") {
    // 2-D geometry with a hand-traceable greedy order; id 6 duplicates
    // the seed (dist 0 — never selected while anything else remains)
    val pts = Seq(
      (1L, Array(0.0, 0.0)), (2L, Array(10.0, 0.0)), (3L, Array(0.0, 6.0)),
      (4L, Array(5.0, 5.0)), (5L, Array(10.0, 1.0)), (6L, Array(0.0, 0.0)))
    val d = pts.toDF("id", "v")
    val got = Similarity.farthestPointSample(d, "id", "v", k = 5)
      .as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    val s = 1L << 40 // (2^20)^2: quantized squared-unit scale
    // seed 1 @(0,0); then 5 (101), 4 (min(50,41)=41), 3 (min(36,26)=26),
    // 2 (min(100,1,50,...)=1); the dup id 6 (dist 0) never wins
    assert(got == Seq((1L, 1L, None), (2L, 5L, Some(101L * s)),
      (3L, 4L, Some(41L * s)), (4L, 3L, Some(26L * s)),
      (5L, 2L, Some(1L * s))))
    // the radius curve is non-increasing (the k-center invariant)
    val radii = got.flatMap(_._3)
    assert(radii == radii.sorted.reverse)
    // partitioning-invariant
    val again = Similarity.farthestPointSample(d.repartition(5), "id", "v",
        k = 5).as[(Long, Long, Option[Long])].collect().sortBy(_._1).toSeq
    assert(again == got)
  }

  test("vocabKlDivergence: zero on identity, integer model, vocab cutoff") {
    // identical corpora: every term has na = nb and ta = tb → every llr
    // ratio is exactly 1 → ln 0 → KL exactly 0 (no float residue at all)
    val same = Seq((1L, "a a b c"), (2L, "b c d")).toDF("id", "text")
    val self = TextAnalysis.vocabKlDivergence(same, same, "text", topK = 10)
      .as[(Long, Long, Long, Long)].collect().head
    assert(self == ((4L, 7L, 7L, 0L)))
    // drifted pair vs the independent integer model (same quantization)
    val ref = Seq((1L, "a a b")).toDF("id", "text")
    val cmp = Seq((1L, "a b b b")).toDF("id", "text")
    val got = TextAnalysis.vocabKlDivergence(ref, cmp, "text", topK = 2)
      .as[(Long, Long, Long, Long)].collect().head
    def llr(na: Long, nb: Long, ta: Long, tb: Long, k: Long): Long =
      math.floor(1e6 * math.log(
        ((na + 1).toDouble * (tb + k)) / ((ta + k).toDouble * (nb + 1)))).toLong
    val wsum = 3L * llr(2, 1, 3, 4, 2) + 2L * llr(1, 3, 3, 4, 2)
    assert(got == ((2L, 3L, 4L, math.max(0L, wsum) / 5L)))
    // words beyond topK never enter the vocabulary (count desc, word asc):
    // ref has {x:2, a:1, b:1} → top-2 = [x, a]; c on the cmp side only is
    // invisible; KL is still >= 0 by the Gibbs clamp
    val r2 = Seq((1L, "x x a b")).toDF("id", "text")
    val c2 = Seq((1L, "c c c x")).toDF("id", "text")
    val g2 = TextAnalysis.vocabKlDivergence(r2, c2, "text", topK = 2)
      .as[(Long, Long, Long, Long)].collect().head
    assert(g2._1 == 2L && g2._2 == 3L && g2._3 == 1L && g2._4 >= 0L)
  }

  test("calibrationBins: bin edges, clamps, integer rollup") {
    val rows = Seq((0L, false), (50L, true), (100L, false), (950L, true),
      (1001L, true), (-5L, false))
    val d = rows.toDF("s", "l")
    val got = TextAnalysis.calibrationBins(d, "s", "l",
        bins = 10, scaleMax = 1000L)
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // bin 0 holds {0, 50, 100, -5} (100·10 div 1001 = 0; negatives clamp
    // in), bin 9 holds {950, 1001} (the overshoot clamps down)
    assert(got == Seq(
      (0L, 4L, 1L, 250L, 36L),     // mean = (0+50+100-5) div 4 = 36
      (9L, 2L, 2L, 1000L, 975L)))  // mean = (950+1001) div 2 = 975
    intercept[IllegalArgumentException] {
      TextAnalysis.calibrationBins(d, "s", "l", bins = 1)
    }
  }

  test("bitextMineLsh: wiring ≡ explicit banding, true pairs survive, sizing") {
    // 400 distinct pseudo-random directions (prime modulus 409 > id range,
    // so no period structure can alias two ids onto one direction);
    // exact copies planted on the target side for even ids — identical
    // quantized projections → identical signature → same band, never lost
    val vecs = (0 until 400).map(i => (i.toLong, Array.tabulate(64)(d =>
      (((i * 37 + d * 53 + i * d * 11) % 409) - 204).toDouble)))
    val src = vecs.toDF("vec_id", "v")
    val tgt = vecs.filter(_._1 % 2 == 0)
      .map { case (i, v) => (i + 1000L, v) }.toDF("vec_id", "v")
    val got = Similarity.bitextMineLsh(src, tgt, "vec_id", "v",
        k = 4, marginX1000 = 1200L, bandBits = Some(4))
      .as[(Long, Long)].collect().sorted.toSeq
    // every mined pair is a true planted copy (unrelated directions sit
    // near cosine 0 and cannot pass mutual argmax against an exact copy),
    // and most copies survive banding — a copy drops only when its band
    // is too thin to feed the margin denominator (a singleton-target band
    // yields margin exactly 1 < the 1.2 bar, by construction)
    assert(got.forall(p => p._2 == p._1 + 1000L && p._1 % 2 == 0))
    assert(got.size >= 160, s"only ${got.size} of 200 planted pairs mined")
    // the LSH form is EXACTLY bitextMine over the precomputed band column
    def band(f: org.apache.spark.sql.DataFrame) = f.withColumn("band",
      Similarity.rhpSignature(col("v"), 32).bitwiseAND(lit(15L)))
    val explicit = Similarity.bitextMine(band(src), band(tgt), "vec_id", "v",
        "band", k = 4, marginX1000 = 1200L)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == explicit)
    // default sizing follows the lshParamsFor rule: n = 600 →
    // ceil(log2(600/64)) = 4 → same banding as above
    val auto = Similarity.bitextMineLsh(src, tgt, "vec_id", "v",
        k = 4, marginX1000 = 1200L)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(auto == got)
  }
}
