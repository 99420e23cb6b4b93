package graft.operators

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.expressions.{Attribute, InSet}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, CollectMetrics, Filter}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{CoalesceExec, FilterExec, QueryExecution, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.execution.exchange.{Exchange, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.SparkTestBase
import graft.sources.RouteEventGen

/** Pins the plan-shape claims SCALE.md makes, so a regression in any of
  * them fails a test instead of only a profile: the range-prune hint
  * reaches the Parquet scan as a pushed filter, pagination plans as
  * TakeOrderedAndProject (no global window/sort materialization), and the
  * window views partition on the ring_id surrogate. */
class PlanEvidenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark

  private val sf = "/root/testdata/sf0.001"
  private lazy val re = RouteEventGen.routeEvents(spark, sf)

  test("subnet-scan range hint is pushed to the parquet scan") {
    val plan = RibViews.scan(re, "10.4.0.0/14")
      .queryExecution.executedPlan.toString
    // the simple conjunct reaches PushedFilters as ip_lo bounds
    assert(plan.contains("PushedFilters"), plan.take(2000))
    assert(plan.contains("GreaterThanOrEqual(prefix.ip_lo"), plan.take(2000))
  }

  test("pagination plans as TakeOrderedAndProject, not a global sort") {
    val plan = RibViews.page(re, skip = 40, limit = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("WindowExec"), plan.take(2000))
  }

  test("history windows partition on the ring_id surrogate") {
    val plan = RibViews.current(re).queryExecution.executedPlan.toString
    assert(plan.contains("ring_id"), plan.take(2000))
    // the wide nested tuple is not the exchange key anymore
    assert(!plan.contains("hashpartitioning(rib"), plan.take(2000))
  }

  test("supernet scan pushes the candidate-network IN-list") {
    val plan = RibViews.scanSuper(re, "10.3.9.50")
      .queryExecution.executedPlan.toString
    assert(plan.contains("In(prefix.ip_lo"), plan.take(2000))
  }

  test("bogon audit: dim broadcasts, range as join residual; no SMJ") {
    val plan = RibViews.bogonAudit(re, RibViews.bogonDim(spark))
      .queryExecution.executedPlan.toString
    // Catalyst keys the broadcast join on the version-equality conjunct
    // and keeps the range containment as the join residual — strictly
    // better than the naive BNLJ (each route probes only its family's
    // ranges); either way the route stream must never shuffle for it
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(plan.contains("BuildRight"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("update bursts: one data exchange serves windows AND the burst rollup") {
    val plan = RibViews.updateBursts(re)
      .queryExecution.executedPlan.toString
    // the lag flags, the running sum and the per-burst aggregation all
    // cluster on (rib, prefix_str): exactly ONE hash exchange on that key
    // (the grouping superset reuses the window partitioning)
    val exchanges = "hashpartitioning\\(rib".r
      .findAllIn(plan).size
    assert(exchanges == 1, s"expected 1 (rib,...) exchange, got $exchanges\n" +
      plan.take(3000))
  }

  test("json page rollup groups on surrogate longs and compiles its codegen") {
    // the key-flag aggregate — the only aggregate the page runs — must key
    // on the route_id surrogate (one long), never the wide 9-column
    // route-key struct — the struct key blew Janino's method limit and fell
    // back to interpreted eval (SCALE.md P6 wart). SparkTestBase runs with
    // spark.sql.codegen.fallback=false, so actually EXECUTING the page
    // proves every generated stage compiles; the plan-string check pins
    // the grouping keys so a regression is named, not just slow.
    val params = RibJson.RibParams(skip = 0, limit = 20, maxDepth = 5)
    val flags = RibJson.keyFlags(re, "ipv4u",
      graft.filter.FilterParser.parse("10.4.0.0/14"), params)
    val plan = flags.queryExecution.executedPlan.toString
    val aggKeys = "(?:HashAggregate|ObjectHashAggregate)\\(keys=\\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq
    assert(aggKeys.nonEmpty, plan.take(3000))
    aggKeys.foreach { k =>
      assert(!k.contains("rib#") && !k.contains("__rk"),
        s"wide-struct aggregate key leaked back into the page rollup: [$k]")
    }
    assert(flags.collect().nonEmpty)
    val (items, found, length) = RibJson.jsonPage(re, "ipv4u", "10.4.0.0/14", params)
    assert(items.nonEmpty && found > 0 && length > 0)
  }

  private val aqe = new AdaptiveSparkPlanHelper {}

  /** The query executions `body` runs, in order. The listener bus delivers
    * in order, so once a marker action's event has arrived every event of
    * `body` has arrived before it. */
  private def executionsOf(body: => Unit): Seq[QueryExecution] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    spark.listenerManager.register(listener)
    val marker = spark.range(1).toDF()
    try {
      body
      marker.collect()
      val deadline = System.nanoTime + 60L * 1000 * 1000 * 1000
      while (!seen.asScala.exists(_ eq marker.queryExecution) && System.nanoTime < deadline)
        Thread.sleep(5)
    } finally spark.listenerManager.unregister(listener)
    assert(seen.asScala.exists(_ eq marker.queryExecution), "marker execution never arrived")
    seen.asScala.toSeq.filterNot(_ eq marker.queryExecution)
  }

  /** Runs `body` with the rib state off (it answers a page only for a
    * slice within the broadcast bound), so every page runs the Spark key
    * pass. */
  private def onSparkKeyPass[T](body: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    spark.conf.set(key, "-1")
    try body finally spark.conf.unset(key)
  }

  /** The key pass and the entry fetch of one matched ipv4u page, with the
    * observed-count plan checks every key pass must meet. */
  private def pageExecutions(): (QueryExecution, QueryExecution) = {
    val params = RibJson.RibParams(skip = 0, limit = 20, maxDepth = 5)
    var page: (Seq[RibJson.PageItem], Long, Long) = null
    val qes = onSparkKeyPass(executionsOf {
      page = RibJson.jsonPage(re, "ipv4u", "10.4.0.0/14", params)
    })
    assert(page._1.nonEmpty && page._2 > 0 && page._3 >= page._2)
    // a matched page: the key pass, then the entries
    assert(qes.length == 2, qes.map(_.executedPlan.toString.take(500)).mkString("\n\n"))
    qes.foreach { qe =>
      assert(aqe.collect(qe.executedPlan) { case c: InMemoryTableScanExec => c }.isEmpty &&
        !qe.executedPlan.toString.contains("InMemoryRelation"), qe.executedPlan.toString)
    }
    val (keyPass, entries) = qes.partition(_.optimizedPlan.exists(_.isInstanceOf[CollectMetrics]))
    assert(keyPass.length == 1, qes.map(_.optimizedPlan.toString.take(800)).mkString("\n\n"))
    val qe = keyPass.head
    // the counts are observed right above the route_id aggregate, and the
    // page's __m filter stays above them, so the metrics see every key
    val metrics = qe.optimizedPlan.collect { case c: CollectMetrics => c }
    assert(metrics.length == 1, qe.optimizedPlan.toString)
    metrics.head.child match {
      case a: Aggregate =>
        assert(a.groupingExpressions.collect { case r: Attribute => r.name } == Seq("route_id"),
          qe.optimizedPlan.toString)
      case other => fail(s"CollectMetrics over ${other.nodeName}\n${qe.optimizedPlan}")
    }
    assert(!metrics.head.child.exists {
      case f: Filter => f.references.exists(_.name == "__m")
      case _ => false
    }, qe.optimizedPlan.toString)
    assert(qe.optimizedPlan.exists {
      case f: Filter => f.child.isInstanceOf[CollectMetrics]
      case _ => false
    }, qe.optimizedPlan.toString)
    (qe, entries.head)
  }

  test("json page entries reach the log via an InSet filter on route_id, no join, no exchange") {
    // the page keys (≤ limit longs) filter the rib's slice as one set
    // lookup in the scan's stage: no broadcast, no join, no shuffle
    val (_, entries) = pageExecutions()
    val plan = entries.executedPlan
    assert(aqe.collect(plan) {
      case f: FilterExec => f.condition.collect {
        case InSet(a: Attribute, _) if a.name == "route_id" => a
      }
    }.flatten.length == 1, plan.toString)
    assert(aqe.collect(plan) {
      case j: BaseJoinExec => j
      case e: Exchange => e
    }.isEmpty, plan.toString)
  }

  test("json page key pass shares one route_id exchange") {
    // the slice is hash-partitioned on route_id once: the depth window and
    // the aggregate share that exchange, and the page's
    // TakeOrderedAndProject runs above it with no global sort
    val (keyPass, _) = pageExecutions()
    val plan = keyPass.executedPlan.toString
    val shuffles = aqe.collect(keyPass.executedPlan) { case e: ShuffleExchangeExec => e }
    assert(shuffles.length == 1, plan)
    val keys = shuffles.head.outputPartitioning match {
      case h: HashPartitioning => h.expressions.map {
        case a: Attribute => a.name
        case e => e.sql
      }
      case other => Seq(other.toString)
    }
    assert(keys == Seq("route_id"), plan)
    assert(aqe.collect(keyPass.executedPlan) {
      case c: CoalesceExec => c
      case s: SortExec if s.global => s
    }.isEmpty && plan.contains("TakeOrderedAndProject"), plan)
  }

  test("a page shape compiles once") {
    // pages that differ only in a request value generate the same code in
    // every execution, so the second one reuses the first one's classes
    // (the code only: each subtree's plan text prints the values)
    def code(filter: String, p: RibJson.RibParams, rib: String = "ipv4u"): Seq[Seq[String]] =
      onSparkKeyPass(executionsOf { RibJson.jsonPage(re, rib, filter, p) })
        .map(qe => codegenStringSeq(qe.executedPlan).map(_._2))
    val p = RibJson.RibParams(skip = 0, limit = 5, maxDepth = 5)
    val first = RibJson.jsonPage(re, "ipv4u", "10.1.0.0/16", p)._1
    assert(first.length == 5)
    val jan5 = 1704412800000L
    val pairs = Seq(
      "v4 /16" -> (() => code("10.1.0.0/16", p), () => code("10.2.0.0/16", p)),
      "exact v6 prefix" -> (() => code("2001:0:6:8::/64", p, "ipv6u"),
        () => code("2001:0:8:b::/64", p, "ipv6u")),
      "after= id" -> (() => code("10.1.0.0/16", p.copy(pageAfterId = Some(first(1).routeId))),
        () => code("10.1.0.0/16", p.copy(pageAfterId = Some(first(3).routeId)))),
      "supernet address" -> (() => code("10.3.9.50", p), () => code("10.6.7.255", p)),
      "changed_after" -> (() => code("10.1.0.0/16", p.copy(changedAfterMs = Some(jan5))),
        () => code("10.1.0.0/16", p.copy(changedAfterMs = Some(jan5 + 5 * 86400000L)))))
    pairs.foreach { case (what, (a, b)) =>
      val (ca, cb) = (a(), b())
      assert(ca.nonEmpty && ca.length == cb.length, s"$what: ${ca.length} vs ${cb.length} executions")
      ca.zip(cb).zipWithIndex.foreach { case ((x, y), i) =>
        assert(x.nonEmpty && x.length == y.length, s"$what, execution $i: codegen subtrees")
        x.zip(y).foreach { case (sx, sy) =>
          val diff = sx.linesIterator.zip(sy.linesIterator).find { case (l, r) => l != r }
          assert(sx == sy, s"$what, execution $i differs: $diff")
        }
      }
    }
  }

  test("json page SQL executions: 2 matched, at most 3 with after= or the supernet fallback") {
    val params = RibJson.RibParams(skip = 0, limit = 5, maxDepth = 5)
    var first: Seq[RibJson.PageItem] = Nil
    assert(onSparkKeyPass(executionsOf {
      first = RibJson.jsonPage(re, "ipv4u", "10.4.0.0/14", params)._1
    }).length == 2)
    assert(first.length == 5)
    var next: Seq[RibJson.PageItem] = Nil
    assert(onSparkKeyPass(executionsOf {
      next = RibJson.jsonPage(re, "ipv4u", "10.4.0.0/14",
        params.copy(pageAfterId = Some(first.last.routeId)))._1
    }).length <= 3)
    assert(next.nonEmpty && next.head.routeId != first.last.routeId)
    var fallback: (Seq[RibJson.PageItem], Long, Long) = null
    assert(onSparkKeyPass(executionsOf {
      fallback = RibJson.jsonPage(re, "ipv4u", "10.3.9.50", params)
    }).length <= 3)
    assert(fallback._2 == 0 && fallback._1.nonEmpty)
  }

  test("key-only json page SQL executions on the route-key index: 1 warm, 0 for an empty page") {
    val params = RibJson.RibParams(skip = 0, limit = 5, maxDepth = 5)
    val f = "10.4.0.0/14"
    RibJson.jsonPage(re, "ipv4u", f, params) // builds the rib's index
    var first: (Seq[RibJson.PageItem], Long, Long) = null
    val warm = executionsOf { first = RibJson.jsonPage(re, "ipv4u", f, params) }
    // the entry fetch alone: no aggregate, no observed counts
    assert(warm.length == 1 && first._1.length == 5 && first._2 > 5, warm.map(_.optimizedPlan))
    assert(!warm.head.optimizedPlan.exists {
      case _: Aggregate | _: CollectMetrics => true
      case _ => false
    }, warm.head.optimizedPlan.toString)
    for ((what, pageF, p) <- Seq(
        ("after=", f, params.copy(pageAfterId = Some(first._1.last.routeId))),
        ("supernet fallback with items", "10.3.9.50", params))) {
      var page: (Seq[RibJson.PageItem], Long, Long) = null
      assert(executionsOf { page = RibJson.jsonPage(re, "ipv4u", pageF, p) }.length == 1, what)
      assert(page._1.nonEmpty, what)
    }
    // a supernet page with no supernet and a skip past the end list no
    // key: no execution at all
    for ((pageF, p) <- Seq(("192.0.2.1", params), (f, params.copy(skip = first._2.toInt)))) {
      var page: (Seq[RibJson.PageItem], Long, Long) = null
      assert(executionsOf { page = RibJson.jsonPage(re, "ipv4u", pageF, p) }.isEmpty, pageF)
      assert(page._1.isEmpty && page._3 == first._3, pageF)
    }
    // an attribute term, onlyactive or maxdepth=0: from the rib state's
    // entry part, built by the first page; a warm page runs the entry
    // fetch alone
    for ((pageF, p) <- Seq(("10.4.0.0/14 community:10:25", params),
        (f, params.copy(onlyActive = true)), ("10.3.9.50", params.copy(maxDepth = 0)))) {
      executionsOf { RibJson.jsonPage(re, "ipv4u", pageF, p) } // builds the entry part
      var page: (Seq[RibJson.PageItem], Long, Long) = null
      val warm = executionsOf { page = RibJson.jsonPage(re, "ipv4u", pageF, p) }
      assert(warm.length == 1 && page._1.nonEmpty, s"$pageF $p ${warm.map(_.optimizedPlan)}")
      assert(!warm.head.optimizedPlan.exists {
        case _: Aggregate | _: CollectMetrics => true
        case _ => false
      }, s"$pageF $p ${warm.head.optimizedPlan}")
    }
  }

  test("an ipv4u page's key-flag plan compiles only the ipv4u key algebra") {
    // the match flag is specialized to the page's rib: no evpn, mvpn or l2
    // branch of the 15-way dispatch reaches the depth-window stage, and the
    // scan reads none of those key columns
    val plan = RibJson.keyFlags(re, "ipv4u",
      graft.filter.FilterParser.parse("10.4.0.0/14 community:10:25"),
      RibJson.RibParams(limit = 20, maxDepth = 5))
      .queryExecution.executedPlan.toString
    val exotic = "\\b(evpn|mvpn|l2)\\b".r.findAllIn(plan).toSeq
    assert(exotic.isEmpty, s"${exotic.distinct}\n${plan.take(4000)}")
    assert(plan.contains("prefix"), plan.take(4000))
  }

  test("wire decompose stays single-pass: one encode + one decode MapPartitions") {
    // the union-of-explodes shape re-ran the upstream per branch (5 decode
    // passes, ~2.2× measured); the concat-of-transforms + one-explode form
    // must keep exactly the encode/decode MapPartitions pair in the plan
    val events = graft.queries.Tables(spark, sf, "events")
    val plan = graft.sources.UpdateDecompose.decompose(
      graft.sources.BgpWire.decodeUpdates(graft.sources.BgpWire.encodeUpdates(
        graft.sources.UpdateDecompose.messages(events))))
      .queryExecution.executedPlan.toString
    val nMapPartitions = "MapPartitions".r.findAllIn(plan).length
    assert(nMapPartitions == 2, s"expected 2 MapPartitions, got $nMapPartitions:\n${plan.take(3000)}")
    assert("Generate".r.findAllIn(plan).length == 1, plan.take(3000))
  }

  test("BMP dispatch joins the registry by broadcast; frames never shuffle") {
    // the registry is a bounded dimension (one row per monitored session):
    // a shuffled join here would move the whole frame stream at 100 TB
    val events = graft.queries.Tables(spark, sf, "events")
    val bmp = graft.sources.BgpWire.decodeBmpFrames(
      graft.sources.BgpSession.bmpStream(events))
    val reg = graft.sources.BgpSession.sessionRegistry(bmp)
    val plan = graft.sources.BgpSession.dispatchUpdates(bmp, reg)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("kmeans assignment is a scan-level projection: no Exchange") {
    val emb = graft.queries.Tables(spark, sf, "embeddings")
    val cents = graft.pipeline.Similarity.ivfCentroids(
      emb, "vec_id", "embedding")
    // assignment against trained centroid literals (same path kmeansAssign
    // takes after training): one narrow projection over the corpus scan
    val assigned = graft.pipeline.Similarity.kmeansAssign(
      emb, "vec_id", "embedding")
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(cents.nonEmpty)
  }

  test("mrl rerank: partial top-cand precedes the shuffle, re-attach broadcasts") {
    // the scale claims in Similarity.mrlTopK's scaladoc, pinned: the
    // candidate cut must plan as WindowGroupLimit partial+final around the
    // one Exchange (per-partition top-cand BEFORE any row moves), the
    // probe/candidate re-attach joins must broadcast, and no sort-merge
    // join may appear anywhere in the two-stage plan
    val emb = graft.queries.Tables(spark, sf, "embeddings")
    val probes = emb.where(col("vec_id").isin(0L, 17L))
    val plan = graft.pipeline.Similarity
      .mrlTopK(emb, probes, "vec_id", "embedding", 10, prefixDims = 16, cand = 30)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("exact-k per stratum plans as WindowGroupLimit partial top-k") {
    // the scaladoc scale claim: rank <= k must rewrite to per-partition
    // partial top-k before the stratum shuffle, so a huge stratum never
    // funnels through one task unfiltered
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.pipeline.Sampling
      .exactPerStratum(docs, "doc_id", "source", k = 7, salt = "xk")
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("tfidf keywords: WindowGroupLimit top-k, broadcast df attach, no SMJ") {
    // the scaladoc scale claims: per-doc rank <= k must partial-top-k
    // before the doc exchange, and the (vocabulary-sized) df side must
    // broadcast — a sort-merge join would sort both word streams
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val kw = graft.pipeline.TextAnalysis
      .tfidfKeywords(docs, "doc_id", "text", k = 3)
    kw.count() // materialize: AQE finalizes the df-attach join strategy
    val plan = kw.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("global exact-k sample plans as TakeOrderedAndProject, no global sort") {
    // orderBy().limit(k) must rewrite to per-partition top-k heaps + one
    // k-row merge — a Sort over the corpus would serialize the world
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.pipeline.Sampling.exactK(docs, "doc_id", 25, salt = "gk")
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
  }

  test("binary ANN: Hamming stage plans like the mrl rerank (partial top-cand, broadcast re-attach)") {
    // binaryTopK shares mrlTopK's two-stage discipline — same plan pins:
    // WindowGroupLimit partial+final around the one candidate Exchange,
    // broadcast joins for probe/vector re-attach, no sort-merge join
    val emb = graft.queries.Tables(spark, sf, "embeddings")
    val probes = emb.where(col("vec_id").isin(0L, 17L))
    val plan = graft.pipeline.Similarity
      .binaryTopK(emb, probes, "vec_id", "embedding", 10, cand = 30)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("boilerplate common-shingle join broadcasts at runtime via AQE") {
    // the join input is the ≥minDocs COMMON set (small — boilerplate is the
    // rare tail), not full dfreq: AQE's runtime size stats must turn the
    // pairs⋈common join into a broadcast; full-dfreq could never broadcast
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val bp = graft.pipeline.TextAnalysis.boilerplateRatio(docs, "doc_id", "text")
    bp.count() // materialize: AQE finalizes join strategy from runtime stats
    val plan = bp.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("line dedup plans as groupBy+join: no window, no single partition") {
    // the keep-first election must be the map-side-combined min + join
    // form — a row_number window over the line fingerprint would funnel
    // every occurrence of a hot boilerplate line into one task
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val ld = graft.pipeline.TextAnalysis.lineDedup(docs, "doc_id", "text")
    val plan = ld.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), plan.take(3000))
    assert(!plan.contains("SinglePartition"), plan.take(3000))
  }

  test("semantic dedup: cluster-keyed pair join, no window, no cartesian") {
    // assignment/centrality must stay scan-level projections against
    // centroid literals and the quadratic term must be confined to the
    // cluster-keyed equi-join — a cartesian (or an all-rows window) here
    // would be the all-pairs scale-killer the clustering exists to block
    val emb = graft.queries.Tables(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val sd = graft.pipeline.Dedup.semanticDedup(
      emb, "vec_id", "embedding", 0.9)
    val plan = sd.queryExecution.executedPlan.toString
    assert(!plan.contains("Cartesian"), plan.take(3000))
    assert(!plan.contains("WindowExec"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
  }

  test("bigram LM is linear: count aggs + equi-joins, no window/cartesian") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val lm = graft.pipeline.TextAnalysis.bigramLmScore(docs, "doc_id", "text")
    val plan = lm.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), plan.take(3000))
    assert(!plan.contains("Cartesian"), plan.take(3000))
    // exactly ONE single-partition exchange is allowed: the 1-row |V|
    // vocabulary aggregate that rides the plan as a scalar (laziness fix,
    // VERDICT r9 item 4) — the document/bigram data path itself must
    // never funnel into one task
    val nSingle = "SinglePartition".r.findAllIn(plan).length
    assert(nSingle <= 1, s"data-path SinglePartition leaked: $nSingle\n${plan.take(3000)}")
  }

  test("cosine LSH dedup: the pair distinct carries bare ids, no vectors") {
    // multi-band collisions dedup on (a, b) ONLY — an embedding payload in
    // the distinct exchange ships ~8 KB/pair at 1k-dim (VERDICT r9 item
    // 5); vectors re-attach after the distinct
    val emb = graft.queries.Tables(spark, sf, "embeddings")
    val nd = graft.pipeline.Dedup.cosineNearDup(
      emb, "vec_id", "embedding", 0.9, blockCol = None)
    val plan = nd.queryExecution.executedPlan.toString
    val distinctAggKeys = "HashAggregate\\(keys=\\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).map(_.group(1)).filter(_.contains("a#")).toSeq
    assert(distinctAggKeys.nonEmpty, plan.take(3000))
    distinctAggKeys.foreach { k =>
      assert(!k.contains("va#") && !k.contains("vb#") && !k.contains("v#"),
        s"vector payload leaked into the pair-distinct key: [$k]")
    }
    assert(nd.columns.toSeq == Seq("a", "b", "cosine"))
  }

  test("cosine LSH band self-join reuses the signature exchange at SMJ scale") {
    // at corpus scale the band join is sort-merge: both sides carry the
    // identical Exchange over the signature subtree and the second must
    // plan as ReusedExchange — the corpus is scanned and SIGNED once.
    // (Under AQE broadcast on small corpora the subtree evaluates twice;
    // measured in round 10: forcing a repartition there costs more than
    // the duplicate pass, so SMJ-side reuse is the claim to pin.)
    val emb = graft.queries.Tables(spark, sf, "embeddings")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val nd = graft.pipeline.Dedup.lshCandidatePairs(
        emb.select(col("vec_id").as("id"),
          transform(col("embedding"), x => x.cast("double")).as("v")),
        planes = 32, chunks = 4, maxHamming = Some(10))
      nd.collect() // AQE materializes stage reuse only in the FINAL plan
                   // (of THIS query execution — count() would spawn another)
      val plan = nd.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(3000))
      // the pinned claim is "the corpus is scanned and SIGNED once": either
      // an explicit ReusedExchange node, or (AQE final plan) exactly ONE
      // materialized chunk-key exchange — both conditions on the chunk
      // exchange itself, not on some unrelated reused exchange elsewhere
      assert(plan.contains("isFinalPlan=true"), plan.take(500))
      val chunkExchanges =
        "Exchange hashpartitioning\\(chunk".r.findAllIn(plan).length
      assert(plan.contains("ReusedExchange") || chunkExchanges == 1,
        s"chunk exchanges=$chunkExchanges\n${plan.take(3000)}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("classifier scoring is scan-local: model literal, no Exchange") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val w = (0 until 64).map(b => (b * 37 + 11) % 7)
    val scored = docs.select(col("doc_id"),
      graft.pipeline.TextAnalysis.classifierMargin(col("text"), w).as("m"))
    val plan = scored.queryExecution.executedPlan.toString
    // the hashing-trick weight table rides in as an array literal: inference
    // must be a pure projection over the scan — no join, no broadcast
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
  }

  test("centroid assignment stays in whole-stage codegen at corpus-sized nlist") {
    // the round-11 cliff: the composed score-array argmax fell out of
    // codegen at nlist=142 and evaluated interpreted (8x on 10x data).
    // The native kernel must appear as ONE nearest_cell call INSIDE a
    // codegen'd (*-prefixed) stage — and the composed array_position
    // machinery must be gone from the plan entirely.
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val assigned = graft.pipeline.Similarity.kmeansAssign(
      emb, "vec_id", "embedding", nlist = 64)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("nearest_cell") && l.trim.startsWith("*(")), plan.take(3000))
    assert(!plan.contains("array_position"), plan.take(3000))
  }

  test("int8 quantization is scan-local; quantized top-k broadcasts the probes") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val qPlan = graft.pipeline.Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    // per-row projection: no shuffle, no join anywhere in the plan
    assert(!qPlan.contains("Exchange"), qPlan.take(3000))
    assert(!qPlan.contains("Join"), qPlan.take(3000))
    val probes = emb.where(col("vec_id").isin(0L, 3L))
    val tPlan = graft.pipeline.Similarity.int8TopK(
        emb, probes, "vec_id", "embedding", 5)
      .queryExecution.executedPlan.toString
    // the corpus never shuffles for scoring: probes ride a broadcast
    assert(tPlan.contains("Broadcast"), tPlan.take(3000))
    assert(!tPlan.contains("SortMergeJoin"), tPlan.take(3000))
  }

  test("quality gate: histogram threshold, no global sort of the corpus") {
    // keepTopByScore's scaladoc scale claims, pinned: the corpus never
    // sorts globally (no TakeOrdered/Sort over the doc scan — the only
    // window runs over the score HISTOGRAM), and the threshold rejoins
    // the scan as a broadcast nested-loop against one row
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), length(col("text")).cast("long").as("score"))
    val plan = graft.pipeline.Sampling.keepTopByScore(docs, "score", 250)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // exactly one WindowExec — over the aggregated histogram, whose input
    // is the HashAggregate, not the raw scan
    assert("Window".r.findAllIn(plan).length >= 1, plan.take(3000))
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("keyset continuation (pageAfter) plans as TakeOrderedAndProject") {
    val tok = RibViews.pageToken(ring = true)
    val first = re.select(tok.as("t")).limit(1).collect()(0).getStruct(0)
    val fields = first.schema.fields
    val tokLit = struct(fields.indices.map(i =>
      lit(first.get(i)).cast(fields(i).dataType).as(s"k$i")): _*)
    val plan = RibViews.pageAfter(re, Some(tokLit), 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
    assert(!plan.contains("WindowExec"), plan.take(2000))
  }

  test("incremental index probe prunes BOTH text sides by broadcast semi-join") {
    // dedupAgainstIndex's 100 TB shape: the candidate id sets (near-dup
    // density — small) broadcast into left-semi prunes of the base and
    // increment TEXT scans, so the exact-verify shingle explode touches
    // candidate docs only. A shuffled (SMJ) semi here would move the
    // corpus text through an exchange — the exact cost the index probe
    // exists to avoid (VERDICT r14 ask #8).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text"))
    val base = docs.where(col("doc_id") % 2 === 0)
    val inc = docs.where(col("doc_id") % 2 === 1)
    val index = graft.pipeline.Dedup.winnowFingerprints(
      base, "doc_id", "text", k = 3, w = 8)
    val dd = graft.pipeline.Dedup.dedupAgainstIndex(
      inc, base, index, "doc_id", "text", k = 3, w = 8, threshold = 0.6)
    val plan = dd.queryExecution.executedPlan.toString
    val semis = "BroadcastHashJoin [^\n]*LeftSemi".r.findAllIn(plan).length
    assert(semis >= 2, s"want 2 broadcast semi prunes, got $semis: " +
      plan.take(3000))
    assert(!"SortMergeJoin [^\n]*LeftSemi".r.findAllIn(plan).hasNext,
      plan.take(3000))
  }

  test("gopher repetition: one n-gram Generate, every window keyed per-doc") {
    // repetitionSignals' scale shape (VERDICT r14 ask #8): the three gram
    // widths come from ONE words explode + ONE per-doc window pass + ONE
    // array Generate (not three shingle passes), and no window runs
    // unpartitioned — an all-rows window would funnel the corpus into a
    // single task.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.pipeline.TextAnalysis
      .repetitionSignals(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    // exactly 4 Generates: lines, paragraphs, words, the 3-width gram array
    val gens = "Generate ".r.findAllIn(plan).length
    assert(gens == 4, s"want 4 Generates, got $gens: " + plan.take(3000))
    assert(!plan.contains("SinglePartition"), plan.take(3000))
    // the lead() pass is the only WindowExec and it partitions on the id
    val windows = "Window \\[[^\n]*\\], \\[id#[0-9]+L\\]".r
      .findAllIn(plan).length
    assert(windows == 1, plan.take(3000))
  }

  test("rpkiValidate: ROA dimension broadcasts, route stream never sort-merges") {
    // the covering condition is a range predicate, so the join must plan
    // as BroadcastNestedLoopJoin with the ROA side broadcast — a
    // sort-merge (impossible for non-equi anyway) or a shuffled NLJ
    // would move the route stream for an 8-row dimension
    val s = spark
    import s.implicits._
    val roas = Seq((167772160L, 16L, 24L, 100L))
      .toDF("roa_ip", "roa_plen", "roa_maxlen", "roa_origin")
    val plan = RibViews.rpkiValidate(re, broadcast(roas))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("asRelationships: broadcast degree join, no synthetic-id shuffle") {
    // the Gao inference's scale shape (VERDICT r14 ask #8): the degree
    // table joins the path-node explode by BROADCAST (the AS set is
    // dimension-sized), and the top election keys on the distinct path
    // array itself — no window, no cartesian, and no row_number-style
    // synthetic id whose generation would force an extra exchange.
    val plan = RibViews.asRelationships(re)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("WindowExec") && !plan.contains("Window ["),
      plan.take(3000))
    assert(!plan.contains("monotonically_increasing_id"), plan.take(3000))
  }

  test("urlDedup: one URL-keyed exchange, no join, scan-local normalization") {
    // the operator's whole cost claim: normalization is codegen'd regex
    // in the scan, the ONLY exchange is the min-window on url_norm —
    // no join anywhere, no second shuffle. NULL-URL docs are routed
    // AROUND the exchange (union of a scan-local branch), so a crawl
    // corpus heavy in URL-less docs can never skew the NULL partition.
    import spark.implicits._
    val d = (0 until 50).map(i => (i.toLong,
        if (i % 7 == 0) null else s"https://ex${i % 5}.com/p"))
      .toDF("doc_id", "url")
    val plan = graft.pipeline.Dedup.urlDedup(d, "doc_id", "url")
      .queryExecution.executedPlan.toString
    assert(plan.contains("hashpartitioning(url_norm"), plan.take(3000))
    assert(!plan.contains("Join"), plan.take(3000))
    assert(plan.sliding("Exchange".length).count(_ == "Exchange") == 1,
      plan.take(3000))
  }

  test("epochDedup accumulators are lineage-truncated after 5 epochs") {
    // VERDICT r16 watch item #1: the admitted-shingle union must be
    // localCheckpointed like the index — otherwise a later epoch's probe
    // re-derives epoch-1 shingles through an E-deep union plan. After 5
    // epochs BOTH accumulators must optimize to a single materialized-RDD
    // scan: no Union, no Join, no re-derivation of any earlier epoch.
    // (r18 opt round: the standing-corpus accumulator is the SHINGLE set
    // (id, h) instead of raw text — same lineage discipline applies.)
    import spark.implicits._
    def txt(seed: String) = (0 until 20).map(i => s"$seed$i").mkString(" ")
    val d = (0 until 5).flatMap { e =>
      Seq((e * 10L + 1L, e.toLong, txt(s"e${e}a")),
        (e * 10L + 2L, e.toLong, txt(s"e${e}b")))
    }.toDF("doc_id", "epoch", "text")
    val (_, index, baseSh) = graft.pipeline.Dedup.epochDedupWithState(
      d, "doc_id", "text", "epoch", Seq(0L, 1L, 2L, 3L, 4L))
    for ((nm, df) <- Seq("index" -> index, "baseShingles" -> baseSh)) {
      val plan = df.queryExecution.optimizedPlan.toString
      assert(plan.contains("LogicalRDD"), s"$nm: ${plan.take(2000)}")
      assert(!plan.contains("Union"), s"$nm: ${plan.take(2000)}")
      assert(!plan.contains("Join"), s"$nm: ${plan.take(2000)}")
    }
  }
}
