package graft.operators

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeSeq, BasePredicate, BindReferences, Expression, GenericInternalRow, JoinedRow, Predicate}
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SizeEstimator
import graft.operators.RibJson.RibParams

/** One rib's serving state at one log version (its file listing): what a
  * `/api/json` page's key pass reads, held on the driver — the reference's
  * in-RAM route table (src/bgprib.rs) with its interned attribute stores
  * (SURVEY §1.1), beside the engine.
  *
  * It has two parts, each built by one Spark job the first time a page
  * needs it; pages that arrive meanwhile wait for it, and a failed build is
  * retried by the next page:
  *
  *  - the key part: the rib's route keys in page order (`route_id`, then
  *    the route-key columns). Every page reads it.
  *  - the entry part: every history entry of the rib, grouped by key, then
  *    ring, oldest first in a ring: its `ts` and `active`, and one
  *    dictionary id per attribute component that a filter term reads
  *    (`nexthop`, `as_list`, `comms`, `extcomms`, and each position of
  *    `attr_strs`), whose distinct values each component's dictionary
  *    holds. Only a page with an attribute term or a response filter
  *    (`onlyactive`, `changed_*`) reads it, so a log whose version changes
  *    per micro-batch and is read by key-only pages never builds it.
  *
  * A page's predicates are its own compiled columns
  * ([[graft.filter.FilterCompiler]] stays the only copy of the filter's
  * semantics), resolved against the state's row — the key row, joined with
  * a row filled from the dictionaries — and generated as one Catalyst
  * predicate. Request values are [[graft.functions.Param]]s, so a page
  * shape generates one class.
  *
  * The log must be one file relation whose rib files fit Spark's own bound
  * on what it collects to the driver, `spark.sql.autoBroadcastJoinThreshold`
  * (-1 turns the state off). A new file listing is a new version, whose
  * state replaces the rib's old one. */
final class RibState private (val version: Set[(String, Long, Long)], spark: SparkSession,
    slice: () => DataFrame, ribName: String) {
  import RibState._

  /** The key part: its row schema and its rows, in page order. */
  private lazy val keys: (StructType, Array[InternalRow]) =
    collect(routeKeys(slice()), "ribStateKeys")

  private lazy val ids: Array[Long] = keys._2.map(_.getLong(0))

  private lazy val entries: Entries = {
    val t0 = System.nanoTime
    val e = Entries.build(slice(), ids)
    val ms = (System.nanoTime - t0) / 1000000
    val dicts = Components.indices.map(c => s""""${Components(c)}":${e.dicts(c).length}""") :+
      e.dicts.drop(Components.length).map(_.length).mkString(""""attr_strs":[""", ",", "]")
    System.err.println(s"""graft: rib state {"rib":"$ribName","files":${version.size},""" +
      s""""keys":${ids.length},"entries":${e.ts.length},"dicts":{${dicts.mkString(",")}},""" +
      s""""key_bytes":${SizeEstimator.estimate(keys)},"entry_bytes":${SizeEstimator.estimate(e)},""" +
      s""""build_ms":$ms}""")
    e
  }

  /** Route keys in the rib. */
  def length: Int = ids.length

  /** The `route_id` of the key at position `k`. */
  def routeId(k: Int): Long = ids(k)

  /** The positions, in page order, of the keys a page finds: those with an
    * in-depth entry that `accept` holds for. An entry is in depth when it
    * passes the response filter and its rank among its ring's passing
    * entries, oldest first, is above the ring's size less `maxDepth`
    * ([[RibViews.entryMatchFlag]]). Without a response filter, a key-only
    * `accept` holds for a key exactly when it holds for the key's newest
    * entries, which are in depth for any `maxDepth` above 0 and for none
    * at 0; the entry part is not read. */
  def matching(accept: Column, p: RibParams): IndexedSeq[Int] =
    if (!readsEntries(accept) && !p.onlyActive && p.changedAfterMs.isEmpty &&
        p.changedBeforeMs.isEmpty)
      if (p.maxDepth > 0) keyHolds(accept) else IndexedSeq.empty
    else {
      val e = entries
      val holds = entryHolds(accept, e)
      val row = e.cursor()
      def passes(i: Int): Boolean = (!p.onlyActive || e.active(i)) &&
        p.changedAfterMs.forall(a => e.ts(i) != NullTs && e.ts(i) > a) &&
        p.changedBeforeMs.forall(b => e.ts(i) != NullTs && e.ts(i) < b)
      ids.indices.filter { k =>
        row.key(keys._2(k))
        (e.keyRings(k) until e.keyRings(k + 1)).exists { r =>
          val (from, to) = (e.ringStarts(r), e.ringStarts(r + 1))
          var rnPass = 0L
          (from until to).exists { i =>
            passes(i) && { rnPass += 1; rnPass > to - from - p.maxDepth.toLong } &&
              holds.eval(row.entry(i))
          }
        }
      }
    }

  /** The positions, in page order, of the keys with any entry that `pred`
    * holds for, in depth or not, passing the response filter or not: the
    * supernet fallback's candidates. */
  def holding(pred: Column): IndexedSeq[Int] =
    if (!readsEntries(pred)) keyHolds(pred)
    else {
      val e = entries
      val holds = entryHolds(pred, e)
      val row = e.cursor()
      ids.indices.filter { k =>
        row.key(keys._2(k))
        (e.ringStarts(e.keyRings(k)) until e.ringStarts(e.keyRings(k + 1)))
          .exists(i => holds.eval(row.entry(i)))
      }
    }

  /** `c`, an int over the route-key columns, at the key at position `k`. */
  def keyInt(c: Column): Int => Int = {
    val e = bind(keys._1, c)
    k => e.eval(keys._2(k)).asInstanceOf[Int]
  }

  private def keyHolds(pred: Column): IndexedSeq[Int] = {
    val holds = generate(bind(keys._1, pred))
    ids.indices.filter(k => holds.eval(keys._2(k)))
  }

  private def entryHolds(pred: Column, e: Entries): BasePredicate =
    generate(bind(StructType(keys._1.fields ++ e.schema.fields), pred))

  /** `c` resolved against rows of `schema` and bound to them. A
    * runtime-replaceable function cannot be evaluated, so its replacement
    * is taken first, as the optimizer does. */
  private def bind(schema: StructType, c: Column): Expression = {
    val plan = ReplaceExpressions(spark.createDataFrame(java.util.List.of[Row](), schema)
      .select(c).queryExecution.analyzed)
    val e = plan.expressions.head match {
      case a: Alias => a.child
      case e => e
    }
    BindReferences.bindReference(e, AttributeSeq(plan.children.head.output))
  }
}

object RibState {

  /** The columns of a route key: all that a key-only page's predicates
    * read, and what the key part holds of each key. */
  private val keyCols = Seq("prefix", "prefix_str", "rd", "labels", "l2", "mvpn", "evpn", "mdt_group")

  /** The `attrs` fields that filter terms read: each is a dictionary-encoded
    * component of the entry part, as is each position of `attr_strs`. */
  private val Components = Seq("nexthop", "as_list", "comms", "extcomms")

  /** The entry columns a page's predicates may read besides the key's. */
  private val entryCols = Seq("attrs", "attr_strs")

  /** An entry's `ts` when it is null: below every instant, as a null sorts
    * first in a ring, and failing every change-time bound. */
  private val NullTs = Long.MinValue

  /** The newest state per rib: one kept per rib. */
  private val states = new ConcurrentHashMap[String, RibState]()

  /** The rib's state at the log's version, when it answers a page whose
    * predicates are `preds`: they read route-key and entry columns only,
    * and the log is one file relation whose rib files fit the bound.
    * `slice` is the rib's slice of the log, with `route_id`. */
  def apply(events: DataFrame, ribName: String, preds: Seq[Column],
      slice: () => DataFrame): Option[RibState] = {
    val bound = events.sparkSession.conf.get(SQLConf.AUTO_BROADCASTJOIN_THRESHOLD.key)
    if (bound.startsWith("-") || !preds.flatMap(reads).forall((keyCols ++ entryCols).contains)) None
    else sliceFiles(events, ribName)
      .filter(_.map(_._2).sum <= JavaUtils.byteStringAsBytes(bound))
      .map { files =>
        val version = files.toSet
        states.compute(ribName, (_, old) =>
          if (old != null && old.version == version) old
          else new RibState(version, events.sparkSession, slice, ribName))
      }
  }

  /** The top-level columns `c` reads. */
  private def reads(c: Column): Seq[String] =
    GraftBridge.toExpression(c).collect { case a: UnresolvedAttribute => a.nameParts.head }

  private def readsEntries(c: Column): Boolean = reads(c).exists(entryCols.contains)

  /** The files that hold the rib's slice of a log that is one file
    * relation, as (path, length, mtime): the rib's partition of a log
    * partitioned by `rib`, every file of an unpartitioned one. None for
    * any other frame. */
  private def sliceFiles(events: DataFrame, ribName: String): Option[Seq[(String, Long, Long)]] =
    events.queryExecution.analyzed match {
      case LogicalRelation(fs: HadoopFsRelation, _, _, _, _)
          if fs.partitionSchema.isEmpty || fs.partitionSchema.fieldNames.toSeq == Seq("rib") =>
        Some(fs.location.listFiles(Nil, Nil)
          .filter(d => fs.partitionSchema.isEmpty || d.values.getUTF8String(0).toString == ribName)
          .flatMap(_.files).map(f => (f.getPath.toString, f.getLen, f.getModificationTime)))
      case _ => None
    }

  /** The rib's route keys in page order, one row per key. The slice fits
    * the driver bound, so it is read in one partition: the aggregate and
    * the sort run in one stage, with no exchange. */
  private def routeKeys(slice: DataFrame): DataFrame =
    slice.coalesce(1)
      .groupBy(col("route_id"))
      .agg(first(keyCols.head).as(keyCols.head), keyCols.tail.map(c => first(c).as(c)): _*)
      .orderBy(RibJson.pageOrder: _*)

  /** `df`'s schema and rows, collected in one SQL execution named `name`. */
  private def collect(df: DataFrame, name: String): (StructType, Array[InternalRow]) = {
    val qe = df.queryExecution
    (qe.analyzed.schema,
      SQLExecution.withNewExecutionId(qe, Some(name))(qe.executedPlan.executeCollect()))
  }

  /** A bound boolean expression as a generated predicate (interpreted
    * where Spark's codegen factory mode falls back to it). */
  private def generate(e: Expression): BasePredicate = {
    val p = Predicate.create(e)
    p.initialize(0)
    p
  }

  /** The entry part. Entry `i` (grouped by key in page order, then ring,
    * oldest first in a ring by (`ts`, `event_id`)) has its change time in
    * epoch millis, its `active` flag, and per component the id of its
    * value in that component's dictionary. Key `k`'s rings are
    * `keyRings(k)` until `keyRings(k + 1)`; ring `r`'s entries are
    * `ringStarts(r)` until `ringStarts(r + 1)`. `schema` is the entry row a
    * predicate reads beside the key row: `attrs` with the [[Components]],
    * and `attr_strs`, of `strsLen(i)` positions (-1 when null). */
  private final class Entries(val schema: StructType, val keyRings: Array[Int],
      val ringStarts: Array[Int], val ts: Array[Long], val active: Array[Boolean],
      val dicts: Array[Array[Any]], codes: Array[Array[Int]], strsLen: Array[Int]) {

    /** One reusable row for a page: a key row joined with an entry row
      * filled from the dictionaries. */
    final class Cursor {
      private val attrs = new GenericInternalRow(Components.length)
      private val strs = Array.tabulate(dicts.length - Components.length + 1)(n =>
        new GenericArrayData(new Array[Any](n)))
      private val entry = new GenericInternalRow(Array[Any](attrs, null))
      private val joined = new JoinedRow(null, entry)

      def key(k: InternalRow): Unit = joined.withLeft(k)

      /** The row at entry `i` of the current key. */
      def entry(i: Int): InternalRow = {
        var c = 0
        while (c < Components.length) { attrs.update(c, dicts(c)(codes(c)(i))); c += 1 }
        val n = strsLen(i)
        if (n < 0) entry.setNullAt(1)
        else {
          val a = strs(n).array
          var j = 0
          while (j < n) {
            a(j) = dicts(Components.length + j)(codes(Components.length + j)(i)); j += 1
          }
          entry.update(1, strs(n))
        }
        joined
      }
    }

    def cursor(): Cursor = new Cursor
  }

  private object Entries {

    /** The distinct values of one component, in first-seen order. */
    private final class Dict {
      private val index = new java.util.HashMap[Any, Integer]()
      val values = scala.collection.mutable.ArrayBuffer.empty[Any]

      /** `v`'s id. A view into a collected row is copied when first seen. */
      def id(v: Any): Int = {
        val i = index.get(v)
        if (i != null) i
        else {
          val own = v match {
            case r: InternalRow => r.copy()
            case a: ArrayData => a.copy()
            case s: UTF8String => s.clone()
            case other => other
          }
          index.put(own, values.length)
          values += own
          values.length - 1
        }
      }
    }

    /** The entry part of `slice`, whose keys in page order are `ids`, from
      * one collect of its entries. */
    def build(slice: DataFrame, ids: Array[Long]): Entries = {
      def opt(c: String, otherwise: => Column): Column =
        if (slice.columns.contains(c)) col(c) else otherwise
      val (schema, rows) = collect(slice.select(
        col("route_id"),
        opt("ring_id", xxhash64(col("session_id"), col("path_id"))).cast("long"),
        coalesce(unix_millis(col("ts")), lit(NullTs)),
        opt("event_id", lit(0L)).cast("long"),
        coalesce(col("active"), lit(false)),
        struct(Components.map(c => col("attrs")(c).as(c)): _*).as("attrs"),
        opt("attr_strs", lit(null).cast("array<string>")).as("attr_strs")), "ribStateEntries")
      val pos = new java.util.HashMap[Long, Int](ids.length * 2)
      ids.indices.foreach(k => pos.put(ids(k), k))
      val key = rows.map { r =>
        require(pos.containsKey(r.getLong(0)), s"an entry of route ${r.getLong(0)} outside the keys")
        pos.get(r.getLong(0))
      }
      def before(a: Int, b: Int): Boolean = {
        val (x, y) = (rows(a), rows(b))
        if (key(a) != key(b)) key(a) < key(b)
        else if (x.getLong(1) != y.getLong(1)) x.getLong(1) < y.getLong(1)
        else if (x.getLong(2) != y.getLong(2)) x.getLong(2) < y.getLong(2)
        else x.getLong(3) < y.getLong(3)
      }
      val order = Array.range(0, rows.length).sortWith(before)
      val nAttrs = Components.length
      val attrTypes = schema(5).dataType.asInstanceOf[StructType].map(_.dataType)
      val nStrs = rows.iterator.map(r => if (r.isNullAt(6)) 0 else r.getArray(6).numElements)
        .foldLeft(0)(math.max)
      val dicts = Array.fill(nAttrs + nStrs)(new Dict)
      val n = rows.length
      val codes = Array.fill(nAttrs + nStrs)(new Array[Int](n))
      val (ts, active, strsLen) = (new Array[Long](n), new Array[Boolean](n), new Array[Int](n))
      val keyRings = new Array[Int](ids.length + 1)
      val ringStarts = Array.newBuilder[Int]
      var (prevKey, prevRing, rings) = (-1, 0L, 0)
      order.indices.foreach { i =>
        val (r, k) = (rows(order(i)), key(order(i)))
        if (k != prevKey || r.getLong(1) != prevRing) {
          while (prevKey < k) { prevKey += 1; keyRings(prevKey) = rings }
          ringStarts += i
          rings += 1
          prevRing = r.getLong(1)
        }
        ts(i) = r.getLong(2)
        active(i) = r.getBoolean(4)
        val attrs = r.getStruct(5, nAttrs)
        (0 until nAttrs).foreach { c =>
          codes(c)(i) = dicts(c).id(if (attrs.isNullAt(c)) null else attrs.get(c, attrTypes(c)))
        }
        if (r.isNullAt(6)) strsLen(i) = -1
        else {
          val s = r.getArray(6)
          strsLen(i) = s.numElements
          (0 until s.numElements).foreach { j =>
            codes(nAttrs + j)(i) = dicts(nAttrs + j).id(if (s.isNullAt(j)) null else s.getUTF8String(j))
          }
        }
      }
      while (prevKey < ids.length) { prevKey += 1; keyRings(prevKey) = rings }
      ringStarts += n
      new Entries(StructType(schema.fields.drop(5)), keyRings, ringStarts.result(), ts, active,
        dicts.map(_.values.toArray), codes, strsLen)
    }
  }
}
