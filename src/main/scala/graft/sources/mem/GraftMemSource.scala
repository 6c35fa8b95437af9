package graft.sources.mem

import java.util

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector over an in-process document store — the Spark
  * shape of the reference's NoSQL connectors.
  *
  * The reference's core trick is pushdown query construction: DSL filters
  * compile into the native `find(query)`/CQL so predicates never run
  * client-side (reference: src/main/scala/storage.scala:597,650-652;
  * SURVEY.md §2.2). In DataSource V2 that contract is
  * `SupportsPushDownFilters`/`SupportsPushDownRequiredColumns`: Catalyst
  * hands the connector its filters and projection, the connector serves
  * only matching rows/columns — exactly what a Mongo/Cassandra
  * implementation would send over the wire. The in-memory store plays the
  * embedded test databases the reference uses
  * (mongo-java-server MemoryBackend / cassandra-unit, SURVEY.md §5); a
  * production store would swap `MemStore` for a client, nothing else
  * changes.
  *
  * Storage is columnar, like the typed, encoded values those stores hold,
  * and in Spark's own value form: each registration is one
  * [[MemCollection]] of the DataFrame's Catalyst values — primitive arrays
  * plus a validity bitmap for numbers, booleans, timestamps (micros) and
  * dates (days), one shared `UTF8String` per distinct string, and copied
  * Catalyst values for every other type. A cursor ([[QueryEval]])
  * compares with Spark's orderings, so a pushed predicate gives exactly
  * the engine's answer, and builds only the `InternalRow`s it serves,
  * which the reader hands to Spark as they are. No row array is kept:
  * [[rowsOf]]/[[snapshot]] build the external rows `df.collect()` returned.
  *
  * Usage: `MemStore.register("langs", df)` then
  * `spark.read.format("graft.sources.mem.GraftMemSource").option("collection", "langs").load()`.
  */
object MemStore {
  private val collections = TrieMap[String, MemCollection]()

  /** Last filters each collection scan actually applied store-side —
    * instrumentation so tests can prove pushdown happened. */
  val lastPushed = TrieMap[String, Seq[Filter]]()

  /** Last query options each collection scan observed store-side
    * (maxTimeMS / readPreference — the reference's cursor options,
    * channel/package.scala:241 `maxTimeMS` and :276 `readPreference`):
    * instrumentation proving the options reach the store, like
    * `lastPushed` proves pushdown. */
  val lastOptions = TrieMap[String, Map[String, String]]()

  /** Error-injection modes, mirroring the reference's failing-producer
    * modules (`MongoObsCursorError`/`MongoObsFetchError`,
    * reference join/mongo/package.scala:40-41; tested
    * JoinMongoSpec.scala:123-214): CursorError fails at reader creation,
    * FetchError fails mid-iteration — both must surface as task/query
    * failure, never as silent truncation. */
  sealed trait FailureMode
  case object CursorError extends FailureMode
  final case class FetchError(afterRows: Int) extends FailureMode
  /** Per-fetch latency injection — lets O4 deadline tests exceed a small
    * positive maxTimeMS DETERMINISTICALLY (maxTimeMS=0 now means
    * "unbounded", MongoDB semantics, so expiry can no longer be forced
    * with a zero deadline). */
  final case class SlowFetch(delayMs: Long) extends FailureMode
  val failureModes = TrieMap[String, FailureMode]()

  /** Last limit / top-n / skip each collection scan applied store-side —
    * instrumentation proving the reference's cursor-side `sort/skip/limit`
    * (storage.scala:320-324) reached the store, like `lastPushed`. */
  val lastLimit = TrieMap[String, Int]()
  val lastTopN = TrieMap[String, (Seq[(String, Boolean)], Int)]()
  val lastOffset = TrieMap[String, Int]()

  /** Rows actually served by the store across the most recent scan of the
    * collection (reset per scan) — lets specs assert the store really
    * pruned under a pushed limit instead of serving everything. */
  val served = TrieMap[String, java.util.concurrent.atomic.AtomicLong]()

  /** Aggregate specs a scan pushed store-side (instrumentation, like
    * `lastPushed`): (group columns, rendered agg functions). */
  val lastAgg = TrieMap[String, (Seq[String], Seq[String])]()

  /** Table-sample pushed store-side: (lowerBound, upperBound, seed). */
  val lastSample = TrieMap[String, (Double, Double, Long)]()

  /** Runtime (DPP) filters per (collection, scanId): `Scan.filter` runs
    * AFTER `createReaderFactory` in BatchScanExec's lazy evaluation
    * order, so the factory cannot capture them by value — readers consult
    * this channel at `createReader` time (executed after the dynamic
    * subquery resolves). Keyed by scan identity so a stale entry from a
    * previous query can never leak into a new scan. In-process only, like
    * the rest of the store. */
  val runtimeFilters = TrieMap[(String, String), Seq[Filter]]()

  // Scan-scoped state (derived join results, runtime-filter entries) has no
  // completion callback in the DSv2 Batch contract, so it cannot be evicted
  // "on scan close" — instead both stores are BOUNDED FIFO (ADVICE r11 #4:
  // every pushed-join/DPP query used to leak a materialized join result and
  // filter entries for the JVM lifetime of a bench/test session). A scan
  // only reads its own entry right after writing it, so evicting the oldest
  // beyond the cap never touches a live scan.
  private val MaxScanScoped = 64
  private val derivedOrder = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private val runtimeOrder = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()

  private[mem] def recordRuntimeFilters(key: (String, String), fs: Seq[Filter]): Unit = {
    if (runtimeFilters.putIfAbsent(key, fs).isEmpty) runtimeOrder.add(key)
    else runtimeFilters(key) = fs
    while (runtimeOrder.size > MaxScanScoped) {
      val old = runtimeOrder.poll()
      if (old != null) runtimeFilters.remove(old)
    }
  }

  def register(name: String, df: DataFrame): Unit =
    collections(name) = MemCollection.of(df)

  /** Internal registration of store-computed derived relations (the
    * store-side join result materialized at scan time) — bounded FIFO,
    * see [[recordRuntimeFilters]]. */
  private[mem] def registerRaw(name: String, schema: StructType, rows: Array[InternalRow]): Unit = {
    val coll = MemCollection.fromRows(schema, rows)
    // on re-registration update in place (ADVICE r12: putIfAbsent with no
    // else silently kept stale rows while the wire server acked "ok") —
    // mirror recordRuntimeFilters: only a NEW name grows derivedOrder
    if (collections.putIfAbsent(name, coll).isEmpty) derivedOrder.add(name)
    else collections(name) = coll
    while (derivedOrder.size > MaxScanScoped) {
      val old = derivedOrder.poll()
      if (old != null) collections.remove(old)
    }
  }

  private[mem] def hasCollection(name: String): Boolean = collections.contains(name)

  /** Append rows to an existing collection — the "data keeps arriving"
    * half of the streaming offset-resume contract (reference S3/S4:
    * log/package.scala:56-62 resumes the store cursor at an offset). */
  def append(name: String, df: DataFrame): Unit = {
    val coll = collectionOf(name)
    require(df.schema == coll.schema,
      s"append schema mismatch for '$name': ${df.schema.simpleString} vs ${coll.schema.simpleString}")
    collections(name) = coll.append(MemCollection.of(df))
  }

  /** ONE registration, schema and columns together. A fingerprint check
    * and the rows it guards must come from the same registration —
    * separate schemaOf/rowsOf reads can straddle a concurrent
    * re-registration (registerRaw swaps the collection atomically),
    * validating the fp against the old schema and then serving the new
    * rows. */
  def collectionOf(name: String): MemCollection =
    collections.getOrElse(name,
      throw new IllegalArgumentException(s"unknown collection '$name'"))

  def schemaOf(name: String): StructType = collectionOf(name).schema

  /** The collection's rows, as `df.collect()` returned them. */
  def rowsOf(name: String): Array[Row] = collections(name).toExternalRows

  /** Atomic (schema, rows) view of ONE registration. */
  def snapshot(name: String): (StructType, Array[Row]) = {
    val coll = collectionOf(name)
    (coll.schema, coll.toExternalRows)
  }

  /** The filters a store cursor evaluates ([[ColumnFilter]]), in SQL
    * three-valued logic: a pushed filter leaves Spark's residual, so the
    * store must give exactly Spark's answer (ADVICE r11). */
  def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
        _: LessThanOrEqual | _: In | _: IsNull | _: IsNotNull => true
    case And(l, r) => supported(l) && supported(r)
    case Or(l, r) => supported(l) && supported(r)
    case Not(c) => supported(c)
    case _ => false
  }
}

/** A cursor-side aggregate: the store computes PARTIAL aggregates per
  * shard cursor (the Mongo aggregation-pipeline shape); Spark's retained
  * final aggregation merges the partials, so results are exact under any
  * sharding. */
sealed trait MemAgg { def resultType(schema: StructType): org.apache.spark.sql.types.DataType }
object MemAgg {
  import org.apache.spark.sql.types._
  case object CountAll extends MemAgg {
    def resultType(s: StructType): DataType = LongType
  }
  final case class CountCol(col: String) extends MemAgg {
    def resultType(s: StructType): DataType = LongType
  }
  final case class MinCol(col: String) extends MemAgg {
    def resultType(s: StructType): DataType = s(col).dataType
  }
  final case class MaxCol(col: String) extends MemAgg {
    def resultType(s: StructType): DataType = s(col).dataType
  }
  final case class SumCol(col: String) extends MemAgg {
    // Spark's sum result types: integral -> long, fractional -> double
    def resultType(s: StructType): DataType = s(col).dataType match {
      case ByteType | ShortType | IntegerType | LongType => LongType
      case FloatType | DoubleType => DoubleType
      case dt => dt
    }
  }

  def render(a: MemAgg): String = a match {
    case CountAll => "count(*)"
    case CountCol(c) => s"count($c)"
    case MinCol(c) => s"min($c)"
    case MaxCol(c) => s"max($c)"
    case SumCol(c) => s"sum($c)"
  }
}

/** Join-condition conjuncts the store can evaluate: column-to-column
  * equality (the shape V1 Filters cannot express — they are
  * column-vs-literal only) plus any V1-convertible residue. */
sealed trait MemJoinCond
object MemJoinCond {
  final case class ColEqCol(a: String, b: String) extends MemJoinCond
  final case class V1(f: Filter) extends MemJoinCond

  /** Parse a pushed V2 join Predicate into store-evaluable conjuncts;
    * None when any conjunct is outside the supported shapes. */
  def parse(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[Seq[MemJoinCond]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    p match {
      case and: org.apache.spark.sql.connector.expressions.filter.And =>
        for (l <- parse(and.left()); r <- parse(and.right())) yield l ++ r
      case _ if p.name() == "=" =>
        p.children() match {
          case Array(a: NamedReference, b: NamedReference)
              if a.fieldNames().length == 1 && b.fieldNames().length == 1 =>
            Some(Seq(ColEqCol(a.fieldNames()(0), b.fieldNames()(0))))
          case _ =>
            org.apache.spark.sql.GraftPredicateBridge.toV1(p)
              .filter(MemStore.supported(_)).map(f => Seq(V1(f)))
        }
      case _ =>
        org.apache.spark.sql.GraftPredicateBridge.toV1(p)
          .filter(MemStore.supported(_)).map(f => Seq(V1(f)))
    }
  }
}

/** A pushed relational TREE the store executes natively at scan time —
  * the shape that lets join pushdown NEST (Spark's rule re-applies as
  * long as both sides stay compatible, so a 3-collection chain collapses
  * into one scan). Leaves carry their own [[StoreClient]]; `Derived`
  * wraps an already-joined side with its accumulated post-join cursor
  * filters and the next join's projection/aliases. */
sealed trait MemRel { def schema: StructType }
object MemRel {
  final case class Base(
      collection: String,
      client: StoreClient,
      pre: Array[Filter],
      proj: Seq[(String, String)]) extends MemRel {
    lazy val schema: StructType = {
      val s = client.schemaOf(collection)
      StructType(proj.map { case (c, out) => s(c).copy(name = out) })
    }
  }
  final case class Derived(
      child: MemRel,
      pre: Array[Filter],
      proj: Seq[(String, String)]) extends MemRel {
    lazy val schema: StructType =
      StructType(proj.map { case (c, out) =>
        child.schema(child.schema.fieldIndex(c)).copy(name = out) })
  }
  final case class Join(
      left: MemRel,
      right: MemRel,
      cond: Seq[MemJoinCond]) extends MemRel {
    lazy val schema: StructType = StructType(left.schema ++ right.schema)
  }

  /** Materialize the tree (the test double's "native execution" — a real
    * store hands the pipeline to its query engine). Rows are Catalyst
    * rows; filters run as store cursors ([[QueryEval]]) and join keys
    * match where Spark's ordering of their type compares 0. */
  def eval(rel: MemRel): Array[InternalRow] = rel match {
    case Base(coll, client, pre, proj) =>
      // leaf cursor filters + projection evaluate through the client's
      // query seam — for the wire client only matching projected columns
      // cross the socket on the way into the store-side join (an end past
      // the last row reads to the end: no count round trip)
      client.query(coll, 0, Int.MaxValue,
        QuerySpec(pre.toSeq, None, Nil, 0, None, proj.map(_._1),
          countServed = false)).toArray
    case Derived(child, pre, proj) =>
      val cs = child.schema
      val idx = proj.map { case (c, _) => cs.fieldIndex(c) }
      passing(cs, eval(child), pre.toSeq).map(r =>
        new GenericInternalRow(idx.map(i => r.get(i, cs(i).dataType)).toArray): InternalRow)
    case j @ Join(l, r, cond) =>
      val lr = eval(l)
      val rr = eval(r)
      val ls = l.schema
      val rs = r.schema
      val schema = j.schema
      def joined(a: InternalRow, b: InternalRow): InternalRow =
        new GenericInternalRow((a.toSeq(ls) ++ b.toSeq(rs)).toArray)
      // INDEXED execution on the cross-side equi conjuncts (how a real
      // store runs it — the first nested-loop cut went quadratic the moment
      // a gate-sized join pushed): index the right side by key, probe from
      // the left, verify any residual conjuncts on the combined row. A name
      // present on BOTH sides is ambiguous cross-side and stays residual.
      val (equiKeys, residual) = {
        val parts = cond.map {
          case MemJoinCond.ColEqCol(a, b) =>
            val (aL, aR) = (ls.fieldNames.contains(a), rs.fieldNames.contains(a))
            val (bL, bR) = (ls.fieldNames.contains(b), rs.fieldNames.contains(b))
            if (aL && !aR && bR && !bL)
              Left((ls.fieldIndex(a), rs.fieldIndex(b)))
            else if (bL && !bR && aR && !aL)
              Left((ls.fieldIndex(b), rs.fieldIndex(a)))
            else Right(MemJoinCond.ColEqCol(a, b): MemJoinCond)
          case other => Right(other)
        }
        (parts.collect { case Left(k) => k },
          parts.collect { case Right(c) => c })
      }
      val pairs: Array[InternalRow] =
        if (equiKeys.isEmpty) {
          // no hashable key (cartesian/filter-only condition): nested loop
          for (a <- lr; b <- rr) yield joined(a, b)
        } else {
          // keys as rows of their types, in a tree ordered by Spark's
          // ordering of that row type; inner-join equality: nulls never match
          val keyType = StructType(equiKeys.map { case (li, _) => ls(li) })
          def key(row: InternalRow, idx: Seq[Int]): InternalRow =
            if (idx.exists(row.isNullAt)) null
            else new GenericInternalRow(idx.zip(keyType).map { case (i, f) => row.get(i, f.dataType) }.toArray)
          val index = new java.util.TreeMap[InternalRow, scala.collection.mutable.ArrayBuffer[InternalRow]](
            PhysicalDataType.ordering(keyType).asInstanceOf[Ordering[InternalRow]])
          val rIdx = equiKeys.map(_._2)
          val lIdx = equiKeys.map(_._1)
          rr.foreach { b =>
            val k = key(b, rIdx)
            if (k != null) index.computeIfAbsent(k, _ => scala.collection.mutable.ArrayBuffer.empty) += b
          }
          lr.flatMap { a =>
            val k = key(a, lIdx)
            val bucket = if (k == null) null else index.get(k)
            if (bucket == null) Nil else bucket.map(joined(a, _))
          }
        }
      val colEq = residual.collect { case MemJoinCond.ColEqCol(a, b) =>
        val (x, y) = (schema.fieldIndex(a), schema.fieldIndex(b))
        val dt = schema(x).dataType
        (x, y, dt, PhysicalDataType.ordering(dt))
      }
      val kept = pairs.filter(row => colEq.forall { case (x, y, dt, ord) =>
        !row.isNullAt(x) && !row.isNullAt(y) && ord.compare(row.get(x, dt), row.get(y, dt)) == 0
      })
      passing(schema, kept, residual.collect { case MemJoinCond.V1(f) => f })
  }

  /** The rows of `rows` (of `schema`) that every filter marks TRUE, bound
    * as a store cursor binds them. */
  private def passing(schema: StructType, rows: Array[InternalRow],
      filters: Seq[Filter]): Array[InternalRow] =
    if (filters.isEmpty) rows
    else {
      val coll = MemCollection.fromRows(schema, rows)
      val preds = filters.map(ColumnFilter.bind(coll, _))
      rows.indices.filter(i => preds.forall(_(i) == ColumnFilter.True)).map(rows).toArray
    }

  /** leftmost-leaf row count — the planning-time statistics estimate
    * (never materializes the join at planning). */
  def baseCount(rel: MemRel): Long = rel match {
    case Base(c, cl, _, _) => cl.rowCount(c).toLong
    case Derived(ch, _, _) => baseCount(ch)
    case Join(l, _, _) => baseCount(l)
  }

  /** leftmost-leaf collection name (derived-relation naming). */
  def baseName(rel: MemRel): String = rel match {
    case Base(c, _, _, _) => c
    case Derived(ch, _, _) => baseName(ch)
    case Join(l, _, _) => baseName(l)
  }

  // rendered with ⋈, deliberately not the word "Join": plan-shape asserts
  // prove the pushed join by the ABSENCE of any Join node in the executed
  // plan string, and the scan's own description must not trip them
  def describe(rel: MemRel): String = rel match {
    case Base(c, _, pre, _) =>
      if (pre.isEmpty) c else s"$c[${pre.length} filters]"
    case Derived(ch, pre, _) =>
      if (pre.isEmpty) describe(ch) else s"${describe(ch)}[${pre.length} filters]"
    case Join(l, r, cond) =>
      s"(${describe(l)} ⋈ ${describe(r)} ON ${cond.size} conjuncts)"
  }
}

/** The pushed-pipeline spec a [[StoreClient]] evaluates STORE-SIDE — the
  * connector shape of the reference's compiled native query (filters
  * compile into `find`/CQL so predicates never run client-side,
  * storage.scala:597,650-652; sort/skip/limit applied on the cursor
  * :320-324). Evaluation order is FIXED — slice → key ranks → sample →
  * filter → sort → skip → limit → project → partial aggregate — and
  * every client funnels through [[QueryEval]] (the wire server runs the
  * same function on its end), so an in-process call and a TCP
  * round-trip are bit-identical.
  *
  * `countServed`: whether rows this query serves count into
  * [[MemStore.served]] — true for a scan's cursors (the
  * instrumentation's contract: rows, or partials, the store served to
  * the scan), false for internal fetches (pushed-join leaves, raw pages).
  *
  * `agg`: partial aggregation (group columns, functions) over the
  * projected rows — the Mongo aggregation-pipeline shape; `projection`
  * then lists exactly the columns the groups and functions read.
  * `keyRange`: one key's rank slice of a keyed stream cursor. */
final case class QuerySpec(
    filters: Seq[Filter],
    sample: Option[(Double, Double, Long)],
    topN: Seq[(String, Boolean)],
    offset: Int,
    limit: Option[Int],
    projection: Seq[String],
    countServed: Boolean = true,
    agg: Option[(Seq[String], Seq[MemAgg])] = None,
    keyRange: Option[KeyRange] = None) extends Serializable {

  /** Schema of the rows this spec serves from a collection of schema
    * `full`: the projected columns, or for a partial aggregate the group
    * columns (`group_<col>`, stored types) then one `agg_<i>` column per
    * function in its Spark result type, matched positionally by the
    * engine's rewritten final aggregate. */
  def replySchema(full: StructType): StructType = agg match {
    case None => StructType(projection.map(c => full(full.fieldIndex(c))))
    case Some((groups, funcs)) =>
      StructType(
        groups.map(g => full(g).copy(name = s"group_$g")) ++
          funcs.zipWithIndex.map { case (f, i) =>
            org.apache.spark.sql.types.StructField(
              s"agg_$i", f.resultType(full), nullable = true)
          })
  }
}

/** One key's [startRank, endRank) slice of a keyed cursor: ranks count
  * the key's rows in cursor order BEFORE pushed filters (a resume offset
  * addresses the log, not a filtered view) — the reference's
  * `(persistence_id, sequence_nr)` resume, one cursor per key. */
final case class KeyRange(column: String, key: String, startRank: Long, endRank: Long)

/** The connector's DATA-PLANE seam (r11 verdict #4): every read the scan
  * pipeline performs against the backing store goes through this trait, so
  * "swap MemStore for a real client" is true by construction — a MongoDB/
  * Cassandra implementation supplies schema, count, and slice cursors and
  * the whole pushdown pipeline (filters, projection, limit/topN/offset,
  * sample, partial aggregates, pushed joins, DPP, streaming offsets) works
  * unchanged on top. The store-side EVALUATION of pushed operators lives in
  * the shared readers (a real connector would instead compile them into the
  * native query — the seam point is the same either way). Instrumentation
  * (MemStore.lastPushed/served/failureModes/runtimeFilters) stays global
  * test-harness state, not part of the client contract. */
trait StoreClient extends Serializable {
  def hasCollection(name: String): Boolean
  def schemaOf(name: String): StructType
  def rowCount(name: String): Int
  /** Serve the [start, end) slice of the collection's stable cursor order. */
  def rows(name: String, start: Int, end: Int): Iterator[InternalRow]
  /** Serve the [start, end) slice with the whole pushed pipeline evaluated
    * STORE-SIDE ([[QuerySpec]]: key ranks/sample/filters/sort/skip/limit/
    * projection/partial aggregate); rows arrive in
    * `spec.replySchema(schemaOf(name))`, as Catalyst rows. The embedded/parquet stores run
    * the shared [[QueryEval]] on their columns in-process — that IS
    * store-side (same JVM as the data); [[SocketStoreClient]] ships the
    * spec to the server, so only matching projected rows (or partials)
    * cross the socket (r12 verdict #1 — the reference's core pushdown
    * premise). */
  def query(name: String, start: Int, end: Int, spec: QuerySpec): Iterator[InternalRow]
  /** Per-key row counts over `keyColumn` — the keyed stream's
    * high-watermarks (a real keyed log serves these from per-partition
    * metadata); over the wire only (key, count) pairs cross. */
  def keyCounts(name: String, keyColumn: String): Map[String, Long]
  /** Register a store-computed derived relation (pushed-join result). */
  def registerDerived(name: String, schema: StructType, rows: Array[InternalRow]): Unit
  /** Identity of the backing STORE — join pushdown is accepted only
    * between scans of the same store (a server executes joins over its
    * own collections; a cross-store "pushed" join would silently run
    * client-side, which is exactly what pushdown claims not to do). */
  def clientKey: String
}

object StoreClient {
  /** Resolve the client from reader options: `client=mem` (default, the
    * embedded test store), `client=parquet` + `path=<dir>` (read-only
    * parquet-backed), or `client=wire` + `port=<n>` [+ `host=`] — the
    * TCP row-server client ([[SocketStoreClient]]), the wire shape the
    * reference's database drivers have. */
  def resolve(get: String => String): StoreClient =
    Option(get("client")).getOrElse("mem") match {
      case "mem" => MemStoreClient
      case "parquet" =>
        val path = Option(get("path")).getOrElse(throw new IllegalArgumentException(
          "client=parquet requires option 'path'"))
        new ParquetStoreClient(path)
      case "wire" =>
        val port = Option(get("port")).getOrElse(throw new IllegalArgumentException(
          "client=wire requires option 'port'")).toInt
        // deflate=true: responses zlib-compress on the wire (MongoDB's
        // OP_COMPRESSED shape) — same rows, fewer bytes per cursor
        new SocketStoreClient(Option(get("host")).getOrElse("127.0.0.1"), port,
          deflate = Option(get("deflate")).exists(_.toBoolean))
      case other => throw new IllegalArgumentException(
        s"unknown store client '$other' (supported: mem, parquet, wire)")
    }
}

/** A store whose collections live in this JVM: every cursor runs
  * [[QueryEval]] on the collection's columns directly. */
trait LocalStoreClient extends StoreClient {
  def collectionOf(name: String): MemCollection
  def schemaOf(name: String): StructType = collectionOf(name).schema
  def rowCount(name: String): Int = collectionOf(name).size
  def rows(name: String, start: Int, end: Int): Iterator[InternalRow] =
    collectionOf(name).rows(start, end)
  def query(name: String, start: Int, end: Int, spec: QuerySpec): Iterator[InternalRow] =
    QueryEval.run(collectionOf(name), start, end, spec,
      if (spec.countServed) Some(name) else None)
  def keyCounts(name: String, keyColumn: String): Map[String, Long] = {
    val coll = collectionOf(name)
    KeyedEval.counts(coll, coll.schema.fieldIndex(keyColumn))
  }
}

/** The embedded in-process store as a [[StoreClient]] — plays the
  * reference's embedded test databases (mongo-java-server/cassandra-unit,
  * SURVEY.md §5). */
object MemStoreClient extends LocalStoreClient {
  def hasCollection(name: String): Boolean = MemStore.hasCollection(name)
  def collectionOf(name: String): MemCollection = MemStore.collectionOf(name)
  def registerDerived(name: String, schema: StructType, rows: Array[InternalRow]): Unit =
    MemStore.registerRaw(name, schema, rows)
  def clientKey: String = "mem"
}

/** Read-only parquet-backed [[StoreClient]]: each collection is
  * `<path>/<name>.parquet`, loaded once per JVM and sliced like any other
  * cursor. In a real deployment each partition reader would open its own
  * connection/cursor instead of a JVM cache — the cache stands in for the
  * server exactly like MemStore does, and everything above the seam is the
  * code a wire client would reuse. Derived (pushed-join) relations
  * delegate to the bounded MemStore derived cache ('#join#' names cannot
  * collide with file-backed collections). */
class ParquetStoreClient(path: String) extends LocalStoreClient {
  private def isDerived(name: String) = name.contains("#join#")
  def collectionOf(name: String): MemCollection =
    if (isDerived(name)) MemStore.collectionOf(name)
    else ParquetStoreClient.cache.getOrElseUpdate((path, name), {
      val spark = org.apache.spark.sql.SparkSession.active
      MemCollection.of(spark.read.parquet(s"$path/$name.parquet"))
    })
  def hasCollection(name: String): Boolean =
    if (isDerived(name)) MemStore.hasCollection(name)
    else new java.io.File(s"$path/$name.parquet").exists()
  def registerDerived(name: String, schema: StructType, rows: Array[InternalRow]): Unit =
    MemStore.registerRaw(name, schema, rows)
  def clientKey: String = s"parquet:$path"
}

object ParquetStoreClient {
  private[mem] val cache = TrieMap[(String, String), MemCollection]()
}

class GraftMemSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    StoreClient.resolve(options.get).schemaOf(options.get("collection"))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new MemTable(properties.get("collection"), schema,
      StoreClient.resolve(k => properties.get(k)))
}

class MemTable(collection: String, schema: StructType,
    client: StoreClient = MemStoreClient) extends Table with SupportsRead {
  override def name(): String = s"graft-mem:$collection"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // O4/T7 — query-scoped cursor options, mirroring the reference's
    // builder surface (channel/package.scala:241 maxTimeMS, :276
    // readPreference): maxTimeMS bounds reader wall time store-side;
    // readPreference is recorded (an embedded store has one replica — a
    // real connector would route by it, as Mongo drivers do).
    // maxTimeMS=0 means "no time limit", matching MongoDB cursor.maxTimeMS
    // semantics (the reference forwards the raw option to the driver, so 0
    // disables the deadline there too)
    val maxTimeMs =
      Option(options.get("maxTimeMS")).map(_.toLong).filter(_ > 0)
    // validated against the reference's full surface (mode + preferred +
    // tag sets, mongo/package.scala:24-54) and normalized to its canonical
    // render — an unknown mode or an invalid combination (plain primary
    // with tags) fails here, before any job is planned
    val readPreference = graft.channel.ReadPreference
      .parse(options.getOrDefault("readPreference", "primary")).render
    val startOffset = options.getOrDefault("startOffset", "0").toLong
    val maxRowsPerTrigger =
      Option(options.get("maxRowsPerTrigger")).map(_.toLong).filter(_ > 0)
    // keyed streaming offsets (r11 verdict #5): when set, the stream's
    // offset is a PER-KEY map over this column — the reference's
    // (persistence_id, sequence_nr) resume / the Kafka topic-partition
    // shape — instead of one global row index
    val keyColumn = Option(options.get("keyColumn")).filter(_.nonEmpty)
    // O5 clustering order, declared: "col[ desc][,col...]" — the caller's
    // promise that the collection is registered in this order (a real
    // store guarantees it by construction: Cassandra clustering columns)
    val orderedBy: Seq[(String, Boolean)] =
      Option(options.get("orderedBy")).toSeq.flatMap(_.split(",")).map { s =>
        val parts = s.trim.split("\\s+")
        (parts(0), parts.length > 1 && parts(1).equalsIgnoreCase("desc"))
      }
    new MemScanBuilder(collection, schema, maxTimeMs, readPreference,
      startOffset, maxRowsPerTrigger, orderedBy, client, keyColumn)
  }
}

class MemScanBuilder(
    private val collection: String,
    fullSchema: StructType,
    maxTimeMs: Option[Long],
    readPreference: String,
    startOffset: Long,
    maxRowsPerTrigger: Option[Long],
    orderedBy: Seq[(String, Boolean)] = Nil,
    private val client: StoreClient = MemStoreClient,
    keyColumn: Option[String] = None)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit with SupportsPushDownTopN with SupportsPushDownOffset
    with SupportsPushDownAggregates
    with SupportsPushDownTableSample with SupportsPushDownJoin {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var limit: Option[Int] = None
  private var topNKeys: Seq[(String, Boolean)] = Nil
  private var offset: Int = 0
  private var aggPushed: Option[(Seq[String], Seq[MemAgg])] = None
  private var sample: Option[(Double, Double, Long)] = None
  private var joinRel: Option[MemRel] = None
  // the builder's working schema: the base collection's until a join is
  // pushed, the aliased joined schema after
  private var curSchema: StructType = fullSchema

  /** Store-side JOIN pushdown (Spark 4's SupportsPushDownJoin, behind
    * spark.sql.optimizer.datasourceV2JoinPushdown): collections of the
    * SAME store (clientKey equality — a server joins its own collections;
    * a cross-store "pushed" join would silently run client-side) join
    * natively (the $lookup / DB-side-join analog) and Spark's join node
    * disappears — the scan serves joined rows. NESTS (r12): an
    * already-joined side wraps as a [[MemRel.Derived]] carrying its
    * accumulated post-join cursor filters, so Spark's rule re-applies and
    * an N-collection chain collapses into ONE scan. INNER only,
    * equi/supported conditions only. The test double materializes the
    * tree hash-free at scan time — a real connector hands the pipeline to
    * the store's query engine. */
  override def isOtherSideCompatibleForJoin(other: SupportsPushDownJoin): Boolean =
    other match {
      case o: MemScanBuilder =>
        client.clientKey == o.client.clientKey &&
          aggPushed.isEmpty && o.aggPushed.isEmpty &&
          sample.isEmpty && o.sample.isEmpty &&
          limit.isEmpty && o.limit.isEmpty && offset == 0 && o.offset == 0
      case _ => false
    }

  override def pushDownJoin(
      other: SupportsPushDownJoin,
      joinType: org.apache.spark.sql.connector.join.JoinType,
      leftRequired: Array[SupportsPushDownJoin.ColumnWithAlias],
      rightRequired: Array[SupportsPushDownJoin.ColumnWithAlias],
      condition: org.apache.spark.sql.connector.expressions.filter.Predicate): Boolean = {
    import org.apache.spark.sql.connector.join.JoinType
    if (joinType != JoinType.INNER_JOIN) return false
    val o = other.asInstanceOf[MemScanBuilder]
    // one side's pushed tree: the base collection with its cursor
    // filters, or the existing join tree wrapped with post-join filters —
    // either way re-projected/aliased to the columns this join requires
    def sideRel(b: MemScanBuilder,
        req: Array[SupportsPushDownJoin.ColumnWithAlias]): Option[MemRel] = {
      val cols = req.toSeq.map { cwa =>
        (cwa.colName, Option(cwa.alias).getOrElse(cwa.colName))
      }
      if (!cols.forall { case (c, _) => b.curSchema.fieldNames.contains(c) }) None
      else b.joinRel match {
        case None => Some(MemRel.Base(b.collection, b.client, b.pushed, cols))
        case Some(rel) => Some(MemRel.Derived(rel, b.pushed, cols))
      }
    }
    (sideRel(this, leftRequired), sideRel(o, rightRequired)) match {
      case (Some(lRel), Some(rRel)) =>
        val joinedSchema = StructType(lRel.schema ++ rRel.schema)
        val cond = Option(condition).map(MemJoinCond.parse).getOrElse(Some(Nil))
        if (cond.isEmpty) return false
        joinRel = Some(MemRel.Join(lRel, rRel, cond.get))
        curSchema = joinedSchema
        required = joinedSchema
        pushed = Array.empty // post-join filters start fresh
        true
      case _ => false
    }
  }

  /** Bernoulli TABLESAMPLE served by the cursor — the store rolls a
    * seeded uniform per row and ships only the [lower, upper) fraction
    * (how a real connector samples server-side instead of shipping the
    * collection and discarding client-side). Sampling WITH replacement
    * has no cursor analog and is declined. Runs BEFORE aggregation in
    * the pushdown rule, so the two compose (sampled partial aggregates). */
  override def pushTableSample(
      lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean =
    if (withReplacement) false
    else { sample = Some((lowerBound, upperBound, seed)); true }

  /** Cursor-side aggregation, PARTIAL (the scalable shape: each shard
    * cursor ships one partial row per group instead of its raw rows, and
    * Spark's retained final aggregate merges them — exact under any
    * sharding, the same contract as map-side combine). Complete pushdown
    * is declined so correctness never depends on the store seeing all
    * shards. Supported: group-by on plain columns; count(*)/count(col)/
    * min/max/sum(col) without DISTINCT — anything else falls back to the
    * row-serving path. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (limit.isDefined || offset > 0 || topNKeys.nonEmpty) return false
    def ref(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case r: NamedReference if r.fieldNames().length == 1 => Some(r.fieldNames()(0))
        case _ => None
      }
    val groups = agg.groupByExpressions().toSeq.map(ref)
    if (groups.exists(_.isEmpty)) return false
    val funcs = agg.aggregateExpressions().toSeq.map {
      case _: CountStar => Some(MemAgg.CountAll)
      case c: Count if !c.isDistinct => ref(c.column()).map(MemAgg.CountCol)
      case m: Min => ref(m.column()).map(MemAgg.MinCol)
      case m: Max => ref(m.column()).map(MemAgg.MaxCol)
      case s: Sum if !s.isDistinct =>
        ref(s.column()).filter { c =>
          import org.apache.spark.sql.types._
          Seq(ByteType, ShortType, IntegerType, LongType, FloatType, DoubleType)
            .contains(curSchema(c).dataType)
        }.map(MemAgg.SumCol)
      case _ => None
    }
    if (funcs.exists(_.isEmpty)) return false
    aggPushed = Some((groups.flatten, funcs.flatten))
    true
  }

  /** Accept what the store can evaluate; hand the rest back to Spark
    * (Catalyst keeps a residual Filter node for those). The builder's one
    * filter path: Spark's `PushDownUtils.pushFilters` offers V1 filters
    * to a builder that takes them before it looks for the V2 form. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(MemStore.supported)
    pushed = sup
    unsup
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** The reference pushes `sort/skip/limit` into the store cursor
    * (storage.scala:320-324); DSv2's contract for that is
    * SupportsPushDownLimit/TopN. PARTIALLY pushed: each of the store's
    * partitions (≈ a shard cursor) serves at most `limit` rows — Spark
    * keeps the global limit/sort on top, so results are exact while the
    * store prunes what it ships. */
  override def pushLimit(n: Int): Boolean =
    // truncating PARTIAL aggregates would be wrong — row-level cursor
    // limits only apply on the row-serving path
    if (aggPushed.isDefined) false else { limit = Some(n); true }
  override def isPartiallyPushed(): Boolean = true

  override def pushTopN(
      orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection, NullOrdering}
    // accept only plain column orderings with Spark's DEFAULT null
    // ordering (nulls first when ASC, nulls last when DESC) — anything
    // else stays Spark-side
    val keys = orders.toSeq.map { o =>
      o.expression() match {
        case ref: NamedReference if ref.fieldNames().length == 1 =>
          val desc = o.direction() == SortDirection.DESCENDING
          val defaultNulls =
            if (desc) o.nullOrdering() == NullOrdering.NULLS_LAST
            else o.nullOrdering() == NullOrdering.NULLS_FIRST
          if (defaultNulls) Some((ref.fieldNames()(0), desc)) else None
        case _ => None
      }
    }
    if (keys.exists(_.isEmpty) || aggPushed.isDefined) false
    else {
      topNKeys = keys.flatten
      limit = Some(n)
      true
    }
  }

  /** The reference's cursor `skip` (storage.scala:320-324). Unlike
    * limit/topN there is no "partially pushed" escape hatch — accepting
    * means applying the offset EXACTLY, so [[MemScan]] plans ONE partition
    * when an offset is pushed (a cursor with skip IS one cursor; the
    * store's sort/filter/skip then all run globally). */
  override def pushOffset(n: Int): Boolean =
    if (aggPushed.isDefined) false else { offset = n; true }

  override def build(): Scan =
    new MemScan(collection, curSchema, required, pushed, maxTimeMs,
      readPreference, limit, topNKeys, offset, startOffset, maxRowsPerTrigger,
      orderedBy, aggPushed, sample, joinRel, client, keyColumn)
}

class MemScan(
    collection: String,
    fullSchema: StructType,
    required: StructType,
    pushed: Array[Filter],
    maxTimeMs: Option[Long],
    readPreference: String,
    limit: Option[Int],
    topNKeys: Seq[(String, Boolean)],
    offset: Int,
    startOffset: Long,
    maxRowsPerTrigger: Option[Long] = None,
    orderedBy: Seq[(String, Boolean)] = Nil,
    agg: Option[(Seq[String], Seq[MemAgg])] = None,
    sample: Option[(Double, Double, Long)] = None,
    joinRel: Option[MemRel] = None,
    client: StoreClient = MemStoreClient,
    keyColumn: Option[String] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsReportOrdering with SupportsRuntimeFiltering {

  /** The collection the readers serve: the base one, or the store-side
    * join TREE materialized ONCE per scan under a derived name (the
    * test-double stand-in for a store's native join execution; derived
    * relations are in-process only, like the store itself). */
  private lazy val sourceCollection: String = joinRel match {
    case None => collection
    case Some(rel) =>
      val name = s"${MemRel.baseName(rel)}#join#$scanId"
      if (!client.hasCollection(name))
        client.registerDerived(name, fullSchema, MemRel.eval(rel))
      name
  }

  /** The cursor's whole pushed pipeline. An aggregate reads only the
    * columns its groups and functions read (pushAggregation declines
    * once a limit, offset or top-n is pushed, and they decline after it). */
  private val spec = QuerySpec(pushed.toSeq, sample, topNKeys, offset, limit,
    agg.fold(required.fieldNames.toSeq) { case (groups, funcs) =>
      (groups ++ funcs.collect {
        case MemAgg.CountCol(c) => c
        case MemAgg.MinCol(c) => c
        case MemAgg.MaxCol(c) => c
        case MemAgg.SumCol(c) => c
      }).distinct
    }, agg = agg)

  import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, SortDirection}

  /** O5 — the declared clustering order, reported per partition: the
    * store's range-slice cursors each serve rows in registration order,
    * so a whole-collection order holds within every slice. Spark elides
    * per-partition sorts on it (plan-asserted in MemSourceSpec); a GLOBAL
    * orderBy still range-exchanges unless the scan is the single-cursor
    * form, exactly as a real clustered store behaves. */
  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    orderedBy.map { case (f, desc) =>
      Expressions.sort(Expressions.column(f),
        if (desc) SortDirection.DESCENDING else SortDirection.ASCENDING)
    }.toArray

  /** Runtime (DPP-style) filtering: at execution time Spark hands the
    * scan the join side's actual keys (e.g. an IN list from a broadcast
    * dimension); the store evaluates them cursor-side like any pushed
    * filter — the connector analog of dynamic partition pruning, and the
    * 100 TB lever that keeps a fact-scan from reading rows a selective
    * join will drop anyway. */
  // only columns surviving projection pruning: Spark resolves these
  // against the scan OUTPUT, so a pruned-away column here is an
  // AnalysisException at planning
  override def filterAttributes(): Array[NamedReference] =
    required.fieldNames.map(Expressions.column)

  override def filter(filters: Array[Filter]): Unit = {
    val accepted = filters.filter(MemStore.supported)
    MemStore.recordRuntimeFilters((collection, scanId), accepted.toSeq)
  }

  private val scanId = java.util.UUID.randomUUID().toString

  /** Store-reported statistics — without these Spark assumes
    * `defaultSizeInBytes` (effectively infinite) for a DSv2 relation and
    * will never broadcast a connector-backed dimension table; with them,
    * join planning (and AQE) treat the store like any sized relation. A
    * real connector serves these from collection metadata
    * (collStats/system tables); row width is estimated from the pruned
    * read schema. */
  /** The base collection's row count, asked of the store ONCE per scan
    * and shared by statistics and partition planning (Spark asks for
    * statistics several times per query; each ask was a store round trip). */
  private lazy val baseCount: Int = client.rowCount(collection)
  // for a pushed join, estimate from the leftmost leaf WITHOUT
  // materializing the join at planning time (statistics are estimates)
  private lazy val estimatedRows: Long =
    joinRel.map(MemRel.baseCount).getOrElse(baseCount.toLong)

  override def estimateStatistics(): Statistics = new Statistics {
    private val n = estimatedRows
    override def numRows(): java.util.OptionalLong = java.util.OptionalLong.of(n)
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(n * math.max(1, required.defaultSize).toLong)
  }

  override def readSchema(): StructType =
    if (agg.isEmpty) required else spec.replySchema(fullSchema)
  override def description(): String =
    s"graft-mem:$collection PushedFilters: [${pushed.mkString(", ")}], " +
      s"ReadSchema: ${required.simpleString}" +
      maxTimeMs.map(ms => s", maxTimeMS: $ms").getOrElse("") +
      s", readPreference: $readPreference" +
      limit.map(n => s", PushedLimit: $n").getOrElse("") +
      (if (offset == 0) "" else s", PushedOffset: $offset") +
      (if (topNKeys.isEmpty) ""
       else s", PushedTopN: ${topNKeys.map { case (f, d) =>
         s"$f ${if (d) "DESC" else "ASC"}" }.mkString(", ")}") +
      agg.map { case (g, fs) =>
        s", PushedAggregates: [${fs.map(MemAgg.render).mkString(", ")}]" +
          (if (g.isEmpty) "" else s", PushedGroupBy: [${g.mkString(", ")}]")
      }.getOrElse("") +
      joinRel.map(r => s", StorePlan: ${MemRel.describe(r)}").getOrElse("")
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val n = if (joinRel.isEmpty) baseCount else client.rowCount(sourceCollection)
    // a pushed offset must be applied exactly (no partial-push contract),
    // which requires ONE global cursor — the reference's skip shape anyway
    if (offset > 0) Array(MemInputPartition(sourceCollection, 0, n))
    else MemScan.slicePartitions(sourceCollection, 0, n)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    MemStore.lastPushed(collection) = pushed.toSeq
    // routing metadata a real multi-replica connector would route by:
    // the canonical string plus the decomposed mode / preferred / tag sets
    val rp = graft.channel.ReadPreference.parse(readPreference)
    MemStore.lastOptions(collection) =
      maxTimeMs.map(ms => "maxTimeMS" -> ms.toString).toMap +
        ("readPreference" -> readPreference) +
        ("readPreferenceMode" -> rp.mode.toString.toLowerCase) +
        ("readPreferencePreferred" -> rp.preferred.toString) ++
        (if (rp.tagSets.isEmpty) Map.empty[String, String]
         else Map("readPreferenceTags" ->
           rp.tagSets.map(_.render).mkString(";")))
    limit.foreach(MemStore.lastLimit(collection) = _)
    if (offset > 0) MemStore.lastOffset(collection) = offset
    if (topNKeys.nonEmpty)
      MemStore.lastTopN(collection) = (topNKeys, limit.getOrElse(Int.MaxValue))
    MemStore.served(collection) = new java.util.concurrent.atomic.AtomicLong(0L)
    sample.foreach(MemStore.lastSample(collection) = _)
    agg.foreach { case (groups, funcs) =>
      MemStore.lastAgg(collection) = (groups, funcs.map(MemAgg.render))
    }
    // runtime (DPP) filters apply on the batch ROW path only: a pushed
    // aggregate's partials would not be the rows a runtime filter names
    new MemReaderFactory(spec, maxTimeMs,
      if (agg.isEmpty) Some(scanId) else None, client)
  }

  // the pushed OFFSET never reaches the stream path (streaming plans have
  // no Offset operator); the stream's own resume position is startOffset.
  // A pushed JOIN, aggregate or sample never reaches it either (those
  // pushdowns are batch rules), so the stream's cursors run this spec as is
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    keyColumn match {
      case Some(kc) =>
        new MemKeyedMicroBatchStream(collection, spec, maxTimeMs,
          kc, startOffset, maxRowsPerTrigger, client)
      case None =>
        new MemMicroBatchStream(collection, spec, maxTimeMs,
          startOffset, maxRowsPerTrigger, client)
    }
}

object MemScan {
  /** Split [start, end) of the collection into up to 4 slices — a fixed
    * fan-out standing in for a real connector's shard/token-range split. */
  def slicePartitions(collection: String, start: Int, end: Int): Array[InputPartition] = {
    val n = end - start
    val slices = 4
    val step = math.max(1, math.ceil(n / slices.toDouble).toInt)
    (start until end by step).map(s =>
      MemInputPartition(collection, s, math.min(end, s + step))
        .asInstanceOf[InputPartition]).toArray
  }
}

/** Streaming offset resume over the store (reference S3/S4: the partitioned
  * log's `(key, offset)` cursor resume, log/package.scala:56-62): the
  * offset IS the row index into the collection, `initialOffset` honors the
  * reader's `startOffset` option, and each micro-batch serves the
  * [start, latest) slice through the SAME pushdown pipeline as the batch
  * reader (filters, projection, per-partition limit). Restart resumes from
  * the checkpointed offset — exactly-once delivery of appended rows. */
class MemMicroBatchStream(
    collection: String,
    spec: QuerySpec,
    maxTimeMs: Option[Long],
    startOffset: Long,
    maxRowsPerTrigger: Option[Long],
    client: StoreClient)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxRows}

  // AvailableNow: pin the end bound ONCE at query start so the run
  // terminates even if the store keeps growing mid-run
  @volatile private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(client.rowCount(collection).toLong)

  override def initialOffset(): Offset =
    MemOffset(math.min(startOffset, client.rowCount(collection).toLong))
  override def latestOffset(): Offset =
    MemOffset(availableNowEnd.getOrElse(client.rowCount(collection).toLong))
  // SupportsAdmissionControl (SupportsTriggerAvailableNow extends it):
  // the `maxRowsPerTrigger` reader option becomes the default ReadLimit —
  // T2 backpressure STORE-SIDE, the demand-driven paging of the
  // reference's async stages (storage.scala:149,172-180): each
  // micro-batch admits at most that many offsets, and AvailableNow loops
  // bounded batches until the pinned end bound is drained.
  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, readLimit: ReadLimit): Offset = {
    val end = latestOffset().asInstanceOf[MemOffset].index
    readLimit match {
      case mr: ReadMaxRows =>
        MemOffset(math.min(end, start.asInstanceOf[MemOffset].index + mr.maxRows()))
      case _ => MemOffset(end)
    }
  }
  override def deserializeOffset(json: String): Offset = MemOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    MemScan.slicePartitions(collection,
      start.asInstanceOf[MemOffset].index.toInt,
      end.asInstanceOf[MemOffset].index.toInt)

  override def createReaderFactory(): PartitionReaderFactory = {
    MemStore.lastPushed(collection) = spec.filters
    new MemReaderFactory(spec, maxTimeMs, client = client)
  }
}

case class MemOffset(index: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = index.toString
}

/** Composite PER-KEY streaming offset (r11 verdict #5): one consumed-rank
  * cursor per key value — the reference's `(persistence_id, sequence_nr)`
  * resume (log/package.scala:56-62) and the Kafka topic-partition offset
  * shape. Serialized as a sorted JSON object so the checkpointed form is
  * deterministic; keys are escaped (they are data). */
case class MemKeyedOffset(offsets: Map[String, Long])
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    offsets.toSeq.sortBy(_._1).map { case (k, v) =>
      "\"" + MemKeyedOffset.esc(k) + "\":" + v
    }.mkString("{", ",", "}")
}

object MemKeyedOffset {
  private[mem] def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** Parser for exactly the shape [[MemKeyedOffset.json]] emits. */
  def parse(json: String): MemKeyedOffset = {
    val m = Map.newBuilder[String, Long]
    var i = 1 // skip '{'
    val n = json.length
    while (i < n && json.charAt(i) != '}') {
      if (json.charAt(i) == ',') i += 1
      require(json.charAt(i) == '"', s"bad keyed offset json at $i: $json")
      i += 1
      val sb = new StringBuilder
      while (json.charAt(i) != '"') {
        val c = json.charAt(i)
        if (c == '\\') {
          json.charAt(i + 1) match {
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case 'u' =>
              sb.append(Integer.parseInt(json.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case other => throw new IllegalArgumentException(
              s"bad escape '\\$other' in keyed offset json: $json")
          }
        } else { sb.append(c); i += 1 }
      }
      i += 1 // closing quote
      require(json.charAt(i) == ':', s"bad keyed offset json at $i: $json")
      i += 1
      val st = i
      while (i < n && json.charAt(i).isDigit) i += 1
      m += sb.toString -> json.substring(st, i).toLong
    }
    MemKeyedOffset(m.result())
  }
}

/** Keyed-offset MicroBatchStream: parallelism = #keys (each key is an
  * independent cursor, the Kafka topic-partition shape), restart resumes
  * EVERY key at its own checkpointed rank, and a reader-option
  * `startOffset` applies PER KEY (skip each key's replayed prefix — the
  * reference's sequence_nr floor). Each key's partition is one [[KeyRange]]
  * cursor through the same reader and store-side pipeline as the batch
  * scan; admission control (`maxRowsPerTrigger`) allocates the row budget
  * across keys in sorted key order, so bounded batches drain
  * deterministically. */
class MemKeyedMicroBatchStream(
    collection: String,
    spec: QuerySpec,
    maxTimeMs: Option[Long],
    keyColumn: String,
    startOffsetPerKey: Long,
    maxRowsPerTrigger: Option[Long],
    client: StoreClient)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, ReadMaxRows}

  /** Current per-key row counts in the store, through the client seam —
    * for the wire client only (key, count) pairs cross the socket (a real
    * keyed log serves these from per-partition high-watermarks). */
  private def keyCounts(): Map[String, Long] =
    client.keyCounts(collection, keyColumn)

  @volatile private var availableNowEnd: Option[Map[String, Long]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(keyCounts())

  override def initialOffset(): Offset =
    MemKeyedOffset(keyCounts().map { case (k, n) =>
      k -> math.min(startOffsetPerKey, n) })
  override def latestOffset(): Offset =
    MemKeyedOffset(availableNowEnd.getOrElse(keyCounts()))

  override def getDefaultReadLimit: ReadLimit =
    maxRowsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: Offset, readLimit: ReadLimit): Offset = {
    val end = latestOffset().asInstanceOf[MemKeyedOffset].offsets
    val st = start.asInstanceOf[MemKeyedOffset].offsets
    readLimit match {
      case mr: ReadMaxRows =>
        var budget = mr.maxRows()
        val out = Map.newBuilder[String, Long]
        end.toSeq.sortBy(_._1).foreach { case (k, e) =>
          val s = st.getOrElse(k, math.min(startOffsetPerKey, e))
          val take = math.min(e - s, budget)
          out += k -> (s + math.max(0L, take))
          budget -= math.max(0L, take)
        }
        MemKeyedOffset(out.result())
      case _ => MemKeyedOffset(end)
    }
  }

  override def deserializeOffset(json: String): Offset = MemKeyedOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val st = start.asInstanceOf[MemKeyedOffset].offsets
    val en = end.asInstanceOf[MemKeyedOffset].offsets
    en.toSeq.sortBy(_._1).flatMap { case (k, e) =>
      // a key first seen mid-stream (appended while running) starts at its
      // per-key startOffset floor, like initialOffset does for known keys
      val s = st.getOrElse(k, math.min(startOffsetPerKey, e))
      // the whole collection is the key's cursor: the store ranks the
      // key's rows itself, so no per-key count round trip is needed
      if (e > s) Some(MemInputPartition(collection, 0, Int.MaxValue,
        Some(KeyRange(keyColumn, k, s, e))): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    MemStore.lastPushed(collection) = spec.filters
    new MemReaderFactory(spec, maxTimeMs, client = client)
  }
}

/** One store cursor: the [start, end) slice of the collection's cursor
  * order (an end past the last row means "to the end"), narrowed to one
  * key's rank range on a keyed stream. */
case class MemInputPartition(collection: String, start: Int, end: Int,
    keyRange: Option[KeyRange] = None) extends InputPartition

/** The one reader every cursor uses — batch rows, partial aggregates,
  * positional and keyed stream slices: the partition's slice and the
  * scan's [[QuerySpec]] go through the client as ONE query (r12 verdict
  * #1), so for the wire client the server evaluates the pipeline and only
  * matching projected rows (or partials) cross the socket; embedded/
  * parquet clients run the identical QueryEval in-process. Every cursor
  * honours maxTimeMS and the injected failure modes. `scanId` names the
  * batch row scan whose runtime (DPP) filters apply. */
class MemReaderFactory(
    spec: QuerySpec,
    maxTimeMs: Option[Long],
    scanId: Option[String] = None,
    client: StoreClient = MemStoreClient) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[MemInputPartition]
    // runtime (DPP) filters land after factory construction — pick them
    // up here (createReader runs once the dynamic subquery has resolved)
    val runtime = scanId
      .flatMap(id => MemStore.runtimeFilters.get((p.collection, id)))
      .getOrElse(Nil)
    val filters = spec.filters ++ runtime
    if (runtime.nonEmpty) MemStore.lastPushed(p.collection) = filters
    val mode = MemStore.failureModes.get(p.collection)
    if (mode.contains(MemStore.CursorError))
      throw new java.io.IOException(
        s"graft-mem cursor creation failed for '${p.collection}' (injected)")
    new PartitionReader[InternalRow] {
      private var served = 0
      // O4 maxTimeMS: a server-side cursor deadline — exceeded == query
      // error, never silent truncation (same contract as the reference's
      // Mongo cursor timeout).
      private val deadlineNanos =
        maxTimeMs.map(ms => System.nanoTime() + ms * 1000000L)
      // the store serves Catalyst rows, a new one per row, so they go to
      // Spark as they are; Spark projects these non-Unsafe rows before
      // anything buffers them
      private val it = client.query(p.collection, p.start, p.end,
        spec.copy(filters = filters, keyRange = p.keyRange))
      private var current: InternalRow = _
      override def next(): Boolean = {
        mode match {
          case Some(MemStore.SlowFetch(ms)) => Thread.sleep(ms)
          case _ => ()
        }
        deadlineNanos.foreach { d =>
          if (System.nanoTime() > d)
            throw new java.io.IOException(
              s"graft-mem query on '${p.collection}' exceeded maxTimeMS=${maxTimeMs.get}")
        }
        mode match {
          case Some(MemStore.FetchError(n)) if served >= n =>
            throw new java.io.IOException(
              s"graft-mem fetch failed for '${p.collection}' after $served rows (injected)")
          case _ => ()
        }
        if (it.hasNext) {
          current = it.next()
          served += 1
          true
        } else false
      }
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}
