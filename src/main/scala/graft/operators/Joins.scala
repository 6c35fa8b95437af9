package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.Row
import graft.dsl.Pred

/** Join and two-stream combinators.
  *
  * The reference's flagship operator is a streaming index-nested-loop inner
  * join: for each outer record run a parameterized inner query and emit
  * `mapper(outer, inner)` per match (reference:
  * src/main/scala/join/package.scala:52-63 API; :74-132 per-runtime
  * `outer.flatMap(o => relation(o).map(mapper(o, _)))`).
  *
  * Spark-first translation: a per-row keyed lookup with an equality key IS an
  * equi-join; declaring it as `outer.join(inner, cond, "inner")` lets Catalyst
  * pick broadcast-hash (small side), shuffled-hash, or sort-merge — strictly
  * better than the reference's one-inner-query-per-outer-row sequential bound
  * (storage.scala:630,726). The observable contract (the joined multiset,
  * SURVEY.md §7.4) is preserved; per-row re-interpretation is an
  * implementation artifact we deliberately do not replicate.
  */
object Joins {

  /** J1 — inner join with optional per-side predicates and a mapper
    * projection. `innerPred` is the Spark analogue of the reference's
    * parameterized inner query beyond the `fk` key binding
    * (dsl/package.scala:84,91-92).
    *
    * Scale: equality key ⇒ hash-partitionable; Spark broadcasts the small
    * side automatically under `autoBroadcastJoinThreshold`/AQE. Callers can
    * force it with `broadcastOuter`.
    */
  def inner(
      outer: DataFrame,
      outerKey: String,
      inner: DataFrame,
      innerKey: String,
      innerPred: Option[Pred] = None,
      broadcastOuter: Boolean = false): DataFrame = {
    val in = innerPred.map(p => inner.where(p.column)).getOrElse(inner)
    val out = if (broadcastOuter) broadcast(outer) else outer
    out.join(in, out(outerKey) === in(innerKey), "inner")
  }

  /** J2/J3 — deterministic pairwise zip of two *ordered* relations, stopping
    * at the shorter side (reference `zipWith`/`zip`,
    * src/main/scala/mongo/channel/package.scala:92-143, custom `Tee`).
    *
    * Spark has no ordinal on an unordered Dataset, so the caller must supply
    * the total order that the reference got from stream arrival order
    * (SURVEY.md §7.4). Each side is globally sorted (range-partitioned —
    * partitions stay parallel and globally ordered), then [[zipWithOrdinal]]
    * assigns a dense ordinal with RDD `zipWithIndex` (per-partition counts,
    * ONE lightweight count job, no single-partition stage), and an inner
    * equi-join on the ordinal stops at the shorter side. This is the 100 TB
    * shape: the previous `Window.orderBy` (no partitionBy) formulation moved
    * both relations onto one reducer.
    */
  def zipByOrdinal(
      left: DataFrame,
      leftOrder: Seq[Column],
      right: DataFrame,
      rightOrder: Seq[Column]): DataFrame = {
    val l = zipWithOrdinal(left.orderBy(leftOrder: _*))
    val r = zipWithOrdinal(right.orderBy(rightOrder: _*))
    l.join(r, Seq("zip_ord"), "inner").drop("zip_ord")
  }

  /** Skew-mitigated inner equi-join (salting): the big side gets a random
    * salt in [0, salts), the small side is exploded across every salt, and
    * the join key becomes (key, salt) — a single hot key now spreads over
    * `salts` reducers. The join result is salt-invariant. Use when AQE's
    * skew-join split isn't enough (single monster key). Salt assignment
    * uses a seeded rand: per-run deterministic partitioning, identical
    * result multiset regardless. */
  def saltedInner(
      big: DataFrame,
      bigKey: String,
      small: DataFrame,
      smallKey: String,
      salts: Int = 8,
      seed: Long = 42L): DataFrame = {
    val b = big.withColumn("graft_salt", (rand(seed) * salts).cast("int"))
    val s = small.withColumn("graft_salt", explode(sequence(lit(0), lit(salts - 1))))
    b.join(s, b(bigKey) === s(smallKey) && b("graft_salt") === s("graft_salt"), "inner")
      .drop("graft_salt")
  }

  /** Sampled key-skew probe: (max single-key share, sampled row count)
    * from a seeded Bernoulli sample of `df`. One lightweight job: the
    * groupBy runs over the SAMPLE only and is partial-aggregated (the
    * shuffle carries at most one row per distinct sampled key per
    * partition), and only two scalars come back to the driver. Seeded ⇒
    * the probe, and any decision built on it, is deterministic per
    * (data, seed). */
  def sampledMaxKeyShare(
      df: DataFrame,
      key: String,
      fraction: Double,
      seed: Long): (Double, Long) = {
    // eager on purpose: innerAutoSalted picks the salted or the plain plan
    // from this share, so building that join runs this probe (ScaleSpec
    // pins its jobs); a lazy form would have to defer the plan choice
    val r = df.sample(withReplacement = false, fraction, seed)
      .groupBy(col(key)).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("n"))
      .head()
    if (r.isNullAt(1) || r.getLong(1) == 0L) (0.0, 0L)
    else (r.getLong(0).toDouble / r.getLong(1).toDouble, r.getLong(1))
  }

  /** Auto-salted inner equi-join (round-10 verdict #6): [[saltedInner]]
    * exists but was caller-opt-in, which makes the 100 TB skew story
    * depend on the caller knowing their key histogram. This wrapper
    * decides from data: a seeded sample estimates the big side's max
    * single-key share, and the join salts only when it exceeds
    * `maxShareThreshold`. The probe is one sample-sized job; the result
    * multiset is identical either way (salting is result-invariant,
    * ScaleSpec). `minSample` guards the estimator: under ~1k sampled rows
    * a hot key's share estimate is too noisy to act on, so small inputs
    * take the plain join (where skew cannot hurt anyway).
    *
    * The 0.15 default is MEASURED, not guessed (r11 verdict #8,
    * tools/SaltProbe — shuffled fact⋈20k-row dim, broadcast off, AQE
    * skew-join ON, min-of-3; full table in PLANS.md): the salted/plain
    * crossover sits at ~0.27 hot-key share on 8 threads but ~0.10 on 32
    * threads — skew stalls scale with parallelism (one reducer holds
    * `share` of the table while ever more peers idle), so at cluster
    * parallelism the crossover keeps falling, while the cost of salting
    * when it wasn't needed stayed bounded (≤ ~1.3× in every measurement,
    * vs plain degrading 2.2× at 0.7 share and unboundedly with share ×
    * parallelism). 0.15 sits under the high-parallelism crossover's safe
    * side and well above probe noise (±1% at the default sample size). */
  def innerAutoSalted(
      big: DataFrame,
      bigKey: String,
      small: DataFrame,
      smallKey: String,
      salts: Int = 8,
      maxShareThreshold: Double = 0.15,
      sampleFraction: Double = 0.05,
      minSample: Long = 1000L,
      seed: Long = 42L): DataFrame = {
    val (share, n) = sampledMaxKeyShare(big, bigKey, sampleFraction, seed)
    if (n >= minSample && share > maxShareThreshold)
      saltedInner(big, bigKey, small, smallKey, salts, seed)
    else
      big.join(small, big(bigKey) === small(smallKey), "inner")
  }

  /** Scalable ordinal assignment: `RDD.zipWithIndex` computes per-partition
    * offsets with one lightweight count job instead of a global sort —
    * the 100 TB path for zip-style alignment when the input's existing
    * partition order is the intended order.
    *
    * Eager by design: `zipWithIndex` runs a job at construction to size
    * the partitions, because a partition's first ordinal is the sum of
    * the sizes before it. The lazy forms are worse: a `row_number` over a
    * global window moves every row onto one reducer, and
    * `monotonically_increasing_id` is not dense. JoinsSpec pins the jobs. */
  def zipWithOrdinal(df: DataFrame, ordCol: String = "zip_ord"): DataFrame = {
    val schema = StructType(df.schema.fields :+
      org.apache.spark.sql.types.StructField(ordCol, org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex.map { case (row, i) => Row.fromSeq(row.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, schema)
  }

  /** J3 — `zip`: zipWith with the tuple constructor
    * (reference channel/package.scala:143): pairs as (left, right) structs.
    * J4 (`zip` against a size-restricting side) is this + `.limit(n)`. */
  def zip(
      left: DataFrame,
      leftOrder: Seq[Column],
      right: DataFrame,
      rightOrder: Seq[Column]): DataFrame = {
    val leftCols = left.columns.toSeq
    val rightCols = right.columns.toSeq
    zipByOrdinal(left, leftOrder, right, rightOrder)
      .select(
        struct(leftCols.map(col): _*).as("left"),
        struct(rightCols.map(col): _*).as("right"))
  }

  /** J5 — `tee`: an arbitrary two-input deterministic combinator
    * (reference channel/package.scala:118-119). The reference's `Tee`
    * transducer generalizes to any binary Dataset operator; the combinator
    * form keeps that extension point. */
  def tee(left: DataFrame, right: DataFrame)(
      t: (DataFrame, DataFrame) => DataFrame): DataFrame = t(left, right)

  /** AS-OF join — for each left row, the single most recent right row with
    * the same key and right.time <= left.time (DuckDB/kdb `ASOF JOIN`
    * semantics, which the oracle uses directly).
    *
    * Spark lacks the operator; the preference order (SURVEY.md §7.3) says
    * compose built-ins first, and there IS a scalable composition: tag both
    * sides, union, and take `last(payload, ignoreNulls)` over a per-key
    * window ordered by (time, side) — right rows sort before left rows at
    * equal time so equality matches. ONE shuffle on the key, no range
    * explosion, no per-row lookups: the plan is
    * union → hash-partition by key → sort within partition → window scan.
    * At 100 TB that beats both a range-condition join (quadratic within
    * key) and a custom SparkPlan (this composition already yields the
    * optimal physical shape).
    *
    * Right-side ties at identical (key, time) break by `rightTieBreak` for
    * determinism. Left rows with no prior right row are dropped (inner) or
    * kept with null payload (`keepUnmatched = true`).
    */
  def asOf(
      left: DataFrame,
      leftKey: Column,
      leftTime: Column,
      right: DataFrame,
      rightKey: Column,
      rightTime: Column,
      rightPayload: Seq[Column],
      rightTieBreak: Column = lit(0),
      keepUnmatched: Boolean = false): DataFrame = {
    val payload = struct(rightPayload: _*)
    val rTagged = right.select(
      rightKey.as("_asof_k"), rightTime.as("_asof_t"),
      rightTieBreak.as("_asof_tie"), lit(1).as("_asof_right"),
      payload.as("_asof_payload"))
    val payloadType = rTagged.schema("_asof_payload").dataType
    val lTagged = left.select(
      (left.columns.map(col) :+ leftKey.as("_asof_k") :+ leftTime.as("_asof_t") :+
        lit(0).as("_asof_tie") :+ lit(0).as("_asof_right") :+
        lit(null).cast(payloadType).as("_asof_payload")): _*)
    val unioned = lTagged.unionByName(rTagged, allowMissingColumns = true)
    // right rows first at equal time (asof includes equality), ties by
    // rightTieBreak so "last" is deterministic
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_asof_k"))
      .orderBy(col("_asof_t").asc, col("_asof_right").desc, col("_asof_tie").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val matched = unioned
      .withColumn("_asof_match", last(col("_asof_payload"), ignoreNulls = true).over(w))
      .where(col("_asof_right") === 0)
    val filtered = if (keepUnmatched) matched else matched.where(col("_asof_match").isNotNull)
    filtered
      .drop("_asof_k", "_asof_t", "_asof_tie", "_asof_right", "_asof_payload")
      .withColumnRenamed("_asof_match", "asof")
  }

  /** FORWARD as-of join — for each left row, the single NEXT right row
    * with the same key and right.time >= left.time (the other half of the
    * standard as-of surface: "the next reading at or after t"). Reduces
    * to [[asOf]] on negated times — negation flips the per-key scan
    * direction while equality inclusion and tie-break semantics carry
    * over unchanged, so the one-shuffle window composition (and its
    * 100 TB shape) is shared, not duplicated. Times must be numeric
    * (epoch micros in this library's convention). */
  def asOfForward(
      left: DataFrame,
      leftKey: Column,
      leftTime: Column,
      right: DataFrame,
      rightKey: Column,
      rightTime: Column,
      rightPayload: Seq[Column],
      rightTieBreak: Column = lit(0),
      keepUnmatched: Boolean = false): DataFrame =
    asOf(left, leftKey, -leftTime, right, rightKey, -rightTime,
      rightPayload, rightTieBreak, keepUnmatched)

  /** Point-in-interval range join without a nested-loop plan (beyond the
    * reference — SURVEY.md §2.4 lists only the equi INL join; this is the
    * standard temporal "which points fall inside which windows" shape a
    * pipeline needs the moment intervals exist).
    *
    * Spark's optimizer can only plan `p.ts BETWEEN i.start AND i.end` as
    * BroadcastNestedLoopJoin (Θ(|points|·|intervals|) comparisons): there
    * is no equality key. The classic fix is BINNING: quantize the domain
    * into fixed-width bins, assign each point its one bin and each interval
    * every bin it overlaps, equi-join on the bin id, and re-check the exact
    * range predicate. A (point, interval) pair can only meet in the point's
    * bin, so results carry no duplicates and the join is hash-partitionable
    * — shuffle volume is |points| + |intervals|·(len/binWidth + 1) tuples
    * instead of the quadratic compare. Pick `binWidth` near the typical
    * interval length: much smaller explodes interval replicas; much larger
    * degrades toward per-bin cross products (bins act as skew buckets).
    *
    * Bin math is exact floor-division (subtract `pmod`, divide in
    * decimal — so negative coordinates bin correctly and no double
    * rounding occurs, which matters for nanosecond epochs beyond 2^53).
    * Bounds are inclusive on both ends. Point and interval column sets
    * must be disjoint. */
  def rangeJoin(
      points: DataFrame,
      intervals: DataFrame,
      pointCol: String,
      startCol: String,
      endCol: String,
      binWidth: Long): DataFrame = {
    require(binWidth > 0, s"rangeJoin: binWidth must be positive, got $binWidth")
    val overlap = points.columns.toSet.intersect(intervals.columns.toSet)
    require(overlap.isEmpty,
      s"rangeJoin: point/interval column names must be disjoint, both have ${overlap.mkString(", ")}")
    def binOf(c: Column): Column = bin(c, binWidth)
    val p = points.withColumn("_rj_bin", binOf(col(pointCol)))
    val i = intervals
      .withColumn("_rj_bin",
        explode(sequence(binOf(col(startCol)), binOf(col(endCol)))))
    p.join(i,
        p("_rj_bin") === i("_rj_bin") &&
          col(pointCol) >= col(startCol) && col(pointCol) <= col(endCol))
      .select((points.columns ++ intervals.columns).map(col): _*)
  }

  /** The `binWidth` bin of `c` by exact floor-division: (c - pmod) is an
    * exact multiple of binWidth; dividing in decimal keeps it exact (long
    * `/` is double true-division in Spark — loses low bits past 2^53, i.e.
    * for nanosecond epochs). */
  private def bin(c: Column, binWidth: Long): Column =
    ((c - pmod(c, lit(binWidth))).cast("decimal(38,0)") / lit(binWidth))
      .cast("long")

  /** Interval-OVERLAP join — both inputs are intervals (the temporal /
    * genomic overlap operator; [[rangeJoin]]'s point-in-interval is the
    * zero-length special case). Each side replicates its interval to
    * every `binWidth` bin it touches and the join is an EQUI-join on
    * (bin, extraKeys) — never a nested-loop inequality join. A pair
    * overlapping several shared bins is kept exactly ONCE by crediting
    * it to the FIRST shared bin (the later of the two start bins): dedup
    * is a cheap predicate, not a distinct shuffle. `extraKeys` joins
    * (leftCol, rightCol) pairs into the equi-key — at scale a bare time
    * bin is a skew bucket, so co-key on the entity (user, chromosome,
    * shard) whenever the semantics have one. Bounds inclusive; bin math
    * is the same exact floor-division as [[rangeJoin]]; column sets must
    * be disjoint. */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      lStart: String,
      lEnd: String,
      rStart: String,
      rEnd: String,
      binWidth: Long,
      extraKeys: Seq[(String, String)] = Nil): DataFrame = {
    require(binWidth > 0, s"intervalJoin: binWidth must be positive, got $binWidth")
    val shared = left.columns.toSet.intersect(right.columns.toSet)
    require(shared.isEmpty,
      s"intervalJoin: column names must be disjoint, both have ${shared.mkString(", ")}")
    def binOf(c: Column): Column = bin(c, binWidth)
    val l = left.withColumn("_ij_lbin",
      explode(sequence(binOf(col(lStart)), binOf(col(lEnd)))))
    val r = right.withColumn("_ij_rbin",
      explode(sequence(binOf(col(rStart)), binOf(col(rEnd)))))
    val keyCond = extraKeys.foldLeft(l("_ij_lbin") === r("_ij_rbin")) {
      case (acc, (a, b)) => acc && col(a) === col(b)
    }
    l.join(r, keyCond &&
        col(lStart) <= col(rEnd) && col(rStart) <= col(lEnd) &&
        l("_ij_lbin") === greatest(binOf(col(lStart)), binOf(col(rStart))))
      .select((left.columns ++ right.columns).map(col): _*)
  }

  /** U1 — nondeterministic interleave of two differently-shaped streams into
    * a tagged union `A \/ B` (reference `either`,
    * src/main/scala/mongo/channel/package.scala:129-131 via `wye.either`).
    * Spark's unordered `unionByName` matches the reference's order
    * nondeterminism; the disjunction is encoded as (side, left?, right?). */
  def either(left: DataFrame, right: DataFrame): DataFrame = {
    val lStruct = struct(left.columns.map(col): _*)
    val rStruct = struct(right.columns.map(col): _*)
    val lNull = lit(null).cast(StructType(left.schema.fields))
    val rNull = lit(null).cast(StructType(right.schema.fields))
    left.select(lit("left").as("side"), lStruct.as("left"), rNull.as("right"))
      .unionByName(
        right.select(lit("right").as("side"), lNull.as("left"), rStruct.as("right")))
  }

  /** U2 — ordered source concatenation (reference `++`,
    * test/SportCenterSpec.scala:88): same-schema append. Order across the two
    * inputs is carried by data (e.g. sequence_nr), not physical position. */
  def concat(first: DataFrame, second: DataFrame): DataFrame =
    first.unionByName(second)

  // The Bloom pair only supports integral keys (the sketch hashes longs).
  // REQUIRE instead of cast: a silent cast("long") on a string key would
  // produce NULLs (or ANSI cast errors) and break the documented
  // "Result == exact join" contract; requiring makes the widening to long
  // provably lossless.
  private def requireIntegralKey(df: DataFrame, key: String, op: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(key).dataType
    require(Seq(LongType, IntegerType, ShortType, ByteType).contains(dt),
      s"$op: key '$key' must be integral (byte/short/int/long), got ${dt.sql}")
  }

  /** The Bloom prelude of [[bloomSemiJoin]]/[[bloomAntiJoin]]: both keys
    * checked integral, the filter built over the dim keys (one
    * treeAggregate job, eager by design: the sketch is a literal of the
    * probe), and the probe of the fact key against it. */
  private def bloomProbe(fact: DataFrame, factKey: String, dim: DataFrame,
      dimKey: String, expectedKeys: Long, fpp: Double, op: String): Column = {
    requireIntegralKey(fact, factKey, op)
    requireIntegralKey(dim, dimKey, op)
    val bf = dim.stat.bloomFilter(col(dimKey).cast("long"), expectedKeys, fpp)
    graft.expressions.BloomFunctions.bloom_might_contain(col(factKey).cast("long"), bf)
  }

  /** Bloom-pre-filtered SEMI join: keep the fact rows whose key appears in
    * the (typically filtered) dimension side, pruning the fact side with a
    * Bloom probe BEFORE the join's exchange.
    *
    * Why this exists at 100 TB: when the dim side is selective but too big
    * (or too late-derived) to broadcast, a plain semi join shuffles the
    * ENTIRE fact table on the key. The Bloom filter is a bounded sketch of
    * the dim keys (built with one treeAggregate pass — `expectedKeys` and
    * `fpp` size it; 1M keys at 1% fpp ≈ 1.2 MB) probed row-by-row inside
    * whole-stage codegen at the scan, so only the ~matching fraction of
    * the fact table reaches the exchange. The exact semi join downstream
    * removes the Bloom's false positives — the OPERATOR is exact, the
    * sketch only prunes (same contract as Spark's own runtime-filter
    * rewrite, which this makes explicit, composable, and guaranteed).
    *
    * Result == `fact SEMI JOIN dim ON factKey = dimKey`, exactly. */
  def bloomSemiJoin(
      fact: DataFrame,
      factKey: String,
      dim: DataFrame,
      dimKey: String,
      expectedKeys: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    fact.where(bloomProbe(fact, factKey, dim, dimKey, expectedKeys, fpp, "bloomSemiJoin"))
      .join(dim.select(col(dimKey).as(factKey)), Seq(factKey), "left_semi")
  }

  /** Bloom-accelerated ANTI join (NOT EXISTS): the Bloom direction flips —
    * a NEGATIVE probe is a GUARANTEE of non-membership (Bloom has false
    * positives, never false negatives), so every probe-negative fact row
    * is emitted directly, skipping the join entirely; only the
    * probe-positive sliver (true matches + fpp of the rest) pays the
    * exact anti join that removes false positives.
    *
    * At 100 TB this inverts the anti join's cost profile: for a selective
    * dim side, ~all fact rows are non-members, so ~all of them bypass the
    * exchange and the state build — the shuffle carries only the
    * fpp-bounded candidate fraction. NULL fact keys never match anything
    * (SQL anti semantics keeps them); they take the direct-emit path.
    *
    * Trade-off: the two branches are independent subplans, so the fact
    * SOURCE is scanned twice (both scans probe-filtered, codegen'd,
    * column-pruned). The saving is in the exchange + join state, which is
    * what dominates a wide anti join; callers for whom the scan dominates
    * (tiny dim, cheap shuffle) should use the plain anti join.
    *
    * Result == `fact ANTI JOIN dim ON factKey = dimKey`, exactly. */
  def bloomAntiJoin(
      fact: DataFrame,
      factKey: String,
      dim: DataFrame,
      dimKey: String,
      expectedKeys: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val probe = bloomProbe(fact, factKey, dim, dimKey, expectedKeys, fpp, "bloomAntiJoin")
    // coalesce keeps NULL-key rows on the direct path (probe is NULL there)
    val definiteMiss = fact.where(!coalesce(probe, lit(false)))
    val candidates = fact.where(coalesce(probe, lit(false)))
      .join(dim.select(col(dimKey).as(factKey)), Seq(factKey), "left_anti")
    definiteMiss.unionByName(candidates)
  }
}
